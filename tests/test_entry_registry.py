"""The driver registry stays whole: every query has its DuckDB oracle and
every oracle its query, the priority head names registered queries, and
the tools that read the registry still import. No Spark session."""

from __future__ import annotations

import fnmatch
import importlib.util
import os
import re
import shutil
import sys

import __spark_entry__ as E

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_and_oracles_have_the_same_names():
    q, o = set(E.queries()), set(E.oracle_sql())
    assert q == o, {"no oracle": sorted(q - o), "no query": sorted(o - q)}


def test_driver_head_names_are_registered():
    missing = [n for n in E._DRIVER_HEAD if n not in E._all_queries()]
    assert not missing
    assert list(E.queries())[:len(E._DRIVER_HEAD)] == E._DRIVER_HEAD


def test_registry_tools_import():
    for name in ("check_oracle", "gen_manifest"):
        spec = importlib.util.spec_from_file_location(
            f"tools_{name}", os.path.join(ROOT, "tools", f"{name}.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert callable(mod.main)


def test_check_oracle_puts_its_own_checkout_first(tmp_path):
    """Run from any checkout, check_oracle imports that checkout's
    ``__spark_entry__``: the root it puts on ``sys.path`` is the parent
    of its own ``tools/`` directory."""
    (tmp_path / "tools").mkdir()
    copy = shutil.copy(os.path.join(ROOT, "tools", "check_oracle.py"),
                       tmp_path / "tools")
    spec = importlib.util.spec_from_file_location("tools_check_oracle_copy",
                                                  copy)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        assert sys.path[0] == str(tmp_path)
    finally:
        sys.path[:] = saved


def _ledger_rows(name):
    """First-column query names of the table rows in a ledger file."""
    rows = []
    with open(os.path.join(ROOT, name)) as f:
        for line in f:
            if not line.startswith("| "):
                continue
            cell = line.split("|")[1].strip()
            if cell != "query":
                rows.append(cell)
    return rows


def test_query_ledgers_have_one_row_per_query():
    names = set(E.queries())
    for ledger in ("PLANS.md", "MANIFEST.md"):
        rows = _ledger_rows(ledger)
        dup = sorted({r for r in rows if rows.count(r) > 1})
        assert not dup, (ledger, dup)
        assert set(rows) == names, {
            "ledger": ledger,
            "stale rows": sorted(set(rows) - names),
            "missing rows": sorted(names - set(rows)),
        }


_QUOTED = r"`[^`]+`(?:\s*\([^()]*\))?"
_QUOTE_LIST = re.compile(
    rf"\bquer(?:y|ies)\s+({_QUOTED}(?:\s*(?:,|\+|\band\b)\s*{_QUOTED})*)")


def _quoted_queries(text):
    """Names COVERAGE.md quotes as queries: ``query `x` `` and
    ``queries `x`, `y` `` (also joined by ``+`` or ``and``); a name's
    parenthesised note, e.g. a sink name, is skipped."""
    names = []
    for m in _QUOTE_LIST.finditer(text):
        names += re.findall(r"`([^`]+)`", re.sub(r"\([^()]*\)", "", m.group(1)))
    return names


def test_coverage_quotes_only_registered_queries():
    """Every query name COVERAGE.md quotes is registered; a ``*`` pattern
    such as ``route_*`` must match at least one."""
    with open(os.path.join(ROOT, "COVERAGE.md")) as f:
        quoted = _quoted_queries(f.read())
    assert quoted
    names = list(E.queries())
    stale = sorted({q for q in quoted if not fnmatch.filter(names, q)})
    assert not stale, stale
