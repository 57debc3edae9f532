"""Differential soundness tests for FormatSpec.to_fast_regex.

The flat RE2-safe pattern is only allowed to exist when its captures
provably equal the reference walker's no-backtracking consumption
(/root/reference/src/line_parsing/line_parser.cpp:58-98). These tests
check that claim empirically: wherever the flat pattern MATCHES, the
pure-Python oracle walker must agree on well-formedness AND every field
value. (Non-matches are fine — they take the walker
fallback.)

Python's `re` has the same leftmost-greedy backtracking preference order
as RE2 for these patterns (no possessive/atomic constructs), so testing
with `re` validates what RE2 will do inside pyarrow.
"""

from __future__ import annotations

import random
import re

import pytest

from logparser_spark.functions.formats import (
    DEFAULT_FORMAT,
    FieldType,
    compile_format,
)
from logparser_spark.functions.oracle import parse_line
from logparser_spark.sources.corpus import GOLDEN_LINES

FUZZ_SPECS = [
    DEFAULT_FORMAT,
    "{DATE:D} {STR:Rest}",
    "{DATE:A}T{STR:B}",
    "{INT:N} {DATE:D} {STR:S}",
    "[{INT:Ts}] {STR:Lvl} {STR:Rest}",
    "{INT:A}x{STR:B}",
    "{INT:A} {INT:B} {INT:C}",
    "{STR:K}={STR:V}",
    "{STR:A} {STR:B}",
    "{CHR:D,.,1}{STR:S}:{STR:T}",
    "{INT:N}:{STR:S} {STR:R}",
]

ALPHABET = list("0123456789abcXYZ.: \t-") + [""]


def _flat_values(spec, pattern, line):
    """Flat-regex captures + the kernel's trailing-unset post-processing
    (mirrors operators/parse._batch_parse_arrow)."""
    from logparser_spark.operators.parse import _fast_plan

    m = pattern.match(line)
    if m is None:
        return None
    vals = []
    for i, f in spec.output_fields():
        g = m.groupdict().get(f"g{i}")
        if g is None:
            vals.append(None)
        elif f.ftype == FieldType.INT:
            vals.append(int(g))
        elif f.ftype == FieldType.DATE:
            # kernel contract: calendar-invalid captures are UNDECIDED
            # (walker-resolved), so the flat path proves nothing there
            import datetime

            try:
                vals.append(datetime.date(
                    int(g[0:4]), int(g[5:7]), int(g[8:10])
                ))
            except ValueError:
                return None
        else:
            vals.append(g)
    _, unset_suffix = _fast_plan(spec)
    tail_zero = True
    for k in unset_suffix:  # last-to-first
        tail_zero = tail_zero and vals[k] == ""
        if tail_zero:
            vals[k] = None
    return vals


def _assert_agrees(spec, pattern, line):
    flat = _flat_values(spec, pattern, line)
    if flat is None:
        return 0  # fallback path; nothing to prove
    oracle_vals, wf = parse_line(line, spec)
    assert wf, (
        f"flat regex matched but walker says malformed: {line!r} "
        f"(spec {spec.source!r}, flat={flat})"
    )
    assert flat == list(oracle_vals), (
        f"capture mismatch on {line!r} (spec {spec.source!r}): "
        f"flat={flat} walker={list(oracle_vals)}"
    )
    return 1


@pytest.mark.parametrize("fmt", FUZZ_SPECS)
def test_fast_regex_agrees_on_fuzzed_lines(fmt):
    spec = compile_format(fmt)
    rx = spec.to_fast_regex()
    if rx is None:
        pytest.skip("spec not fast-safe")
    pattern = re.compile(rx)
    rng = random.Random(42)

    matched = 0
    # pure random garbage
    for _ in range(3000):
        line = "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 30)))
        matched += _assert_agrees(spec, pattern, line)
    # date-shaped adversarial inputs (calendar edges, bad separators)
    if any(f.ftype == FieldType.DATE for f in spec.fields):
        for _ in range(3000):
            y = rng.choice(["2024", "2023", "1900", "2000", "0000",
                            "0001", "9999", str(rng.randint(0, 9999)).zfill(4)])
            m = str(rng.randint(0, 19)).zfill(2)
            d = str(rng.randint(0, 39)).zfill(2)
            sep = rng.choice(["-", "-", "-", "/", ""])
            tail = "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 12)))
            matched += _assert_agrees(
                spec, pattern, f"{y}{sep}{m}{sep}{d}{tail}"
            )
    # mutations of golden corpus lines (near-matching adversarial inputs)
    for _ in range(3000):
        base = list(rng.choice(GOLDEN_LINES))
        for _ in range(rng.randint(0, 4)):
            op = rng.randint(0, 2)
            pos = rng.randrange(len(base)) if base else 0
            if op == 0 and base:
                base[pos] = rng.choice(ALPHABET) or " "
            elif op == 1 and base:
                del base[pos]
            else:
                base.insert(pos, rng.choice(ALPHABET) or " ")
        matched += _assert_agrees(spec, pattern, "".join(base))
    if fmt == DEFAULT_FORMAT:
        assert matched > 500  # the fast path must actually cover things


def test_fast_regex_covers_golden_corpus():
    """Every well-formed golden line must take the fast path (coverage,
    not just soundness — the corpus is the hot path)."""
    spec = compile_format(DEFAULT_FORMAT)
    pattern = re.compile(spec.to_fast_regex())
    for i, line in enumerate(GOLDEN_LINES):
        vals, wf = parse_line(line, spec)
        flat = _flat_values(spec, pattern, line)
        if wf:
            assert flat is not None, f"golden wf line {i} missed fast path"
            assert flat == list(vals)
        else:
            assert flat is None


def test_unsafe_specs_have_no_fast_regex():
    for fmt in ["{INT:A}{INT:B}", "{INT:A} {DBL:B}", "{STR:A} {STR:B,4} end"]:
        assert compile_format(fmt).to_fast_regex() is None, fmt
