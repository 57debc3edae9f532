#!/usr/bin/env python
"""Generate MANIFEST.md: one line per registered driver query with its
latest green driver round (from CORRECTNESS_r*.json) — the staleness
ledger the round-4 verdict asked for, so nobody has to recompute the
union of per-round 50-entry windows by hand.

Usage: python tools/gen_manifest.py   (run from the repo root; writes
MANIFEST.md and prints a summary)

No Spark session is started: the query registry is read by importing
__spark_entry__ (pure function tables) and the evidence by globbing the
committed CORRECTNESS files.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__ as entry

    names = list(entry.queries())
    oracles = entry.oracle_sql()

    greens: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(root,
                                              "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        data = json.load(open(path))
        for q, row in data.items():
            # driver row shape: rows_match/schema_match/hash_match
            # booleans + err (hash_match may be absent for the weaker
            # rows-only checks; err must be null either way)
            ok = (
                isinstance(row, dict)
                and not row.get("err")
                and row.get("rows_match", False)
                and row.get("schema_match", True)
                and row.get("hash_match", True)
            )
            if ok:
                greens.setdefault(q, []).append(rnd)

    pos = {n: i for i, n in enumerate(names)}
    lines = [
        "# MANIFEST — driver-evidence ledger (generated by "
        "tools/gen_manifest.py; do not edit)",
        "",
        "One row per `queries()` entry. `latest green` = newest round "
        "whose committed",
        "CORRECTNESS_r{N}.json has a passing row for the query; `—` = "
        "never inside the",
        "old per-round correctness window (covered by pytest + "
        "`tools/check_oracle.py`).",
        "`head#` = position in `queries()`.",
        "",
        "| query | latest green | all green rounds | oracle | head# |",
        "|---|---|---|---|---|",
    ]
    never = 0
    for n in sorted(names):
        rounds = greens.get(n, [])
        latest = f"r{max(rounds):02d}" if rounds else "—"
        if not rounds:
            never += 1
        allr = ", ".join(f"r{r:02d}" for r in rounds) or "—"
        has_oracle = "sql" if n in oracles else "rows-only"
        lines.append(
            f"| {n} | {latest} | {allr} | {has_oracle} | {pos[n]} |")

    lines += [
        "",
        f"Totals: {len(names)} registered queries, "
        f"{len(names) - never} with at least one driver-green row, "
        f"{never} awaiting first rotation.",
        "",
    ]
    out = os.path.join(root, "MANIFEST.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(names)} queries, "
          f"{never} never driver-checked")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
