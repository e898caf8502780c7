"""Compute the next round's driver-walk priority list.

Usage: python scripts/next_priority.py

Reads every CORRECTNESS_r*.json in the repo root and the current registry,
then prints, in order:
  1. queries with a non-green driver row in the LATEST round (errors or
     hash mismatches — regressions to re-prove first);
  2. queries that have never had any driver row (oldest registration first);
  3. everything else (green somewhere), oldest green first.
Paste the first 50 into reorder_registry() in queries/__init__.py.
The driver's walk has been count-capped at exactly 50 entries in every
round so far; the registry order IS the verification budget.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from kinesis_customer_sample_spark.registry import load_registry  # noqa: E402


def main() -> None:
    # Round number parse is anchored to the FILENAME, not the full path: a
    # repo living under e.g. /srv/runner1/... would otherwise have the first
    # r\d+ match win and silently corrupt the rotation order (r12 advice).
    # Files the glob matches but the anchored regex does not (e.g. a future
    # CORRECTNESS_rNN_full.json, mirroring the BENCH_rNN_full.json archive
    # convention) are skipped, not crashed on (r13 advice).
    def round_of(path: str) -> int | None:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        return int(m.group(1)) if m else None

    rounds = sorted(
        (p for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
         if round_of(p) is not None),
        key=round_of,
    )
    def row_ok(row: dict) -> bool:
        # Green = hash-match (or rows-match when the driver hashed nothing),
        # OR the rows-only-by-design outcome: the query deliberately has no
        # oracle_sql entry, the driver records err="no_oracle" with a row
        # count — the judge grades that "rows-only ok" (VERDICT r4 on q191),
        # so it is not a regression and must not hog a front-50 slot.
        if row.get("err") == "no_oracle":
            return row.get("spark_rows") is not None and row["spark_rows"] >= 0
        return row.get("err") is None and (
            row.get("hash_match") is True
            or (row.get("hash_match") is None and row.get("rows_match"))
        )

    results: dict[str, dict] = {}  # name -> latest row
    green_ever: set[str] = set()
    last_green: dict[str, int] = {}  # name -> latest round with a green row
    for path in rounds:
        rnum = round_of(path)
        data = json.load(open(path))
        for name, row in data.items():
            results[name] = row
            if row_ok(row):
                green_ever.add(name)
                last_green[name] = rnum
    latest = json.load(open(rounds[-1])) if rounds else {}

    reg = load_registry()
    # Sort by true registration age, NOT the current (reordered) registry
    # position: the reorder front-loads each round's walk, so iterating it
    # would sort old-but-deferred queries behind newer waves (round-3 judge
    # finding). Query numbers are assigned in creation order, so the numeric
    # prefix is the age key; reg_index (import order) breaks ties.
    def age_key(n: str):
        m = re.match(r"q(\d+)", n)
        return (int(m.group(1)) if m else 10**9, reg[n].reg_index)

    regressions = [n for n in reg if n in latest and not row_ok(latest[n])]
    never = sorted((n for n in reg if n not in results), key=age_key)
    # Post-freeze rotation: certified queries re-walk OLDEST CERTIFICATION
    # first (the SURVEY §7l ~10-round re-check horizon), not registration
    # age — sorting by age alone would re-walk the lowest-numbered 50
    # forever once they re-certify, and the rest of the registry would
    # never rotate back through the driver's gate.
    rest = sorted(
        (n for n in reg if n not in regressions and n not in set(never)),
        key=lambda n: (last_green.get(n, 0), age_key(n)),
    )

    ordered = regressions + never + rest
    print(f"# regressions={len(regressions)} never-checked={len(never)} "
          f"green-ever={len(green_ever & set(reg))}/{len(reg)}")
    for i, n in enumerate(ordered[:60]):
        marker = "<-- cap" if i == 49 else ""
        tag = "REGRESSION" if n in regressions else ("NEW" if n in never else "recheck")
        print(f'        "{n}",  # {i + 1} {tag} {marker}')


if __name__ == "__main__":
    main()
