"""Generate INVENTORY.md: one row per registered query — name, defining
module:line, tags, oracle status, and first docstring sentence — so the
operator inventory the engine CLAIMS (SURVEY.md §2) can be cross-checked
against what the registry actually SHIPS, line by line.

Usage: python scripts/gen_inventory.py > INVENTORY.md
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from kinesis_customer_sample_spark.registry import load_registry  # noqa: E402


def main() -> None:
    reg = load_registry()
    print("# INVENTORY — every registered query (generated)")
    print()
    print(f"{len(reg)} queries; "
          f"{sum(1 for q in reg.values() if q.oracle)} hash-match oracles, "
          f"{sum(1 for q in reg.values() if not q.oracle)} rows-only.")
    print()
    print("Registry order = driver-walk priority. Regenerate with")
    print("`python scripts/gen_inventory.py > INVENTORY.md`.")
    print()
    print("| # | query | defined at | oracle | tags | summary |")
    print("|---|---|---|---|---|---|")
    for i, (name, q) in enumerate(reg.items(), 1):
        src = inspect.getsourcefile(q.fn)
        line = inspect.getsourcelines(q.fn)[1]
        rel = os.path.relpath(src, REPO)
        first = (q.doc.split(".")[0].replace("\n", " ").strip() + ".") if q.doc else ""
        first = first.replace("|", "\\|")
        tags = " ".join(q.tags)
        oracle = "hash" if q.oracle else "rows-only"
        print(f"| {i} | {name} | `{rel}:{line}` | {oracle} | {tags} | {first} |")


if __name__ == "__main__":
    main()
