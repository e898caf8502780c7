"""Source-scan pin: one way for a query to get scratch space.

Scratch a builder's returned frame reads lazily comes from
`scope.scratch(name)`, which the run's query scope deletes once the result
is consumed; scratch the builder no longer needs when it returns is a
`tempfile.TemporaryDirectory`. Nothing else in the package makes temp
directories, writes into the checkout, or names a fixed `/tmp` path.

One exemption: `operators/compaction.py` stages its rewrite in
`mkdtemp(dir=parent)` beside the table and renames it into place, so the
staging directory becomes the table; it is not scratch.
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kinesis_customer_sample_spark"

_BANNED = re.compile(
    r"mkdtemp\(|gettempdir\(|[\"'/]\.scratch|run_scratch_dir|scratch_checkpoint|[\"']/tmp\b"
)
_ALLOWED = {
    ("operators/compaction.py", 'staging = tempfile.mkdtemp(prefix="compact_", dir=parent)'),
}


def test_scratch_comes_only_from_the_query_scope():
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "scope.py":
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if _BANNED.search(line) and (rel, line.strip()) not in _ALLOWED:
                hits.append(f"{rel}:{n}: {line.strip()}")
    assert hits == [], (
        "scratch outside scope.scratch / tempfile.TemporaryDirectory:\n"
        + "\n".join(hits)
    )
