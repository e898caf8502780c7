"""Source-scan pins: one way for a query to get scratch space, and one
barrier for materialising an intermediate.

Scratch a builder's returned frame reads lazily comes from
`scope.scratch(name)`, which the run's query scope deletes once the result
is consumed; scratch the builder no longer needs when it returns is a
`tempfile.TemporaryDirectory`. Nothing else in the package makes temp
directories, writes into the checkout, or names a fixed `/tmp` path.

One exemption: `operators/compaction.py` stages its rewrite in
`mkdtemp(dir=parent)` beside the table and renames it into place, so the
staging directory becomes the table; it is not scratch.

Every intermediate a builder materialises goes through
`scope.materialize(df)`; no other `persist`, `cache`, `localCheckpoint` or
`checkpoint` call is in the package. One exemption:
`foreach_batch_split_router` persists each micro-batch for its two passes
and unpersists it in the same epoch.
"""

from __future__ import annotations

import ast
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


_BARRIERS = {"persist", "cache", "localCheckpoint", "checkpoint"}
_BARRIER_ALLOWED = {
    ("scope.py", "materialize", "localCheckpoint"),
    ("streaming/sinks.py", "apply", "persist"),  # foreach_batch_split_router
}


def _barrier_calls(tree: ast.AST, func: str = "<module>"):
    for node in ast.iter_child_nodes(tree):
        inner = node.name if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) else func
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _BARRIERS
        ):
            yield node.lineno, func, node.func.attr
        yield from _barrier_calls(node, inner)


def test_barriers_come_only_from_materialize():
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for line, func, attr in _barrier_calls(ast.parse(path.read_text())):
            if (rel, func, attr) not in _BARRIER_ALLOWED:
                hits.append(f"{rel}:{line}: .{attr}( in {func}")
    assert hits == [], "barrier outside scope.materialize:\n" + "\n".join(hits)
