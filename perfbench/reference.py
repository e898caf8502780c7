"""Pure-Python reference folds of the consumer's state machines.

They restate the semantics of `streaming.stateful` and `streaming.sinks`
over the generator's ground-truth operations, without Spark:

- latest state (R9) + newest-wins upsert sink: the document table holds, per
  (organization_id, id, branch, published), the operation with the newest
  event time, unless that operation is a delete. Generated event times are
  distinct, so the result does not depend on how records are batched.
- publish detection (R11): per published (organization_id, id, branch), in
  arrival order, a dead→live insert emits `publish` and a live→dead delete
  emits `unpublish`.
"""

from __future__ import annotations

import json
from collections import Counter
from collections.abc import Iterable

from perfbench.gen import Op


def document_table(ops: Iterable[Op | None]) -> dict[tuple, tuple]:
    newest: dict[tuple, Op] = {}
    for op in ops:
        if op is None:
            continue
        key = (op.org, op.doc_id, op.branch, op.published)
        cur = newest.get(key)
        if cur is None or op.event_us > cur.event_us:
            newest[key] = op
    return {
        key: (op.operation, op.event_us, op.body)
        for key, op in newest.items()
        if op.operation.startswith("insert-")
    }


def table_mismatches(expected: dict[tuple, tuple], rows: Iterable[dict]) -> int:
    """Rows of the sink table that are missing, extra or different."""
    seen: set[tuple] = set()
    bad = 0
    for r in rows:
        key = (r["organization_id"], r["id"], r["branch"], r["published"])
        seen.add(key)
        want = expected.get(key)
        body = json.loads(r["body"]) if r["body"] is not None else None
        if want != (r["last_operation"], r["last_us"], body):
            bad += 1
    return bad + len(set(expected) - seen)


def publish_events(ops: Iterable[Op | None]) -> Counter:
    live: dict[tuple, bool] = {}
    out: Counter = Counter()
    for op in ops:
        if op is None or not op.published:
            continue
        key = (op.org, op.doc_id, op.branch)
        if op.operation.startswith("insert-") and not live.get(key, False):
            live[key] = True
            out[(*key, op.event_us, "publish")] += 1
        elif op.operation.startswith("delete-") and live.get(key, False):
            live[key] = False
            out[(*key, op.event_us, "unpublish")] += 1
    return out
