"""Generator determinism and the reference folds, without Spark.

    python -m pytest perfbench/tests/test_inputs.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import gen, reference  # noqa: E402
from perfbench.consumer import CATCHUP_SPEC, LIVE_SPEC  # noqa: E402


def test_same_seed_same_bytes():
    a = gen.consumer_records(3, 500, CATCHUP_SPEC)
    b = gen.consumer_records(3, 500, CATCHUP_SPEC)
    assert a.rows == b.rows and a.objects == b.objects
    assert a.digest() == b.digest()
    assert gen.consumer_records(4, 500, CATCHUP_SPEC).digest() != a.digest()


def test_tables_same_seed_same_files(tmp_path):
    d1 = gen.write_tables(str(tmp_path / "a"), gen.batch_tables(5, 0.001))
    d2 = gen.write_tables(str(tmp_path / "b"), gen.batch_tables(5, 0.001))
    assert d1 == d2


def test_undecodable_share_and_pointers():
    recs = gen.consumer_records(1, 5000, CATCHUP_SPEC)
    bad = sum(op is None for op in recs.ops)
    assert 20 <= bad <= 90  # ~1 %
    assert 350 <= len(recs.objects) <= 650  # ~10 % pointers


def test_event_times_distinct_per_key():
    recs = gen.consumer_records(2, 3000, LIVE_SPEC)
    seen = set()
    for op in filter(None, recs.ops):
        key = (op.org, op.doc_id, op.branch, op.published, op.event_us)
        assert key not in seen
        seen.add(key)


def _op(i, verb, t, published=True):
    return gen.Op("o", "story-1", "default", published, f"{verb}-story", t,
                  {"rev": i} if verb == "insert" else None)


def test_document_table_newest_wins_and_deletes_drop():
    ops = [_op(0, "insert", 10), _op(1, "insert", 30), _op(2, "insert", 20)]
    assert reference.document_table(ops) == {
        ("o", "story-1", "default", True): ("insert-story", 30, {"rev": 1})
    }
    assert reference.document_table([*ops, _op(3, "delete", 40)]) == {}


def test_publish_events_follow_arrival_order():
    ops = [_op(0, "insert", 5), _op(1, "insert", 6), _op(2, "delete", 1),
           _op(3, "delete", 2), _op(4, "insert", 3), _op(5, "insert", 9, published=False)]
    got = reference.publish_events(ops)
    key = ("o", "story-1", "default")
    assert got == {(*key, 5, "publish"): 1, (*key, 1, "unpublish"): 1,
                   (*key, 3, "publish"): 1}
