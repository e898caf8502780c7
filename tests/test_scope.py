"""Storage soak: a long-lived session must not pile up what queries leave
behind. Each run through the runner is one query scope; after it the
session holds no persisted or checkpointed RDD, memory-sink view or
scratch-backed table the run made, and no scratch directory, and nothing
is written into the checkout. (The scope's `clearCache` may also release
blocks cached before it, so the check is inclusion, not equal size.)"""

from __future__ import annotations

import os
import tempfile

import pytest

from kinesis_customer_sample_spark.catalog import TABLES
from kinesis_customer_sample_spark.registry import load_registry
from kinesis_customer_sample_spark.runner import canonical_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SOAK = (
    # streamed or written scratch the returned frame reads lazily
    "q124_stream_update_upsert",
    "q303_stream_neardup_gate",
    "q305_stream_minibatch_kmeans",
    "q318_snapshot_time_travel",
    "q344_positional_delete_apply",
    "q357_dynamic_partition_pruning",
    "q406_schema_drift_diff",
    "q163_bucketed_colocated_join",
    "q268_zonemap_file_skipping",
    "q80_csv_scan",
    "q285_stream_split_router",
    # a memory sink over a replayed file stream
    "q51_stream_tumbling_window",
    # checkpointed and persisted intermediates
    "q385_kcore_peel",
    "q69_minhash_lsh_pairs",
)


def _catalog(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def _tree(path: str) -> set[tuple[str, int]]:
    return {
        (root, os.stat(root).st_mtime_ns) for root, _, _ in os.walk(path)
    }


@pytest.mark.parametrize("round_", [1, 2])
def test_query_scope_releases_storage(spark, sf_dir, tmp_path, monkeypatch, round_):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    reg = load_registry()
    jsc = spark.sparkContext._jsc
    rdds = set(jsc.getPersistentRDDs())
    names = _catalog(spark) | set(TABLES)
    checkout = _tree(os.path.join(REPO, ".scratch"))
    for name in SOAK:
        cols, rows = canonical_rows(spark, reg[name], sf_dir)
        assert rows, name
        assert set(jsc.getPersistentRDDs()) <= rdds, name
        assert _catalog(spark) <= names, name
        assert list(tmp_path.iterdir()) == [], name
        assert _tree(os.path.join(REPO, ".scratch")) == checkout, name
