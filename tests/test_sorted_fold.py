"""The per-key Python recursions run through one sorted-key fold
(`operators.sorted_fold.sorted_key_fold`). Each consumer below must reach
it: the spy stands in for it and raises, so a builder with its own copy
runs to the end and fails the test."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.operators.sorted_fold import sorted_key_fold
from kinesis_customer_sample_spark.queries import forecast_eval_ops, trend_ops
from kinesis_customer_sample_spark.registry import load_registry


class _Reached(Exception):
    pass


_CONSUMERS = {
    "q297_holt_linear_trend": trend_ops,
    "q441_croston_intermittent": forecast_eval_ops,
    "q463_holt_winters_additive": trend_ops,
    "q474_kalman_local_level": trend_ops,
}


@pytest.mark.parametrize("name", list(_CONSUMERS))
def test_consumer_uses_sorted_key_fold(spark, sf_dir, monkeypatch, name):
    def spy(*args):
        raise _Reached(name)

    monkeypatch.setattr(_CONSUMERS[name], "sorted_key_fold", spy)
    with pytest.raises(_Reached):
        load_registry()[name].fn(spark, sf_dir)


def test_fold_sees_each_key_once_in_order_across_batches(spark):
    """Keys whose rows span many 4-row Arrow batches still reach `fold`
    exactly once, with every row in `order`; a `None` result emits
    nothing."""
    df = spark.range(60).select(
        (F.col("id") % 3).alias("k"),
        (100 - F.col("id")).alias("t"),
        F.col("id").alias("v"),
    )

    def fold(k, rows):
        if k == 2:
            return None
        ts = [int(t) for t, _ in rows]
        return int(k), len(rows), ts == sorted(ts), int(sum(v for _, v in rows))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        out = sorted_key_fold(
            df, "k", "t", fold, "k bigint, n bigint, ordered boolean, total bigint"
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert sorted(tuple(r) for r in out) == [
        (0, 20, True, sum(range(0, 60, 3))),
        (1, 20, True, sum(range(1, 60, 3))),
    ]
