"""Per-commit guard for the partition-invariance property (the full
registry-wide sweep lives in scripts/check_partition_invariance.py and
runs per round; this samples the highest-risk families so a regression
is caught by pytest, not the round gate).

Selection rationale — one representative per risk class:
- float-expression aggregates quantized late (q440 MASE, q476 Sharpe);
- mapInPandas carry-state recursions whose Arrow batch boundaries move
  with the layout (q441 Croston, q474 Kalman);
- partition-local two-phase top-k built on spark_partition_id (q341);
- salted/skew-aware aggregation (q86);
- percentile/median interpolation over doubles (q445 Theil-Sen);
- windowed integer cumsums behind a float division (q459);
- spark.range-synthesized inputs whose source partitioning follows
  defaultParallelism (q232 grid join);
- the flagship money rollup (q01).
"""

from __future__ import annotations

import pytest

from kinesis_customer_sample_spark.registry import load_registry
from kinesis_customer_sample_spark.runner import canonical_rows

REGISTRY = load_registry()

_SAMPLE = [
    "q01_pricing_summary",
    "q86_salted_skew_agg",
    "q232_grid_proximity_join",
    "q341_ndcg_mrr_eval",
    "q440_mase_smape_scorecard",
    "q441_croston_intermittent",
    "q445_theil_sen_slope",
    "q459_nelson_aalen",
    "q474_kalman_local_level",
    "q476_sharpe_sortino",
]

_PERTURBED = {
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.files.maxPartitionBytes": "1m",
    "spark.sql.adaptive.enabled": "false",
}


@pytest.mark.parametrize("name", _SAMPLE)
def test_canonical_rows_survive_layout_perturbation(spark, sf_dir, name):
    q = REGISTRY[name]
    defaults = {k: spark.conf.get(k) for k in _PERTURBED}
    base = canonical_rows(spark, q, sf_dir)
    try:
        for k, v in _PERTURBED.items():
            spark.conf.set(k, v)
        perturbed = canonical_rows(spark, q, sf_dir)
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)
    assert base[0] == perturbed[0], f"{name}: schema drift under layout change"
    assert base[1] == perturbed[1], f"{name}: rows depend on physical layout"
