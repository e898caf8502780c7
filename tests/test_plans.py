"""Physical-plan audits (SURVEY.md §4.2 "rely; verify with explain()"):
the optimizations we depend on for 100 TB must actually appear in the
plans, and a regression (lost pushdown, a join degrading to cartesian)
should fail CI, not surface in a cluster bill. Assertions go through
kinesis_customer_sample_spark.plans.audit so the facts are parsed, not
string-matched ad hoc."""

from __future__ import annotations

import re
from unittest import mock

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from kinesis_customer_sample_spark.plans import PlanFacts, audit
from kinesis_customer_sample_spark.registry import load_registry
from kinesis_customer_sample_spark.scope import query_scope

REGISTRY = load_registry()


def audit_of(spark, sf_dir, name: str):
    # the scope releases the blocks the builder's barriers stored
    with query_scope(spark):
        return audit(REGISTRY[name].fn(spark, sf_dir))


def audit_through_barriers(spark, sf_dir, name: str) -> PlanFacts:
    """`audit_of` over every plan the query runs: the returned plan and the
    input plan of each `scope.materialize` barrier the builder passed. The
    returned plan stops at a barrier's checkpoint scan, so a pin on work
    done below a barrier reads that barrier's input plan."""
    facts = []
    checkpoint = ClassicDataFrame.localCheckpoint

    def audited_checkpoint(df, *args, **kwargs):
        facts.append(audit(df))
        return checkpoint(df, *args, **kwargs)

    with query_scope(spark), mock.patch.object(
        ClassicDataFrame, "localCheckpoint", audited_checkpoint
    ):
        facts.append(audit(REGISTRY[name].fn(spark, sf_dir)))
    merged = PlanFacts(text="\n".join(f.text for f in facts))
    for f in facts:
        merged.pushed_filters += f.pushed_filters
        merged.read_schemas += f.read_schemas
        merged.partition_filters += f.partition_filters
        for node, n in f.join_strategies.items():
            merged.join_strategies[node] = merged.join_strategies.get(node, 0) + n
        merged.n_exchanges += f.n_exchanges
        merged.round_robin_exchanges += f.round_robin_exchanges
        merged.has_cartesian |= f.has_cartesian
        merged.has_partial_agg |= f.has_partial_agg
    return merged


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q01_pricing_summary")
    # the shipdate predicate must reach the parquet scan
    assert any("LessThanOrEqual(l_shipdate" in f for f in facts.pushed_filters)
    # column pruning: the scan must not read unused lineitem columns
    assert not facts.scans_read_column("l_orderkey")
    # partial + final aggregation (map-side combine before the shuffle)
    assert facts.has_partial_agg


def test_dimension_joins_broadcast(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q06_join_broadcast_dims")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian


def test_topk_no_global_sort_exchange(spark, sf_dir):
    # top-k must use TakeOrderedAndProject, not sort-the-world
    facts = audit_of(spark, sf_dir, "q30_topk_global")
    assert "TakeOrderedAndProject" in facts.text


def test_minhash_no_cartesian(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q69_minhash_lsh_pairs")
    assert not facts.has_cartesian
    # the distinct-shingle hash table must broadcast back to postings
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1


def test_feature_extract_map_only(spark, sf_dir):
    # the only Exchange allowed is the deliberate round-robin spread of the
    # single-file scan BEFORE featurize; extracted features must not
    # shuffle afterwards, and nothing may hash-partition blob contents
    facts = audit_of(spark, sf_dir, "q78_media_feature_extract")
    assert facts.n_exchanges <= 1
    assert facts.round_robin_exchanges == facts.n_exchanges
    assert "hashpartitioning" not in facts.text.lower()


def test_brute_topk_broadcasts_query_vector(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q72_cosine_topk_brute")
    assert (
        facts.join_strategies.get("BroadcastNestedLoopJoin", 0)
        + facts.join_strategies.get("BroadcastHashJoin", 0)
        >= 1
    )
    assert "SortMergeJoin" not in facts.join_strategies


@pytest.mark.parametrize(
    "name",
    ["q05_join_inner", "q07_join_left_outer", "q12_join_range", "q13_join_asof"],
)
def test_join_family_no_cartesian(spark, sf_dir, name):
    assert not audit_of(spark, sf_dir, name).has_cartesian


def test_range_join_is_sort_merge(spark, sf_dir):
    # the fact⋈fact interval join must take the shuffle path (a fact table
    # can never broadcast at scale; locally the broadcast pick is also the
    # slow one — see q12's merge hint)
    facts = audit_of(spark, sf_dir, "q12_join_range")
    assert facts.join_strategies.get("SortMergeJoin", 0) == 1
    assert "BroadcastHashJoin" not in facts.join_strategies


def test_q97_composite_plan(spark, sf_dir):
    """The TPC-H Q5 shape's headline plan must not drift: dims broadcast,
    date + region filters pushed to the scans, map-side partial agg, and
    no cartesian anywhere in the six-table tree."""
    facts = audit_of(spark, sf_dir, "q97_local_supplier_revenue")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    pushed = ",".join(facts.pushed_filters)
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    assert "EqualTo(r_name,ASIA)" in pushed
    # column pruning on the widest fact: lineitem's comment column never read
    assert not facts.scans_read_column("l_comment")


def test_q98_composite_plan(spark, sf_dir):
    """TPC-H Q10 shape: returnflag + date filters pushed, nation broadcast,
    top-20 via TakeOrderedAndProject (never a global sort)."""
    facts = audit_of(spark, sf_dir, "q98_returned_item_report")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian
    assert any("l_returnflag" in f for f in facts.pushed_filters)
    assert any("o_orderdate" in f for f in facts.pushed_filters)
    assert "TakeOrderedAndProject" in facts.text


def test_q92_no_unpartitioned_window(spark, sf_dir):
    """The token-packing window must stay partitioned (two-level design):
    an empty windowspecdefinition partition list means the whole corpus
    serializes through one task — the round-1 scale-killer."""
    facts = audit_of(spark, sf_dir, "q92_token_budget_packing")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", facts.text):
        spec = m.group(1)
        # spec = "part1, ..., ORDER-BY..., specifiedwindowframe(...)"; an
        # unpartitioned window starts straight at the ORDER BY column list
        assert "pack_key" in spec or "source" in spec, facts.text


def test_q102_volume_shipping_plan(spark, sf_dir):
    # both nation aliases broadcast; facts never cartesian
    facts = audit_of(spark, sf_dir, "q102_volume_shipping")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_q103_waiting_suppliers_plan(spark, sf_dir):
    # EXISTS/NOT EXISTS must stay equi-keyed semi/anti joins on the order
    # key (residual supplier inequality), never a cartesian or BNL join
    facts = audit_of(spark, sf_dir, "q103_waiting_suppliers")
    assert not facts.has_cartesian
    assert "BroadcastNestedLoopJoin" not in facts.join_strategies
    assert "LeftSemi" in facts.text and "LeftAnti" in facts.text


def test_q104_priority_sample_topk(spark, sf_dir):
    # weighted sampling is map-only scoring + TakeOrderedAndProject —
    # a global sort exchange would be the 100 TB anti-pattern
    facts = audit_of(spark, sf_dir, "q104_weighted_priority_sample")
    assert "TakeOrderedAndProject" in facts.text
    assert facts.n_exchanges == 0


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key pre-distributes the data so the
    join needs NO Exchange — the co-located-join layout for repeated 100 TB
    fact⋈fact joins (SURVEY.md §4.2). Written once, joined shuffle-free
    forever after."""
    from kinesis_customer_sample_spark.catalog import table

    # tables land in the default spark-warehouse/ (gitignored) and are
    # dropped below — warehouse.dir is a static conf, not settable per-test
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("b_orders")
    table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("b_lineitem")
    # disable broadcast so the join strategy is the bucketed sort-merge path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        facts = audit(joined)
        assert facts.join_strategies.get("SortMergeJoin", 0) == 1
        assert facts.n_exchanges == 0  # co-located: no shuffle on either side
        assert joined.count() == table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style date partitioning (the 100 TB layout, SURVEY.md §4.2):
    a filter on the partition column must prune at planning time —
    PartitionFilters in the scan, not a post-scan Filter."""
    from kinesis_customer_sample_spark.catalog import table

    path = str(tmp_path / "events_by_day")
    ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    back = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    facts = audit(back)
    assert any("2024-01-05" in f for f in facts.partition_filters)
    want = ev.filter(F.col("day") == "2024-01-05").count()
    assert back.count() == want and want > 0


def test_q107_market_share_plan(spark, sf_dir):
    """TPC-H Q8 shape: the widest join tree in the repo. Fact-fact edges
    shuffle; only nation (×2) and region broadcast (at 100 TB part/
    supplier/customer are fact-scale — broadcasting them is the trap);
    the p_type filter is pushed into the part scan so the first build
    side shrinks before its shuffle."""
    facts = audit_of(spark, sf_dir, "q107_market_share")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3  # n1, n2, region
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    pushed = ",".join(facts.pushed_filters)
    assert "EqualTo(p_type" in pushed
    assert not facts.scans_read_column("p_retailprice")


def test_q108_sessionize_single_user_shuffle(spark, sf_dir):
    """Sessionization must reuse ONE hash partitioning on user_id for the
    lag window, the cumulative-sum window, and the final agg — no second
    shuffle of the event stream, and never a global (unpartitioned)
    window."""
    facts = audit_of(spark, sf_dir, "q108_sessionize_batch")
    plan_text = facts.text
    assert "hashpartitioning(user_id" in plan_text
    # exactly one exchange of the fact stream (AQE may add an empty-keyed
    # read side but no second hashpartitioning of events)
    assert plan_text.count("hashpartitioning(user_id") <= 2
    assert facts.n_exchanges == 1
    assert "SinglePartition" not in plan_text


def test_q109_curation_plan(spark, sf_dir):
    """The curation composite: ONE tokenize/explode pass (the lexicon vote
    is conditional sums inside the same aggregation — no lexicon join, no
    window, no re-tokenize), keeper election joins back as a semi join
    (no row payloads through the dup shuffle), final rollup partial-
    aggregates map-side."""
    facts = audit_of(spark, sf_dir, "q109_corpus_curation")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1  # keepers semi
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    # single explode of the corpus and no window operator anywhere
    assert facts.text.count("Generate ") <= 1
    assert "Window" not in facts.text


def test_q112_large_volume_plan(spark, sf_dir):
    """TPC-H Q18 shape: the IN-subquery must land as a semi join against
    the HAVING-filtered aggregate, top-100 via TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q112_large_volume_customers")
    assert "LeftSemi" in facts.text
    assert "TakeOrderedAndProject" in facts.text
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_q113_decorrelated_plan(spark, sf_dir):
    """TPC-H Q17 shape: the correlated scalar subquery must be a single
    aggregate + equi-join (never a per-row re-scan), with the brand
    filter pushed into the part scan."""
    facts = audit_of(spark, sf_dir, "q113_small_quantity_revenue")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    pushed = ",".join(facts.pushed_filters)
    assert "EqualTo(p_brand" in pushed
    # lineitem appears exactly twice (probe + avg subquery) — a correlated
    # rewrite would scan it once per outer row
    assert facts.text.count("lineitem.parquet") <= 4  # 2 logical scans, AQE may repeat


def test_runtime_bloom_filter_reduces_fact_probe(spark, sf_dir):
    """Spark's runtime bloom-filter semi-join reduction (on by default,
    spark.sql.optimizer.runtime.bloomFilter.enabled): a selective filter
    on one fact side should inject bloom_filter_agg on the build side and
    a MightContain probe into the other fact's scan — rows that cannot
    join are dropped BEFORE the shuffle, the single biggest shuffle-volume
    lever for selective fact⋈fact joins at 100 TB. The size gates
    (applicationSideScanSizeThreshold 10GB default) are met naturally by
    real cluster scans; locally we lower them to pin the plan shape."""
    from kinesis_customer_sample_spark.catalog import table
    from kinesis_customer_sample_spark.plans import plan_text

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        li = table(spark, sf_dir, "lineitem")
        o = (
            table(spark, sf_dir, "orders")
            .filter(F.col("o_orderdate") >= "1997-06-01")
            .select("o_orderkey", "o_orderdate")
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderdate"
        ).count()
        text = plan_text(j)
        assert "bloom_filter_agg" in text
        assert "BloomFilterMightContain" in text or "might_contain" in text
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling (on in every session, session.py): when one
    join key dominates, the final adaptive plan must split the skewed
    shuffle partition — SortMergeJoin(skew=true) — instead of serializing
    the hot key through one straggler task. This is the runtime half of
    the skew story (q86's salting is the compile-time half); thresholds
    are lowered so the tiny fixture exhibits what a hot key does at
    100 TB."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(60000).select(
            F.when(F.col("id") < 50000, 0).otherwise(F.col("id") % 100).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),  # widen rows
        )
        right = spark.range(2000).select((F.col("id") % 100).alias("k"), F.col("id").alias("w"))
        j = left.join(right, "k")
        j.foreachPartition(lambda it: None)  # execute THIS plan so AQE finalizes it
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_q118_scd2_single_user_shuffle(spark, sf_dir):
    """The SCD2 build must pay ONE shuffle of the event stream: the change
    window, the cumulative sum, the run-collapse agg (keys (user_id,
    version_seq) — co-partitioned by user_id) and the validity lead window
    all reuse the same hashpartitioning(user_id); never a global window."""
    facts = audit_of(spark, sf_dir, "q118_scd2_history")
    assert facts.n_exchanges == 1
    assert facts.text.count("hashpartitioning(user_id") >= 1
    assert "SinglePartition" not in facts.text


def test_q119_fuzzy_join_is_blocked_equi_join(spark, sf_dir):
    """The levenshtein matcher must run as an EQUI join on the (lang,
    band) block key — never a cartesian/nested-loop pairing of the corpus
    (quadratic at 100 TB). The edit-distance predicate is a post-join
    filter inside bounded blocks."""
    facts = audit_of(spark, sf_dir, "q119_fuzzy_join_levenshtein")
    assert not facts.has_cartesian
    equi = (
        facts.join_strategies.get("BroadcastHashJoin", 0)
        + facts.join_strategies.get("SortMergeJoin", 0)
        + facts.join_strategies.get("ShuffledHashJoin", 0)
    )
    assert equi >= 1
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) == 0


def test_q121_sq8_broadcast_stats_and_topk(spark, sf_dir):
    """SQ8 ANN: the 2×64-double stats row and the query-vector row must
    BROADCAST to the corpus scan (map-only encode + candidate scan), the
    shortlist must come from TakeOrderedAndProject, and nothing may
    sort-merge or cartesian-pair the corpus."""
    facts = audit_of(spark, sf_dir, "q121_sq8_ann_rerank")
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 2
    assert "SortMergeJoin" not in facts.join_strategies
    assert not facts.has_cartesian
    assert "TakeOrderedAndProject" in facts.text


def test_q122_lift_no_cartesian(spark, sf_dir):
    """Collocation mining: the DF-band filter joins tokens as a broadcast
    hash join and the pair join is an equi join on doc_id — never a
    cartesian of the vocabulary, and the pair counts partial-aggregate
    map-side."""
    facts = audit_of(spark, sf_dir, "q122_token_pair_lift")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg


def test_q123_rollup_cascade_partial_aggs(spark, sf_dir):
    """The hour→day→month cascade: every level partial-aggregates before
    its exchange (map-side combine), there are exactly the three level
    exchanges (each carrying an already-tiny aggregate), and no window
    operator sneaks in."""
    facts = audit_of(spark, sf_dir, "q123_cascaded_rollup")
    assert facts.has_partial_agg
    assert facts.n_exchanges <= 3
    assert "Window" not in facts.text


def test_q125_diff_shuffles_fingerprints_only(spark, sf_dir):
    """Reconciliation diff: both versions reduce to (key, int64
    fingerprint) BEFORE the full-outer sort-merge join — the scans must
    not ship payload columns into the shuffle — and the class rollup
    partial-aggregates."""
    facts = audit_of(spark, sf_dir, "q125_table_diff")
    assert facts.join_strategies.get("SortMergeJoin", 0) == 1
    assert "FullOuter" in facts.text
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    # fingerprint computed map-side: no order payload column may survive
    # past the scan projections into the join
    assert "o_orderstatus" not in facts.text.split("SortMergeJoin")[1][:400]


def test_q126_gap_fill_single_key_partitioning(spark, sf_dir):
    """Gap fill + LOCF: the spine join and the forward-fill window both
    partition by user_id (no global window), and the spine generates
    per-user (no calendar cartesian)."""
    facts = audit_of(spark, sf_dir, "q126_gap_fill_locf")
    assert not facts.has_cartesian
    assert facts.text.count("hashpartitioning(user_id") >= 1
    assert "SinglePartition" not in facts.text


def test_q128_fences_broadcast_back(spark, sf_dir):
    """IQR fences: the per-group percentile table (5 rows) must broadcast
    back to the fact scan — the outlier classification is map-side, and
    the only shuffles are the percentile agg and the final rollup."""
    facts = audit_of(spark, sf_dir, "q128_iqr_outlier_fences")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_q129_salted_join_spreads_hot_keys(spark, sf_dir):
    """Salted join: with broadcast disabled (forcing the shuffle join the
    operator exists for), the join must partition on (key, salt) — the
    salt column IS in the hashpartitioning, which is the whole point:
    a hot key's rows land in _N_SALTS shuffle partitions, not one."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        facts = audit_of(spark, sf_dir, "q129_salted_skew_join")
        assert not facts.has_cartesian
        import re
        parts = re.findall(r"hashpartitioning\(([^)]*)\)", facts.text)
        assert any("salt" in p and "orderkey" in p for p in parts), parts
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("name", ["q131_cohort_retention", "q132_funnel_analysis"])
def test_analytics_queries_partition_on_user(spark, sf_dir, name):
    """Cohort retention and funnel: every stage keys on user_id (the
    stream collapses before any join), nothing cartesian-pairs, and the
    rollups partial-aggregate map-side."""
    facts = audit_of(spark, sf_dir, name)
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert facts.text.count("hashpartitioning(user_id") >= 1


def test_q133_binning_broadcasts_boundaries(spark, sf_dir):
    """Equal-frequency binning: the 7 quantile boundaries broadcast back
    and bin assignment is a map-side CASE — no window operator anywhere
    (the global-ntile single-partition anti-pattern this operator
    replaces)."""
    facts = audit_of(spark, sf_dir, "q133_equal_freq_binning")
    assert (
        facts.join_strategies.get("BroadcastNestedLoopJoin", 0)
        + facts.join_strategies.get("BroadcastHashJoin", 0)
        >= 1
    )
    assert "Window" not in facts.text
    assert facts.has_partial_agg


def test_q135_threshold_broadcast_and_anti_join(spark, sf_dir):
    """Q22 shape: the scalar median broadcasts, NOT EXISTS lands as a
    left-anti join, and the date filter reaches the orders scan."""
    facts = audit_of(spark, sf_dir, "q135_waiting_customers")
    assert not facts.has_cartesian
    assert "LeftAnti" in facts.text
    assert any("o_orderdate" in f for f in facts.pushed_filters)


def test_q143_exists_decorrelates_to_semi_join(spark, sf_dir):
    """TPC-H Q4 shape: the correlated EXISTS must appear as a LEFT SEMI
    join (one pass over lineitem), with the quarter filter pushed to the
    orders scan — never a per-row subquery or a full join + distinct."""
    facts = audit_of(spark, sf_dir, "q143_order_priority_check")
    assert "LeftSemi" in facts.text
    assert not facts.has_cartesian
    assert any("o_orderdate" in f for f in facts.pushed_filters)
    # lineitem is projected to the two columns the semi-join needs
    assert not facts.scans_read_column("l_extendedprice")


def test_q145_scalar_max_broadcasts(spark, sf_dir):
    """TPC-H Q15 shape: the global-max scalar must come back as a
    broadcast join against the per-supplier revenue table."""
    facts = audit_of(spark, sf_dir, "q145_top_supplier")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert any("l_shipdate" in f for f in facts.pushed_filters)


def test_q146_not_in_is_broadcast_anti_join(spark, sf_dir):
    """TPC-H Q16 shape: the denylist NOT IN must be a broadcast LEFT ANTI
    join, and the part dimension must broadcast."""
    facts = audit_of(spark, sf_dir, "q146_supplier_variety")
    assert "LeftAnti" in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert not facts.has_cartesian


def test_q147_star_join_broadcasts_dims(spark, sf_dir):
    """TPC-H Q9 shape: part/supplier/nation broadcast; facts shuffle only
    on join keys; the margin agg combines map-side."""
    facts = audit_of(spark, sf_dir, "q147_margin_by_nation")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_q151_lm_scorer_single_tokenize_partial_aggs(spark, sf_dir):
    """The unigram LM scorer must aggregate with map-side partials (token
    counts AND the per-doc sum), and the 1-row totals must broadcast —
    never a shuffle keyed on a constant."""
    facts = audit_of(spark, sf_dir, "q151_unigram_lm_score")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text  # 1-row totals cross join
    assert not facts.has_cartesian


def test_q152_hard_negatives_broadcast_queries(spark, sf_dir):
    """Hard-negative mining must join the corpus to a broadcast of the
    CONSTANT-size probe table (64 queries × 9 multiprobe buckets) via an
    EQUI-join on bucket id — a BroadcastHashJoin, NOT a nested loop over
    the corpus (the round-3 fixed-rate design's shape), and rank with a
    PARTITIONED window."""
    facts = audit_of(spark, sf_dir, "q152_hard_negative_mining")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert "BroadcastNestedLoopJoin" not in facts.text
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text


def test_q153_semantic_dedup_broadcasts_reps(spark, sf_dir):
    """Semantic dedup joins the corpus to one representative per LSH
    bucket — a broadcast hash join on the bucket key, never all-pairs."""
    facts = audit_of(spark, sf_dir, "q153_semantic_dedup")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian


def test_q155_partition_pruning(spark, sf_dir):
    """The partitioned-layout read-back must prune at planning time: the
    event_type filter appears in the scan's PartitionFilters, not as a
    post-scan Filter over all partitions."""
    facts = audit_of(spark, sf_dir, "q155_partitioned_layout_prune")
    assert any("event_type" in f for f in facts.partition_filters)
    assert facts.has_partial_agg


def test_q156_outliers_broadcast_centroids(spark, sf_dir):
    """Per-label centroids (one row per label) must broadcast back to the
    corpus scan; the component agg must combine map-side."""
    facts = audit_of(spark, sf_dir, "q156_embedding_outliers")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_q157_chunking_map_only(spark, sf_dir):
    """Sliding-window chunking must be map-only: the only Exchange allowed
    is the deliberate round-robin corpus spread before tokenize; chunk
    fan-out must never shuffle chunk text."""
    facts = audit_of(spark, sf_dir, "q157_sliding_chunks")
    assert facts.n_exchanges <= 1
    assert facts.round_robin_exchanges == facts.n_exchanges


def test_q158_quality_norm_partitioned_window(spark, sf_dir):
    """Per-source normalization must use a PARTITIONED window (one shuffle
    on source), never a global-order window."""
    facts = audit_of(spark, sf_dir, "q158_source_quality_norm")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian


def test_q159_pagerank_no_cartesian(spark, sf_dir):
    """Each PageRank round is an equi-join on node id — a plan regression
    to nested-loop/cartesian would be quadratic in the node count."""
    facts = audit_of(spark, sf_dir, "q159_pagerank_power_iteration")
    assert not facts.has_cartesian


def test_q160_merge_is_partial_reagg(spark, sf_dir):
    """The incremental merge must aggregate with map-side partials and
    read orders only once per branch — no joins, no cartesian."""
    facts = audit_of(spark, sf_dir, "q160_incremental_agg_merge")
    assert facts.has_partial_agg
    assert not facts.has_cartesian
    assert facts.join_strategies == {}


def test_q161_cdc_window_partitioned(spark, sf_dir):
    """CDC apply must be one PARTITIONED window over the key — a global
    window would serialize the changelog through one task."""
    facts = audit_of(spark, sf_dir, "q161_cdc_merge_apply")
    assert "No Partition Defined" not in facts.text
    # exactly one shuffle: the window partition on user_id
    assert facts.n_exchanges == 1


def test_q163_bucketed_join_shuffle_free(spark, sf_dir):
    """With broadcast disabled, the bucketed fact-fact join must be a
    SortMergeJoin reading bucket-to-bucket: the ONLY shuffle in the plan
    is the final aggregation exchange, never a join-input exchange (a
    shuffled SMJ would add two)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        facts = audit_of(spark, sf_dir, "q163_bucketed_colocated_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert facts.join_strategies.get("SortMergeJoin", 0) == 1
    assert facts.n_exchanges <= 1


def test_q164_anomaly_reuses_key_partitioning(spark, sf_dir):
    """Anomaly flags: moments agg + join back are both keyed on user_id —
    map-side partial moments, no cartesian, and no window (the join-back
    shape parallelizes better than a per-key window over wide rows)."""
    facts = audit_of(spark, sf_dir, "q164_zscore_anomaly")
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_q165_recall_eval_broadcasts_queries(spark, sf_dir):
    """Recall evaluation must broadcast the sampled query side and rank
    with a PARTITIONED window."""
    facts = audit_of(spark, sf_dir, "q165_lsh_recall_eval")
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian


def test_q166_interval_dim_broadcasts(spark, sf_dir):
    """The interval dimension must broadcast (nested-loop against a tiny
    build side), and the band aggregation must combine map-side."""
    facts = audit_of(spark, sf_dir, "q166_interval_lookup_join")
    assert "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg


def test_observe_metrics_without_second_scan(spark, sf_dir):
    """Pipeline observability: df.observe() accumulates metrics DURING the
    flagship query's single pass — the row counts/sums a production job
    reports per run must not cost a second scan. The observed metrics must
    equal an independent aggregate."""
    from pyspark.sql import Observation

    from kinesis_customer_sample_spark.catalog import table

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    obs = Observation("flagship_in")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).alias("cents"),
    )
    out = (
        observed.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # one action drives both result and metrics
    )
    want = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).alias("cents"),
    ).collect()[0]
    assert len(out) > 0
    assert obs.get["n_rows"] == want["n_rows"]
    assert obs.get["cents"] == want["cents"]


def test_q171_heavy_hitters_topk_no_global_sort(spark, sf_dir):
    """Heavy hitters must take the top-k via TakeOrderedAndProject with
    map-side-combined counts — never sort the whole vocabulary."""
    facts = audit_of(spark, sf_dir, "q171_token_heavy_hitters")
    assert "TakeOrderedAndProject" in facts.text
    assert facts.has_partial_agg


def test_q172_bigram_lm_no_self_join_window(spark, sf_dir):
    """Bigrams must come from the in-row adjacent-pair transform: no
    cartesian, no unpartitioned window, partial aggs throughout."""
    facts = audit_of(spark, sf_dir, "q172_bigram_lm_score")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg


def test_q175_bloom_probe_is_map_side(spark, sf_dir):
    """The Bloom pre-filter must apply map-side (broadcast bitmap, no
    extra shuffle of the probe side) and the exactness-restoring join
    must be a broadcast semi-join — never a shuffle of unfiltered
    orders."""
    facts = audit_of(spark, sf_dir, "q175_bloom_prefilter_join")
    # bitmap cross-join + semi-join both broadcast; no sort-merge anywhere
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert "SortMergeJoin" not in facts.join_strategies
    assert facts.has_partial_agg


def test_q176_bm25_topk_and_broadcasts(spark, sf_dir):
    """BM25's top-k must be TakeOrderedAndProject and the corpus
    stats/df row must attach by broadcast. Since the row-local rewrite
    (dl = size(toks), tf via array_remove) the plan must also stay free
    of posting explodes (no Generate) and of any doc-grain join (the
    only join is the broadcast 1-row stats nested loop)."""
    facts = audit_of(spark, sf_dir, "q176_bm25_search")
    assert "TakeOrderedAndProject" in facts.text
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0
    assert facts.join_strategies.get("ShuffledHashJoin", 0) == 0
    assert "Generate" not in facts.text
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_q177_attribution_single_user_shuffle(spark, sf_dir):
    """The as-of union+window shape: every window is partitioned by
    user_id (no global window), and the plan never joins clicks to
    purchases pairwise."""
    facts = audit_of(spark, sf_dir, "q177_last_touch_attribution")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian
    assert facts.join_strategies == {}  # pure union+window, zero joins


def test_q178_cms_broadcast_probes(spark, sf_dir):
    """CMS probe joins must broadcast (20×4 probes vs a 4096-cell grid);
    sketch build aggregates with map-side partials; exact top-k via
    TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q178_cms_frequency_estimate")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert "TakeOrderedAndProject" in facts.text
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_q179_split_partitioned_window_only(spark, sf_dir):
    """Leakage-safe split: the only shuffle is the content-hash window's
    (the dedup group key); the window must be partitioned."""
    facts = audit_of(spark, sf_dir, "q179_leakage_safe_split")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies == {}


def test_q180_triangle_join_no_cartesian(spark, sf_dir):
    """Triangle counting must enumerate wedges via equi-joins on the
    oriented edge list — no cartesian, partial aggs for the degree and
    count reductions."""
    facts = audit_of(spark, sf_dir, "q180_triangle_count")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_q181_markov_partitioned_windows(spark, sf_dir):
    """Both windows (per-user lead, per-row-type normalization) must be
    partitioned; transition counts aggregate with map-side partials."""
    facts = audit_of(spark, sf_dir, "q181_markov_transitions")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_q182_fk_audits_broadcast_dims(spark, sf_dir):
    """Dimension-side FK probes (customer/part/supplier) must be
    broadcast anti-joins; nothing may degrade to nested-loop."""
    facts = audit_of(spark, sf_dir, "q182_referential_integrity")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3
    assert not facts.has_cartesian


def test_q186_blob_dedup_shuffles_digests_only(spark, sf_dir):
    """Media dedup must hash the blob where it lives: the only exchanges
    allowed are the deliberate round-robin spread before the Python
    featurizer and hash exchanges carrying the digest — the binary `data`
    column must never appear in an Exchange's output."""
    import re as _re

    facts = audit_of(spark, sf_dir, "q186_media_blob_dedup")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    for m in _re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", facts.text):
        assert "data#" not in m.group(1)


def test_q188_pit_join_partitioned_windows(spark, sf_dir):
    """SCD2 build windows must be partitioned; the PIT join is an
    equi-join on the user key (broadcast or shuffled hash), never a
    cartesian/nested-loop over intervals."""
    facts = audit_of(spark, sf_dir, "q188_pit_scd2_join")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian
    assert "BroadcastNestedLoopJoin" not in facts.join_strategies


def test_q189_forward_asof_pure_window(spark, sf_dir):
    """Forward as-of must be the union+window shape: zero joins, every
    window partitioned by the user key."""
    facts = audit_of(spark, sf_dir, "q189_asof_forward_join")
    assert facts.join_strategies == {}
    assert "No Partition Defined" not in facts.text


def test_q190_session_conversion_single_key(spark, sf_dir):
    """Sessionize + reduce + rollup: partitioned windows only, partial
    aggs, no joins at all."""
    facts = audit_of(spark, sf_dir, "q190_session_conversion")
    assert facts.join_strategies == {}
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg


def test_q192_containment_no_cartesian(spark, sf_dir):
    """Containment must reuse the postings equi-join — no cartesian, no
    nested-loop; partial aggs for the intersection counts."""
    facts = audit_of(spark, sf_dir, "q192_containment_pairs")
    assert not facts.has_cartesian
    assert "BroadcastNestedLoopJoin" not in facts.join_strategies
    assert facts.has_partial_agg


def test_q193_url_normalization_single_shuffle_key(spark, sf_dir):
    """The normalization ladder is map-side; the only hash exchanges key
    on the canonical URL (group + join-back share it)."""
    import re as _re

    facts = audit_of(spark, sf_dir, "q193_url_canonical_dedup")
    assert not facts.has_cartesian
    keys = {
        m.group(1).split("#")[0]
        for m in _re.finditer(r"Exchange hashpartitioning\((\w+#\d+)", facts.text)
    }
    assert keys <= {"norm_url"}, keys


def test_q195_golden_record_single_agg_no_joins(spark, sf_dir):
    """Field survivorship must be one aggregation over the feed union —
    zero joins, map-side partials."""
    facts = audit_of(spark, sf_dir, "q195_golden_record_merge")
    assert facts.join_strategies == {}
    assert facts.has_partial_agg


def test_q196_q197_windows_partitioned(spark, sf_dir):
    """Displacement and late-rate monitors must never plan a global
    window (q92's round-1 lesson)."""
    for name in ("q196_order_displacement", "q197_late_arrival_rate"):
        facts = audit_of(spark, sf_dir, name)
        assert "No Partition Defined" not in facts.text, name
        assert facts.join_strategies == {}, name


def test_q199_rrf_legs_use_topk_reduction(spark, sf_dir):
    """Both RRF legs must reduce via TakeOrderedAndProject BEFORE rank
    assignment — the windows may only see the bounded candidate lists."""
    facts = audit_of(spark, sf_dir, "q199_hybrid_search_rrf")
    assert facts.text.count("TakeOrderedAndProject") >= 2
    # the only nested-loop allowed is the broadcast 1-row query vector
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert "CartesianProduct" not in facts.join_strategies


def test_stats_tests_two_level_windows(spark, sf_dir):
    """The KS/MWU ECDF cumsum must stay bucket-partitioned — a global
    ordered window over the value grid would serialize the corpus through
    one task (q92's round-1 lesson, re-applied to the stats wave)."""
    for name in ("q258_ks_two_sample", "q259_mann_whitney_u"):
        facts = audit_of(spark, sf_dir, name)
        assert "No Partition Defined" not in facts.text, name
        # the 1-row totals attach via broadcast nested loop, never cartesian
        assert not facts.has_cartesian, name


def test_bootstrap_is_mapside_fanout(spark, sf_dir):
    """q260's ×64 replicate fan-out must happen map-side (explode before
    any exchange): the only shuffles allowed are the 64-group replicate
    agg, the rank of 64 means, and the final 1-row assembly."""
    facts = audit_of(spark, sf_dir, "q260_poisson_bootstrap_ci")
    assert "Generate" in facts.text  # explode(sequence(1, 64))
    assert facts.has_partial_agg


def test_pq_codebook_broadcast_and_topk(spark, sf_dir):
    """q265: since the row-local rewrite, the bounded codebook and the
    query's ADC table are collected once per run and folded into the
    corpus scan as literals — the returned plan must have NO joins and
    no shuffle at all; both ordered reductions stay
    TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q265_pq_adc_ann")
    assert facts.join_strategies == {}
    assert facts.text.count("TakeOrderedAndProject") >= 2
    assert not facts.has_cartesian
    assert facts.n_exchanges == 0


def test_dsir_feature_table_broadcast(spark, sf_dir):
    """q264: the 1024-row hashed-feature weight table must broadcast back
    onto the token stream — DSIR's fixed-size-sketch property is exactly
    what makes the probe map-side at any corpus size."""
    facts = audit_of(spark, sf_dir, "q264_dsir_importance_select")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert "TakeOrderedAndProject" in facts.text


def test_alerting_windows_partitioned(spark, sf_dir):
    """q262/q263: alert-state and TWAP windows must be key-partitioned."""
    for name in ("q262_hysteresis_alert_state", "q263_twap_interval_weighted"):
        facts = audit_of(spark, sf_dir, name)
        assert "No Partition Defined" not in facts.text, name


def test_date_spine_broadcasts_spine(spark, sf_dir):
    """q269: the generated 30-row spine must broadcast; the daily rollup
    is the only shuffled input to the grid join."""
    facts = audit_of(spark, sf_dir, "q269_date_spine_densify")
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert not facts.has_cartesian


def test_auc_grid_two_level(spark, sf_dir):
    """q281's score-grid cumsum must stay bucket-partitioned."""
    facts = audit_of(spark, sf_dir, "q281_auc_roc")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian


def test_link_prediction_capped_no_cartesian(spark, sf_dir):
    """q286: candidates via the co-neighbor equi-join only."""
    facts = audit_of(spark, sf_dir, "q286_link_prediction_jaccard")
    assert not facts.has_cartesian
    assert "TakeOrderedAndProject" in facts.text


def test_inverse_cdf_weight_table_broadcasts(spark, sf_dir):
    """q287: the cumulative weight intervals must broadcast against the
    slot table (range join on a dimension-sized build side)."""
    facts = audit_of(spark, sf_dir, "q287_inverse_cdf_sample")
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert not facts.has_cartesian


def test_pipe_syntax_lowers_to_broadcast_join(spark, sf_dir):
    """q288: Spark 4's `|>` pipe syntax is a FRONT-END — Catalyst must
    lower the piped join+filter+aggregate to the same physical shape as
    the nested q06 form: nation broadcast against the customer scan,
    partial agg before the shuffle, no cartesian."""
    facts = audit_of(spark, sf_dir, "q288_sql_pipe_syntax")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_lateral_topk_decorrelates_to_window_join(spark, sf_dir):
    """q289: the correlated LATERAL ORDER BY/LIMIT subquery must
    DECORRELATE into a partitioned window + equi-join — per-group rank
    then join, never a per-outer-row nested-loop subquery execution.
    The o_totalprice filter must also prune the orders scan."""
    facts = audit_of(spark, sf_dir, "q289_lateral_topk_join")
    assert "Window" in facts.text  # rank materialized once over lineitem
    assert "No Partition Defined" not in facts.text  # window is partitioned
    # the join back to orders is an equi-join (hash or sort-merge), not a
    # nested loop over correlated point lookups
    n_equi = facts.join_strategies.get(
        "BroadcastHashJoin", 0
    ) + facts.join_strategies.get("SortMergeJoin", 0) + facts.join_strategies.get(
        "ShuffledHashJoin", 0
    )
    assert n_equi >= 1
    assert not facts.has_cartesian
    assert any("o_totalprice" in f for f in facts.pushed_filters)


def test_connected_components_rounds_are_keyed_joins(spark, sf_dir):
    """q292: each hash-min round must be key-partitioned joins/aggs — no
    cartesian anywhere — and the final size join-back must broadcast the
    tiny per-component aggregate. (Auditing the RESULT plan also walks the
    per-round localCheckpoint barriers: anything cartesian in a round
    would have surfaced during the fn's own convergence loop.)"""
    facts = audit_of(spark, sf_dir, "q292_connected_components")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1


def test_temporal_reachability_edges_are_equi_joins(spark, sf_dir):
    """q293: the influence-edge build must join on the key k (equi) with
    the time window as a post-join range predicate — never a cartesian.
    The edge builder is audited pre-checkpoint (the registered fn's final
    plan only shows checkpointed RDD scans); the result plan is also
    checked cartesian-free."""
    from kinesis_customer_sample_spark.queries.graph_components import (
        influence_edges,
    )

    edge_facts = audit(influence_edges(spark, sf_dir))
    assert not edge_facts.has_cartesian
    n_equi = sum(
        edge_facts.join_strategies.get(k, 0)
        for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_equi >= 1
    facts = audit_of(spark, sf_dir, "q293_temporal_reachability")
    assert not facts.has_cartesian


def test_sql_udf_inlines_no_python_boundary(spark, sf_dir):
    """q294: SQL scalar UDFs are definitions, not black boxes — Catalyst
    must inline the bodies so the whole aggregate stays in codegen with
    map-side partial aggregation; a Python-eval node would mean the UDF
    escaped the JVM."""
    facts = audit_of(spark, sf_dir, "q294_sql_scalar_udf")
    assert "BatchEvalPython" not in facts.text
    assert "ArrowEvalPython" not in facts.text
    assert facts.has_partial_agg
    assert facts.join_strategies == {}


def test_session_variables_bind_to_literals(spark, sf_dir):
    """q295: session variables and named parameters are bound during
    analysis — the executed plan must carry plain literals (no scalar
    subquery node re-evaluating the threshold, no join), and the segment
    exclusion must reach the parquet scan as a pushed filter."""
    facts = audit_of(spark, sf_dir, "q295_session_variables")
    assert facts.join_strategies == {}
    assert "Subquery" not in facts.text
    assert any("c_mktsegment" in f for f in facts.pushed_filters)
    assert facts.has_partial_agg


def test_modern_sugar_lowers_to_plain_agg(spark, sf_dir):
    """q296: GROUP BY ALL / SELECT * EXCEPT / lateral alias / ORDER BY ALL
    are analysis-time rewrites — the physical plan must be exactly the
    explicit form's shape: one partial+final hash aggregate, one hash
    exchange plus the final sort's range exchange, no joins."""
    facts = audit_of(spark, sf_dir, "q296_modern_sql_sugar")
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert facts.n_exchanges <= 2  # agg shuffle + ORDER BY ALL range exchange


def test_holt_secondary_sort_map_in_pandas(spark, sf_dir):
    """q297: the recursion must run as the secondary-sort pattern — a
    user-hash exchange, a PARTITION-LOCAL sort by (user, day), then one
    MapInPandas pass (O(rows), never applyInPandas's O(groups) per-call
    tax) — fed by a map-side-combined daily aggregate; no global sort, no
    join; the events scan reads only the columns the series needs."""
    facts = audit_of(spark, sf_dir, "q297_holt_linear_trend")
    assert "MapInPandas" in facts.text
    # the Sort node is partition-local: "Arguments: [user_id ASC, day ASC], false, 0"
    assert re.search(
        r"Arguments: \[user_id#\d+L? ASC NULLS FIRST, day#\d+ ASC NULLS FIRST\], false",
        facts.text,
    )
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert not facts.scans_read_column("props")
    assert not facts.scans_read_column("event_type")


def test_decayed_engagement_broadcast_anchor_only(spark, sf_dir):
    """q298: the only join is the one-row anchor-day broadcast (the
    sanctioned broadcast-scalar crossJoin); everything else is two
    map-side-combined hash aggregations."""
    facts = audit_of(spark, sf_dir, "q298_decayed_engagement")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) <= 1
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0
    assert facts.has_partial_agg


def test_kappa_marginals_stay_tiny(spark, sf_dir):
    """q299: the confusion matrix is localCheckpointed (label² rows —
    bounded; without it the full lang-ID scan re-runs once per marginal
    consumer), so the audited plan is the post-checkpoint combine: the
    marginals product join and the final scalar combine must broadcast,
    and nothing data-scaled remains above the checkpoint."""
    facts = audit_of(spark, sf_dir, "q299_cohens_kappa")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0


def test_collated_grouping_stays_engine_native(spark, sf_dir):
    """q300: collation-aware grouping/joining is engine-native (no
    Python-eval), aggregation is map-side combined — BUT collated keys do
    not support binary equality, so Spark 4.1 refuses hash-based joins on
    them and picks SortMergeJoin even for the 5-row dim (JoinSelection
    warns "keys that don't support binary equality"). This test PINS that
    documented limitation: if a future engine version restores hash joins
    for collated keys, the assertion flips and the SCALE.md guidance
    (normalize collated keys before BIG joins) should be revisited."""
    facts = audit_of(spark, sf_dir, "q300_collated_grouping")
    assert facts.join_strategies.get("SortMergeJoin", 0) == 1
    assert "BroadcastHashJoin" not in facts.join_strategies
    assert facts.has_partial_agg
    assert not facts.has_cartesian
    assert "BatchEvalPython" not in facts.text


def test_identifier_resolves_to_static_plan(spark, sf_dir):
    """q301: IDENTIFIER parameters resolve at analysis time — the plan is
    the static aggregate's shape: scan → partial agg → exchange → final,
    no join, no subquery."""
    facts = audit_of(spark, sf_dir, "q301_identifier_clause")
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert "Subquery" not in facts.text


def test_xml_roundtrip_is_map_side(spark, sf_dir):
    """q302: serialize→from_xml→aggregate adds no shuffle beyond the one
    aggregation exchange, and column pruning still reaches the scan (the
    XML hop must not widen the read to unused order columns)."""
    facts = audit_of(spark, sf_dir, "q302_xml_ingest")
    assert facts.join_strategies == {}
    assert facts.n_exchanges == 1
    assert facts.has_partial_agg
    assert not facts.scans_read_column("o_orderdate")
    assert not facts.scans_read_column("o_orderstatus")


def test_neardup_gate_signing_is_map_side(spark, sf_dir):
    """q303: the per-batch signature chain (tokens → shingles → minhash →
    band buckets) must be pure map-side expressions — zero exchanges, no
    joins, no Python eval; all shuffling in the gate happens keyed on
    (band, bucket) inside foreachBatch."""
    from kinesis_customer_sample_spark.catalog import table as _table
    from kinesis_customer_sample_spark.queries.streaming_gate import _doc_bands

    facts = audit(_doc_bands(_table(spark, sf_dir, "documents")))
    assert facts.n_exchanges == 0
    assert facts.join_strategies == {}
    assert "BatchEvalPython" not in facts.text


def test_kmeans_assignment_broadcasts_state(spark, sf_dir):
    """q305: the per-batch assignment must broadcast the k-row centroid
    state (a BroadcastNestedLoopJoin over the sanctioned constant-size
    side) and rank inside a vec_id-partitioned window — no shuffle of the
    vectors beyond the window's own hash exchange, no sort-merge."""
    from kinesis_customer_sample_spark.catalog import table as _table
    from kinesis_customer_sample_spark.queries.streaming_ml import (
        _K,
        _MILLI,
        assign_best,
    )

    emb = _table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", F.expr(_MILLI).alias("vi"))
    eff = emb.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.lit(1).cast("bigint").alias("ec"),
        F.expr(_MILLI).alias("es"),
    )
    facts = audit(assign_best(vecs, eff))
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) == 1
    assert "SortMergeJoin" not in facts.join_strategies
    assert "No Partition Defined" not in facts.text


def test_isotonic_level_joins_broadcast(spark, sf_dir):
    """q304: the triangular interval joins ride on the bounded score-level
    table and must broadcast — without the hints the non-equi joins fell
    back to a shuffle CartesianProduct (a measured 1089-task stage for 9
    rows). The corpus-sized pass must partial-aggregate."""
    facts = audit_of(spark, sf_dir, "q304_isotonic_calibration")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 2
    assert facts.has_partial_agg


def test_point_in_polygon_map_side(spark, sf_dir):
    """q307: the ray-cast classification must be a pure map-side codegen
    expression — one aggregation exchange total, no join, no Python eval —
    and pruning must keep the scan to the three columns the point
    synthesis and grouping need."""
    facts = audit_of(spark, sf_dir, "q307_point_in_polygon")
    assert facts.join_strategies == {}
    assert facts.n_exchanges == 1
    assert facts.has_partial_agg
    assert "BatchEvalPython" not in facts.text
    assert not facts.scans_read_column("props")
    assert not facts.scans_read_column("value")
    assert not facts.scans_read_column("ts")


def test_transpose_no_cartesian(spark, sf_dir):
    """q306: DataFrame.transpose's data pass is a pivot over the bounded
    segment dimension — never a cartesian; the pre-transpose aggregate
    map-side combines."""
    facts = audit_of(spark, sf_dir, "q306_transpose_metrics")
    assert not facts.has_cartesian


def test_association_rules_plan(spark, sf_dir):
    """q308: the pair generation must be a bid-keyed equi-join (never
    cartesian), item supports broadcast, and the top-50 must be
    TakeOrderedAndProject — not a global sort of the pair stream."""
    facts = audit_of(spark, sf_dir, "q308_association_rules")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert "TakeOrderedAndProject" in facts.text
    assert facts.has_partial_agg


def test_variant_explode_lateral_map_side(spark, sf_dir):
    """q310: parse_json → variant_explode is a lateral Generate over a
    map-side parse — exactly one aggregation exchange, no join, no
    Python eval, and the events scan reads only the props column."""
    facts = audit_of(spark, sf_dir, "q310_variant_explode")
    assert "Generate" in facts.text
    assert facts.join_strategies == {}
    assert facts.n_exchanges == 1
    assert facts.has_partial_agg
    assert "BatchEvalPython" not in facts.text
    assert not facts.scans_read_column("user_id")
    assert not facts.scans_read_column("value")


def test_gramian_single_reduction(spark, sf_dir):
    """q311: the Gramian must be a map-side PARTIAL-Gramian operator
    (Arrow-batched numpy X.T @ X per partition) feeding ONE (i, j)-keyed
    reduction — no row self-join, no cartesian, one aggregation exchange,
    partial aggregation on (reduction input is 2080 cells per partition,
    not per row)."""
    facts = audit_of(spark, sf_dir, "q311_embedding_gramian")
    assert "MapInArrow" in facts.text or "ArrowEvalPython" in facts.text
    assert facts.join_strategies == {}
    assert facts.n_exchanges == 1
    assert facts.has_partial_agg


def test_deadline_funnel_keyed_joins(spark, sf_dir):
    """q312: each funnel stage must be a user-keyed equi-join with the
    deadline as a residual range predicate — no cartesian, no
    unpartitioned window anywhere, partial aggregation on every stage."""
    facts = audit_of(spark, sf_dir, "q312_deadline_funnel")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    n_equi = sum(
        facts.join_strategies.get(k, 0)
        for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_equi >= 4  # s2, s3 builds + two stage join-backs


def test_not_in_uses_null_aware_anti_join(spark, sf_dir):
    """q313: NOT IN must execute as Spark's NULL-AWARE anti join — in
    simple-mode explain the BroadcastHashJoin prints a trailing
    `LeftAnti, BuildRight, true`, the isNullAwareAntiJoin flag (the
    formatted mode omits it). A naive LeftAnti would silently return
    wrong rows under 3VL. Spark applies NAAJ to both list variants (it
    does not prove the clean list null-free), so both joins carry the
    flag; no cartesian anywhere."""
    import contextlib
    import io

    df = REGISTRY["q313_null_aware_anti_join"].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    simple = buf.getvalue()
    naaj = [ln for ln in simple.splitlines() if "LeftAnti, BuildRight, true" in ln]
    assert len(naaj) == 2, simple
    assert "CartesianProduct" not in simple


# ---------------------------------------------------------------- round-5 wave


def test_hits_broadcast_free_iterations(spark, sf_dir):
    """q314: each HITS half-step must be an equi-join + keyed hash agg —
    no cartesian, no nested-loop; partial aggregation on (the shuffle
    carries per-task partials, not rows)."""
    facts = audit_of(spark, sf_dir, "q314_hits_authorities")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) == 0
    assert facts.has_partial_agg


def test_bellman_ford_keyed_relaxation(spark, sf_dir):
    """q315: the returned plan is the final localCheckpoint scan (lineage
    deliberately truncated per round, q292 pattern) — assert the contract
    that survives: no cartesian, no join residue in the final plan."""
    facts = audit_of(spark, sf_dir, "q315_bellman_ford_cheapest")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) == 0


def test_sorted_neighborhood_no_self_join(spark, sf_dir):
    """q316: sorted-neighborhood candidates come from ONE partitioned
    window + a generator (stack) — candidate volume is w·N by plan shape,
    so there must be NO join of any strategy and no unpartitioned
    window."""
    facts = audit_of(spark, sf_dir, "q316_sorted_neighborhood_pairs")
    assert facts.join_strategies == {}
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text


def test_sprt_single_arm_shuffle(spark, sf_dir):
    """q317: the LLR walk is windows partitioned by arm — no
    unpartitioned window (the walk must not serialize through one task),
    and the first-hit/final reductions must not introduce a cartesian."""
    facts = audit_of(spark, sf_dir, "q317_sprt_sequential_test")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian


def test_longest_prefix_broadcasts_rules(spark, sf_dir):
    """q319: the rule and length tables must BROADCAST (the fact side
    never shuffles for the match itself) and the scan must prune to the
    customer key column."""
    facts = audit_of(spark, sf_dir, "q319_longest_prefix_match")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    # the ONLY sort-merge join allowed is the per-address best-match
    # reduction joining back to the address table (both sides keyed on
    # c_custkey); the rule/length match itself must stay broadcast
    assert facts.join_strategies.get("SortMergeJoin", 0) <= 1
    assert not facts.has_cartesian
    assert not facts.scans_read_column("c_name")
    assert not facts.scans_read_column("c_acctbal")


def test_sweepline_day_partitioned(spark, sf_dir):
    """q320: the data-scaled cumulative sum must be day-partitioned; the
    only unpartitioned window is over the bounded day-level table, and
    the carry joins back via broadcast."""
    facts = audit_of(spark, sf_dir, "q320_sweepline_concurrency")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg


def test_standardization_broadcast_moments(spark, sf_dir):
    """q321: the outlier pass joins the 64-row moments table via
    broadcast; moments are map-side partial; only vec columns read."""
    facts = audit_of(spark, sf_dir, "q321_feature_standardization_audit")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0
    assert facts.has_partial_agg
    assert not facts.scans_read_column("label")


def test_neyman_bounded_coordination(spark, sf_dir):
    """q322: the per-stratum quota table must broadcast into the rank
    filter; selection is one partitioned window (no unpartitioned window
    over data — the only global sort is over strata)."""
    facts = audit_of(spark, sf_dir, "q322_neyman_stratified_sample")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian


def test_autocorr_calendar_window(spark, sf_dir):
    """q323: daily pre-aggregation must be partial (map-side combine
    before the day shuffle); the lead window partitions by series."""
    facts = audit_of(spark, sf_dir, "q323_lag1_autocorrelation")
    assert facts.has_partial_agg
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies == {}


def test_arrow_centroids_is_arrow_grouped_map(spark, sf_dir):
    """q325: the grouped kernel must run through the Arrow grouped-map
    operator (no pandas boxing, no row-at-a-time BatchEvalPython)."""
    facts = audit_of(spark, sf_dir, "q325_arrow_grouped_centroids")
    assert "Arrow" in facts.text
    assert "BatchEvalPython" not in facts.text


def test_randomized_response_pure_codegen(spark, sf_dir):
    """q326: the mechanism is scalar expressions + two keyed aggs — no
    Python evaluation anywhere, partial aggregation on both."""
    facts = audit_of(spark, sf_dir, "q326_randomized_response_counts")
    assert "EvalPython" not in facts.text
    assert facts.has_partial_agg
    assert facts.join_strategies == {}


def test_emd_bounded_grid(spark, sf_dir):
    """q327: the only data-scaled operation is the binned count agg
    (map-side partial); the dense grid is a broadcast cross of bounded
    tables and the CDF windows are partitioned."""
    facts = audit_of(spark, sf_dir, "q327_emd_drift")
    assert facts.has_partial_agg
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0


def test_phrase_search_term_filtered_postings(spark, sf_dir):
    """q328: since the row-local rewrite the probe phase is MAP-ONLY —
    per-doc occurrences and first position come from array_remove /
    array_position over the zipped bigram array, so the returned plan
    must have no join of any kind and no Generate (the mining phase's
    explode+agg runs inside the bounded `.first()` probe, not here)."""
    facts = audit_of(spark, sf_dir, "q328_positional_phrase_search")
    assert not facts.has_cartesian
    assert facts.join_strategies == {}
    assert "Generate" not in facts.text


def test_seasonal_adjust_broadcast_season(spark, sf_dir):
    """q329: the series×7 seasonal table must broadcast back onto the
    daily table; both aggs partial."""
    facts = audit_of(spark, sf_dir, "q329_weekday_seasonal_adjust")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0
    assert facts.has_partial_agg


def test_binseg_windows_partitioned(spark, sf_dir):
    """q330: both levels are series-partitioned windows + one broadcast
    join against the 1-row-per-series winners — no unpartitioned window,
    no cartesian, no sort-merge."""
    facts = audit_of(spark, sf_dir, "q330_binseg_changepoints")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0


def test_q6_full_pushdown(spark, sf_dir):
    """q331 (TPC-H Q6): all four predicates must reach the parquet scan
    and only the three needed columns are read."""
    facts = audit_of(spark, sf_dir, "q331_forecast_revenue_change")
    assert any("l_shipdate" in f for f in facts.pushed_filters)
    assert any("l_discount" in f for f in facts.pushed_filters)
    assert any("l_quantity" in f for f in facts.pushed_filters)
    assert not facts.scans_read_column("l_tax")
    assert facts.has_partial_agg


def test_q12_shape_filter_before_join(spark, sf_dir):
    """q332 (TPC-H Q12 shape): the date filter pushes into the lineitem
    scan BEFORE the fact⋈fact join; conditional counts partial-agg."""
    facts = audit_of(spark, sf_dir, "q332_shipping_modes_priority")
    assert any("l_shipdate" in f for f in facts.pushed_filters)
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_heavy_hitter_churn_bounded_delta(spark, sf_dir):
    """q333: each window's top-k must be a TakeOrderedAndProject
    (parallel partial top-k — never a single-partition rank over all
    users); the churn delta joins two k-row tables, no cartesian; the
    per-window aggs are map-side partial."""
    facts = audit_of(spark, sf_dir, "q333_heavy_hitter_churn")
    assert facts.text.count("TakeOrderedAndProject") >= 2
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_burstiness_single_user_shuffle(spark, sf_dir):
    """q334: lag window and moment agg share the user_id key — no
    unpartitioned window, no join."""
    facts = audit_of(spark, sf_dir, "q334_interevent_burstiness")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies == {}
    assert facts.has_partial_agg


def test_path_rollup_explodes_groups_not_facts(spark, sf_dir):
    """q335: the prefix fan-out (Generate) must sit ABOVE the leaf
    aggregation — explode multiplies group rows, not fact rows; dims
    broadcast."""
    facts = audit_of(spark, sf_dir, "q335_path_hierarchy_rollup")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert "Generate" in facts.text
    assert facts.has_partial_agg
    # Plan text prints top-down, so "explode multiplies group rows, not
    # fact rows" means Generate must print BEFORE the deepest (leaf
    # partial) HashAggregate — i.e. above it in execution order.
    gen_pos = facts.text.find("Generate")
    assert gen_pos < facts.text.rfind("HashAggregate")


def test_fertility_and_data_card_single_scan(spark, sf_dir):
    """q336/q337: both data-card aggregations are one map-side-partial
    agg over the bounded slice grid; q337's windows run on the grid."""
    for name in ("q336_tokenizer_fertility_audit", "q337_training_mix_data_card"):
        facts = audit_of(spark, sf_dir, name)
        assert facts.has_partial_agg, name
        assert not facts.has_cartesian, name
        assert not facts.scans_read_column("doc_id"), name


def test_leakage_matrix_inherits_bucketing(spark, sf_dir):
    """q338: the pair set must come from q69's bucket-blocked join (no
    cartesian anywhere) and the source join-backs read only two columns
    of documents."""
    facts = audit_of(spark, sf_dir, "q338_cross_source_leakage_matrix")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_percent_of_parent_hierarchy_sized_join(spark, sf_dir):
    """q340: the child→parent self-join runs on the hierarchy-sized node
    table and must broadcast; the only fact-scaled work is the leaf agg
    (partial); dims broadcast below it."""
    facts = audit_of(spark, sf_dir, "q340_percent_of_parent")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0
    assert not facts.has_cartesian
    assert facts.has_partial_agg


# ---------------------------------------------------------------- round 6


def test_ndcg_constant_query_batch_broadcasts(spark, sf_dir):
    """q341: the 8-query batch must broadcast into the scoring join (the
    q152 constant-batch shape) and top-k selection must be windowed in
    two phases — never a cartesian, always map-side partials for the
    per-query rollup."""
    facts = audit_of(spark, sf_dir, "q341_ndcg_mrr_eval")
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_target_encoding_cascaded_aggs(spark, sf_dir):
    """q342: the out-of-fold encoding is two cascaded hash aggs over one
    fact-dim join; the global totals enter via broadcast, never a
    re-scan."""
    facts = audit_of(spark, sf_dir, "q342_target_encoding_oof")
    assert facts.has_partial_agg
    assert not facts.has_cartesian or facts.join_strategies.get(
        "BroadcastNestedLoopJoin", 0
    ), "global totals must broadcast"
    # two-column projection of customer: name/acctbal never read
    assert not facts.scans_read_column("c_name")
    assert not facts.scans_read_column("c_acctbal")


def test_gini_no_global_window(spark, sf_dir):
    """q343: the grid cumsum must stay bucket-partitioned — a global
    ordered window (one-task serialization) is the failure mode the
    closed-form contribution exists to avoid."""
    facts = audit_of(spark, sf_dir, "q343_gini_by_segment")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg


def test_positional_deletes_broadcast_anti(spark, sf_dir):
    """q344: the tombstone side is orders/97 rows — the anti join must
    broadcast it, and the reader must not re-sort the base files."""
    facts = audit_of(spark, sf_dir, "q344_positional_delete_apply")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_assortativity_node_sized_builds(spark, sf_dir):
    """q345: degrees join back to edges with node-sized build sides; the
    moment reduction is one partial-agg pass; no window anywhere."""
    facts = audit_of(spark, sf_dir, "q345_degree_assortativity")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "Window" not in facts.text


def test_l_diversity_two_level_agg(spark, sf_dir):
    """q346: (QI, sensitive) counts then QI cells — both hash aggs with
    map-side partials; ln() rides the count column, so no window, no
    join."""
    facts = audit_of(spark, sf_dir, "q346_l_diversity_audit")
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert "Window" not in facts.text


def test_dwell_bounce_user_partitioned_windows(spark, sf_dir):
    """q347: every window partitions by user_id (q108's argument); no
    global window, no join."""
    facts = audit_of(spark, sf_dir, "q347_dwell_bounce_rollup")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies == {}
    assert facts.has_partial_agg


def test_quantile_norm_partitioned_rank(spark, sf_dir):
    """q349: the rank window partitions by source; the reference
    distribution joins back on the rank key — no global window."""
    facts = audit_of(spark, sf_dir, "q349_quantile_normalization")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg


def test_encoding_advisor_rowgroup_windows(spark, sf_dir):
    """q350: run counting must stay row-group-partitioned (the unit real
    writers decide at) — a global lag window would serialize the table
    through one task."""
    facts = audit_of(spark, sf_dir, "q350_encoding_advisor")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert not facts.has_cartesian or facts.join_strategies.get(
        "BroadcastNestedLoopJoin", 0
    )


def test_merkle_diff_broadcasts_diverged_buckets(spark, sf_dir):
    """q351: the row-level recheck must reach rows via a broadcast of the
    (tiny) diverging-bucket list — the triage property; digest passes are
    partial-agg'd."""
    facts = audit_of(spark, sf_dir, "q351_merkle_range_diff")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_set_cover_incidence_built_once(spark, sf_dir):
    """q352: the (source, shingle) incidence is materialized and each round
    is anti-join + hash agg — no cartesian, no window."""
    facts = audit_of(spark, sf_dir, "q352_greedy_set_cover")
    # result is a driver-assembled k-row table; audit the INCIDENCE build
    from kinesis_customer_sample_spark.queries.dedup import _SPARK_SHINGLES
    from kinesis_customer_sample_spark.queries.text_analysis import _docs_with_tokens
    from kinesis_customer_sample_spark.plans import audit as _audit

    spark.catalog.clearCache()  # audit the build, not q352's cache hit
    inc = (
        _docs_with_tokens(spark, sf_dir)
        .filter(F.size("toks") >= 3)
        .select("source", F.explode(F.expr(_SPARK_SHINGLES)).alias("tok"))
        .distinct()
    )
    inc_facts = _audit(inc)
    # a keys-only distinct carries no "partial_" agg functions; the
    # two-phase shape shows as partial+final HashAggregate pairs
    assert inc_facts.text.count("HashAggregate") >= 2
    assert not inc_facts.has_cartesian


def test_embargo_split_single_scan_shape(spark, sf_dir):
    """q353: anchor broadcasts (1 row); assignment is a map; audit is one
    partial agg — and the anchor scan reads only ts."""
    facts = audit_of(spark, sf_dir, "q353_temporal_embargo_split")
    assert facts.has_partial_agg
    assert not facts.has_cartesian or facts.join_strategies.get(
        "BroadcastNestedLoopJoin", 0
    )
    assert not facts.scans_read_column("props")
    assert not facts.scans_read_column("user_id")


def test_profile_drift_grid_window(spark, sf_dir):
    """q354: the trailing window runs on the (type × day) grid above the
    partial agg, partitioned by event_type — never over raw rows."""
    facts = audit_of(spark, sf_dir, "q354_partition_profile_drift")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert facts.join_strategies == {}


def test_dynamic_pivot_single_agg(spark, sf_dir):
    """q355: after the driver-side value discovery, the pivot is ONE hash
    agg with map-side partials — no join, no window."""
    facts = audit_of(spark, sf_dir, "q355_dynamic_pivot")
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert "Window" not in facts.text


def test_schema_inference_full_scan_is_map_only_agg(spark, sf_dir):
    """q356: the full-corpus pass is from_json projection + one global
    agg; the sampling phase never appears in the returned plan."""
    facts = audit_of(spark, sf_dir, "q356_json_schema_inference")
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert not facts.scans_read_column("user_id")


def test_dynamic_partition_pruning_in_fact_scan(spark, sf_dir):
    """q357: THE assertion — the fact scan's PartitionFilters must carry a
    dynamicpruningexpression (runtime month list from the dim filter),
    and the dim must broadcast."""
    facts = audit_of(spark, sf_dir, "q357_dynamic_partition_pruning")
    assert "dynamicpruning" in facts.text.lower()
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg


def test_zipf_bounded_rank_window(spark, sf_dir):
    """q358: the only window sits above a 100-row TakeOrderedAndProject —
    bounded by construction; token counting is partial-agg'd."""
    facts = audit_of(spark, sf_dir, "q358_zipf_rank_frequency")
    assert facts.has_partial_agg
    assert "TakeOrderedAndProject" in facts.text


def test_zone_map_single_pass(spark, sf_dir):
    """q359: zone map + predicate count fold in ONE map-side-partial hash
    agg over one scan — no join-back, no second pass, no window."""
    facts = audit_of(spark, sf_dir, "q359_zone_map_skipping")
    assert facts.has_partial_agg
    assert facts.n_exchanges <= 1  # the single agg shuffle to the file grid
    assert "Window" not in facts.text
    assert not facts.has_cartesian


def test_sparse_cosine_join_shapes(spark, sf_dir):
    """q360: candidates only via the postings equi-join (no cartesian),
    totals broadcast, final top-k is TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q360_sparse_cosine_join")
    assert not facts.has_cartesian
    assert "TakeOrderedAndProject" in facts.text
    assert facts.has_partial_agg
    # the weight table is eagerly checkpointed (r16): its three exchanges
    # (postings self-join ×2, doc-keyed norms) read one materialization —
    # the 1-row corpus-count broadcast now lives below that barrier
    assert "ExistingRDD" in facts.text


def test_compaction_plan_is_metadata_sized(spark, sf_dir):
    """q361: the fact scan reads only the inventory columns (source,
    doc_id, n_chars) — text never enters the plan; the single-partition
    window runs on the file inventory, after the files agg."""
    facts = audit_of(spark, sf_dir, "q361_compaction_bin_packing")
    assert not facts.scans_read_column("text")
    assert facts.has_partial_agg
    # window AFTER the inventory agg: plan prints top-down, so the Window
    # node must appear before the deepest (leaf) HashAggregate
    assert facts.text.find("Window") < facts.text.rfind("HashAggregate")


def test_priority_sampling_broadcasts_dim(spark, sf_dir):
    """q362: the customer dim broadcasts; the per-segment top-(k+1) is a
    bounded partitioned window, never an unpartitioned one."""
    facts = audit_of(spark, sf_dir, "q362_priority_sampling")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian
    # the window spec must name the segment partition key (a global,
    # unpartitioned window would print without it)
    assert re.search(r"Window .*partition.*segment|windowspecdefinition\(segment", facts.text, re.DOTALL | re.IGNORECASE)


def test_boilerplate_strip_map_only(spark, sf_dir):
    """q363: pure per-row map — no Exchange at all, no Python UDF; the
    regex ladder stays JVM-side."""
    facts = audit_of(spark, sf_dir, "q363_boilerplate_strip")
    assert facts.n_exchanges == 0
    assert "BatchEvalPython" not in facts.text
    assert "ArrowEvalPython" not in facts.text


def test_information_gain_single_scan_grid(spark, sf_dir):
    """q365: one lineitem scan, explode fans to the 3-feature tall form
    map-side, ONE partial agg to the grid; the rank window runs on 3 rows
    (grid-sized), and lineitem is scanned exactly once."""
    facts = audit_of(spark, sf_dir, "q365_information_gain")
    assert facts.has_partial_agg
    # the H(Y) scalar arrives as a 1-row broadcast nested loop — the only
    # allowed non-equi join; nothing row-scaled may cartesian
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert facts.text.count("lineitem") <= 2  # barrier: ≤2 scans


def test_star_schema_fact_never_windows(spark, sf_dir):
    """q366: dense_rank windows run over DISTINCT keys (dim build), the
    fact substitution is joins — the type dim must broadcast."""
    facts = audit_of(spark, sf_dir, "q366_star_schema_conformance")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert not facts.has_cartesian
    # windows sit above a distinct (HashAggregate) build, not the raw scan
    assert facts.has_partial_agg


def test_ucb1_grid_only(spark, sf_dir):
    """q367: one partial agg to the arm grid; the total is a 1-row
    broadcast (BNLJ is the only non-equi join); ranking runs on grid."""
    facts = audit_of(spark, sf_dir, "q367_ucb1_arm_ranking")
    assert facts.has_partial_agg
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert "CartesianProduct" not in facts.text


def test_sla_windows_stay_partitioned(spark, sf_dir):
    """q368: both windows carry partition keys — the rank window by
    (event_type, day), the burn window by event_type. A global window
    would print an empty partition spec."""
    facts = audit_of(spark, sf_dir, "q368_sla_burn_rate")
    assert re.search(
        r"windowspecdefinition\(event_type.*day", facts.text, re.DOTALL | re.IGNORECASE
    ) or re.search(r"Window .*partition.*event_type", facts.text, re.DOTALL | re.IGNORECASE)
    assert not facts.has_cartesian


def test_bom_walk_is_hash_joins(spark, sf_dir):
    """q369: every fixpoint iteration must be a hash join on the ancestor
    key (broadcast at dim scale) — no cartesian anywhere in the unioned
    walk; the rollup combines map-side."""
    facts = audit_of(spark, sf_dir, "q369_bom_explosion")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg


def test_bom_build_job_count_is_depth_independent(spark, sf_dir):
    """q369 r14 regression pin: CONSTRUCTING the walk must trigger a small
    CONSTANT number of driver jobs — the bounded max-key scalar plus at
    most one scan-planning job — independent of BOM depth. The r13/r14
    bench ledger traced the query's slowdown to one isEmpty() action per
    BOM level (a driver barrier per level at cluster scale); the fix runs
    the exact structural depth lazily. The bound asserted here is the
    constant budget (2), strictly below the pre-fix depth-scaled count
    (2 + depth: 5 jobs at sf0.001's 3 levels) — so a per-iteration action
    creeping back in fails even if planner/AQE changes add no extra jobs,
    while a single extra planning job would only consume the slack."""
    from kinesis_customer_sample_spark.registry import load_registry

    sc = spark.sparkContext
    fn = load_registry()["q369_bom_explosion"].fn
    fn(spark, sf_dir)  # warm-up: first-contact parquet listing jobs
    group = "q369-build-job-audit"
    sc.setJobGroup(group, "q369 construction job count", False)
    try:
        fn(spark, sf_dir)
    finally:
        # this PySpark exposes no SparkContext.clearJobGroup(); the documented
        # unset path is setLocalProperty(key, None)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # Constant budget: max-key collect + at most one scan-planning job.
    # Pre-fix depth-scaled shape was 2 + depth (= 5 at sf0.001) — any
    # per-level action reappearing overshoots this bound at every SF.
    assert len(jobs) <= 2, (
        f"q369 construction ran {len(jobs)} jobs {jobs}; expected <= 2 "
        "(scan planning + max-key collect) — a per-level driver action is back"
    )


def test_rfm_base_is_hash_agg(spark, sf_dir):
    """q370: the RFM base reduces orders to customer grain BEFORE any
    window; ntile windows run over the reduced dim (plan prints the
    windows above the leaf aggregate)."""
    facts = audit_of(spark, sf_dir, "q370_rfm_segmentation")
    assert facts.has_partial_agg
    assert facts.text.find("Window") < facts.text.rfind("HashAggregate")
    assert "CartesianProduct" not in facts.text


def test_negative_sampling_broadcasts_draws(spark, sf_dir):
    """q371: the constant draw batch must broadcast into the interval
    containment join (BNLJ) — the vocab side never shuffles for it."""
    facts = audit_of(spark, sf_dir, "q371_negative_sampling")
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert "CartesianProduct" not in facts.text
    assert "TakeOrderedAndProject" in facts.text


def test_twap_window_partitioned(spark, sf_dir):
    """q372: the lead() window partitions by (event_type, day) — bounded
    state; the rollup reuses the same keys (≤2 exchanges total)."""
    facts = audit_of(spark, sf_dir, "q372_time_weighted_average")
    assert re.search(
        r"windowspecdefinition\(event_type.*day", facts.text, re.DOTALL | re.IGNORECASE
    ) or re.search(r"Window .*partition.*event_type", facts.text, re.DOTALL | re.IGNORECASE)
    assert facts.n_exchanges <= 2


def test_negation_funnel_no_window_no_join(spark, sf_dir):
    """q373: the path build is an aggregation (ObjectHashAggregate for
    collect_list), not a window; the whole query is join-free."""
    facts = audit_of(spark, sf_dir, "q373_negation_funnel")
    assert "Window" not in facts.text
    assert not facts.join_strategies  # no joins at all
    assert "Aggregate" in facts.text


def test_vacuum_plan_metadata_joins(spark, sf_dir):
    """q375: liveness is a broadcast left join of the file inventory
    against the refs set — no cartesian, aggregation map-side-combined."""
    facts = audit_of(spark, sf_dir, "q375_vacuum_planning")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_fd_audit_single_scan_no_window(spark, sf_dir):
    """q376: the tall-form fan-out means ONE part scan, no window, no
    self-join; dominant-Y is max() inside the grid agg."""
    facts = audit_of(spark, sf_dir, "q376_functional_dependency_audit")
    assert "Window" not in facts.text
    assert not facts.join_strategies
    assert facts.has_partial_agg
    assert facts.text.count("part.parquet") == 1  # exactly one scan


def test_readability_map_only(spark, sf_dir):
    """q377: zero exchanges, zero joins — a pure projected map."""
    facts = audit_of(spark, sf_dir, "q377_readability_score")
    assert facts.n_exchanges == 0
    assert not facts.join_strategies
    assert "BatchEvalPython" not in facts.text


def test_brier_single_agg(spark, sf_dir):
    """q378: one scan, one partial agg to the bin grid; every metric
    folds into the same aggregation."""
    facts = audit_of(spark, sf_dir, "q378_brier_calibration")
    assert facts.has_partial_agg
    assert facts.n_exchanges <= 1
    assert "Window" not in facts.text


def test_t_closeness_windows_grid_sized(spark, sf_dir):
    """q379: cumulative windows partition by the QI cell (never global
    over raw rows) and the customer table is scanned at most twice
    (cells + counts, both pre-aggregated)."""
    facts = audit_of(spark, sf_dir, "q379_t_closeness_audit")
    assert re.search(
        r"windowspecdefinition\(qi_seg", facts.text, re.IGNORECASE
    ) or re.search(r"Window .*partition.*qi_seg", facts.text, re.DOTALL | re.IGNORECASE)
    assert facts.has_partial_agg


def test_kmv_sketch_distinct_then_topk(spark, sf_dir):
    """q380: the only row-scale shuffle is the distinct agg; per-group
    minima come from a partitioned window over distinct keys."""
    facts = audit_of(spark, sf_dir, "q380_kmv_distinct_sketch")
    assert facts.has_partial_agg
    assert re.search(
        r"windowspecdefinition\(event_type", facts.text, re.IGNORECASE
    ) or re.search(r"Window .*partition.*event_type", facts.text, re.DOTALL | re.IGNORECASE)
    assert not facts.has_cartesian


def test_feature_hashing_no_dictionary_join(spark, sf_dir):
    """q381: the whole point of the hashing trick — NO vocabulary join;
    bucket/sign are expressions, the plan is two aggs and zero joins."""
    facts = audit_of(spark, sf_dir, "q381_feature_hashing")
    assert not facts.join_strategies
    assert facts.has_partial_agg
    assert "Window" not in facts.text


def test_forecast_grid_windows_partitioned(spark, sf_dir):
    """q382/q383: the trailing-forecast window partitions by event_type
    and runs on the daily grid (after the hash agg, plan top-down)."""
    for name in ("q382_pinball_loss_eval", "q383_conformal_intervals"):
        facts = audit_of(spark, sf_dir, name)
        assert re.search(
            r"windowspecdefinition\(event_type", facts.text, re.IGNORECASE
        ), name
        assert facts.text.find("Window") < facts.text.rfind("HashAggregate"), name
        assert not facts.has_cartesian or facts.join_strategies.get(
            "BroadcastNestedLoopJoin", 0
        ) >= 1, name


def test_kaplan_meier_windows_on_grid(spark, sf_dir):
    """q384: the at-risk and survival windows run on the duration grid —
    above the leaf (user-grain) aggregate in the printed plan."""
    facts = audit_of(spark, sf_dir, "q384_kaplan_meier")
    assert facts.has_partial_agg
    assert facts.text.find("Window") < facts.text.rfind("HashAggregate")


def test_kcore_rounds_are_semi_joins(spark, sf_dir):
    """q385: each round's edge set and degree table are materialized, so
    the peel's LEFT SEMI joins run exactly once at build time and the
    RETURNED union reads the four materialized degree tables (ExistingRDD
    barriers) — without the barrier the union's four summary branches
    recomputed the semi-join peel per branch (3.96 → 2.06 s at sf0.1). Pin: no
    cartesian, the returned plan reads checkpoints and re-runs no edge
    scan or semi-join above them."""
    facts = audit_of(spark, sf_dir, "q385_kcore_peel")
    assert not facts.has_cartesian
    assert "ExistingRDD" in facts.text
    assert "LeftSemi" not in facts.text  # peel ran at build, not per branch
    assert "Scan parquet" not in facts.text


def test_bloom_advisor_grid_only(spark, sf_dir):
    """q386: three distinct-aggs over one table, unioned — no joins, no
    windows; the advice is pure grid arithmetic."""
    facts = audit_of(spark, sf_dir, "q386_bloom_sizing_advisor")
    assert not facts.join_strategies
    assert "Window" not in facts.text
    assert facts.has_partial_agg


def test_trajectory_windows_user_partitioned(spark, sf_dir):
    """q387: the lag/island windows must partition by user_id."""
    facts = audit_of(spark, sf_dir, "q387_trajectory_stops")
    assert re.search(r"windowspecdefinition\(user_id", facts.text, re.IGNORECASE)
    assert facts.has_partial_agg
    assert not facts.join_strategies


def test_fixed_width_map_only_until_grid(spark, sf_dir):
    """q388: render+parse are codegen maps — one exchange (the grid agg),
    no joins, no Python."""
    facts = audit_of(spark, sf_dir, "q388_fixed_width_parse")
    assert facts.n_exchanges <= 1
    assert not facts.join_strategies
    assert "BatchEvalPython" not in facts.text


def test_cdc_producer_single_outer_join(spark, sf_dir):
    """q389: exactly one join — the full outer on the key; the change
    filter sits above it, the rollup combines map-side."""
    facts = audit_of(spark, sf_dir, "q389_cdc_changelog_producer")
    assert sum(facts.join_strategies.values()) == 1
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_scd2_audit_never_joins(spark, sf_dir):
    """q390: one key-partitioned window + one agg; join-free."""
    facts = audit_of(spark, sf_dir, "q390_scd2_integrity_audit")
    assert not facts.join_strategies
    assert re.search(r"windowspecdefinition\(o_custkey", facts.text, re.IGNORECASE)


def test_interval_union_running_max_windows(spark, sf_dir):
    """q392: the merge windows partition by user_id (running max + island
    cumsum), aggs reuse the key — no join anywhere."""
    facts = audit_of(spark, sf_dir, "q392_interval_union_coverage")
    assert re.search(r"windowspecdefinition\(user_id", facts.text, re.IGNORECASE)
    assert not facts.join_strategies
    assert facts.has_partial_agg


def test_naive_bayes_model_is_hash_joined(spark, sf_dir):
    """q393: the scoring join brings the model in by hash join on
    (class, tok); the class list broadcasts; argmax is a doc-partitioned
    window."""
    facts = audit_of(spark, sf_dir, "q393_naive_bayes_langid")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert re.search(r"windowspecdefinition\(doc_id", facts.text, re.IGNORECASE)


def test_decision_stump_one_pass_grid(spark, sf_dir):
    """q394: bounded candidate fan-out via broadcast nested loop, then
    ONE map-side-combined agg to the threshold grid."""
    facts = audit_of(spark, sf_dir, "q394_decision_stump")
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1
    assert facts.has_partial_agg
    assert "CartesianProduct" not in facts.text


def test_did_reduces_immediately(spark, sf_dir):
    """q395: one scan straight into the cell agg — no joins, no windows;
    everything after is grid algebra."""
    facts = audit_of(spark, sf_dir, "q395_diff_in_diff")
    assert not facts.join_strategies
    assert "Window" not in facts.text
    assert facts.has_partial_agg


def test_item_cf_capped_self_join(spark, sf_dir):
    """q396: the co-occurrence self-join is an equi-join on the user key
    (no cartesian), pruned by the popularity cap; final top-N is
    TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q396_item_item_jaccard_cf")
    assert not facts.has_cartesian
    assert "TakeOrderedAndProject" in facts.text
    assert facts.has_partial_agg


def test_wl_round_is_join_plus_sorted_fold(spark, sf_dir):
    """q397: each round is an edge-keyed hash join + list agg; no
    cartesian; distinct-color counts combine partially."""
    facts = audit_through_barriers(spark, sf_dir, "q397_wl_refinement")
    assert not facts.has_cartesian
    assert sum(facts.join_strategies.values()) >= 2  # edge build + rounds
    assert "Window" not in facts.text


def test_asof_tolerance_is_q13_shape(spark, sf_dir):
    """q398: backward range join + argmax agg on the event key; the
    tolerance is a projection, NOT a join predicate (plan shows no
    second join)."""
    facts = audit_of(spark, sf_dir, "q398_asof_tolerance_join")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert sum(facts.join_strategies.values()) == 1


def test_winsorize_fences_broadcast_back(spark, sf_dir):
    """q399: rank windows partition by event_type; the series-grid
    fences come back by broadcast join."""
    facts = audit_of(spark, sf_dir, "q399_winsorization")
    assert re.search(r"windowspecdefinition\(event_type", facts.text, re.IGNORECASE)
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian


def test_maintenance_report_no_row_scale_joins(spark, sf_dir):
    """q400: three composed planners, each reduced to one row before the
    union — no cartesian; the only Window is q361's metadata-sized
    bin-packing window (ordered by file bytes), never a raw-row one."""
    facts = audit_of(spark, sf_dir, "q400_maintenance_report")
    assert not facts.has_cartesian
    assert re.search(r"windowspecdefinition\(bytes", facts.text, re.IGNORECASE)
    assert not re.search(r"windowspecdefinition\(o_orderkey", facts.text, re.IGNORECASE)
    assert facts.has_partial_agg
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1


def test_gini_offsets_are_windows_not_triangular(spark, sf_dir):
    """q343 regression (round-6 bench: 118 s at sf0.1): the bucket-offset
    stage must be a per-segment window over the bucket grid, NOT the old
    triangular bucket<bucket self-join — quadratic in occupied buckets
    (27k per segment on the totalprice domain → 1.9e9 joined rows). The
    plan may contain only the fact-dim equi-join plus broadcast
    grid join-backs; every join must be an equi hash join."""
    facts = audit_of(spark, sf_dir, "q343_gini_by_segment")
    assert not facts.has_cartesian
    assert "SortMergeJoin" not in facts.join_strategies
    # the offset window: partitioned by segment, ordered by bucket
    assert re.search(r"windowspecdefinition\(segment", facts.text, re.IGNORECASE)
    # old shape detector: a non-broadcast join of totals against itself
    # printed a second shuffle-side HashAggregate under a Join with a
    # range condition; assert no join carries a '<' bucket predicate
    assert not re.search(r"Join .*bucket#\d+L? <", facts.text)


def test_trending_is_map_agg_takeordered(spark, sf_dir):
    """q401: decay is a map against the broadcast anchor; one partial
    agg; TakeOrderedAndProject — never a global sort."""
    facts = audit_of(spark, sf_dir, "q401_trending_leaderboard")
    assert facts.has_partial_agg
    assert "TakeOrderedAndProject" in facts.text
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1


def test_rate_limit_uses_range_frame(spark, sf_dir):
    """q402: the trailing window must be a RANGE frame (value-based) —
    a ROWS frame here is a correctness bug on same-second bursts."""
    facts = audit_of(spark, sf_dir, "q402_rate_limit_audit")
    assert re.search(r"specifiedwindowframe\(RangeFrame", facts.text) or (
        "RANGE BETWEEN" in facts.text.upper()
    )
    assert re.search(r"windowspecdefinition\(user_id", facts.text, re.IGNORECASE)


def test_median_of_means_grid_window(spark, sf_dir):
    """q403: bucket means are one hash agg; the median rank window runs
    on the bounded (group × bucket) grid."""
    facts = audit_of(spark, sf_dir, "q403_median_of_means")
    assert facts.has_partial_agg
    assert re.search(r"windowspecdefinition\(event_type", facts.text, re.IGNORECASE)
    assert not facts.has_cartesian


def test_consistent_hash_ring_broadcasts(spark, sf_dir):
    """q404: both assignments are map-side sorted-ring array lookups —
    the plan carries NO join and no key-grain aggregation (the former
    shape fanned keys ring-width through a BNLJ into a |keys|-group
    agg); the only aggregate is the server-grain rollup."""
    facts = audit_of(spark, sf_dir, "q404_consistent_hash_rebalance")
    assert facts.join_strategies == {}
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_clamped_balance_single_window_chain(spark, sf_dir):
    """q405: both windows share the (event_type | ts, event_id) spec —
    Spark must plan them in one sorted window chain (exactly one
    exchange for the partition key, no join, no Python)."""
    facts = audit_of(spark, sf_dir, "q405_clamped_running_balance")
    assert not facts.join_strategies
    assert re.search(r"windowspecdefinition\(event_type", facts.text, re.IGNORECASE)
    assert "BatchEvalPython" not in facts.text


def test_schema_drift_diff_is_metadata_join(spark, sf_dir):
    """q406: the diff itself is a tiny full outer join over locally
    created column rows — no parquet DATA scan may appear in the final
    plan (footers were read at build time, not scan time)."""
    facts = audit_of(spark, sf_dir, "q406_schema_drift_diff")
    assert "Scan parquet" not in facts.text
    assert not facts.has_cartesian


def test_partition_advisor_count_stars(spark, sf_dir):
    """q407: three count-star aggs unioned — no joins, no windows; the
    sizing arithmetic is pure projection."""
    facts = audit_of(spark, sf_dir, "q407_partition_sizing_advisor")
    assert not facts.join_strategies
    assert "Window" not in facts.text
    assert facts.has_partial_agg


def test_release_gate_joins_on_doc_key(spark, sf_dir):
    """q409: the three composed screens join on doc_id (hash joins, no
    cartesian) and the rollup combines map-side."""
    facts = audit_of(spark, sf_dir, "q409_release_gate_capstone")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert sum(facts.join_strategies.values()) >= 3


def test_interleave_rank_window_partitioned(spark, sf_dir):
    """q410: the within-source rank window partitions by source; only
    the audit's order statistic runs globally over the doc table."""
    facts = audit_of(spark, sf_dir, "q410_stratified_interleave")
    assert re.search(r"windowspecdefinition\(source", facts.text, re.IGNORECASE)
    assert facts.has_partial_agg
    assert not facts.join_strategies


def test_rtbf_cohort_broadcasts(spark, sf_dir):
    """q411: every table audit joins the broadcast cohort (one broadcast
    LEFT join + conditional agg per table — the one-scan shape; the
    former two-scan semi-join variant asserted LeftSemi here) — fact
    data never shuffles for the join."""
    facts = audit_of(spark, sf_dir, "q411_forget_me_propagation")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3
    assert "SortMergeJoin" not in facts.join_strategies


def test_theil_single_agg_grid(spark, sf_dir):
    """q412: one fact-dim broadcast join, ONE partial agg to the segment
    grid with three sufficient statistics; rollup is grid algebra."""
    facts = audit_through_barriers(spark, sf_dir, "q412_theil_decomposition")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg
    assert "Window" not in facts.text


def test_local_clustering_no_cartesian(spark, sf_dir):
    """q413: triangle enumeration is equi-joins over the edge product;
    corner credit is a map-side union; grids are hash aggs."""
    facts = audit_of(spark, sf_dir, "q413_local_clustering_profile")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_spearman_two_level_rank_windows(spark, sf_dir):
    """q414: midranks come from ONE melted grid chain — every Window is
    partitioned (two-level cumsum, never a global ordered window), the
    x-rank join back to rows broadcasts, and no join is cartesian."""
    facts = audit_through_barriers(spark, sf_dir, "q414_spearman_rank_corr")
    assert "Window" in facts.text
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert facts.has_partial_agg


def test_kendall_joins_cell_grid_not_rows(spark, sf_dir):
    """q415: concordance pairs come from the (x, y) CELL grid self-join
    (grid², bounded 550/group), never a row self-join: the join input
    is an aggregated relation, rows are touched by exactly one partial
    agg, and nothing is cartesian."""
    facts = audit_of(spark, sf_dir, "q415_kendall_tau_b")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    # the self-join runs on the aggregated cell grid: the plan must show
    # the materialized grid's scan (ExistingRDD) feeding the join, and no
    # Window at all (tie corrections are marginal-grid algebra)
    assert "ExistingRDD" in facts.text
    assert "Window" not in facts.text


def test_anova_single_scan_grid_algebra(spark, sf_dir):
    """q416: one map-side-combined hash agg to the k-row group grid; no
    joins, no windows; the scan reads only (event_type, value)."""
    facts = audit_of(spark, sf_dir, "q416_anova_oneway")
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert "Window" not in facts.text
    assert not facts.scans_read_column("props")
    assert not facts.scans_read_column("user_id")


def test_cramers_v_broadcast_grid_algebra(spark, sf_dir):
    """q417: the fact collapses to the seg×nation grid once (materialized);
    marginals/totals join back as broadcasts; no cartesian product (the
    1-row total attaches via BroadcastNestedLoopJoin, the house idiom)."""
    facts = audit_of(spark, sf_dir, "q417_cramers_v")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert facts.has_partial_agg


def test_jsd_single_tokenize_pass_grid(spark, sf_dir):
    """q418: one tokenize pass over the filtered corpus, one hash agg to
    the token grid with BOTH corpus counts as conditional sums (never a
    join of two scans); totals broadcast."""
    facts = audit_of(spark, sf_dir, "q418_js_divergence")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0


def test_psi_grid_complete_and_broadcast(spark, sf_dir):
    """q419: band/period classification is map-side; the complete grid
    and per-type totals are map-based (band-count map explode + bounded
    window) so the plan carries NO join at all (the former grid shape
    joined grid-vs-grid with broadcasts); the events scan reads only
    (event_type, value, ts)."""
    facts = audit_of(spark, sf_dir, "q419_psi_drift")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert not facts.scans_read_column("props")


def test_average_precision_two_level_cumsum(spark, sf_dir):
    """q420: the only ordered structure is the per-score-bucket local
    window (two-level cumsum) — no global window; scoring broadcasts
    the weight vector."""
    facts = audit_of(spark, sf_dir, "q420_average_precision")
    assert "Window" in facts.text
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_ece_constant_bin_grid(spark, sf_dir):
    """q421: one scoring pass, broadcast min/max, one hash agg to the
    constant 10-bin grid; no window at all."""
    facts = audit_of(spark, sf_dir, "q421_expected_calibration_error")
    assert "Window" not in facts.text
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_trigram_probe_filters_before_shuffle(spark, sf_dir):
    """q422: the covering check is ROW-LOCAL (array_intersect over the
    doc's trigram array == needle trigram count) so the plan carries no
    join, no explode/Generate and no aggregation — one scan, map-side
    filters, and the single exchange is the output sort. (The former
    shape exploded postings, shuffled them into a covering hash-agg and
    broadcast the candidates back.)"""
    facts = audit_of(spark, sf_dir, "q422_trigram_substring_search")
    assert not facts.has_cartesian
    assert facts.join_strategies == {}
    assert "Generate" not in facts.text
    assert "HashAggregate" not in facts.text
    assert facts.n_exchanges <= 1


def test_matryoshka_per_query_windows_one_scan(spark, sf_dir):
    """q423: queries broadcast; both rankings ride one materialized scoring
    pass; rank windows are partitioned BY QUERY, never global."""
    facts = audit_of(spark, sf_dir, "q423_matryoshka_truncation_agreement")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian
    assert "ExistingRDD" in facts.text


def test_adamic_adar_capped_postings_no_cartesian(spark, sf_dir):
    """q424: candidates come from the capped co-neighbor postings join
    (equi on the shared neighbor), never all-pairs; the anti-join drops
    existing edges; top-k is TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q424_adamic_adar")
    assert not facts.has_cartesian
    assert "TakeOrderedAndProject" in facts.text
    assert facts.has_partial_agg


def test_harmonic_centrality_distinct_before_count(spark, sf_dir):
    """q425: the 2-hop witness set is DISTINCT-deduped before counting
    (hub double-paths must not inflate reach) and direct edges drop via
    anti-join; nothing cartesian."""
    facts = audit_of(spark, sf_dir, "q425_harmonic_centrality_2hop")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "TakeOrderedAndProject" in facts.text


def test_rolling_corr_single_window_frame(spark, sf_dir):
    """q426: all six rolling sufficient statistics share ONE window frame
    over the calendar-bounded hourly grid (exactly one Window node), and
    the heavy input collapses via a partial agg first."""
    facts = audit_of(spark, sf_dir, "q426_rolling_correlation")
    assert facts.has_partial_agg
    # single ordered pass: exactly one Window NODE in the final plan
    import re as _re

    assert len(_re.findall(r"\bWindow \(\d+\)", facts.text)) == 1


def test_sax_windows_partitioned_by_series(spark, sf_dir):
    """q427: ntile/lead/top-1 windows are all partitioned by series —
    never a global window over rows."""
    facts = audit_of(spark, sf_dir, "q427_sax_motifs")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_markov_walk_iterates_on_grids(spark, sf_dir):
    """q428: the transition grid is checkpoint-truncated and the L-step
    walk joins grid-vs-grid; path extraction windows are partitioned by
    (user, day)."""
    facts = audit_of(spark, sf_dir, "q428_markov_removal_attribution")
    assert "No Partition Defined" not in facts.text
    assert not facts.has_cartesian


def test_hhi_dimension_bounded_grids(spark, sf_dir):
    """q429: one fact agg to (nation, supplier), broadcast joins for the
    totals and the nation dim, no window, no cartesian."""
    facts = audit_of(spark, sf_dir, "q429_hhi_concentration")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert facts.has_partial_agg
    assert "Window" not in facts.text
    assert not facts.has_cartesian


def test_ivf_broadcast_centroids_partitioned_rerank(spark, sf_dir):
    """q430: centroid/query tables broadcast (assignment is map-side);
    every rank window is partitioned (per-vector argmin, per-query
    probe/rerank); candidate fraction beats the full scan."""
    facts = audit_of(spark, sf_dir, "q430_ivf_nprobe_ann")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1


def test_ivf_probe_prunes_candidates(spark, sf_dir):
    """q430's nprobe cell restriction must actually prune: rebuild the
    cell assignment and probe tables with the query's own geometry and
    MEASURE the per-query candidate count (probed-cell members); it must
    stay under corpus * nprobe/ncells with 3x skew slack — i.e. the
    probe step really touches a fraction of the corpus, not all of it."""
    from pyspark.sql import Window as W

    from kinesis_customer_sample_spark.queries.pq_ann import (
        _IVF_CORP0,
        _IVF_NCELLS,
        _IVF_NPROBE,
        _IVF_NQ,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").alias(
            "v"
        ),
    )
    cent = F.broadcast(
        e.filter(F.col("vec_id") < _IVF_NCELLS).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
    )
    l2 = (
        "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    assign = (
        e.filter(F.col("vec_id") >= _IVF_CORP0)
        .crossJoin(cent)
        .select("vec_id", "cid", F.expr(l2).alias("d"))
        .withColumn(
            "r", F.row_number().over(W.partitionBy("vec_id").orderBy("d", "cid"))
        )
        .filter(F.col("r") == 1)
        .select("vec_id", "cid")
    )
    probes = (
        e.filter(
            (F.col("vec_id") >= _IVF_NCELLS)
            & (F.col("vec_id") < _IVF_NCELLS + _IVF_NQ)
        )
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("cv"))
        .crossJoin(cent.withColumnRenamed("cv", "cv2").withColumnRenamed("cid", "c2"))
        .select(
            "qid",
            F.col("c2").alias("cid"),
            F.expr(
                "aggregate(zip_with(cv, cv2, (x, y) -> (x - y) * (x - y)),"
                " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
            ).alias("d"),
        )
        .withColumn(
            "r", F.row_number().over(W.partitionBy("qid").orderBy("d", "cid"))
        )
        .filter(F.col("r") <= _IVF_NPROBE)
        .select("qid", "cid")
    )
    n_corpus = assign.count()
    cand_pairs = {
        (r["qid"], r["vec_id"])
        for r in probes.join(assign, "cid").select("qid", "vec_id").collect()
    }
    assert n_corpus > 0
    bound = _IVF_NQ * n_corpus * (_IVF_NPROBE / _IVF_NCELLS) * 3
    assert len(cand_pairs) < bound, (len(cand_pairs), bound)
    # and tie the measurement to q430 ITSELF: every (qid, vec_id) the query
    # returns must come from the probed-cell candidate set — a q430 whose
    # probe restriction regressed to scanning unprobed cells would surface
    # a nearer out-of-cell neighbor here
    returned = REGISTRY["q430_ivf_nprobe_ann"].fn(spark, sf_dir)
    for r in returned.select("qid", "vec_id").collect():
        assert (r["qid"], r["vec_id"]) in cand_pairs, (
            f"q430 returned ({r['qid']}, {r['vec_id']}) from an unprobed cell"
        )


def test_jw_blocked_pairs_broadcast_topk(spark, sf_dir):
    """q431: candidate pairs come from the two-token block equi-join of
    the materialized title table (never n²); top-k is
    TakeOrderedAndProject; the UDF is Arrow-batched (ArrowEvalPython),
    not row-at-a-time BatchEvalPython."""
    facts = audit_of(spark, sf_dir, "q431_jaro_winkler_linkage")
    assert not facts.has_cartesian
    assert "TakeOrderedAndProject" in facts.text
    assert "ArrowEvalPython" in facts.text
    assert "BatchEvalPython" not in facts.text


def test_rake_windows_per_doc_grid_scores(spark, sf_dir):
    """q432: phrase segmentation windows are per-document; word/phrase
    scores are grid hash-aggs; final ranking is TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q432_rake_keyphrases")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert "TakeOrderedAndProject" in facts.text


def test_ltv_cumsum_partitioned_by_cohort(spark, sf_dir):
    """q433: the cumulative window is partitioned by cohort over the
    bounded age grid; cohort size joins broadcast."""
    facts = audit_of(spark, sf_dir, "q433_cohort_ltv_curve")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg


def test_ppr_iterates_join_agg_rounds(spark, sf_dir):
    """q434: three unrolled message rounds — each a keyed join + hash
    agg over checkpointed edges; no cartesian anywhere."""
    facts = audit_of(spark, sf_dir, "q434_personalized_pagerank")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "TakeOrderedAndProject" in facts.text


def test_abc_xyz_two_level_pareto_no_dense_fill(spark, sf_dir):
    """q435: the ABC cumulative is the two-level bucket cumsum over the
    part dimension (no global window); XYZ variance uses observed-month
    sufficient statistics only (no part×month dense grid: exactly two
    aggregates above the scan)."""
    facts = audit_of(spark, sf_dir, "q435_abc_xyz_classification")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_jl_projection_map_side_band_grid(spark, sf_dir):
    """q436: the pair join is an equi join at a fixed id gap; projection
    and norms are map-side array algebra; output is a constant band
    grid (one partial agg, no window)."""
    facts = audit_of(spark, sf_dir, "q436_jl_projection_distortion")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "Window" not in facts.text


def test_markov_backtest_broadcast_predictor(spark, sf_dir):
    """q437: one sequence pass (per-user-day windows) serves train and
    test; the |states|-row predictor broadcasts to the test join."""
    facts = audit_through_barriers(spark, sf_dir, "q437_markov_next_event_accuracy")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert not facts.has_cartesian


def test_sample_size_map_side_assignment(spark, sf_dir):
    """q438: arm assignment is a map-side portable hash (no assignment
    table, no join before the per-user agg); the arm grid is 2 rows."""
    facts = audit_of(spark, sf_dir, "q438_experiment_sample_size")
    assert facts.join_strategies == {}
    assert facts.has_partial_agg
    assert "Window" not in facts.text


def test_mase_grid_joins_above_partial_agg(spark, sf_dir):
    """q440: both lag alignments join the aggregated (type, day) grid
    with itself — partial agg below, no cartesian, no window at all."""
    facts = audit_of(spark, sf_dir, "q440_mase_smape_scorecard")
    assert facts.has_partial_agg
    assert not facts.has_cartesian
    assert "Window" not in facts.text


def test_croston_secondary_sort_single_python_pass(spark, sf_dir):
    """q441: the sequential recursion is ONE mapInPandas over a
    repartition-by-part + sortWithinPartitions stream (the q297
    pattern): exactly one Python eval, Arrow-batched, above a partial
    agg; the brand dimension broadcasts."""
    facts = audit_of(spark, sf_dir, "q441_croston_intermittent")
    # one plan node (the formatted plan lists every node twice: tree + detail)
    assert facts.text.count("MapInPandas") in (1, 2)
    assert "FlatMapGroupsInPandas" not in facts.text
    assert facts.has_partial_agg
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert "BatchEvalPython" not in facts.text


def test_acf_broadcast_lag_dimension(spark, sf_dir):
    """q442/q443: the lag grid is a broadcast nested-loop against the
    aggregated day grid (constant rows), the pair alignment an equi
    join, and the stats one partial hash-agg — never a row-level
    cartesian of the fact table."""
    for name in ("q442_acf_profile", "q443_leadlag_crosscorr"):
        facts = audit_of(spark, sf_dir, name)
        assert facts.has_partial_agg
        # the 7-row lag dim crossJoin must be the broadcast variant
        assert "BroadcastNestedLoopJoin" in facts.text
        assert "CartesianProduct" not in facts.text


def test_drawdown_windows_partitioned_by_segment(spark, sf_dir):
    """q444: cumsum/running-peak/argmax windows are all partitioned per
    segment over the day grid; the customer dim join broadcasts."""
    facts = audit_of(spark, sf_dir, "q444_max_drawdown")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg


def test_theil_sen_pairs_on_month_grid(spark, sf_dir):
    """q445: the pairwise-slope join is grid² on the aggregated
    (nation, month) table — partial agg below it, dims broadcast, no
    cartesian, and the median partitions by nation."""
    facts = audit_of(spark, sf_dir, "q445_theil_sen_slope")
    assert facts.has_partial_agg
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2


def test_huber_fixed_unroll_broadcast_centers(spark, sf_dir):
    """q446: three fixed IRLS passes — each joins the broadcast 5-row
    center grid, never a driver loop; no window, no cartesian."""
    facts = audit_of(spark, sf_dir, "q446_huber_location")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_mutual_information_grid_only(spark, sf_dir):
    """q447: one fact hash-agg to the 25-cell contingency grid; the MI
    and H(X) reductions are grid algebra with broadcast marginals; the
    1-row total travels by broadcast nested loop."""
    facts = audit_of(spark, sf_dir, "q447_mutual_information")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "CartesianProduct" not in facts.text


def test_lorenz_ntile_partitioned_by_region(spark, sf_dir):
    """q448: the only row-level window is the per-region ntile (total
    order, never `No Partition Defined`); cumulatives run on the
    region×decile grid."""
    facts = audit_of(spark, sf_dir, "q448_lorenz_curve")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert facts.has_partial_agg


def test_yule_walker_reuses_acf_shape(spark, sf_dir):
    """q449: same plan class as q442 — broadcast 2-row lag dim against
    the day grid, one partial agg, closed-form projection (no extra
    shuffle for the pivot beyond the stats agg)."""
    facts = audit_of(spark, sf_dir, "q449_yule_walker_ar2")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "CartesianProduct" not in facts.text


def test_kn_model_tables_are_build_sides(spark, sf_dir):
    """q450: training produces vocabulary-sized model tables probed by
    hash joins from the held-out scan; the 1-row type total broadcasts
    (nested loop), and no cartesian of row-level inputs appears."""
    facts = audit_of(spark, sf_dir, "q450_kn_bigram_heldout")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "CartesianProduct" not in facts.text


def test_burrows_dense_grid_integer_sums(spark, sf_dir):
    """q451: the dense source×word grid comes from a broadcast word dim
    CAPPED at the top-frequency band (its own TakeOrderedAndProject —
    never the raw corpus-sized distinct vocabulary: r10 pre-pin audit);
    the z-score stats and pair deltas are hash-aggs (no window)."""
    facts = audit_of(spark, sf_dir, "q451_burrows_delta")
    assert facts.has_partial_agg
    assert "Window" not in facts.text
    # two top-k operators: the vocab cap and the final delta top-k
    assert facts.text.count("TakeOrderedAndProject") >= 2
    # anchor the VOCAB CAP itself (r10 ADVICE: a bare count can't tell
    # the cap from the final delta top-k): a top-K limited exactly to
    # _BD_VOCAB_K whose leading sort key is the corpus-frequency column
    from kinesis_customer_sample_spark.queries.text_linkage_ops import _BD_VOCAB_K

    # Pin the cap SEMANTICS (limit == _BD_VOCAB_K, leading sort key tc
    # DESC) without anchoring the exact plan formatting — the Input-list
    # line and column-numbering style vary across Spark versions
    # (r11 ADVICE).
    assert re.search(
        rf"Arguments: {_BD_VOCAB_K}, \[tc#\d+L? DESC",
        facts.text,
    ), "vocab-cap TakeOrderedAndProject (limit=_BD_VOCAB_K sorted by tc) missing from plan"


def test_soundex_runs_on_vocabulary_not_corpus(spark, sf_dir):
    """q452: soundex is computed on the DISTINCT-token table (after the
    count hash-agg), so the string pipeline cost is vocabulary-sized;
    plan shows agg-over-agg with no join at all."""
    facts = audit_of(spark, sf_dir, "q452_soundex_blocking")
    assert facts.has_partial_agg
    assert facts.join_strategies == {}
    assert "soundex" in facts.text


def test_fs_pairs_blocked_weights_broadcast(spark, sf_dir):
    """q453: candidate pairs come from the COMPOSITE (lang, len_band)
    equi-join block (never a cartesian, never lang-only — r9 verdict:
    lang-only leaves the dominant-language block quadratic at corpus
    scale); the 1-row pivoted weight table broadcasts back to the
    scoring pass; top-k is TakeOrderedAndProject."""
    facts = audit_through_barriers(spark, sf_dir, "q453_fellegi_sunter")
    assert not facts.has_cartesian
    # the pair join's equi-key must include BOTH block components
    assert re.search(r"Left keys \[2\]: \[lang#\d+, len_band#\d+L?\]", facts.text)
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "TakeOrderedAndProject" in facts.text


def test_novelty_cumsum_partitions_by_dim(spark, sf_dir):
    """q454: the prefix cumsum partitions by dimension index (64
    partitions) — never `No Partition Defined`; the per-vector reduce
    is one partial hash-agg; top-k is TakeOrderedAndProject."""
    facts = audit_of(spark, sf_dir, "q454_embedding_novelty")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg
    assert "TakeOrderedAndProject" in facts.text


def test_es_order_statistic_partitioned(spark, sf_dir):
    """q455: lag/rank/tail windows all partition by segment over the day
    grid; the customer dim broadcasts; no interpolating percentile —
    the quantile is an integer order statistic (no `percentile` call in
    the plan)."""
    facts = audit_of(spark, sf_dir, "q455_expected_shortfall")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert "percentile" not in facts.text.lower()


def test_logistic_two_passes_one_row_state(spark, sf_dir):
    """q456: the fit is fixed-unroll — fact-scan passes reduce to 1-row
    sufficient-statistics aggregates, and β state travels by broadcast
    nested loop; no window, no driver-side iteration artifacts."""
    facts = audit_of(spark, sf_dir, "q456_logistic_newton")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "Window" not in facts.text
    assert "CartesianProduct" not in facts.text


def test_psi_stream_state_constant_width(spark, sf_dir):
    """q457: the post-stream PSI algebra explodes exactly the 2×20-bin
    vectors (Generate over arrays_zip) and reduces with one hash-agg;
    the final batch plan has no join at all (state already keyed)."""
    facts = audit_of(spark, sf_dir, "q457_stream_psi_drift")
    assert "Generate" in facts.text
    assert facts.has_partial_agg


def test_scorecard_composes_four_domains(spark, sf_dir):
    """q458: the capstone must return exactly one row per composed
    domain, all headline values integer bp."""
    from kinesis_customer_sample_spark.registry import load_registry

    out = load_registry()["q458_model_eval_scorecard"].fn(spark, sf_dir).collect()
    assert sorted(r["domain"] for r in out) == [
        "calibration", "forecast", "retrieval", "sequence",
    ]
    assert all(isinstance(r["headline_bp"], int) for r in out)


def test_nelson_aalen_grid_windows(spark, sf_dir):
    """q459: the only windows run on the bounded duration grid (after
    the per-day hash-agg), and increments are integer-quantized before
    the cumulative — one partial agg below the grid."""
    facts = audit_of(spark, sf_dir, "q459_nelson_aalen")
    assert facts.has_partial_agg
    assert "Window" in facts.text


def test_walk_forward_folds_broadcast(spark, sf_dir):
    """q460: the 3-row fold dimension is a broadcast nested loop against
    the aggregated day grid; train/test alignments are equi/range joins
    on the grid — no cartesian of row-level inputs, no window."""
    facts = audit_of(spark, sf_dir, "q460_walk_forward_backtest")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "CartesianProduct" not in facts.text
    assert "Window" not in facts.text


def test_waterfill_grid_algebra_only(spark, sf_dir):
    """q461: after the token hash-agg, everything runs on the |sources|
    grid — the global-ordered windows are grid-sized by construction
    (documented), and scalar state broadcasts."""
    facts = audit_of(spark, sf_dir, "q461_source_mix_waterfill")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text


def test_ktruss_triangle_joins_per_round(spark, sf_dir):
    """q462: each round's surviving-edge table is eagerly checkpointed
    (the q385 fix, r16), so the triangle enumerations run exactly once at
    build time and the RETURNED union reads the three materialized edge
    tables — without the barrier the summary branches and each round's
    three self-join references raced the lazy caches and recomputed the
    enumeration per branch (1.83/1.50 → 0.98/0.78 s at sf0.1). Pin: no
    cartesian, returned plan reads checkpoints only."""
    facts = audit_of(spark, sf_dir, "q462_ktruss_peel")
    assert not facts.has_cartesian
    assert "ExistingRDD" in facts.text
    assert "Scan parquet" not in facts.text


def test_hw_secondary_sort_single_python_pass(spark, sf_dir):
    """q463: the dense grid comes from a broadcast 30-row day dim; the
    9-variable recursion is ONE mapInPandas over the secondary-sorted
    stream (q297 pattern) — Arrow-batched, no applyInPandas."""
    facts = audit_of(spark, sf_dir, "q463_holt_winters_additive")
    assert "MapInPandas" in facts.text
    assert "FlatMapGroupsInPandas" not in facts.text
    assert "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg


def test_grid_dbscan_no_pairwise_points(spark, sf_dir):
    """q464: points are never pairwise compared — the only self-join is
    the bounded dense-CELL adjacency; label rounds are grid joins;
    one partial agg below the cell grid."""
    facts = audit_of(spark, sf_dir, "q464_grid_dbscan")
    assert facts.has_partial_agg
    assert not facts.has_cartesian


def test_recsys_eval_list_bounded_pairs(spark, sf_dir):
    """q465: the diversity pair join runs on the k-bounded ranked lists
    (grid window partitioned per segment), brands broadcast, and the
    novelty total travels by broadcast nested loop."""
    facts = audit_of(spark, sf_dir, "q465_recsys_coverage_diversity")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert "BroadcastNestedLoopJoin" in facts.text


def test_contribution_single_grid_pass(spark, sf_dir):
    """q466: one fact hash-agg to the nation grid, broadcast dims and
    1-row totals, TakeOrderedAndProject top-k; the surprise expression
    is per-row (no float aggregate exists in the plan)."""
    facts = audit_of(spark, sf_dir, "q466_contribution_analysis")
    assert facts.has_partial_agg
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert "TakeOrderedAndProject" in facts.text


def test_retention_fit_semi_join_cohort(spark, sf_dir):
    """q467: the day-0 cohort restricts activity via LEFT SEMI join;
    the OLS reduce is a 1-row aggregate over the 29-day grid."""
    facts = audit_of(spark, sf_dir, "q467_powerlaw_retention_fit")
    assert "LeftSemi" in facts.text
    assert facts.has_partial_agg


def test_spectral_single_hash_agg(spark, sf_dir):
    """q468: the whole spectral probe reduces in aggregates from the
    fact scan (two hash-agg levels, map-side combinable) — no window,
    no join beyond the dims, no float aggregate (the 7-term projection
    is a fixed-order projection expression)."""
    facts = audit_of(spark, sf_dir, "q468_weekly_spectral_power")
    assert facts.has_partial_agg
    assert "Window" not in facts.text
    assert not facts.has_cartesian


def test_reconciliation_grid_paths(spark, sf_dir):
    """q469: both allocation paths run on the (region, nation, month)
    grid — broadcast dims below, share window partitioned by region,
    1-row last-month broadcast."""
    facts = audit_of(spark, sf_dir, "q469_hierarchical_reconciliation")
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3
    assert facts.has_partial_agg


def test_skew_advisor_histogram_topk(spark, sf_dir):
    """q470: one map-side-combinable key histogram, broadcast 1-row
    total, TakeOrderedAndProject top-k — metadata-scale throughout."""
    facts = audit_of(spark, sf_dir, "q470_skew_salting_advisor")
    assert facts.has_partial_agg
    assert "BroadcastNestedLoopJoin" in facts.text
    assert "TakeOrderedAndProject" in facts.text


def test_weighted_sample_topk_heap(spark, sf_dir):
    """q471: the A-ES draw is a map-only keying expression + global
    top-k via TakeOrderedAndProject (per-partition heaps, k-row driver
    merge) — the non-sampled mass never shuffles."""
    facts = audit_of(spark, sf_dir, "q471_weighted_sample_es")
    assert "TakeOrderedAndProject" in facts.text
    assert not facts.has_cartesian


def test_modularity_broadcast_dims(spark, sf_dir):
    """q472: brand labels join via broadcast (part is the small side);
    community/degree reductions are map-side combinable; the 1-row
    total-edges state broadcasts."""
    facts = audit_of(spark, sf_dir, "q472_brand_modularity")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2
    assert "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg
    assert "CartesianProduct" not in facts.text


def test_cluster_validity_centroid_broadcast(spark, sf_dir):
    """q473: point scoring is a map-only integer fold against the k-row
    broadcast centroid table — raw vectors never hash-shuffle; only
    (label, dim, int) triples reach an exchange."""
    facts = audit_of(spark, sf_dir, "q473_cluster_validity")
    assert "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg
    assert "CartesianProduct" not in facts.text


def test_kalman_secondary_sort_mapinpandas(spark, sf_dir):
    """q474: the per-key recursion is ONE MapInPandas pass over a
    repartition-by-key + sortWithinPartitions layout (q297 pattern) —
    no per-group applyInPandas, no global window."""
    facts = audit_of(spark, sf_dir, "q474_kalman_local_level")
    assert "MapInPandas" in facts.text
    assert facts.has_partial_agg
    assert "No Partition Defined" not in facts.text


def test_newsvendor_grid_windows(spark, sf_dir):
    """q475: demand reduces to the (brand, day) grid in one partial agg;
    the quantile rank window partitions per brand; the part dim joins
    broadcast."""
    facts = audit_of(spark, sf_dir, "q475_newsvendor_stock")
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg
    assert "No Partition Defined" not in facts.text


def test_sharpe_partitioned_lag(spark, sf_dir):
    """q476: the return lag window partitions per priority over the
    bounded day grid; the moment reduction is map-side combinable."""
    facts = audit_of(spark, sf_dir, "q476_sharpe_sortino")
    assert facts.has_partial_agg
    assert "No Partition Defined" not in facts.text


def test_mcnemar_single_agg_no_join(spark, sf_dir):
    # McNemar is one hash-agg from the scan: no join, no window, and the
    # scan must prune to the four columns the raters and truth need
    facts = audit_of(spark, sf_dir, "q477_mcnemar_paired_test")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "SortMergeJoin" not in facts.text and "BroadcastHashJoin" not in facts.text
    assert not facts.scans_read_column("doc_id")


def test_fleiss_single_agg_no_join(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q478_fleiss_kappa")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "Join" not in facts.text
    assert "Window" not in facts.text


def test_classical_decomposition_partitioned_windows(spark, sf_dir):
    # the MA-7 window must be partitioned per series — never a global sort
    facts = audit_of(spark, sf_dir, "q479_classical_decomposition")
    assert not facts.has_cartesian
    assert "Window" in facts.text
    assert "No Partition Defined" not in facts.text
    # seasonal tables join back broadcast-sized
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2


def test_western_electric_partitioned_run_windows(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q480_western_electric_rules")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1


def test_borda_dimension_sized_windows(spark, sf_dir):
    # the fact table reaches one broadcast join + hash-agg; rank windows
    # run over the brand universe only (after the agg, by construction)
    facts = audit_of(spark, sf_dir, "q481_borda_rank_fusion")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1
    assert facts.has_partial_agg


def test_rbm_bucket_local_pairs(spark, sf_dir):
    # mutual-NN candidates must come from the LSH bucket equi-join —
    # never a cartesian — and the best-neighbor window is per source
    facts = audit_of(spark, sf_dir, "q482_reciprocal_best_match")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text


def test_mv_rewrite_grid_join(spark, sf_dir):
    # both aggregation paths are partial-agg'd; the audit join is
    # grid-vs-grid (no fact-sized side after the aggs)
    facts = audit_of(spark, sf_dir, "q483_mv_rewrite_audit")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_qini_two_level_no_per_user_window(spark, sf_dir):
    # cumulative sums run on the (cohort, score) grid partitioned by
    # cohort — never over per-user rows
    facts = audit_of(spark, sf_dir, "q484_qini_uplift_curve")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg


def test_clustering_depth_grid_sweep(spark, sf_dir):
    # depth windows partition by layout; the range-map join back to the
    # fact is broadcast (day grid is bounded)
    facts = audit_of(spark, sf_dir, "q485_clustering_depth_audit")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1


def test_theta_forecast_grid_windows_no_iteration(spark, sf_dir):
    # the closed-form SES means: windows partitioned by series on the day
    # grid, two hash-agg reductions, no mapInPandas/Python anywhere
    facts = audit_of(spark, sf_dir, "q486_theta_forecast")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert "mapInPandas" not in facts.text and "ArrowEvalPython" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 1


def test_permutation_fanout_is_grid_sized(spark, sf_dir):
    # the 64-rep explode runs on the aggregated day grid, after the one
    # fact hash-agg — the Generate must sit above an aggregate
    facts = audit_of(spark, sf_dir, "q487_signflip_permutation_test")
    assert not facts.has_cartesian or "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg
    assert facts.text.find("Generate") < facts.text.rfind("HashAggregate")


def test_capture_recapture_single_agg(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q488_capture_recapture")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "Join" not in facts.text


def test_good_turing_histogram_cascade(spark, sf_dir):
    # token counts -> count-of-counts: two hash-aggs; the c-grid joins
    # are broadcast over 11 rows
    facts = audit_of(spark, sf_dir, "q489_good_turing")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2


def test_heaps_checkpoint_map_is_rowlocal(spark, sf_dir):
    # tokens/docs map to checkpoints via row-local math against the
    # broadcast 1-row bounds (a broadcast NLJ on the tiny grid is fine);
    # the fact-side work is hash-aggregated before any join
    facts = audit_of(spark, sf_dir, "q490_heaps_vocabulary_growth")
    assert facts.has_partial_agg
    assert facts.join_strategies.get("BroadcastNestedLoopJoin", 0) >= 1


def test_logrank_grid_cumsum_no_per_user_window(spark, sf_dir):
    # risk sets come from reversed cumsums over the bounded day grid; all
    # per-user work is one hash-agg
    facts = audit_of(spark, sf_dir, "q491_logrank_test")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_minhash_audit_reuses_bucketed_pairs(spark, sf_dir):
    # the audit consumes q69's bucket-blocked pair chain — still no
    # cartesian anywhere, and the histogram is a partial-agg reduction
    facts = audit_of(spark, sf_dir, "q492_minhash_accuracy_audit")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_lsh_planner_is_pure_grid_math(spark, sf_dir):
    # no table scan at all: the planner reads only the in-memory grid
    facts = audit_of(spark, sf_dir, "q493_lsh_parameter_planner")
    assert "parquet" not in facts.text.lower()


def test_sq8_audit_is_map_only_per_vector(spark, sf_dir):
    # codec stats + query row broadcast back; scoring never shuffles
    # vectors (only 1-row/64-row broadcast joins), histogram partial-aggs
    facts = audit_of(spark, sf_dir, "q494_sq8_distortion_audit")
    assert facts.join_strategies.get("SortMergeJoin", 0) == 0
    assert facts.has_partial_agg


def test_luhn_audit_pure_codegen(spark, sf_dir):
    # id synthesis + both Luhn folds are map-only expressions; one
    # hash-agg; no join, no window, no Python
    facts = audit_of(spark, sf_dir, "q495_luhn_checksum_audit")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "Join" not in facts.text
    assert "ArrowEvalPython" not in facts.text and "BatchEvalPython" not in facts.text


def test_spc_capstone_partitioned_grid_windows(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q496_spc_residual_capstone")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2


def test_session_gap_advisor_single_pass(spark, sf_dir):
    # one lag window + ONE global aggregate; per-gap rows are projections
    # of the same aggregate (no per-gap rescans of the fact)
    facts = audit_of(spark, sf_dir, "q497_session_gap_sensitivity")
    assert not facts.has_cartesian
    assert facts.text.count("Scan parquet") <= 3  # one per union leg at most


def test_cv_stump_threshold_fanout_on_grid(spark, sf_dir):
    # the x16 threshold fan-out must run on the (fold, n_chars, y) grid
    # (after the partial agg), never on raw document rows
    facts = audit_of(spark, sf_dir, "q498_cv_stump_eval")
    assert not facts.has_cartesian or "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg


def test_audience_overlap_single_selfjoin(spark, sf_dir):
    # one distinct to the (day, user) grid, one self-equi-join — no
    # cartesian, no window
    facts = audit_of(spark, sf_dir, "q499_audience_overlap")
    assert not facts.has_cartesian
    assert "Window" not in facts.text


def test_gwet_ac1_single_agg(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q500_gwet_ac1")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert "Join" not in facts.text


def test_degree_powerlaw_histogram_cascade(spark, sf_dir):
    # degree -> histogram are two hash-aggs; the fit is a broadcast 1-row
    facts = audit_of(spark, sf_dir, "q501_degree_powerlaw_fit")
    assert not facts.has_cartesian or "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg


def test_candidate_key_one_pass_expand(spark, sf_dir):
    # all combos' distincts come from ONE scan via Expand; per-combo rows
    # are a stack projection, not per-combo rescans
    facts = audit_of(spark, sf_dir, "q502_candidate_key_discovery")
    # formatted plans print each node once in the tree and once in the
    # detail section — count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", facts.text)) == 1
    assert "Expand" in facts.text


def test_point_biserial_single_agg_64_rows(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q503_point_biserial_screen")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_pr_curve_grid_algebra(spark, sf_dir):
    # scorer pass + <=20-bin histogram; curve algebra on the 20-row grid
    facts = audit_of(spark, sf_dir, "q504_pr_curve_f1")
    assert facts.has_partial_agg


def test_disparate_impact_one_scan(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q505_disparate_impact_audit")
    assert facts.has_partial_agg
    assert "SortMergeJoin" not in facts.text


def test_markov_stationary_grid_iterations(spark, sf_dir):
    # one fact pass to the |types|^2 matrix; all 15 iterations are
    # bounded-grid joins (no second fact scan)
    facts = audit_of(spark, sf_dir, "q506_markov_stationary")
    assert not facts.has_cartesian


def test_littles_law_no_global_ordered_scan(spark, sf_dir):
    # the boundary integral is a pure aggregate: the only windows are the
    # user-partitioned sessionization ones
    facts = audit_of(spark, sf_dir, "q507_littles_law_audit")
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg


def test_financial_reconciliation_order_grain_join(spark, sf_dir):
    # both sides pre-aggregate to order grain before the join; the rollup
    # is priority-grid-sized
    facts = audit_of(spark, sf_dir, "q508_financial_reconciliation")
    assert not facts.has_cartesian
    assert facts.has_partial_agg


def test_with_ties_windows_on_grid(spark, sf_dir):
    # rank windows run on the (brand, month) grid partitioned by month;
    # the k-th threshold joins back broadcast
    facts = audit_of(spark, sf_dir, "q509_topk_with_ties")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2


def test_duplicate_payment_customer_blocked(spark, sf_dir):
    # the self-join is equi-keyed on the customer block — no cartesian
    facts = audit_of(spark, sf_dir, "q510_duplicate_payment_scan")
    assert not facts.has_cartesian
    assert "SortMergeJoin" in facts.text or "BroadcastHashJoin" in facts.text


def test_semimarkov_one_window_one_agg(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q511_semimarkov_holding_times")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.has_partial_agg


def test_behavior_entropy_agg_cascade_no_window(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q512_behavior_entropy")
    assert not facts.has_cartesian
    assert "Window" not in facts.text
    assert facts.has_partial_agg


def test_dedup_venn_no_cartesian_overlay(spark, sf_dir):
    # three bucketed finders + equi-join overlay: still zero cartesian
    facts = audit_of(spark, sf_dir, "q513_dedup_ensemble_venn")
    assert not facts.has_cartesian


def test_dsar_broadcast_semijoin_every_leg(spark, sf_dir):
    # the subject batch must broadcast into every table leg (never a
    # shuffled join against a fact table)
    facts = audit_of(spark, sf_dir, "q514_subject_access_report")
    assert not facts.has_cartesian
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 3


def test_asof_matrix_single_history_build(spark, sf_dir):
    # one SCD2 build serves all checkpoints: exactly one fact scan
    facts = audit_of(spark, sf_dir, "q515_asof_snapshot_matrix")
    assert len(re.findall(r"\(\d+\) Scan parquet", facts.text)) == 1


def test_funnel_wilson_single_pass(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q516_funnel_wilson")
    assert not facts.has_cartesian
    assert facts.has_partial_agg
    assert len(re.findall(r"\(\d+\) Scan parquet", facts.text)) == 1


def test_murphy_decomposition_bin_grid(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q519_brier_murphy_decomposition")
    assert not facts.has_cartesian or "BroadcastNestedLoopJoin" in facts.text
    assert facts.has_partial_agg


def test_selfcert_scorecard_composes_clean(spark, sf_dir):
    # q517 composes four registered audits; the union must inherit their
    # postures — zero cartesian anywhere in the combined plan, and the
    # only nested-loop legs are 1-row aggregate broadcasts (the r11
    # pre-pin audit's mechanical scan, made durable)
    facts = audit_of(spark, sf_dir, "q517_selfcert_scorecard")
    assert not facts.has_cartesian
    assert "BatchEvalPython" not in facts.text
    assert facts.has_partial_agg


def test_decomposition_strength_grid_moments(spark, sf_dir):
    facts = audit_of(spark, sf_dir, "q520_decomposition_strength")
    assert not facts.has_cartesian
    assert "No Partition Defined" not in facts.text
    assert facts.join_strategies.get("BroadcastHashJoin", 0) >= 2


def test_jw_sn_no_selfjoin_single_balanced_udf(spark, sf_dir):
    """q518: sorted-neighborhood candidates come from ONE block-partitioned
    window (lead/stack) — no self-join of any kind — and the Jaro-Winkler
    pandas UDF evaluates exactly ONCE, above the round-robin balancing
    exchange (the asNondeterministic placement pin: a deterministic UDF got
    its threshold filter pushed below the exchange, scoring candidates
    inside the skew-prone first-char block partitions and re-evaluating
    survivors above — two ArrowEvalPython nodes). Top-k must be
    TakeOrderedAndProject, never a global sort."""
    facts = audit_of(spark, sf_dir, "q518_jw_sorted_neighborhood")
    assert not facts.has_cartesian
    assert not facts.join_strategies, f"unexpected joins: {facts.join_strategies}"
    assert facts.text.count("ArrowEvalPython (") == 1
    # the window is block-partitioned, not global
    assert re.search(r"windowspecdefinition\(_w\d+", facts.text)
    assert "TakeOrderedAndProject" in facts.text
    # the balancing exchange sits between the candidate generator and the
    # UDF: plan prints bottom-up, so Generate (stack) must appear BELOW
    # (= later in text than) the single ArrowEvalPython node
    udf_pos = facts.text.index("ArrowEvalPython (")
    gen_pos = facts.text.index("Generate (")
    assert gen_pos > udf_pos, "stack should feed the UDF through the exchange"


def test_q198_one_scan_per_table(spark, sf_dir):
    """q198: ALL contract checks over one table must run inside ONE
    aggregate over ONE scan. The original shape unioned one agg per
    check and claimed Catalyst would share the scan; the round-15 plan
    audit showed union branches don't CSE — orders and lineitem were
    each scanned twice (doubled scan cost on the two biggest tables at
    100 TB). One-agg-per-table + stack unpivot makes sharing structural;
    this pins scans-per-table == 1 so the regression class can't
    reopen."""
    facts = audit_of(spark, sf_dir, "q198_data_contract_checks")
    # formatted plans print each scan's source as a "Location: ..." line
    for t in ("orders", "lineitem", "events", "documents"):
        n = len(re.findall(rf"Location.*[/_]{t}\.parquet", facts.text))
        assert n == 1, f"{t}: {n} scans (want 1)\n{facts.text[:1500]}"


def test_q419_single_fact_scan(spark, sf_dir):
    """q419's docstring promises ONE pass over the fact; the round-15
    scan census measured FOUR (a distinct-types re-scan, then the
    broadcast per-type totals re-deriving the whole subtree). The fix
    rolls band counts into a ≤10-entry map per type (one reference to
    the aggregate) and takes totals as a window over the bounded grid.
    Pin the invariant: exactly one events scan in the plan."""
    facts = audit_of(spark, sf_dir, "q419_psi_drift")
    n = len(re.findall(r"Location.*[/_]events\.parquet", facts.text))
    assert n == 1, f"events: {n} scans (want 1)"


def test_q505_single_corpus_scan(spark, sf_dir):
    """q505's broadcast-max shape re-derived the rates subtree and ran
    the corpus-sized scorer pass TWICE (round-15 scan census: four
    embeddings scans). The max now comes from a global window over the
    |groups|-row aggregate, so the plan carries exactly two embeddings
    scans: ONE corpus scorer pass plus the pushdown-pruned 1-row weight
    fetch (whose scan must push the vec_id filter)."""
    facts = audit_of(spark, sf_dir, "q505_disparate_impact_audit")
    n = len(re.findall(r"Location.*[/_]embeddings\.parquet", facts.text))
    assert n == 2, f"embeddings: {n} scans (want 2)"
    assert any("vec_id" in f for f in facts.pushed_filters)


def test_q386_single_scan_expand(spark, sf_dir):
    """q386 claims its three count-distincts run over one scan as one
    Expand + agg; the original unioned three separate aggregates (three
    orders scans — round-15 census). Pin the claim: one orders scan and
    an Expand node in the plan."""
    facts = audit_of(spark, sf_dir, "q386_bloom_sizing_advisor")
    n = len(re.findall(r"Location.*[/_]orders\.parquet", facts.text))
    assert n == 1, f"orders: {n} scans (want 1)"
    assert "Expand" in facts.text


def test_q194_single_fact_scan(spark, sf_dir):
    """q194 claims the drift monitor costs one scan; its cell-count-sized
    shares table is referenced three times (cur/prev legs + bounds) and
    without the barrier each reference re-derived the fact subtree
    (three events scans — round-15 census). Pin: one events scan across
    the barrier's input and the returned plan, with the materialized
    aggregate (ExistingRDD) serving the other references."""
    facts = audit_through_barriers(spark, sf_dir, "q194_distribution_drift")
    n = len(re.findall(r"Location.*[/_]events\.parquet", facts.text))
    assert n == 1, f"events: {n} scans (want 1)"
    assert "ExistingRDD" in facts.text


def test_q411_one_scan_per_audited_table(spark, sf_dir):
    """q411 claims each audited table contributes one scan; the original
    paid two per table (separate affected/total aggregates) and
    re-derived the cohort four times (six events scans — round-15
    census). Pin: one scan per audited table, plus exactly one more
    events scan for the (materialized) fixture cohort build."""
    facts = audit_through_barriers(spark, sf_dir, "q411_forget_me_propagation")
    for tb, want in (("events", 2), ("orders", 1), ("customer", 1)):
        n = len(re.findall(rf"Location.*[/_]{tb}\.parquet", facts.text))
        assert n == want, f"{tb}: {n} scans (want {want})"
    assert "ExistingRDD" in facts.text


def test_python_udf_single_evaluation(spark, sf_dir):
    """Filters that reference a Python-UDF column must not duplicate the
    UDF evaluation (optimization guide §4.4): q431's JW threshold and the
    decode path's NULL-coercion filter each left TWO ArrowEvalPython
    nodes before the asNondeterministic mark — every row paid the Python
    hop twice. Pin: exactly one Python-eval node in each plan."""
    for name in ("q431_jaro_winkler_linkage", "q46_contentops_decode"):
        facts = audit_of(spark, sf_dir, name)
        n = len(re.findall(r"\(\d+\) (?:Arrow|Batch)EvalPython", facts.text))
        assert n == 1, f"{name}: {n} Python-eval nodes (want 1)"


def test_no_duplicated_python_eval_registry_wide(spark, sf_dir):
    """Registry-wide closure of the §4.4 class: no query's plan may
    evaluate the same Python UDF call twice (a filter pushed below a
    UDF-producing projection duplicates the eval node — the q431/decode
    bug). Sweeps every registered query's formatted plan and compares
    Python-eval node bodies with result expr-ids stripped: two nodes
    with an identical normalized call signature mean every row pays the
    Python hop twice. Each build runs in its own query scope, and no RDD
    persisted during the sweep may remain after it."""
    import re as _re

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    offenders = {}
    for name, q in REGISTRY.items():
        with query_scope(spark):
            plan = audit(q.fn(spark, sf_dir)).text
        calls = _re.findall(r"(?:Arrow|Batch)EvalPython \[([^\]]*)\]", plan)
        sigs = [_re.sub(r"\)#\d+", ")", c) for c in calls]
        dup = {s for s in sigs if sigs.count(s) > 1}
        if dup:
            offenders[name] = sorted(dup)
    assert not offenders, f"duplicated Python eval: {offenders}"
    # every block the sweep's builders stored was released with its scope
    left = set(jsc.getPersistentRDDs()) - before
    assert not left, f"{len(left)} RDDs persisted during the sweep remain"


def test_q148_pipeline_materializes_shared_stages(spark, sf_dir):
    """q148 claims each pipeline stage runs once; unmaterialized, the
    five consumers of the tokenized keeper set re-ran the tokenize +
    sha256 + dedup window from parquet (90 scans / 276 Exchange at sf0.1
    — round-15 census). Pin: the returned plan reads the materialized
    keepers and clean set (ExistingRDD), with no raw documents scan
    above them."""
    facts = audit_of(spark, sf_dir, "q148_training_pipeline")
    assert "ExistingRDD" in facts.text
    n = len(re.findall(r"Location.*documents\.parquet", facts.text))
    assert n == 0, f"documents: {n} raw scans above the barriers (want 0)"
