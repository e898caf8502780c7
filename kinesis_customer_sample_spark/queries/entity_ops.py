"""Entity-resolution composite + per-group cap sampling — the ninth wave
(SURVEY.md §2B): the classic master-data-management pipeline (blocking →
fuzzy matching → connected components → survivorship) composed from
operators that each already carry a green oracle, plus the deterministic
k-per-group cap that domain-mix pipelines use to bound any one source.

Scale posture (100 TB):
- q184 inherits each stage's posture: q119's (lang, length-band) blocking
  keeps candidate pairs near-linear; the CC loop is
  graph_components.hash_min_components (one join + min-agg per round over
  a label table with one row per matched doc, lineage truncated by
  `scope.materialize`, converging in O(cluster diameter) rounds — entity
  clusters are shallow), and unmatched docs keep their own id;
  survivorship is one max_by hash-agg keyed by the entity id.
- q185 is one partitioned window ordered by a portable hash — per-group
  uniform-without-replacement sampling with a hard k cap, deterministic
  across engines, partitionings, and reruns. Heavy groups cost their own
  row count to rank, never cross-group state; at 100 TB per-domain caps
  are what keep one crawl domain from dominating a mixture.
No Python UDFs; all whole-stage-codegen'd SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.functions import tok_hash_expr
from kinesis_customer_sample_spark.queries.composites4 import (
    _DUCK_NORM,
    _FUZZ_BAND,
    _FUZZ_MAX_DIST,
    _FUZZ_PREFIX,
    _SPARK_NORM,
    fuzzy_join_levenshtein,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize


@query(
    "q184_entity_resolution",
    oracle=f"""
    WITH RECURSIVE n AS (
      SELECT doc_id, lang, n_chars // {_FUZZ_BAND} AS band,
             substring({_DUCK_NORM}, 1, {_FUZZ_PREFIX}) AS pfx
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM n a JOIN n b
        ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
      WHERE levenshtein(a.pfx, b.pfx) <= {_FUZZ_MAX_DIST}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.doc = e.src
    ),
    comp AS (SELECT doc AS doc_id, min(lbl) AS entity_id FROM reach GROUP BY doc),
    joined AS (
      SELECT c.doc_id, c.entity_id, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ),
    canon AS (
      SELECT entity_id,
             max_by(doc_id, n_chars * 1000000 + doc_id) AS canonical_doc_id,
             count(*)::BIGINT AS n_members
      FROM joined GROUP BY entity_id
    )
    SELECT j.doc_id, j.entity_id, c.canonical_doc_id, c.n_members,
           (j.doc_id = c.canonical_doc_id) AS is_canonical
    FROM joined j JOIN canon c USING (entity_id)
    """,
    tags=("entity-resolution", "dedup", "graph", "composite", "iterative"),
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: (lang, length-band)-blocked
    levenshtein matching (q119's pair generator, reused verbatim) →
    min-label connected components over the match graph — singletons
    included, every doc gets an entity — → survivorship: the canonical
    record per entity is the longest document (doc_id tie-break), the
    same composite-integer max_by contract as q173. One row per doc:
    entity id, canonical doc, member count, is_canonical. The oracle
    reaches the same fixpoint via a recursive CTE — a different
    algorithm, so agreement checks semantics, not plan shape."""
    from kinesis_customer_sample_spark.queries.graph_components import (
        hash_min_components,
    )

    pairs = materialize(
        fuzzy_join_levenshtein(spark, sf_dir)
        .select("doc_a", "doc_b")
    )
    labels = hash_min_components(pairs)
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # singletons (no match edge) are their own entity
    joined = docs.join(labels, docs["doc_id"] == labels["node"], "left").select(
        "doc_id", F.coalesce("lab", "doc_id").alias("entity_id"), "n_chars"
    )
    canon = joined.groupBy("entity_id").agg(
        F.expr("max_by(doc_id, n_chars * 1000000 + doc_id)").alias(
            "canonical_doc_id"
        ),
        F.count(F.lit(1)).alias("n_members"),
    )
    return joined.join(canon, "entity_id").select(
        "doc_id",
        "entity_id",
        "canonical_doc_id",
        "n_members",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
    )


_CAP_K = 5


@query(
    "q185_group_cap_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {tok_hash_expr("doc_id::VARCHAR", dialect="duckdb")}, doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, source, rk::BIGINT AS rk
    FROM ranked WHERE rk <= {_CAP_K}
    """,
    tags=("sampling", "cap", "porthash"),
)
def group_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group cap: at most {k} documents per source,
    chosen by portable-hash order — a uniform without-replacement sample
    that any engine reproduces bit-for-bit (no RNG, no seed plumbing).
    The mix-control primitive that bounds any single domain's
    contribution regardless of its raw size: one partitioned window,
    rank state O(1) per group, and heavy groups cost only their own
    rows. Complements q140 (fractional rates) with a hard ceiling."""
    docs = table(spark, sf_dir, "documents")
    hash_expr = tok_hash_expr("CAST(doc_id AS STRING)", dialect="spark")
    w = W.partitionBy("source").orderBy(F.expr(hash_expr), "doc_id")
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _CAP_K)
    )


_SN_WINDOW = 3  # compare each record to its next 3 sorted neighbors
_SN_PREFIX = 24  # sort key = first 24 normalized chars
_SN_MAX_DIST = 8


@query(
    "q316_sorted_neighborhood_pairs",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, lang,
             substring({_DUCK_NORM}, 1, {_SN_PREFIX}) AS sk,
             substring({_DUCK_NORM}, 1, {_FUZZ_PREFIX}) AS pfx
      FROM documents
    ),
    nb AS (
      SELECT doc_id AS doc_a, lang, pfx,
             substring(sk, 1, 1) AS blk,
             {", ".join(
                 f"lead(doc_id, {j}) OVER w AS nb{j}, lead(pfx, {j}) OVER w AS nbp{j}"
                 for j in range(1, _SN_WINDOW + 1)
             )}
      FROM n
      WINDOW w AS (PARTITION BY lang, substring(sk, 1, 1) ORDER BY sk, doc_id)
    )
    SELECT doc_a, nb AS doc_b, lang, off,
           levenshtein(pfx, nbp)::BIGINT AS edit_dist
    FROM (
      {" UNION ALL ".join(
          f"SELECT doc_a, lang, pfx, nb{j} AS nb, nbp{j} AS nbp, "
          f"{j}::BIGINT AS off FROM nb"
          for j in range(1, _SN_WINDOW + 1)
      )}
    )
    WHERE nb IS NOT NULL AND levenshtein(pfx, nbp) <= {_SN_MAX_DIST}
    """,
    tags=("entity-resolution", "blocking", "sorted-neighborhood"),
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood candidate generation (Hernández &
    Stolfo) — the OTHER classic ER blocking strategy, complementing
    q119's (lang, length-band) blocking: records sort by a normalized
    key and each record is only compared to its next w=3 neighbors in
    sort order, so candidate volume is exactly w·N regardless of block
    skew (length-band blocking degrades to band² pairs on a hot band —
    SN cannot). Blocks are (lang, first sort-key char); within a block
    the neighbor scan is lead() over one partitioned sort. Survivors are
    verified with a bounded levenshtein on a 48-char prefix (q119's
    verify rule, lossless for the emitted set by definition).

    Scale posture (100 TB): one shuffle on the block key, per-block sort,
    w lead columns — linear candidates, no self-join anywhere. At
    cluster scale the block key is a range partition of the sort key
    with w-row overlap replication at partition boundaries; the
    first-char block here is that scheme with a fixed range table.
    Candidate recall vs full SN: pairs straddling a block boundary are
    deliberately out of scope (blocked-SN semantics, stated contract)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(f"substring({_SPARK_NORM}, 1, {_SN_PREFIX})").alias("sk"),
        F.expr(f"substring({_SPARK_NORM}, 1, {_FUZZ_PREFIX})").alias("pfx"),
    )
    w = W.partitionBy("lang", F.substring("sk", 1, 1)).orderBy("sk", "doc_id")
    nb = docs.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "pfx",
        *[F.lead("doc_id", j).over(w).alias(f"nb{j}") for j in range(1, _SN_WINDOW + 1)],
        *[F.lead("pfx", j).over(w).alias(f"nbp{j}") for j in range(1, _SN_WINDOW + 1)],
    )
    stacked = nb.select(
        "doc_a",
        "lang",
        "pfx",
        F.expr(
            "stack({n}, {args}) AS (off, nb, nbp)".format(
                n=_SN_WINDOW,
                args=", ".join(
                    f"CAST({j} AS BIGINT), nb{j}, nbp{j}"
                    for j in range(1, _SN_WINDOW + 1)
                ),
            )
        ),
    ).filter(F.col("nb").isNotNull())
    dist = F.levenshtein("pfx", "nbp")
    return (
        stacked.filter(dist <= _SN_MAX_DIST)
        .select(
            "doc_a",
            F.col("nb").alias("doc_b"),
            "lang",
            "off",
            dist.cast("bigint").alias("edit_dist"),
        )
    )


# q431 (round 7): Jaro-Winkler fuzzy title linkage — the third string
# metric in the ER family (q119 banded Levenshtein, q316 sorted
# neighborhood): JW favors shared prefixes and is the record-linkage
# default for person/title fields. Spark has no built-in JW, so the
# metric runs as a vectorized Arrow-batched pandas UDF whose output is
# certified BIT-EXACT against DuckDB's native C++ implementation — the
# sanctioned Python-edge pattern (SURVEY §2B UDF surface) applied to a
# real gap in the builtin function set.
_JW_TITLE_TOKS = 5
_JW_THRESH = 0.9
_JW_TOPK = 50


def _jw_pandas(a_ser, b_ser):
    """Exact Jaro-Winkler (p=0.1, boost threshold 0.7, prefix ≤ 4) —
    verified bit-identical to DuckDB's jaro_winkler_similarity on the
    corpus (tests/test_properties.py)."""

    def jaro(a: str, b: str) -> float:
        la, lb = len(a), len(b)
        if la == 0 and lb == 0:
            return 1.0
        if la == 0 or lb == 0:
            return 0.0
        win = max(la, lb) // 2 - 1
        if win < 0:
            win = 0
        ma = [False] * la
        mb = [False] * lb
        m = 0
        for i in range(la):
            lo, hi = max(0, i - win), min(lb, i + win + 1)
            for j in range(lo, hi):
                if not mb[j] and b[j] == a[i]:
                    ma[i] = mb[j] = True
                    m += 1
                    break
        if m == 0:
            return 0.0
        t = 0
        k = 0
        for i in range(la):
            if ma[i]:
                while not mb[k]:
                    k += 1
                if a[i] != b[k]:
                    t += 1
                k += 1
        t //= 2
        return (m / la + m / lb + (m - t) / m) / 3

    def jw(a: str, b: str) -> float:
        j = jaro(a, b)
        if j > 0.7:
            l = 0
            for x, y in zip(a[:4], b[:4]):
                if x != y:
                    break
                l += 1
            j = j + l * 0.1 * (1 - j)
        return j

    import pandas as pd

    return pd.Series([jw(x, y) for x, y in zip(a_ser, b_ser)], index=a_ser.index)


@query(
    "q431_jaro_winkler_linkage",
    oracle=f"""
    WITH titles AS (
      SELECT doc_id,
             array_to_string((list_filter(string_split(regexp_replace(lower(text),
                '[^a-z ]', '', 'g'), ' '), t -> t != ''))[1:{_JW_TITLE_TOKS}], ' ')
               AS title
      FROM documents
    ),
    t AS (
      SELECT doc_id, title,
             array_to_string(string_split(title, ' ')[1:2], ' ') AS blk
      FROM titles
    ),
    pairs AS (
      SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
             round(jaro_winkler_similarity(a.title, b.title), 6) AS jw
      FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT a_doc, b_doc, jw
    FROM pairs WHERE jw >= {_JW_THRESH}
    ORDER BY jw DESC, a_doc, b_doc
    LIMIT {_JW_TOPK}
    """,
    tags=("entity-resolution", "jaro-winkler", "pandas-udf", "linkage"),
)
def jaro_winkler_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy title linkage by Jaro-Winkler: documents' first-{k}-token
    'titles' pair up inside first-token blocks and survive at JW ≥
    {th}. The metric itself is a vectorized pandas UDF (Spark ships
    levenshtein but no JW) proven bit-exact against DuckDB's native
    implementation — the UDF-vs-native cross-engine certification is
    the point of the query: it pins the exact match-window, transposition
    and prefix-boost semantics (p=0.1, boost>0.7, prefix≤4).

    Scale posture: candidate pairs come from equi-joined blocks (first
    TWO tokens — one token left near-cross-join blocks on the tiny
    synthetic vocabulary, 417k pairs vs 14k at sf0.1; swap in q316's
    sorted-neighborhood or q119's length bands for skew-robust
    blocking), then a lossless JVM-side length-ratio prefilter
    (JW>=0.9 with prefix boost l<=4 forces jaro>=(0.9-0.4)/0.6 and
    jaro<=(2+min/max)/3, hence min_len>=max_len/2) prunes before the
    Python hop; Arrow batches amortize the rest; top-{top} via
    TakeOrderedAndProject.""".format(
        k=_JW_TITLE_TOKS, th=_JW_THRESH, top=_JW_TOPK
    )
    from pyspark.sql import types as T

    # non-deterministic mark (guide §4.4, the q518 convention): the
    # jw >= threshold filter references the UDF column, and the optimizer's
    # pushed-down copy left TWO ArrowEvalPython nodes — every candidate
    # pair paid the Python hop twice. The mark forbids the duplication
    # (plan: 2 -> 1 PyEval); the metric is pure, so results are unchanged.
    jw_udf = F.pandas_udf(_jw_pandas, T.DoubleType()).asNondeterministic()
    # spread the corpus before the blocked self-join: the single-file scan
    # would otherwise run the whole Arrow-batched UDF stage on one task
    # (the _docs_with_tokens rationale; measured 16.4 s -> ~2 s at sf0.1)
    docs = (
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.expr(
                "array_join(slice(filter(split(regexp_replace(lower(text),"
                f" '[^a-z ]', ''), ' '), t -> t != ''), 1, {_JW_TITLE_TOKS}), ' ')"
            ).alias("title"),
        )
    )
    t = materialize(
        docs.select(
            "doc_id",
            "title",
            F.expr("array_join(slice(split(title, ' '), 1, 2), ' ')").alias("blk"),
        )
    )
    pairs = (
        t.alias("a")
        .join(
            t.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # lossless prune: JW >= 0.9 is impossible when one title is
        # less than half the other's length (see docstring bound)
        .filter(
            F.least(F.length("a.title"), F.length("b.title")) * 2
            >= F.greatest(F.length("a.title"), F.length("b.title"))
        )
        .select(
            F.col("a.doc_id").alias("a_doc"),
            F.col("b.doc_id").alias("b_doc"),
            F.round(jw_udf(F.col("a.title"), F.col("b.title")), 6).alias("jw"),
        )
    )
    return (
        pairs.filter(F.col("jw") >= _JW_THRESH)
        .orderBy(F.desc("jw"), "a_doc", "b_doc")
        .limit(_JW_TOPK)
    )


# q518 (round 15): the skew-robust candidate-generation variant the
# q431 docstring designs — same Jaro-Winkler metric (the shared
# _jw_pandas UDF), q316's sorted-neighborhood blocking instead of
# first-two-token equi-blocks. Carried r13→r15 verdict watch item
# ("q431's two-token blocking skew-fragility"), closed here as a new
# certified query rather than an edit to the driver-green q431.
_JWSN_WINDOW = 3
_JW_THRESH_MICRO = int(_JW_THRESH * 1_000_000)  # 0.9 → 900000


@query(
    "q518_jw_sorted_neighborhood",
    oracle=f"""
    WITH titles AS (
      SELECT doc_id,
             array_to_string((list_filter(string_split(regexp_replace(lower(text),
                '[^a-z ]', '', 'g'), ' '), t -> t != ''))[1:{_JW_TITLE_TOKS}], ' ')
               AS title
      FROM documents
    ),
    t AS (SELECT doc_id, title FROM titles WHERE title != ''),
    nb AS (
      SELECT doc_id AS doc_a, title AS title_a,
             {", ".join(
                 f"lead(doc_id, {j}) OVER w AS nb{j}, lead(title, {j}) OVER w AS nbt{j}"
                 for j in range(1, _JWSN_WINDOW + 1)
             )}
      FROM t
      WINDOW w AS (PARTITION BY substring(title, 1, 1) ORDER BY title, doc_id)
    ),
    cand AS (
      SELECT doc_a, title_a, nb, nbt, off
      FROM (
        {" UNION ALL ".join(
            f"SELECT doc_a, title_a, nb{j} AS nb, nbt{j} AS nbt, "
            f"{j}::BIGINT AS off FROM nb"
            for j in range(1, _JWSN_WINDOW + 1)
        )}
      )
      WHERE nb IS NOT NULL
        AND least(length(title_a), length(nbt)) * 2
              >= greatest(length(title_a), length(nbt))
    )
    SELECT least(doc_a, nb) AS a_doc, greatest(doc_a, nb) AS b_doc, off,
           CAST(floor(jaro_winkler_similarity(title_a, nbt) * 1e6) AS BIGINT)
             AS jw_micro
    FROM cand
    WHERE CAST(floor(jaro_winkler_similarity(title_a, nbt) * 1e6) AS BIGINT)
            >= {_JW_THRESH_MICRO}
    ORDER BY jw_micro DESC, a_doc, b_doc
    LIMIT {_JW_TOPK}
    """,
    tags=("entity-resolution", "jaro-winkler", "sorted-neighborhood", "pandas-udf"),
)
def jw_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler title linkage over SORTED-NEIGHBORHOOD candidates —
    q431's metric with q316's blocking, the skew-robust variant q431's
    own docstring designs: titles sort inside (first-char) blocks and
    each title is compared only to its next w={w} neighbors in sort
    order, so candidate volume is exactly w·N REGARDLESS of token-value
    skew (q431's first-two-token equi-blocks degrade to block² pairs on
    a hot token — on this synthetic vocabulary one-token blocking is
    417k pairs where SN stays {w}·N). The metric is the SAME shared
    _jw_pandas vectorized UDF q431 certifies bit-exact against DuckDB's
    native jaro_winkler_similarity, so no new cross-implementation
    surface opens; the score is emitted floor-µ (⌊jw·10⁶⌋ as BIGINT,
    threshold {th_micro} µ = JW ≥ {th}) per the output-hygiene policy —
    no round-on-quotient in either dialect.

    Candidate contract (blocked-SN semantics, stated as in q316): pairs
    straddling a first-char block boundary or farther than w apart in
    sort order are out of scope by design; empty titles never link.
    q431's lossless length-ratio prune (JW ≥ {th} forces
    min_len·2 ≥ max_len under prefix boost ≤ 4) runs JVM-side before
    the Python hop.

    Scale posture (100 TB): one shuffle on the block key + per-block
    sort + w lead columns (linear candidates, no self-join anywhere),
    then a round-robin repartition so the Arrow-batched UDF stage is
    load-balanced across executors instead of inheriting the skewed
    first-char block sizes (the q431 single-task lesson); top-{top} via
    TakeOrderedAndProject. At cluster scale the first-char block is a
    range partition of the sort key with w-row boundary replication —
    q316's posture, unchanged by the heavier verifier.""".format(
        w=_JWSN_WINDOW, th=_JW_THRESH, th_micro=_JW_THRESH_MICRO, top=_JW_TOPK
    )
    from pyspark.sql import types as T

    # asNondeterministic is PLACEMENT control, not semantics: _jw_pandas is
    # pure, but a deterministic pandas UDF gets its threshold filter pushed
    # below the balancing exchange (scoring all candidates inside the
    # skew-prone first-char block partitions, then re-evaluating survivors
    # above it — the plan audit showed two ArrowEvalPython nodes). Flagged
    # nondeterministic, the UDF evaluates exactly once, after the
    # round-robin repartition, load-balanced.
    jw_udf = F.pandas_udf(_jw_pandas, T.DoubleType()).asNondeterministic()
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(
                "array_join(slice(filter(split(regexp_replace(lower(text),"
                f" '[^a-z ]', ''), ' '), t -> t != ''), 1, {_JW_TITLE_TOKS}), ' ')"
            ).alias("title"),
        )
        .filter(F.col("title") != "")
    )
    w = W.partitionBy(F.substring("title", 1, 1)).orderBy("title", "doc_id")
    nb = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        *[F.lead("doc_id", j).over(w).alias(f"nb{j}") for j in range(1, _JWSN_WINDOW + 1)],
        *[F.lead("title", j).over(w).alias(f"nbt{j}") for j in range(1, _JWSN_WINDOW + 1)],
    )
    stacked = nb.select(
        "doc_a",
        "title_a",
        F.expr(
            "stack({n}, {args}) AS (off, nb, nbt)".format(
                n=_JWSN_WINDOW,
                args=", ".join(
                    f"CAST({j} AS BIGINT), nb{j}, nbt{j}"
                    for j in range(1, _JWSN_WINDOW + 1)
                ),
            )
        ),
    ).filter(F.col("nb").isNotNull())
    cand = stacked.filter(
        F.least(F.length("title_a"), F.length("nbt")) * 2
        >= F.greatest(F.length("title_a"), F.length("nbt"))
    ).repartition(spark.sparkContext.defaultParallelism)
    scored = cand.select(
        F.least("doc_a", "nb").alias("a_doc"),
        F.greatest("doc_a", "nb").alias("b_doc"),
        "off",
        F.floor(jw_udf(F.col("title_a"), F.col("nbt")) * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("jw_micro"),
    )
    return (
        scored.filter(F.col("jw_micro") >= _JW_THRESH_MICRO)
        .orderBy(F.desc("jw_micro"), "a_doc", "b_doc")
        .limit(_JW_TOPK)
    )
