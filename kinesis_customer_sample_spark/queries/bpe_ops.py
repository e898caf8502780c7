"""Distributed BPE merge learning — round-3 wave (SURVEY.md §2B LLM rows):
the tokenizer-training primitive (Sennrich-style byte-pair encoding) as a
Spark job. Learns the first K=3 merges of a corpus-weighted BPE vocabulary:
each round counts adjacent symbol pairs across the corpus, adopts the most
frequent pair as a new symbol, and rewrites the working vocabulary.

Scale posture (100 TB): the whole algorithm runs on the DISTINCT-WORD
table with frequencies — the classic BPE optimization, and exactly the
reduction that makes it distributable: a trillion-token corpus has a
few million distinct words, so after the first groupBy(word) every
subsequent round touches vocabulary-sized data regardless of corpus size.
Per round: one pair hash-agg (map-side combined, weighted by word freq),
one argmax via TakeOrderedAndProject (a 2-string collect — the same
driver-coordinated scalar seed as q120's BFS root), and one map-only
fold that rewrites each word's symbol array greedily left-to-right
(non-overlapping, the BPE contract). The vocabulary is materialized
between rounds to cut lineage, like every iterative operator here
(q90/q120/q149/q159). Rounds are O(K) driver round-trips by nature —
that IS the published algorithm's structure.

Cross-engine exactness: the greedy fold is the identical lambda in
Spark's `aggregate` and DuckDB's `list_reduce` (list accumulator), the
argmax tiebreak is total ((freq desc, left, right)), and all counts are
integers — the oracle unrolls the same three rounds in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.queries.text_analysis import _DUCK_TOKS, _SPARK_TOKS
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

_ROUNDS = 3

# adjacent symbol pairs with a corpus frequency weight; sequence(0, n-1) is
# always ascending (n >= 1), sliced to [1..n-1] — empty for 1-symbol words
# (Spark's sequence(1, 0) would step DOWNWARD, the porthash.py pitfall)
_SPARK_PAIRS = (
    "transform(slice(sequence(0, size(syms) - 1), 2, size(syms) - 1), "
    "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
)


def _spark_merge_expr(l: str, r: str) -> str:
    """Greedy left-to-right non-overlapping merge of (l, r) in a symbol
    array, as a fold: merge when the accumulator's last symbol is l and the
    incoming symbol is r — a just-merged 'lr' can never match l again, so
    overlaps are impossible (BPE semantics)."""
    ll, rr = l.replace("'", "\\'"), r.replace("'", "\\'")
    return f"""
    aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, s) ->
      IF(size(acc) > 0 AND element_at(acc, size(acc)) = '{ll}' AND s = '{rr}',
         concat(slice(acc, 1, size(acc) - 1), array('{ll}{rr}')),
         concat(acc, array(s))))
    """


def _duck_fold(msrc: str) -> str:
    """The same greedy fold in DuckDB (list accumulator; the merge pair
    comes from the cross-joined one-row argmax table `{msrc}`)."""
    return f"""
    list_reduce(
      list_prepend([]::VARCHAR[], list_transform(syms, x -> [x])),
      (acc, s) -> CASE
        WHEN len(acc) > 0 AND acc[-1] = {msrc}.l AND s[1] = {msrc}.r
        THEN list_append(list_slice(acc, 1, len(acc) - 1), {msrc}.l || {msrc}.r)
        ELSE list_append(acc, s[1]) END)
    """


def _duck_round(i: int) -> str:
    """One unrolled oracle round: pair counts → argmax → rewritten vocab."""
    prev = f"s{i - 1}"
    return f"""
    p{i} AS (
      SELECT pair.l AS l, pair.r AS r, sum(freq)::BIGINT AS pair_freq
      FROM (
        SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
                     j -> {{'l': syms[j], 'r': syms[j + 1]}})) AS pair
        FROM {prev} WHERE len(syms) >= 2
      )
      GROUP BY 1, 2
    ),
    m{i} AS (SELECT l, r, pair_freq FROM p{i}
             ORDER BY pair_freq DESC, l, r LIMIT 1),
    s{i} AS (
      SELECT word, freq, {_duck_fold(f"m{i}")} AS syms
      FROM {prev} CROSS JOIN m{i}
    )"""


@query(
    "q221_bpe_merge_learning",
    oracle=f"""
    WITH w AS (
      SELECT tok AS word, count(*)::BIGINT AS freq
      FROM (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents)
      GROUP BY 1
    ),
    s0 AS (SELECT word, freq, string_split(word, '') AS syms FROM w),
    {", ".join(_duck_round(i) for i in range(1, _ROUNDS + 1))}
    SELECT * FROM (
      {" UNION ALL ".join(
        f"SELECT {i} AS round, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, pair_freq FROM m{i}"
        for i in range(1, _ROUNDS + 1)
      )}
    ) ORDER BY round
    """,
    tags=("llm", "tokenizer", "bpe", "iterative"),
)
def bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first three corpus-weighted BPE merges over the documents
    table. Works on the distinct-word/frequency table (corpus-size
    independent after the first agg); each round is pair-count hash-agg →
    TakeOrderedAndProject argmax (collected: two strings) → map-only
    greedy rewrite. Deterministic tiebreak (freq desc, left, right). The
    oracle unrolls the identical three rounds in SQL."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = materialize(
        docs.select(F.explode(F.expr(_SPARK_TOKS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split("word", ""))
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, _ROUNDS + 1):
        top = (
            words.filter(F.size("syms") >= 2)
            .select("freq", F.explode(F.expr(_SPARK_PAIRS)).alias("pair"))
            .groupBy(F.col("pair.l").alias("l"), F.col("pair.r").alias("r"))
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), "l", "r")
            .limit(1)
            .collect()[0]
        )
        merges.append((rnd, top["l"], top["r"], top["l"] + top["r"], int(top["pair_freq"])))
        words = materialize(
            words.withColumn("syms", F.expr(_spark_merge_expr(top["l"], top["r"])))
        )
    return spark.createDataFrame(
        merges, "round int, left_sym string, right_sym string, merged string, pair_freq bigint"
    )


@query(
    "q226_bpe_apply_accounting",
    oracle=f"""
    WITH w AS (
      SELECT tok AS word, count(*)::BIGINT AS freq
      FROM (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents)
      GROUP BY 1
    ),
    s0 AS (SELECT word, freq, string_split(word, '') AS syms FROM w),
    {", ".join(_duck_round(i) for i in range(1, _ROUNDS + 1))}
    SELECT count(*)::BIGINT                       AS n_words,
           sum(freq)::BIGINT                      AS corpus_tokens,
           sum(freq * length(word))::BIGINT       AS syms_before,
           sum(freq * len(syms))::BIGINT          AS syms_after,
           ((sum(freq * length(word)) - sum(freq * len(syms))) * 10000
              // sum(freq * length(word)))::BIGINT AS saved_bp
    FROM s{_ROUNDS}
    """,
    tags=("llm", "tokenizer", "bpe"),
)
def bpe_apply_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the q221-learned merges corpus-wide and account for the
    compression: after the three greedy rewrites, how many symbols does
    the corpus tokenize into versus raw characters (frequency-weighted —
    i.e. the real token-count reduction a trained vocabulary buys), in
    integer basis points. The rewrite is the same map-only fold on the
    distinct-word table; only the one-row accounting aggregate follows,
    so applying a K-merge vocabulary at 100 TB costs K map passes over
    |vocabulary| rows plus one reduce."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = materialize(
        docs.select(F.explode(F.expr(_SPARK_TOKS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split("word", ""))
    )
    for _ in range(_ROUNDS):
        top = (
            words.filter(F.size("syms") >= 2)
            .select("freq", F.explode(F.expr(_SPARK_PAIRS)).alias("pair"))
            .groupBy(F.col("pair.l").alias("l"), F.col("pair.r").alias("r"))
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), "l", "r")
            .limit(1)
            .collect()[0]
        )
        words = materialize(
            words.withColumn("syms", F.expr(_spark_merge_expr(top["l"], top["r"])))
        )
    saved = F.sum(F.col("freq") * F.length("word")) - F.sum(
        F.col("freq") * F.size("syms")
    )
    return words.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("freq").alias("corpus_tokens"),
        F.sum(F.col("freq") * F.length("word")).alias("syms_before"),
        F.sum(F.col("freq") * F.size("syms")).cast("bigint").alias("syms_after"),
        F.expr(
            "CAST((sum(freq * length(word)) - sum(freq * size(syms))) * 10000 "
            "div sum(freq * length(word)) AS BIGINT)"
        ).alias("saved_bp"),
    )
