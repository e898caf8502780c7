"""Text-modeling & record-linkage wave (round 7, SURVEY.md §2B): five
operators from the LM-training / entity-resolution toolbox — a
Kneser-Ney-style absolutely-discounted bigram LM scored on a held-out
source (q172's add-1 model upgraded to the estimator real tokenizer
pipelines use), Burrows' Delta authorship distance between sources,
Soundex phonetic blocking (Spark's native soundex certified bit-exact
against a hand-rolled pure-SQL DuckDB implementation — the q431
cross-engine-certification pattern in reverse), Fellegi–Sunter
probabilistic record-linkage weights, and an embedding novelty timeline
(cosine of each vector against the running sum of all its predecessors).
No counterpart in the reference snapshot (docs/user-guide.md:58-145);
mandated by the §2B text/dedup surface.

Cross-engine determinism (registry parity rules):
- the discount D = 3/4 is carried as the exact rational (4c−3)/4, so
  every KN probability is ONE integer ratio num/den and ln only sees
  INTEGER arguments (q151 micro-nat discipline);
- Burrows' z-scores quantize relative frequencies to integer ppb
  first (cnt·10⁹ div tot), use the n·Σf² − (Σf)² integer variance
  expansion, and floor each per-word |Δz| to micro-units BEFORE the
  cross-word sum — no float ever enters an aggregate;
- Fellegi–Sunter m/u weights are Laplace-smoothed integer ratios;
  agreement/disagreement log-odds are differences of ⌊10⁶ln(int)⌋;
- the novelty cosine quantizes embedding components to integer
  micro-units; prefix sums, dot products and norms are exact integer
  sums with one sqrt/division at the end.

Scale posture (100 TB):
- all token passes derive from text_analysis._docs_with_tokens; a query
  that fans the tokens out to several branches materializes them once;
- LM count tables are vocabulary-/bigram-type-sized build sides
  (broadcast or tiny-hash joins); the corpus is only ever scanned
  map-side;
- linkage candidate pairs come from equi-joined blocks (lang and
  soundex code), never n²; the FS weight table is a constant-size
  broadcast (one row per field);
- the novelty prefix-cumsum partitions by dimension index (64
  partitions of the unrolled grid), never a global row window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.queries.text_analysis import (
    _DUCK_TOKS,
    _docs_with_tokens,
)
from kinesis_customer_sample_spark.registry import query
from kinesis_customer_sample_spark.scope import materialize

# q450: held-out source scored by the model trained on the rest
_KN_HELDOUT = "src0"
# q451: ppb quantization for relative token frequencies
_BD_PPB = 1_000_000_000
_BD_TOPK = 50
# q451: the marker-word list is the top-K corpus-frequency band (classic
# Burrows uses 150; 25 binds on the ~31-word fixture vocabulary so the cap's
# selection ordering is itself cross-engine-tested). Tie-break (count DESC,
# word ASC) is exact-integer deterministic in both engines.
_BD_VOCAB_K = 25


def _burrows_marker_words(cnt: DataFrame) -> DataFrame:
    """q451's marker-word cap: the top-_BD_VOCAB_K corpus-frequency band
    from a (source, w, c) per-source count table, exact-integer
    (count DESC, word ASC) tie-break. This IS the 100 TB guard — the
    broadcast word dim and the dense source×word grid are bounded by K,
    never by the corpus's distinct vocabulary. Shared by the query body
    and the 200k-word scale smoke so the pin tests the shipped cap, not
    a copy of it."""
    return (
        cnt.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), "w")
        .limit(_BD_VOCAB_K)
        .select("w")
    )
# q453: near-dup label threshold (Jaccard ‰) and length-agreement band
_FS_MATCH_PERMILLE = 500
_FS_LEN_TOL = 20
# Candidate-blocking band width (chars). Keep >= _FS_LEN_TOL: then any
# dropped pair either disagrees on length (f_len=0) or straddles one band
# boundary with |Δn_chars| <= tol — the bounded recall loss every length
# block trades for killing the in-language quadratic (widen the band or
# add an adjacent-band join leg to recover those, at more candidates).
# Blocking on (lang, n_chars div band) bounds the pair join to
# block-local quadratics instead of lang-local (round-9 verdict fix).
_FS_LEN_BAND = 50
_FS_TOPK = 30
# q454: top novel vectors reported
_NOV_TOPK = 20

# ---- q452: pure-SQL American Soundex for the DuckDB oracle ----------------
# letter → digit map (vowels+y → 0, h/w deleted beforehand per the H/W rule)
_SDX_FROM = "bfpvcgjkqsxzdtlmnraeiouy"
_SDX_TO = "111122222222334556000000"


def _duck_soundex(col: str) -> str:
    """American Soundex of a lowercase a-z word, as one DuckDB SQL
    expression, bit-exact against Spark's native soundex() (verified on
    the corpus vocabulary): keep the first letter; delete h/w from the
    tail (same codes across h/w collapse — the H/W rule); map letters
    to digits with vowels as 0-separators; collapse digit runs (RE2 has
    no backreferences, so one regexp per digit); strip zeros; pad."""
    codes = (
        f"translate(lower({col})[1], '{_SDX_FROM}', '{_SDX_TO}') || "
        f"translate(replace(replace(substr(lower({col}), 2), 'h', ''), 'w', ''), "
        f"'{_SDX_FROM}', '{_SDX_TO}')"
    )
    collapsed = codes
    for d in "0123456":
        collapsed = f"regexp_replace({collapsed}, '{d}+', '{d}', 'g')"
    return (
        f"upper(lower({col})[1]) || "
        f"substr(replace(substr({collapsed}, 2), '0', '') || '000', 1, 3)"
    )


_LN6 = "CAST(floor(1000000.0 * ln(CAST({a} AS DOUBLE))) AS BIGINT)"


@query(
    "q450_kn_bigram_heldout",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, source,
             unnest([toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))])
               AS bg
      FROM t WHERE len(toks) >= 2
    ),
    bc AS (
      SELECT bg, count(*)::BIGINT AS c12 FROM bg
      WHERE source != '{_KN_HELDOUT}' GROUP BY bg
    ),
    c1t AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(c12)::BIGINT AS c1,
             count(*)::BIGINT AS n1p
      FROM bc GROUP BY 1
    ),
    cont AS (
      SELECT split_part(bg, ' ', 2) AS w2, count(*)::BIGINT AS cc
      FROM bc GROUP BY 1
    ),
    tot AS (
      SELECT count(*)::BIGINT + (SELECT count(DISTINCT split_part(bg, ' ', 2))
                                 FROM bc) AS tt
      FROM bc
    ),
    scored AS (
      SELECT b.doc_id,
             CASE WHEN c.c12 IS NULL AND u.c1 IS NULL THEN NULL
                  ELSE {_LN6.format(a='4 * u.c1 * t.tt')}
                       - {_LN6.format(
                           a='CASE WHEN c.c12 IS NULL THEN 3 * u.n1p * (coalesce(k.cc, 0) + 1) '
                             'ELSE (4 * c.c12 - 3) * t.tt + 3 * u.n1p * (coalesce(k.cc, 0) + 1) END'
                         )}
             END AS surp_mu
      FROM bg b
      LEFT JOIN bc c ON c.bg = b.bg
      LEFT JOIN c1t u ON u.w1 = split_part(b.bg, ' ', 1)
      LEFT JOIN cont k ON k.w2 = split_part(b.bg, ' ', 2)
      CROSS JOIN tot t
      WHERE b.source = '{_KN_HELDOUT}'
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_bigrams,
           count(*) FILTER (WHERE surp_mu IS NULL)::BIGINT AS n_oov,
           (sum(surp_mu) // count(surp_mu))::BIGINT AS avg_surprisal_mu
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "language-model", "kneser-ney", "held-out"),
)
def kn_bigram_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolutely-discounted bigram LM (Kneser–Ney-lite, D = 0.75)
    trained on every source EXCEPT {h} and scored on {h}'s documents —
    the held-out-perplexity discipline q172's self-trained add-1 model
    skips. p(w₂|w₁) = max(c₁₂−D,0)/c₁ + D·N₁₊(w₁)/c₁ · P_cont(w₂),
    with the continuation probability P_cont = (cont(w₂)+1)/(T+V_r)
    (Laplace floor so unseen right-contexts stay scoreable); bigrams
    whose left context never occurs in training count as OOV.

    Determinism: D = 3/4 exactly, so p is the single integer ratio
    [(4c₁₂−3)·T′ + 3·N₁₊·cont′] / (4·c₁·T′) — surprisal is
    ⌊10⁶ln den⌋ − ⌊10⁶ln num⌋ with integer arguments only (q151
    discipline), summed and floor-divided in integers.

    Scale: one shared tokenize pass; all model tables (bigram types,
    context counts, continuation counts) are vocabulary-sized build
    sides; the held-out scan probes them via hash joins — training
    never shuffles the corpus, only the type tables."""
    # _docs_with_tokens already carries the documents columns (source, …)
    t = _docs_with_tokens(spark, sf_dir)
    bg = (
        t.filter(F.expr("size(toks) >= 2"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                )
            ).alias("bg"),
        )
    )
    bc = materialize(
        bg.filter(F.col("source") != _KN_HELDOUT)
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1t = bc.groupBy(F.expr("split_part(bg, ' ', 1)").alias("w1")).agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    cont = bc.groupBy(F.expr("split_part(bg, ' ', 2)").alias("w2")).agg(
        F.count(F.lit(1)).alias("cc")
    )
    tot = bc.agg(
        (F.count(F.lit(1)) + F.countDistinct(F.expr("split_part(bg, ' ', 2)"))).alias(
            "tt"
        )
    )

    def ln6(a: str) -> str:
        return f"CAST(floor(1000000.0 * ln(CAST({a} AS DOUBLE))) AS BIGINT)"

    num = (
        "CASE WHEN c12 IS NULL THEN 3 * n1p * (coalesce(cc, 0) + 1) "
        "ELSE (4 * c12 - 3) * tt + 3 * n1p * (coalesce(cc, 0) + 1) END"
    )
    scored = (
        bg.filter(F.col("source") == _KN_HELDOUT)
        .join(bc, "bg", "left")
        .join(c1t, F.expr("split_part(bg, ' ', 1)") == F.col("w1"), "left")
        .join(
            F.broadcast(cont),
            F.expr("split_part(bg, ' ', 2)") == F.col("w2"),
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN c12 IS NULL AND c1 IS NULL THEN NULL "
                f"ELSE {ln6('4 * c1 * tt')} - {ln6(num)} END"
            ).alias("surp_mu"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("surp_mu").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.expr("CAST(sum(surp_mu) div count(surp_mu) AS BIGINT)").alias(
                "avg_surprisal_mu"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "q451_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    cnt AS (SELECT source, w, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT source, sum(c)::BIGINT AS t FROM cnt GROUP BY 1),
    -- marker words: the top-{_BD_VOCAB_K} corpus-frequency band (count DESC,
    -- word ASC tie-break) — the Burrows word-list cap that bounds the grid
    wd AS (
      SELECT w FROM (
        SELECT w, sum(c)::BIGINT AS tc FROM cnt GROUP BY w
        ORDER BY tc DESC, w LIMIT {_BD_VOCAB_K}
      )
    ),
    -- dense (source × word) grid: absent words get frequency 0
    grid AS (
      SELECT s.source, wd.w,
             coalesce(c.c, 0) * {_BD_PPB} // s.t AS f
      FROM tot s
      CROSS JOIN wd
      LEFT JOIN cnt c ON c.source = s.source AND c.w = wd.w
    ),
    stats AS (
      SELECT w, count(*)::BIGINT AS n, sum(f)::BIGINT AS sf,
             (count(*) * sum(f * f) - sum(f) * sum(f))::BIGINT AS varn
      FROM grid GROUP BY w
    ),
    z AS (
      SELECT g.source, g.w,
             CAST(s.n * g.f - s.sf AS DOUBLE) / sqrt(CAST(s.varn AS DOUBLE)) AS z
      FROM grid g JOIN stats s ON s.w = g.w
      WHERE s.varn > 0
    ),
    delta AS (
      SELECT a.source AS src_a, b.source AS src_b,
             count(*)::BIGINT AS n_words,
             sum(CAST(floor(1000000.0 * abs(a.z - b.z)) AS BIGINT))::BIGINT
               AS delta_mu_sum
      FROM z a JOIN z b ON b.w = a.w AND b.source > a.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_words,
           (delta_mu_sum // n_words)::BIGINT AS delta_mu
    FROM delta
    ORDER BY delta_mu, src_a, src_b
    LIMIT {_BD_TOPK}
    """,
    tags=("text", "stylometry", "burrows-delta", "authorship"),
)
def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: per-source
    relative word frequencies → per-word z-scores across sources →
    Delta(a,b) = mean |z_a − z_b| over the shared vocabulary; the {k}
    most stylistically similar source pairs. The classic authorship /
    style-drift measure over the corpus's most-frequent-word profile.

    Determinism: the marker-word list is the top-_BD_VOCAB_K corpus-
    frequency band with the exact-integer (count DESC, word ASC)
    tie-break — no float enters the selection; frequencies quantize to integer ppb
    (c·10⁹ div t) on a DENSE source×word grid (absent = 0); the z-score
    uses the exact n·Σf² − (Σf)² integer expansion with one sqrt; each
    |Δz| floors to integer micro-units BEFORE the cross-word sum, so
    aggregates only ever see integers.

    Scale: token pass → (source, word) counts is one hash-agg; the word
    list is CAPPED at the top-_BD_VOCAB_K frequency band (one
    vocabulary hash-agg + TakeOrderedAndProject — never the raw
    distinct vocabulary, which is corpus-sized and would blow the
    broadcast at 100 TB); the dense grid is |sources|·K and the pair
    join grid², both bounded by the cap regardless of corpus size."""
    tok = _docs_with_tokens(spark, sf_dir)
    cnt = materialize(
        tok.select("source", F.explode("toks").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    words = _burrows_marker_words(cnt)
    grid = (
        tot.crossJoin(F.broadcast(words))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(f"coalesce(c, 0) * {_BD_PPB} div t").alias("f"),
        )
    )
    stats = grid.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f").alias("sf"),
        (F.count(F.lit(1)) * F.sum(F.expr("f * f")) - F.sum("f") * F.sum("f")).alias(
            "varn"
        ),
    )
    z = (
        grid.join(F.broadcast(stats), "w")
        .filter(F.col("varn") > 0)
        .select(
            "source",
            "w",
            (
                (F.col("n") * F.col("f") - F.col("sf")).cast("double")
                / F.sqrt(F.col("varn").cast("double"))
            ).alias("z"),
        )
    )
    delta = (
        z.alias("a")
        .join(
            z.alias("b"),
            (F.col("b.w") == F.col("a.w")) & (F.col("b.source") > F.col("a.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(
                F.expr("CAST(floor(1000000.0 * abs(a.z - b.z)) AS BIGINT)")
            ).alias("delta_mu_sum"),
        )
    )
    # exact integer rational in µ-units (non-negative operands, truncating
    # div both engines) — no float quotient (SCALE.md round-on-quotient ban)
    return (
        delta.select(
            "src_a",
            "src_b",
            "n_words",
            F.expr("CAST(delta_mu_sum div n_words AS BIGINT)").alias("delta_mu"),
        )
        .orderBy("delta_mu", "src_a", "src_b")
        .limit(_BD_TOPK)
    )


@query(
    "q452_soundex_blocking",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    cnt AS (SELECT w, count(*)::BIGINT AS occurrences FROM tok GROUP BY w),
    coded AS (
      SELECT w, occurrences, {_duck_soundex('w')} AS code FROM cnt
    )
    SELECT code,
           count(*)::BIGINT AS n_words,
           string_agg(w, ',' ORDER BY w) AS members,
           sum(occurrences)::BIGINT AS occurrences,
           (count(*) * (count(*) - 1) / 2)::BIGINT AS candidate_pairs
    FROM coded
    GROUP BY code
    ORDER BY code
    """,
    tags=("text", "soundex", "phonetic-blocking", "cross-engine"),
)
def soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking audit: American Soundex over the corpus
    vocabulary, grouping sound-alike words into candidate blocks (the
    classic pre-filter for fuzzy linkage — feeds q431's Jaro-Winkler
    verify stage with phonetic instead of prefix blocks). Spark's
    NATIVE soundex() is certified bit-exact against a hand-rolled
    pure-SQL DuckDB implementation (H/W rule, vowel separators, run
    collapse) — the q431 cross-engine certification pattern with the
    engines' roles reversed.

    Determinism: pure string algebra on both sides; counts and the
    n·(n−1)/2 pair arithmetic are integers; members list is
    order-pinned by ORDER BY inside the aggregate.

    Scale: the code table is VOCABULARY-sized (distinct tokens), not
    corpus-sized — one token hash-agg then per-word string ops; the
    blocking quality metric (candidate_pairs per block) is what a
    linkage planner reads before choosing blocks at 100 TB."""
    tok = _docs_with_tokens(spark, sf_dir).select(F.explode("toks").alias("w"))
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("occurrences"))
    coded = cnt.withColumn("code", F.soundex("w"))
    return (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.array_join(F.array_sort(F.collect_list("w")), ",").alias("members"),
            F.sum("occurrences").alias("occurrences"),
            F.expr(
                "CAST(count(1) * (count(1) - 1) / 2 AS BIGINT)"
            ).alias("candidate_pairs"),
        )
        .orderBy("code")
    )


@query(
    "q453_fellegi_sunter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars, {_DUCK_TOKS} AS toks
      FROM documents
    ),
    d AS (SELECT doc_id, lang, source, n_chars, toks[1] AS tok1,
                 n_chars // {_FS_LEN_BAND} AS len_band,
                 list_distinct(toks) AS ts
          FROM t),
    pairs AS (
      SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
             CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS f_src,
             CASE WHEN a.tok1 = b.tok1 THEN 1 ELSE 0 END AS f_tok,
             CASE WHEN abs(a.n_chars - b.n_chars) <= {_FS_LEN_TOL}
                  THEN 1 ELSE 0 END AS f_len,
             CASE WHEN len(list_intersect(a.ts, b.ts)) * 1000
                       >= {_FS_MATCH_PERMILLE}
                          * (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
                  THEN 1 ELSE 0 END AS is_match
      FROM d a JOIN d b ON b.lang = a.lang AND b.len_band = a.len_band
                       AND b.doc_id > a.doc_id
    ),
    mu AS (
      SELECT f,
             sum(agree * is_match)::BIGINT AS am,
             sum(is_match)::BIGINT AS cm,
             sum(agree * (1 - is_match))::BIGINT AS au,
             sum(1 - is_match)::BIGINT AS cu
      FROM (
        SELECT is_match, 'src' AS f, f_src AS agree FROM pairs
        UNION ALL SELECT is_match, 'tok', f_tok FROM pairs
        UNION ALL SELECT is_match, 'len', f_len FROM pairs
      ) GROUP BY f
    ),
    -- Laplace-smoothed agreement/disagreement log-odds in micro-nats
    wt AS (
      SELECT f,
             {_LN6.format(a='(am + 1) * (cu + 2)')}
               - {_LN6.format(a='(au + 1) * (cm + 2)')} AS w_agree,
             {_LN6.format(a='(cm + 1 - am) * (cu + 2)')}
               - {_LN6.format(a='(cu + 1 - au) * (cm + 2)')} AS w_disagree
      FROM mu
    ),
    scored AS (
      SELECT p.a_doc, p.b_doc, p.is_match,
             p.f_src, p.f_tok, p.f_len,
             (SELECT CASE WHEN p.f_src = 1 THEN w_agree ELSE w_disagree END
              FROM wt WHERE f = 'src')
             + (SELECT CASE WHEN p.f_tok = 1 THEN w_agree ELSE w_disagree END
                FROM wt WHERE f = 'tok')
             + (SELECT CASE WHEN p.f_len = 1 THEN w_agree ELSE w_disagree END
                FROM wt WHERE f = 'len') AS weight_mu
      FROM pairs p
    )
    SELECT a_doc, b_doc, f_src, f_tok, f_len, is_match,
           weight_mu::BIGINT AS weight_mu
    FROM scored
    ORDER BY weight_mu DESC, a_doc, b_doc
    LIMIT {_FS_TOPK}
    """,
    tags=("entity-resolution", "fellegi-sunter", "record-linkage"),
)
def fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over
    (lang, length-band)-blocked document pairs: three comparison
    fields (same source, same leading token, |Δn_chars| ≤ {tol}),
    match labels from token-set Jaccard ≥ {mp}‰, per-field m/u
    probabilities estimated from the labeled pairs themselves, and
    each pair scored by the summed agreement / disagreement log-odds
    — the 1969 decision model production ER systems still run.

    Determinism: m/u are Laplace-smoothed INTEGER ratios; every
    log-odds term is a difference of ⌊10⁶ln(integer)⌋; pair weights
    are exact integer sums ordered with integer tie-breaks.

    Scale: candidate pairs come from the COMPOSITE
    (lang, n_chars div band) equi-join block, so the pair join is
    quadratic only inside each block, never inside a whole language
    (lang-only blocking left the dominant-language block n² at corpus
    scale — round-9 verdict). With band ≥ the f_len tolerance, a
    dropped pair either disagrees on length or straddles one band
    boundary within tolerance — the bounded recall loss all length
    blocking trades for candidate count (recoverable with an
    adjacent-band join leg); the band width is the standard
    recall-vs-candidate-count blocking knob. The m/u estimation is
    one unpivoted hash-agg over the pairs; the 3-row weight table
    broadcasts back to the scoring pass."""
    d = materialize(
        _docs_with_tokens(spark, sf_dir)
        .select(
            "doc_id", "lang", "source", "n_chars",
            F.expr("element_at(toks, 1)").alias("tok1"),
            F.expr(f"n_chars div {_FS_LEN_BAND}").alias("len_band"),
            F.array_distinct("toks").alias("ts"),
        )
    )
    inter = "size(array_intersect(a.ts, b.ts))"
    pairs = materialize(
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("b.lang") == F.col("a.lang"))
            & (F.col("b.len_band") == F.col("a.len_band"))
            & (F.col("b.doc_id") > F.col("a.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_doc"),
            F.col("b.doc_id").alias("b_doc"),
            F.expr("CASE WHEN a.source = b.source THEN 1 ELSE 0 END").alias("f_src"),
            F.expr("CASE WHEN a.tok1 = b.tok1 THEN 1 ELSE 0 END").alias("f_tok"),
            F.expr(
                f"CASE WHEN abs(a.n_chars - b.n_chars) <= {_FS_LEN_TOL} "
                "THEN 1 ELSE 0 END"
            ).alias("f_len"),
            F.expr(
                f"CASE WHEN {inter} * 1000 >= {_FS_MATCH_PERMILLE} * "
                f"(size(a.ts) + size(b.ts) - {inter}) THEN 1 ELSE 0 END"
            ).alias("is_match"),
        )
    )
    unpiv = pairs.selectExpr(
        "is_match",
        "stack(3, 'src', f_src, 'tok', f_tok, 'len', f_len) AS (f, agree)",
    )
    mu = unpiv.groupBy("f").agg(
        F.sum(F.expr("agree * is_match")).alias("am"),
        F.sum("is_match").alias("cm"),
        F.sum(F.expr("agree * (1 - is_match)")).alias("au"),
        F.sum(F.expr("1 - is_match")).alias("cu"),
    )

    def ln6(a: str) -> str:
        return f"CAST(floor(1000000.0 * ln(CAST({a} AS DOUBLE))) AS BIGINT)"

    wt = mu.select(
        "f",
        F.expr(
            f"{ln6('(am + 1) * (cu + 2)')} - {ln6('(au + 1) * (cm + 2)')}"
        ).alias("w_agree"),
        F.expr(
            f"{ln6('(cm + 1 - am) * (cu + 2)')} - {ln6('(cu + 1 - au) * (cm + 2)')}"
        ).alias("w_disagree"),
    )
    wide = wt.groupBy().pivot("f", ["src", "tok", "len"]).agg(
        F.first("w_agree").alias("wa"), F.first("w_disagree").alias("wd")
    )
    scored = pairs.crossJoin(F.broadcast(wide)).select(
        "a_doc",
        "b_doc",
        "f_src",
        "f_tok",
        "f_len",
        "is_match",
        (
            F.expr("CASE WHEN f_src = 1 THEN src_wa ELSE src_wd END")
            + F.expr("CASE WHEN f_tok = 1 THEN tok_wa ELSE tok_wd END")
            + F.expr("CASE WHEN f_len = 1 THEN len_wa ELSE len_wd END")
        ).alias("weight_mu"),
    )
    return scored.orderBy(F.desc("weight_mu"), "a_doc", "b_doc").limit(_FS_TOPK)


@query(
    "q454_embedding_novelty",
    oracle=f"""
    WITH q AS (
      -- two same-length unnests in one SELECT zip in DuckDB
      SELECT e.vec_id,
             unnest(range(1, len(e.embedding) + 1)) - 1 AS dim,
             -- x must widen to DOUBLE before the multiply: DuckDB's
             -- DECIMAL*FLOAT stays float32, flooring 0.088272996*1e6 to
             -- 88273 instead of 88272 (the r7 sf0.1 divergence)
             unnest([CAST(floor(1000000.0 * CAST(x AS DOUBLE)) AS BIGINT)
                     for x in e.embedding]) AS qv
      FROM embeddings e
    ),
    pre AS (
      SELECT vec_id, dim, qv,
             coalesce(sum(qv) OVER (
               PARTITION BY dim ORDER BY vec_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0)::BIGINT AS s
      FROM q
    ),
    dots AS (
      SELECT vec_id,
             sum(qv * s)::BIGINT AS num,
             sum(qv * qv)::BIGINT AS nq,
             sum(s * s)::BIGINT AS ns
      FROM pre GROUP BY vec_id
    )
    SELECT vec_id,
           CAST(floor((1.0 - CAST(num AS DOUBLE)
                       / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(ns AS DOUBLE))))
                      * 1000000.0) AS BIGINT)
             AS novelty_mu
    FROM dots
    WHERE vec_id > (SELECT min(vec_id) FROM embeddings)
    ORDER BY novelty_mu DESC, vec_id
    LIMIT {_NOV_TOPK}
    """,
    tags=("similarity", "embedding", "novelty", "streaming-order"),
)
def embedding_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding novelty timeline: each vector's cosine distance to the
    RUNNING SUM of all earlier vectors (cosine is scale-invariant, so
    the sum stands in for the running mean) — 'how unlike everything
    seen so far is this document?', the arrival-order novelty signal a
    curation pipeline uses to prioritize diverse training data. Top
    {k} most novel vectors.

    Determinism: components quantize to ⌊10⁶x⌋ integers (float32 →
    double is exact); prefix sums, dot products and norms are exact
    integer aggregates; one sqrt/division per vector at the end, and
    the score is floor-quantized to µ by the SHARED floor(x·1e6) text
    (r7 fix: round(x, 6) let the engines' different rounding
    algorithms diverge on boundary doubles at sf0.1).

    Scale: the unrolled (vec, dim) grid partitions the prefix cumsum
    BY DIMENSION — 64 independent ordered partitions, never a global
    row window; the reduce back to per-vector dots is one hash-agg.
    For unbounded streams this is q213's stateful-EWMA shape: the
    per-dim running sum is the only state."""
    q = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", F.posexplode("embedding").alias("dim", "val")
        )
        .select(
            "vec_id",
            "dim",
            F.expr("CAST(floor(1000000.0 * val) AS BIGINT)").alias("qv"),
        )
    )
    w = (
        W.partitionBy("dim")
        .orderBy("vec_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pre = q.withColumn("s", F.coalesce(F.sum("qv").over(w), F.lit(0)))
    dots = pre.groupBy("vec_id").agg(
        F.sum(F.expr("qv * s")).alias("num"),
        F.sum(F.expr("qv * qv")).alias("nq"),
        F.sum(F.expr("s * s")).alias("ns"),
    )
    first_vec = table(spark, sf_dir, "embeddings").agg(F.min("vec_id").alias("mv"))
    return (
        dots.crossJoin(F.broadcast(first_vec))
        .filter(F.col("vec_id") > F.col("mv"))
        .select(
            "vec_id",
            F.floor(
                (
                    1.0
                    - F.col("num").cast("double")
                    / (
                        F.sqrt(F.col("nq").cast("double"))
                        * F.sqrt(F.col("ns").cast("double"))
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("novelty_mu"),
        )
        .orderBy(F.desc("novelty_mu"), "vec_id")
        .limit(_NOV_TOPK)
    )
