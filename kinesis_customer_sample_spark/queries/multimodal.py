"""Multimodal-column queries (SURVEY.md §2B): struct assembly across
modalities, and the binary decode / feature-extract / frame-sample pipeline
from operators/multimodal.py.

The decode stages run through real Arrow-batched `mapInPandas` plumbing;
because the stub featurizer is a pure function of the payload bytes and the
fixture text is ASCII (byte == char), DuckDB can recompute every feature in
SQL — so even the Python-side pipeline is hash-match oracle-checked, not
rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kinesis_customer_sample_spark.catalog import table
from kinesis_customer_sample_spark.operators.multimodal import (
    attach_media,
    extract_features,
    sample_frames,
)
from kinesis_customer_sample_spark.registry import query


@query(
    "q77_multimodal_assembly",
    oracle="""
    SELECT d.doc_id,
           d.lang,
           d.source,
           d.n_chars,
           e.label,
           len(e.embedding)                             AS dim,
           round(e.embedding[1]::DOUBLE, 6)             AS e_head,
           round(list_sum(list_transform(e.embedding, x -> x::DOUBLE)), 6) AS e_sum
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    tags=("multimodal", "assembly"),
)
def multimodal_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per item carrying both modalities: document metadata joined
    to its embedding (text ⋈ vector on the shared id — FIXTURES.md:57), with
    vector summary columns. The 1:1 id join is the multimodal-table spine;
    at 100 TB both sides bucket by id so assembly is shuffle-free."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e_head"),
        F.round(
            F.expr(
                "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
            ),
            6,
        ).alias("e_sum"),
    )


@query(
    "q78_media_feature_extract",
    oracle="""
    SELECT doc_id                         AS media_id,
           'image'                        AS kind,
           length(text)::BIGINT           AS n_bytes,
           md5(text)                      AS content_md5,
           (length(text) % 640 + 1)::INT  AS width,
           (length(text) % 480 + 1)::INT  AS height,
           'fake'                         AS decoder
    FROM documents
    """,
    tags=("multimodal", "decode", "mapinpandas"),
)
def media_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode + feature extraction through the real mapInPandas
    pipeline: documents → opaque binary media rows (typed metadata struct
    alongside) → Arrow-batched featurizer (size, md5, dimensions). The
    codec call is the stubbed edge (operators/multimodal.py); the batch
    plumbing this query proves is exactly what a PIL-backed decode runs
    through. Map-only: no shuffle, blobs never leave their partition."""
    media = attach_media(table(spark, sf_dir, "documents"))
    return extract_features(media)


@query(
    "q79_media_frame_sample",
    oracle="""
    WITH frames AS (
      SELECT doc_id AS media_id,
             unnest(generate_series(0, (length(text) - 1) // 64)) AS frame_idx
      FROM documents
    )
    SELECT f.media_id,
           f.frame_idx::INT                                   AS frame_idx,
           (f.frame_idx * 64)::BIGINT                         AS frame_off,
           md5(substring(d.text, f.frame_idx::INT * 64 + 1, 64)) AS frame_md5
    FROM frames f JOIN documents d ON d.doc_id = f.media_id
    """,
    tags=("multimodal", "frames", "mapinpandas"),
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling as a one-to-many mapInPandas (the UDTF shape): one
    row per 64-byte window with offset + window hash — the video
    frame-every-N-ms pattern with the codec stubbed to byte windows.
    Oracle re-derives every frame row and hash in SQL."""
    media = attach_media(table(spark, sf_dir, "documents"))
    return sample_frames(media, stride=64)


@query(
    "q186_media_blob_dedup",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS content_md5,
             length(text)::BIGINT AS n_bytes
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, md5(text), length(text)::BIGINT
      FROM documents
    ),
    g AS (
      SELECT content_md5, min(media_id) AS keeper_media_id,
             count(*)::BIGINT AS n_copies
      FROM m GROUP BY content_md5
    )
    SELECT m.media_id, m.content_md5, m.n_bytes, g.keeper_media_id,
           (m.media_id = g.keeper_media_id) AS keep, g.n_copies
    FROM m JOIN g USING (content_md5)
    """,
    tags=("multimodal", "dedup", "mapinpandas"),
)
def media_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over BINARY media: an at-least-once ingest (the corpus
    unioned with a re-keyed replay of itself, q150's delivery model) runs
    through the real Arrow mapInPandas featurizer, then dedups on the
    extracted content hash — keeper = min media id, every row annotated
    keep/copy-count. The image-pipeline twin of q67: the hash is computed
    where the blob lives (map-side, blobs never shuffle); only the
    16-byte digest + metadata enter the group-by, so at 100 TB the
    shuffle carries hashes, not media. Oracle recomputes the digest in
    SQL (fixture payloads are ASCII: byte == char)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    feats = extract_features(attach_media(doubled)).select(
        "media_id", "content_md5", "n_bytes"
    )
    groups = feats.groupBy("content_md5").agg(
        F.min("media_id").alias("keeper_media_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return feats.join(groups, "content_md5").select(
        "media_id",
        "content_md5",
        "n_bytes",
        "keeper_media_id",
        (F.col("media_id") == F.col("keeper_media_id")).alias("keep"),
        "n_copies",
    )


@query(
    "q187_compaction_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    """,
    tags=("maintenance", "compaction", "layout"),
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction as a driver-checked operator: the documents
    table is first written the way a micro-batch sink leaves it (64 tiny
    files), then `operators/compaction.compact_table` rewrites it into 4
    key-range-partitioned, key-sorted ZSTD files with a crash-safe
    directory swap. The query returns the compacted table's content — the
    oracle is the source table, so the hash-match proves the rewrite is
    LOSSLESS, which is the property that lets compaction run unattended
    against production tables. File-count and sortedness claims are
    asserted separately (tests/test_compaction.py). At 100 TB this runs
    per date-partition, each partition independently."""
    from kinesis_customer_sample_spark.operators.compaction import compact_table
    from kinesis_customer_sample_spark.scope import scratch

    # the table gets its own parent: compaction stages and swaps beside it
    path = f"{scratch('q187')}/docs"
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    docs.repartition(64).write.mode("overwrite").parquet(path)
    compact_table(spark, path, sort_keys=["doc_id"], target_files=4)
    return spark.read.parquet(path)


@query(
    "q242_media_tile_grid",
    oracle="""
    SELECT doc_id AS media_id,
           (t // 4)::INTEGER AS tile_row,
           (t % 4)::INTEGER  AS tile_col,
           (t * length(text) // 16)::BIGINT AS tile_off,
           ((t + 1) * length(text) // 16 - t * length(text) // 16)::INTEGER
             AS tile_len,
           sha256(substr(text, (t * length(text) // 16) + 1,
                         (t + 1) * length(text) // 16 - t * length(text) // 16))
             AS tile_sha
    FROM documents, (SELECT unnest(generate_series(0, 15)) AS t)
    """,
    tags=("multimodal", "tiling", "mapinpandas"),
)
def media_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style 4×4 patch grid over each media payload: one row per tile
    with row/col position, byte range, and sha256 digest — the
    patch-embedding preprocessing fan-out, Arrow-batched and map-only
    (payload bytes never shuffle; 16 digest rows per blob leave the
    stage). The fixture payload is utf-8 text, so the oracle re-derives
    every tile boundary and digest in SQL — boundaries are integer floor
    divisions, exactly the slicer's arithmetic. On real images the same
    plumbing tiles pixel blocks behind the documented codec seam."""
    from kinesis_customer_sample_spark.operators.multimodal import tile_grid

    media = attach_media(table(spark, sf_dir, "documents"))
    return tile_grid(media, grid=4)


_VAD_FRAME = 64
_VAD_TAU = 6050  # frame-energy threshold (median of the fixture is ~6048)


@query(
    "q277_audio_vad_segments",
    oracle=f"""
    WITH codes AS (
      -- code-point == byte only for ASCII; guard matches the Spark side so a
      -- future non-ASCII fixture shrinks the verified set instead of
      -- silently hash-breaking (ADVICE r3)
      SELECT doc_id AS media_id,
             [ord(x)::BIGINT for x in string_split(text, '')] AS cs
      FROM documents
      WHERE strlen(text) = length(text)
    ),
    frames AS (
      SELECT media_id, i.i AS frame_idx,
             list_sum(cs[(i.i * {_VAD_FRAME} + 1):((i.i + 1) * {_VAD_FRAME})]) AS energy
      FROM codes,
           (SELECT unnest(range(0, (SELECT max(len(cs)) FROM codes)
                                   // {_VAD_FRAME})) AS i) i
      WHERE (i.i + 1) * {_VAD_FRAME} <= len(cs)
    ),
    flagged AS (
      SELECT media_id, frame_idx, (energy > {_VAD_TAU}) AS active,
             frame_idx - row_number() OVER (
               PARTITION BY media_id, (energy > {_VAD_TAU}) ORDER BY frame_idx
             ) AS grp
      FROM frames
    ),
    segs AS (
      SELECT media_id, active, min(frame_idx)::BIGINT AS start_frame,
             count(*)::BIGINT AS n_frames
      FROM flagged GROUP BY media_id, active, grp
    )
    SELECT media_id,
           row_number() OVER (PARTITION BY media_id ORDER BY start_frame)::BIGINT
             AS seg_idx,
           start_frame, n_frames, active
    FROM segs
    """,
    tags=("multimodal", "audio", "vad", "rle"),
)
def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection segmentation over opaque audio blobs: the
    Python decode edge computes per-64-byte-frame energies (Arrow-batched
    mapInPandas, operators/multimodal.frame_energy — the stand-in for a
    real PCM decode, a pure function of the payload so the whole pipeline
    stays hash-checkable), then plain SQL turns the frame stream into
    maximal constant-activity runs via gaps-and-islands — the segment
    table a transcription pipeline would feed its ASR model. Windows are
    all media-partitioned; frames-per-blob bounds the window state. The
    oracle recomputes the energies from the payload bytes in SQL,
    proving the Python stage computes exactly its declared function —
    the same decode-edge contract as q46/q96."""
    from kinesis_customer_sample_spark.operators.multimodal import (
        attach_media,
        frame_energy,
    )

    media = attach_media(
        table(spark, sf_dir, "documents").filter(
            "octet_length(text) = char_length(text)"  # ASCII guard, see oracle
        )
    )
    frames = frame_energy(media, frame_len=_VAD_FRAME)
    flagged = frames.select(
        "media_id",
        "frame_idx",
        (F.col("energy") > _VAD_TAU).alias("active"),
    ).withColumn(
        "grp",
        F.col("frame_idx")
        - F.row_number().over(
            W.partitionBy("media_id", "active").orderBy("frame_idx")
        ),
    )
    segs = flagged.groupBy("media_id", "active", "grp").agg(
        F.min("frame_idx").cast("bigint").alias("start_frame"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
    )
    return segs.select(
        "media_id",
        F.row_number()
        .over(W.partitionBy("media_id").orderBy("start_frame"))
        .cast("bigint")
        .alias("seg_idx"),
        "start_frame",
        "n_frames",
        "active",
    )
