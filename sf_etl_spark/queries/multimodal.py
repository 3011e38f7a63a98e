"""Multimodal-column queries: the media-lake surface exercised as
registry entries (binary payload + typed metadata conventions from
``sf_etl_spark.operators.multimodal``).

The media fixture derives deterministically from ``documents``
(utf-8 payload bytes, format/width/height metadata), so the DuckDB
oracle can replay the construction and check the metadata/frame
plumbing exactly; only the Arrow-batched byte-feature extraction is
rows-only (numpy inside mapInPandas is not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sf_etl_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
)
from sf_etl_spark.queries import register
from sf_etl_spark.sources import load_table

# DuckDB replay of media_from_documents (list literals are 1-indexed).
_MEDIA_SQL = """
    SELECT doc_id AS media_id,
           encode(text) AS payload,
           (['png', 'jpeg', 'wav'])[CAST(doc_id % 3 AS INT) + 1] AS format,
           CAST(n_chars % 640 + 16 AS INT) AS width,
           CAST(n_chars % 480 + 16 AS INT) AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
"""


# ---------------------------------------------------------------------------
# Metadata rollup: the "what's in the lake" query — per-format counts,
# byte volume, dimension stats. Scale: pure metadata aggregation; the
# binary payload column is pruned from the scan entirely (check
# ReadSchema — payload must not appear).
# ---------------------------------------------------------------------------
@register(
    "multimodal_meta_stats",
    f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT format,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(avg(width) AS DOUBLE) AS avg_width,
           CAST(max(height) AS INT) AS max_height
    FROM media
    GROUP BY format
    ORDER BY format
    """,
    doc="media-lake metadata rollup per format (payload column pruned)",
)
def multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return (
        media.groupBy(F.col("meta.format").alias("format"))
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("meta.n_bytes").cast("bigint").alias("total_bytes"),
            F.avg("meta.width").alias("avg_width"),
            F.max("meta.height").cast("int").alias("max_height"),
        )
        .orderBy("format")
    )


# ---------------------------------------------------------------------------
# Frame sampling: per-media frame fan-out (sequence+explode, JVM-side)
# aggregated back to per-media frame counts. Scale: the explode is the
# map side of a frame-processing pipeline — no UDF, no driver loop.
# ---------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    f"""
    WITH media AS ({_MEDIA_SQL}),
    frames AS (
      SELECT media_id, format,
             unnest(generate_series(0, greatest(CAST(ceil(n_bytes / 1024) AS INT), 1) - 1))
               AS frame_no
      FROM media
    )
    SELECT media_id, format,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(max(frame_no) * 1024 AS BIGINT) AS last_offset
    FROM frames
    GROUP BY media_id, format
    ORDER BY media_id
    """,
    doc="frame-sample fan-out (explode) + per-media frame counts",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return (
        frame_sample_plan(media, every_n_bytes=1024)
        .groupBy("media_id", "format")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            (F.max("frame_no") * 1024).cast("bigint").alias("last_offset"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Byte-level feature extraction (operators.multimodal.extract_features)
# verified through ONE hash-checked lane: the mapInPandas/numpy path's
# per-payload features, restricted to the columns DuckDB can restate
# EXACTLY by enumerating payload bytes from the BLOB's bitstring —
# n_bytes / byte_sum / byte_min / byte_max as integers, plus the numpy
# byte_mean, which is hash-safe with zero float tolerance because every
# partial sum of byte values is an integer below 2^53 (exactly
# representable whatever numpy's pairwise-summation order) and the
# final mean is one division of two exact integers on both sides. So
# the Arrow plumbing (batching, schema, zero-copy numpy views) AND a
# float feature column get full per-row value-hash checks. The
# remaining float features (std/entropy) are order-sensitive float
# folds with no bit-equal SQL restatement; they are gated against a
# pure-python reference in tests/test_multimodal.py. (The former
# rows-only `multimodal_features` format rollup is retired — r12
# verdict task 6: one lane, one green row.)
# Scale: one narrow mapInPandas pass; output is one 6-column row per
# media item, no shuffle beyond the final order.
# ---------------------------------------------------------------------------
@register(
    "multimodal_features_checksum",
    f"""
    WITH media AS ({_MEDIA_SQL}),
    e AS (
      -- zero-byte payloads have no byte features on either side: the
      -- unnest naturally emits no rows for them, and the engine lane
      -- filters n_bytes > 0 to match (the rows-only features lane
      -- keeps its all-null degenerate row; this hash lane is bytes-only)
      SELECT media_id, CAST(payload AS BIT) AS b,
             CAST(unnest(generate_series(0, octet_length(payload) - 1)) AS INT) AS j
      FROM media
      WHERE octet_length(payload) > 0
    ), v AS (
      SELECT media_id,
             128*get_bit(b, 8*j+0) + 64*get_bit(b, 8*j+1) + 32*get_bit(b, 8*j+2)
           + 16*get_bit(b, 8*j+3) +  8*get_bit(b, 8*j+4) +  4*get_bit(b, 8*j+5)
           +  2*get_bit(b, 8*j+6) +      get_bit(b, 8*j+7) AS bv
      FROM e
    )
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_bytes,
           CAST(sum(bv) AS BIGINT) AS byte_sum,
           CAST(min(bv) AS INT) AS byte_min,
           CAST(max(bv) AS INT) AS byte_max,
           CAST(sum(bv) AS DOUBLE) / count(*) AS byte_mean
    FROM v
    GROUP BY media_id
    ORDER BY media_id
    """,
    doc="per-payload exact byte features incl. numpy mean vs independent byte enumeration",
)
def multimodal_features_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return (
        feats.filter(F.col("n_bytes") > 0)
        .select(
            "media_id", "n_bytes", "byte_sum", "byte_min", "byte_max", "byte_mean"
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# REAL container decode, hash-verified end-to-end: documents are
# wrapped into genuine PPM / PGM / RIFF-WAVE containers (binary
# headers and all), then decoded back — header parse, raster/PCM
# extraction — inside Arrow-batched mapInPandas with the repo's
# dependency-free decoder (operators/multimodal.py: encode_payload /
# decode_media; replaces the PIL-optional stub flagged in r5). The
# DuckDB oracle never sees the containers: it restates the decoded
# value stream straight from the raw text bytes via bitstring
# enumeration (pixels = leading byte runs, PCM16 = signed LE byte
# pairs), so a header-math bug, an off-by-one in the raster offset,
# or an endianness slip all break the hash.
# Scale: two narrow mapInPandas passes (encode, decode), payloads
# partition-local, no shuffle until the final order-by; the decode
# cost is embarrassingly parallel — the 100 TB media-lake shape.
# ---------------------------------------------------------------------------
@register(
    "multimodal_decode_stats",
    """
    WITH media AS (
      SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS m,
             encode(text) AS payload
      FROM documents
    ),
    e AS (
      SELECT media_id, m, CAST(payload AS BIT) AS b,
             CAST(octet_length(payload) AS INT) AS nb,
             CAST(unnest(generate_series(0, octet_length(payload) - 1)) AS INT) AS j
      FROM media
      WHERE octet_length(payload) > 0
    ),
    v AS (
      SELECT media_id, m, nb, j,
             128*get_bit(b, 8*j+0) + 64*get_bit(b, 8*j+1) + 32*get_bit(b, 8*j+2)
           + 16*get_bit(b, 8*j+3) +  8*get_bit(b, 8*j+4) +  4*get_bit(b, 8*j+5)
           +  2*get_bit(b, 8*j+6) +      get_bit(b, 8*j+7) AS bv
      FROM e
    ),
    vals AS (
      -- ppm: pixels are the first nb - nb%3 bytes (one RGB row)
      SELECT media_id, 'ppm' AS format, bv AS val
      FROM v WHERE m = 0 AND j < nb - (nb % 3)
      UNION ALL
      -- pgm: every byte is one grayscale pixel
      SELECT media_id, 'pgm' AS format, bv AS val
      FROM v WHERE m = 1
      UNION ALL
      -- wav: each little-endian byte pair is one signed PCM16 sample
      SELECT lo.media_id, 'wav' AS format,
             CASE WHEN lo.bv + 256 * hi.bv >= 32768
                  THEN lo.bv + 256 * hi.bv - 65536
                  ELSE lo.bv + 256 * hi.bv END AS val
      FROM v lo JOIN v hi
        ON lo.media_id = hi.media_id AND hi.j = lo.j + 1
      WHERE lo.m = 2 AND lo.j % 2 = 0
    )
    SELECT media_id, format,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(val) AS BIGINT) AS val_sum,
           CAST(min(val) AS INT) AS val_min,
           CAST(max(val) AS INT) AS val_max
    FROM vals
    GROUP BY media_id, format
    ORDER BY media_id
    """,
    doc="real PPM/PGM/WAV encode→decode round trip vs independent byte restatement",
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.multimodal import (
        decode_stats,
        encode_media_from_documents,
    )

    encoded = encode_media_from_documents(load_table(spark, sf_dir, "documents"))
    return decode_stats(encoded).orderBy("media_id")


# ---------------------------------------------------------------------------
# Real nearest-neighbor resize — closes the decode/feature/RESIZE/
# frame-sample quartet with actual pixel resampling. Images decode
# through the dependency-free container parser, resample to an 8×8 grid with the
# integer NN rule src = (i · src_extent) // dst_extent, and reduce to
# exact stats. The oracle re-derives every sampled byte's offset from
# the RAW payload bytes (the fixture geometry: one-row rasters, so
# row repetition multiplies the sum by dst_h and leaves min/max
# alone) — a wrong stride, channel interleave, or rounding rule in
# the resize breaks the hash. WAV rows are excluded JVM-side (resize
# is an image op).
# ---------------------------------------------------------------------------
_RSZ_W = 8
_RSZ_H = 8


@register(
    "multimodal_resize_stats",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS m,
             encode(text) AS payload
      FROM documents
    ),
    g AS (
      SELECT media_id, m, CAST(payload AS BIT) AS b,
             CAST(octet_length(payload) AS INT) AS nb
      FROM media
      WHERE m <> 2 AND octet_length(payload) > 0
    ),
    dims AS (
      SELECT media_id, m, b, nb,
             CASE WHEN m = 0 THEN (nb - nb % 3) // 3 ELSE nb END AS w,
             CASE WHEN m = 0 THEN 3 ELSE 1 END AS ch
      FROM g
    ),
    idx AS (
      SELECT d.media_id, d.m, d.b, d.w, d.ch,
             CAST(CASE WHEN d.m = 0
                       THEN 3 * ((c.c * d.w) // {_RSZ_W}) + chn.chn
                       ELSE (c.c * d.w) // {_RSZ_W} END AS INT) AS j
      FROM dims d
      CROSS JOIN (SELECT unnest(generate_series(0, {_RSZ_W} - 1)) AS c) c
      CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS chn) chn
      WHERE d.w >= 1 AND chn.chn < d.ch
    ),
    px AS (
      SELECT media_id, m,
             128*get_bit(b, 8*j+0) + 64*get_bit(b, 8*j+1) + 32*get_bit(b, 8*j+2)
           + 16*get_bit(b, 8*j+3) +  8*get_bit(b, 8*j+4) +  4*get_bit(b, 8*j+5)
           +  2*get_bit(b, 8*j+6) +      get_bit(b, 8*j+7) AS v
      FROM idx
    )
    SELECT media_id,
           CASE WHEN m = 0 THEN 'ppm' ELSE 'pgm' END AS format,
           CAST({_RSZ_H} * count(*) AS BIGINT) AS n_sampled,
           CAST({_RSZ_H} * sum(v) AS BIGINT) AS s_sum,
           CAST(min(v) AS INT) AS s_min,
           CAST(max(v) AS INT) AS s_max
    FROM px
    GROUP BY media_id, m
    ORDER BY media_id
    """,
    doc="real NN resize of decoded rasters to 8x8 vs byte-offset restatement",
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sf_etl_spark.operators.multimodal import (
        encode_media_from_documents,
        resize_stats,
    )

    encoded = encode_media_from_documents(load_table(spark, sf_dir, "documents"))
    return resize_stats(encoded, dst_w=_RSZ_W, dst_h=_RSZ_H).orderBy("media_id")
