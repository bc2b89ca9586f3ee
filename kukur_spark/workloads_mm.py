"""Multimodal-pipeline workloads for the correctness gate.

The asset table is synthesized deterministically (payload = sha256
keystream of the asset id, ``operators/multimodal.py``), so even the
Arrow-batched ``mapInPandas`` feature extractor is exactly reproducible
in DuckDB: the oracle rebuilds the payload with ``repeat``/``from_hex``,
recomputes the byte histogram with a lateral ``generate_series``, and
folds the entropy terms in the same byte-value order Python iterates.

This puts the multimodal plumbing — binary columns, typed metadata
struct, Pandas-batch decode stub, frame-sample explode — under the same
hash-match gate as every SQL operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kukur_spark.operators.multimodal import (
    decode_features,
    frame_sample,
    synthesize_assets,
)
from kukur_spark.registry import register

N_ASSETS = 500


def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic byte-level features over synthesized binary assets.

    ``sf`` is unused: the asset table is generated, not read — the
    pipeline under test is synthesize → mapInPandas decode → features.
    The sha256 column is projected out: this container's DuckDB only
    hashes VARCHAR (payload digests are pinned in test_multimodal.py
    instead); everything else is exact."""
    assets = synthesize_assets(spark, n=N_ASSETS)
    return (
        decode_features(assets)
        .select(
            "asset_id", "modality", "size_bytes", "byte_mean",
            "byte_entropy_e6",
        )
        .orderBy("asset_id")
    )


MULTIMODAL_FEATURES_SQL = f"""
WITH base AS (
  SELECT range AS id,
    CASE (range % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
      AS modality,
    (range % 977 + 64)::BIGINT AS size_bytes,
    sha256(range::VARCHAR) AS seed_hex
  FROM range({N_ASSETS})
),
payload AS (
  SELECT id, modality, size_bytes,
    substr(repeat(seed_hex, (size_bytes // 32 + 1)::INT),
           1, (2 * size_bytes)::INT) AS payload_hex
  FROM base
),
offsets AS (
  SELECT id, size_bytes, payload_hex,
    unnest(generate_series(0, size_bytes - 1)) AS i
  FROM payload
),
bytes AS (
  SELECT id, size_bytes,
    ('0x' || substr(payload_hex, (2 * i + 1)::INT, 2))::INT AS bv
  FROM offsets
),
hist AS (
  SELECT id, size_bytes, bv, COUNT(*)::BIGINT AS c
  FROM bytes GROUP BY id, size_bytes, bv
),
stats AS (
  SELECT id,
    SUM(bv * c) AS byte_sum,
    -- entropy terms folded in ascending byte order — the order Python's
    -- ``sum`` walks the 256-bucket histogram
    list_sum(list((CAST(c AS DOUBLE) / size_bytes)
                  * log2(CAST(c AS DOUBLE) / size_bytes) ORDER BY bv))
      AS ent_sum
  FROM hist GROUP BY id
)
SELECT b.id AS asset_id, b.modality, b.size_bytes,
  CAST(s.byte_sum AS DOUBLE) / b.size_bytes AS byte_mean,
  CAST(FLOOR((-s.ent_sum) * 1000000) AS BIGINT) AS byte_entropy_e6
FROM base b
JOIN stats s ON s.id = b.id
ORDER BY asset_id
"""


def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plumbing: explode of sample offsets against
    duration metadata, payload untouched."""
    assets = synthesize_assets(spark, n=N_ASSETS)
    return (
        frame_sample(assets, every_ms=200)
        .select(
            "asset_id",
            F.col("frame_offset_ms").cast("long").alias("frame_offset_ms"),
            "size_bytes",
        )
        .orderBy("asset_id", "frame_offset_ms")
    )


MULTIMODAL_FRAMES_SQL = f"""
SELECT t0.range AS asset_id, t.o AS frame_offset_ms,
  (t0.range % 977 + 64)::BIGINT AS size_bytes
FROM range({N_ASSETS}) t0, generate_series(0, 999, 200) t(o)
WHERE t0.range % 3 = 2
ORDER BY asset_id, frame_offset_ms
"""


def multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Resize plumbing: payload → every-4th-byte downsample through an
    Arrow mapInPandas batch; the oracle rebuilds the strided bytes from
    the sha256 keystream, so the binary-out path is value-checked too
    (via the summary stats — DuckDB here only hashes VARCHAR columns)."""
    from kukur_spark.operators.multimodal import resize_stride

    assets = synthesize_assets(spark, n=N_ASSETS)
    return (
        resize_stride(assets, factor=4)
        .select("asset_id", "modality", "resized_bytes", "resized_byte_sum")
        .orderBy("asset_id")
    )


MULTIMODAL_RESIZE_SQL = f"""
WITH base AS (
  SELECT range AS id,
    CASE (range % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
      AS modality,
    (range % 977 + 64)::BIGINT AS size_bytes,
    sha256(range::VARCHAR) AS seed_hex
  FROM range({N_ASSETS})
),
payload AS (
  SELECT id, modality, size_bytes,
    substr(repeat(seed_hex, (size_bytes // 32 + 1)::INT),
           1, (2 * size_bytes)::INT) AS payload_hex
  FROM base
),
sampled AS (
  SELECT id, payload_hex,
    unnest(generate_series(0, size_bytes - 1, 4)) AS i
  FROM payload
),
bytes AS (
  SELECT id, ('0x' || substr(payload_hex, (2 * i + 1)::INT, 2))::INT AS bv
  FROM sampled
)
SELECT p.id AS asset_id, p.modality,
  COUNT(b.bv) AS resized_bytes,
  CAST(SUM(b.bv) AS BIGINT) AS resized_byte_sum
FROM payload p JOIN bytes b ON b.id = p.id
GROUP BY p.id, p.modality
ORDER BY asset_id
"""


register("multimodal_features", multimodal_features, MULTIMODAL_FEATURES_SQL)
register(
    "multimodal_frame_sample", multimodal_frame_sample, MULTIMODAL_FRAMES_SQL
)
register("multimodal_resize", multimodal_resize, MULTIMODAL_RESIZE_SQL)
