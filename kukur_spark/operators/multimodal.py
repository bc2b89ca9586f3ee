"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The decode step is STUBBED (image/audio libraries are not in this
container): ``decode_features`` runs a deterministic byte-level feature
extractor by default and raises ``NotImplementedError`` when a real codec
is requested. Everything around the stub — schema, partitioning, the
``mapInPandas`` batch shape, frame sampling plumbing — is real and
tested.

Design for 100 TB: payloads never pass through the driver; features are
computed per Arrow batch inside ``mapInPandas``; the asset table is
repartitioned by id so a later join back to text/embedding tables
co-locates. Metadata is a typed struct column, filterable without touching
payload bytes (Parquet column pruning keeps payload IO at zero for
metadata-only queries).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("byte_entropy_e6", T.LongType()),
    ]
)


def synthesize_assets(spark, n: int = 100, partitions: int = 8) -> DataFrame:
    """Deterministic fake asset table (payload = repeatable pseudo-bytes).

    Stands in for a real ingest; payloads are generated executor-side from
    the asset id (sha256 keystream), so the driver never materializes them.
    """
    base = spark.range(n).repartition(partitions, "id")
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("id") % 3 + 1).cast("int"),
    )
    size = (F.col("id") % 977 + 64).cast("long")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for asset_id, size_bytes in zip(pdf["id"], pdf["size_bytes"]):
                seed = hashlib.sha256(str(int(asset_id)).encode()).digest()
                reps = int(size_bytes) // len(seed) + 1
                payloads.append((seed * reps)[: int(size_bytes)])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "modality": pdf["modality"],
                    "payload": payloads,
                    "size_bytes": pdf["size_bytes"],
                }
            )

    generated = base.withColumn("modality", modality).withColumn(
        "size_bytes", size
    ).mapInPandas(
        gen,
        "asset_id long, modality string, payload binary, size_bytes long",
    )
    meta = F.struct(
        F.concat(F.lit("application/x-fake-"), F.col("modality")).alias("mime"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.when(F.col("modality") != "image", 1000).otherwise(None).cast("int").alias("duration_ms"),
        F.col("size_bytes").alias("size_bytes"),
    )
    return generated.select("asset_id", "modality", "payload", meta.alias("meta"))


def _decode_payload(payload: bytes, modality: str, real_codec: bool):
    if real_codec:
        raise NotImplementedError(
            f"real {modality} decoding needs a codec "
            "(PIL/ffmpeg not in this container)"
        )
    return payload  # stub: features computed over raw bytes


def decode_features(df: DataFrame, real_codec: bool = False) -> DataFrame:
    """Per-asset deterministic features via Arrow-batched ``mapInPandas``.

    ``real_codec=True`` raises ``NotImplementedError``: no codec ships
    with the engine.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            out = {
                "asset_id": [],
                "modality": [],
                "size_bytes": [],
                "sha256": [],
                "byte_mean": [],
                "byte_entropy_e6": [],
            }
            for asset_id, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                data = _decode_payload(bytes(payload), modality, real_codec)
                # byte histogram + sum via numpy (guide §4.2: vectorize
                # inside the batch) — both are exact integer results, so
                # they match the old per-byte Python loop bit-for-bit;
                # the entropy fold below keeps the original ascending-
                # byte-value Python summation order (numpy's pairwise
                # sum would change the last ulp)
                arr = np.frombuffer(data, dtype=np.uint8)
                counts = np.bincount(arr, minlength=256)
                n = max(len(data), 1)
                entropy = -sum(
                    (int(c) / n) * math.log2(int(c) / n)
                    for c in counts
                    if c
                )
                out["asset_id"].append(int(asset_id))
                out["modality"].append(modality)
                out["size_bytes"].append(len(data))
                out["sha256"].append(hashlib.sha256(data).hexdigest())
                out["byte_mean"].append(int(arr.sum()) / n)
                out["byte_entropy_e6"].append(int(entropy * 1_000_000))
            yield pd.DataFrame(out)

    return df.mapInPandas(extract, FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_ms: int = 200) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame offset.

    The actual frame decode is behind the same stub; the *shape* — explode
    of sample offsets against duration metadata, payload untouched — is the
    real distributed plan a video pipeline needs.
    """
    # valid frame offsets are [0, duration): F.sequence is inclusive of
    # its upper bound, so cap it at duration-1
    offsets = F.sequence(
        F.lit(0),
        F.greatest(
            F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)
        ),
        F.lit(every_ms),
    )
    return (
        df.filter(F.col("modality") == "video")
        .select(
            "asset_id",
            F.explode(offsets).alias("frame_offset_ms"),
            F.col("meta.size_bytes").alias("size_bytes"),
        )
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("resized_byte_sum", T.LongType()),
    ]
)


def resize_stride(
    df: DataFrame, factor: int = 4, real_codec: bool = False
) -> DataFrame:
    """Resize/downsample plumbing: payload → every ``factor``-th byte.

    A real image resize (decode → interpolate → re-encode) plugs in where
    ``_decode_payload`` gates on the codec; the deterministic byte-stride
    stand-in keeps the full distributed shape real — binary in, smaller
    binary out through an Arrow ``mapInPandas`` batch, new payload plus
    summary stats, nothing through the driver.
    """

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "asset_id": [],
                "modality": [],
                "payload": [],
                "resized_bytes": [],
                "resized_byte_sum": [],
            }
            for asset_id, modality, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                data = _decode_payload(bytes(payload), modality, real_codec)
                small = data[::factor]
                out["asset_id"].append(int(asset_id))
                out["modality"].append(modality)
                out["payload"].append(small)
                out["resized_bytes"].append(len(small))
                out["resized_byte_sum"].append(sum(small))
            yield pd.DataFrame(out)

    return df.mapInPandas(shrink, RESIZE_SCHEMA)
