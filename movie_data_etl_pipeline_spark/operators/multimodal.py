"""Multimodal column plumbing (north-star extension, SURVEY.md §2.9).

Images / audio / video are carried as opaque ``binary`` columns plus a
typed metadata struct — the lakehouse-standard encoding (one row per
asset, bytes inline or as object-store pointers). The Spark-side
plumbing here is real and tested: schemas, Arrow-batched ``mapInPandas``
signatures, partition-size control. The actual codec work (JPEG decode,
resampling, frame extraction) needs image/audio libraries that are NOT in
this container, so those kernels are stubbed: ``decode_fake`` is a
deterministic stand-in; ``decode_real`` raises ``NotImplementedError``
with the intended implementation documented.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata struct carried next to every binary payload.
ASSET_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image | audio | video
        T.StructField("format", T.StringType()),        # jpeg | png | wav | mp4 ...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", ASSET_META),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("feat_dim", T.IntegerType()),
    ]
)


def synthesize_assets(docs: DataFrame, media_type: str = "image") -> DataFrame:
    """Build an asset table from ``documents`` — deterministic fake
    payloads (utf-8 bytes of the text) with populated metadata. Stands in
    for ``spark.read.format("binaryFile")`` over an object store, which
    is the real ingestion path at scale."""
    payload = F.encode(F.col("text"), "utf-8")
    is_video = media_type == "video"
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit("fake").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            # video assets get a deterministic duration derived from the
            # payload size (10 ms per byte) so time-based operators have
            # real metadata to work against
            (
                (F.length(payload).cast("long") * 10) if is_video
                else F.lit(None).cast("long")
            ).alias("duration_ms"),
            F.length(payload).cast("long").alias("size_bytes"),
        ).alias("meta"),
    )


def decode_real(payload: bytes, fmt: str) -> object:
    """Real decode kernel — requires Pillow / soundfile / PyAV, none of
    which ship in this container.

    Intended implementation (public-API sketch)::

        from PIL import Image; import io
        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))

    Raises until a codec library is available."""
    raise NotImplementedError(
        "codec libraries (Pillow/soundfile/PyAV) not available in this "
        "environment; use decode_fake for the tested plumbing path"
    )


def decode_fake(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in decoder: sha256 of the payload expanded to
    ``dim`` floats in [0, 1). Same bytes → same feature, across runs and
    executors — lets every downstream stage be tested for real."""
    out: list[float] = []
    counter = 0
    while len(out) < dim:
        h = hashlib.sha256(payload + counter.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 for b in h)
        counter += 1
    return out[:dim]


def extract_features(assets: DataFrame, dim: int = 16, batch_size_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` is the right shape for codec work: the Python worker
    receives columnar Arrow batches (bytes stay off the JVM heap), each
    batch is processed vectorized, and the output schema is declared so
    Catalyst can keep optimizing downstream. At scale, partition count
    (not batch size) controls codec parallelism — repartition upstream to
    ~(total cores) before calling this."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_fake(p, dim) if p is not None else None for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "feature": feats,
                    "feat_dim": [dim if f is not None else None for f in feats],
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling as metadata-driven row expansion — no decode in
    the plan: one row per sampled timestamp via
    ``explode(sequence(0, duration_ms, every_ms))``, all JVM-side.
    The per-frame pixel extraction (the codec kernel) happens *after*
    this, on the already-expanded rows, via the same ``mapInPandas``
    shape as ``extract_features`` — so the expensive stage sees exactly
    the frames it must decode and nothing else. At 100 TB, sampling
    before decoding is the difference between decoding 1% and 100% of
    the corpus."""
    return assets.filter(F.col("meta.media_type") == "video").select(
        "asset_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.col("meta.duration_ms"),
                F.lit(every_ms).cast("long"),
            )
        ).alias("frame_ts_ms"),
    )


def asset_stats(assets: DataFrame) -> DataFrame:
    """Per-media-type size profile — pure columnar exprs over the
    metadata struct (no decode needed): the cheap-scan path a curation
    pipeline uses to budget the expensive decode stage."""
    return (
        assets.groupBy(F.col("meta.media_type").alias("media_type"))
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("meta.size_bytes").alias("total_bytes"),
            (F.sum("meta.size_bytes").cast("double") / F.count(F.lit(1))).alias("avg_bytes"),
            F.max("meta.size_bytes").alias("max_bytes"),
        )
        .orderBy("media_type")
    )
