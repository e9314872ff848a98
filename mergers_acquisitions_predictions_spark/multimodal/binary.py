"""Multimodal column plumbing (north-star op; no reference analogue).

Design: image/audio/video payloads are opaque `binary` columns with a
typed metadata struct alongside. Decode / feature-extraction runs as
Arrow-batched `mapInPandas` — the Spark-side contract (schema,
partitioning, batch iteration) is real and tested; the actual codec
calls are STUBBED because this container has no image/audio libraries
(`decode_image` raises NotImplementedError; `extract_features` uses a
deterministic byte-level fake so the dataflow is verifiable).

Scale notes: payloads never pass through Python row-at-a-time — Arrow
batches carry them; per-file work parallelizes by input split; the
metadata struct supports partition pruning (e.g. by format) without
touching payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Metadata carried next to every payload; matches what a real
#: ingest (ffprobe/PIL header sniff) would fill.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def attach_fake_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Test-fixture ingest: derive a deterministic binary payload from
    the text column plus a metadata struct. Stands in for reading real
    media files; everything downstream treats the bytes as opaque."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("media"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            F.pmod(F.crc32(payload), F.lit(1920)).cast("int").alias("width"),
            F.pmod(F.crc32(payload), F.lit(1080)).cast("int").alias("height"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):  # pragma: no cover - stub by design
    """STUB: real deployments plug PIL/libvips here. The container has
    no image codecs, and the engine's contract is the surrounding
    dataflow, not the codec."""
    raise NotImplementedError(
        "image decoding requires an image library (PIL/libvips); "
        "this environment ships none — plug a decoder in here"
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    media_df: DataFrame, frame_size: int = 256, every_n: int = 2
) -> DataFrame:
    """Frame sampling over opaque video-like payloads: one output row
    per SAMPLED frame (every ``every_n``-th ``frame_size``-byte
    window). The UDTF-shaped multimodal op — mapInPandas fans one
    input row out to N frame rows inside the Arrow batch, so payloads
    never round-trip through the driver and frame parallelism follows
    input splits. A real deployment replaces the byte-window slicer
    with a container demuxer (pyav/ffmpeg); the fan-out contract,
    schema, and batch shape are what this operator pins down."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame": []}
            for did, payload in zip(pdf["doc_id"], pdf["media"]):
                n_frames = (len(payload) + frame_size - 1) // frame_size
                for idx in range(0, n_frames, every_n):
                    out["doc_id"].append(did)
                    out["frame_idx"].append(idx)
                    out["frame"].append(payload[idx * frame_size : (idx + 1) * frame_size])
            yield pd.DataFrame(out)

    return media_df.select("doc_id", "media").mapInPandas(_frames, schema=FRAME_SCHEMA)


def extract_features(media_df: DataFrame, batch_feature_dim: int = 8) -> DataFrame:
    """Feature extraction over binary payloads via `mapInPandas`:
    Arrow batches in, one feature row per payload out. The feature
    computation is a deterministic byte-histogram fake standing in for
    a real embedding model — swap `_featurize_batch` for the model
    call; the Spark plumbing (schema, batching, parallelism) is what
    this operator provides."""

    def _featurize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["media"]
            n_bytes = payloads.map(len)
            byte_mean = payloads.map(
                lambda b: float(sum(b)) / len(b) if len(b) else 0.0
            )
            feats = payloads.map(
                lambda b: [
                    float(sum(1 for x in b if x % batch_feature_dim == k))
                    for k in range(batch_feature_dim)
                ]
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "byte_mean": byte_mean,
                    "feature": feats,
                }
            )

    return media_df.select("doc_id", "media").mapInPandas(
        _featurize_batch, schema=FEATURE_SCHEMA
    )
