"""Multimodal column plumbing (SURVEY.md §2 B11).

Image/audio/video payloads are opaque `binary` columns with a typed
metadata struct; decode / feature-extract run as Arrow-batched
`mapInPandas` transforms. The real codec libraries are not in this
container, so the DECODE step itself is stubbed: `extract_features`
derives (width, height, n_frames) deterministically from the first
payload bytes, the same cost shape as a real header parse. Everything
around the stub — schema, binary handling, Arrow batch shape,
partitioning — is real and tested.

Scale posture (100 TB):
- Binary payloads ride in the same parquet row groups as their metadata;
  column pruning means metadata-only queries never read the blobs.
- `mapInPandas` streams Arrow batches; peak executor memory is one batch
  of blobs, bounded by spark.sql.execution.arrow.maxRecordsPerBatch —
  tune it down for large media (e.g. 64) so a batch of 100 MB videos
  doesn't OOM an executor.
- Feature extraction is per-row (no shuffle); repartition only to right-
  size tasks for decode cost, not for data movement.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_TYPES = ("image", "audio", "video")

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("byte_len", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("checksum16", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def attach_fake_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic media table derived from `documents`: the UTF-8
    bytes of the text stand in for an encoded payload; media_type cycles
    by doc_id. Models the real layout: (id, type, blob, size)."""
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % len(MEDIA_TYPES) + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.octet_length(F.col(text_col)).cast("long").alias("byte_len"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column via
    mapInPandas: byte length, a 16-byte prefix checksum, and the
    (stub-)decoded dimensions. The pandas function is pure and per-row;
    Spark pipelines it after the scan with no shuffle.

    The closure is deliberately SELF-CONTAINED (no references to
    module-level names): Spark Python workers do not inherit the
    driver's sys.path, so a closure that references this module by name
    fails to unpickle when the driver process found the engine via a
    path entry. Nested defs are pickled by value; the decode stub is
    therefore inlined here."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def decode_meta(payload, media_type):
            b0 = payload[0] if len(payload) > 0 else 0
            b1 = payload[1] if len(payload) > 1 else 0
            b2 = payload[2] if len(payload) > 2 else 0
            frames = 1 + (b2 % 30) if media_type == "video" else 1
            return 1 + (b0 % 64), 1 + (b1 % 64), frames

        for pdf in it:
            payloads = pdf["payload"]
            meta = [
                decode_meta(p, t) for p, t in zip(payloads, pdf["media_type"])
            ]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": [len(p) for p in payloads],
                    "checksum16": [sum(p[:16]) for p in payloads],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "n_frames": [m[2] for m in meta],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling plumbing stub: emits one row per sampled "frame"
    (every_n_bytes-th byte offset) per video payload — the exploded
    (doc_id, frame_idx, frame_bytes) shape a real video pipeline
    produces. Byte slicing stands in for frame extraction."""
    frame_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "frame_idx": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx, off in enumerate(
                    range(0, len(payload), every_n_bytes)
                ):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["frame_bytes"].append(
                        bytes(payload[off : off + every_n_bytes])
                    )
            yield pd.DataFrame(rows)

    videos = media.filter(F.col("media_type") == "video")
    return videos.mapInPandas(batches, schema=frame_schema)


def resize_media(
    media: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Resize plumbing for image/video payloads via mapInPandas:
    (doc_id, media_type, payload, width, height) with the payload
    re-encoded at the target dimensions. The PIXEL work is the
    documented stub (a real pipeline decodes, PIL/ffmpeg-resizes,
    re-encodes — those libs are absent here): the stand-in
    deterministically subsamples the payload bytes to
    target_w × target_h "pixels" using the same stride rule a
    nearest-neighbor downsample applies to rows, so output size is
    exactly the target area (padded with zeros for short payloads) and
    identical across engines/partitionings.

    The Spark-side shape is the real one: audio rows pass through
    untouched (resize applies to visual media only), the transform is
    per-row with no shuffle, and peak memory is one Arrow batch of
    payloads — cap spark.sql.execution.arrow.maxRecordsPerBatch for
    large media, exactly as extract_features documents."""

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )
    area = target_w * target_h

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def fake_resize(payload: bytes) -> bytes:
            n = len(payload)
            if n == 0:
                return bytes(area)
            # nearest-neighbor stride over the byte stream; pad short
            # payloads with zeros so the output is always area bytes
            out = bytes(payload[(i * n) // area] for i in range(min(area, n)))
            return out + bytes(area - len(out))

        for pdf in it:
            visual = [t in ("image", "video") for t in pdf["media_type"]]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload": [
                        fake_resize(p) if v else bytes(p)
                        for p, v in zip(pdf["payload"], visual)
                    ],
                    "width": [target_w if v else 0 for v in visual],
                    "height": [target_h if v else 0 for v in visual],
                }
            )

    return media.mapInPandas(batches, schema=out_schema)
