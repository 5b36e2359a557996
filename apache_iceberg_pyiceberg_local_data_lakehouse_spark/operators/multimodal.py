"""Multimodal columns (SURVEY.md X5): image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched Pandas UDFs.

Design (all Spark-side plumbing real and tested; the *codec* layer is
stubbed because no image/audio libraries exist in this container):

- Storage: ``binary`` content column + metadata struct (mime, width, ...)
  co-resident with scalar columns in lakehouse tables - binary columns
  are ordinary parquet BYTE_ARRAY, so partitioning/stats/compaction all
  apply unchanged.
- Compute: ``mapInPandas`` with an explicit output schema - Arrow moves
  the bytes executor-side in batches; Python touches each batch once.
  This is the UDF shape every real decoder (PIL/libav/decord) plugs into.
- The deterministic fake "decoder" lets tests pin batch shapes, schema
  contracts and partition behavior without the real libs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("feature_hash", StringType()),
    ]
)


def _decode_real(content: bytes) -> tuple[int, int]:
    """Real decode path - requires an imaging library.

    STUB: this container ships no codec libs; a deployment installs
    Pillow/torchvision and replaces the body with
    ``PIL.Image.open(io.BytesIO(content)).size``."""
    raise NotImplementedError(
        "image codec not available in this environment; "
        "install Pillow and wire it here"
    )


def _decode_fake(content: bytes) -> tuple[int, int]:
    """Deterministic fake: derives a stable (width, height) from the
    bytes so plumbing tests are reproducible without codecs."""
    h = int.from_bytes(content[:4].ljust(4, b"\0"), "little")
    return (h % 1920) + 1, (h % 1080) + 1


def decode_binary_metadata(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    mime_col: str = "mime",
    use_real_codec: bool = False,
) -> DataFrame:
    """Extract typed metadata from a binary column via mapInPandas.

    One Arrow batch in, one pandas frame out - the canonical multimodal
    UDF shape. Output schema is fixed (DECODED_SCHEMA) so downstream
    plans are stable regardless of codec availability."""
    import hashlib

    decode = _decode_real if use_real_codec else _decode_fake

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf[id_col].astype(str),
                "mime": pdf[mime_col] if mime_col in pdf else "application/octet-stream",
                "n_bytes": pdf[content_col].map(len),
            }
            dims = pdf[content_col].map(decode)
            out["width"] = dims.map(lambda d: d[0])
            out["height"] = dims.map(lambda d: d[1])
            out["feature_hash"] = pdf[content_col].map(
                lambda b: hashlib.sha256(b).hexdigest()[:16]
            )
            yield pd.DataFrame(out)

    return df.mapInPandas(process, DECODED_SCHEMA)


def frame_sample_plan(
    df: DataFrame, content_col: str = "content", every_n: int = 30
) -> DataFrame:
    """Video frame-sampling *plan* - emits (doc_id, frame_index) rows for
    each sampled frame. The actual pixel extraction is the stubbed codec;
    the row-explosion plumbing (what partitions, what schema) is real."""
    n_frames = (F.octet_length(F.col(content_col)) / 1024).cast("int") + 1
    return df.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_index"),
    )


def attach_binary(
    df: DataFrame, text_col: str = "text", mime: str = "text/plain"
) -> DataFrame:
    """Test helper: synthesize a binary content column from a string
    column (the fixtures ship no real media bytes)."""
    return df.withColumn("content", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "mime", F.lit(mime)
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("target_w", IntegerType()),
        StructField("target_h", IntegerType()),
        StructField("resized", BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    target: tuple[int, int] = (224, 224),
    content_col: str = "content",
    id_col: str = "doc_id",
    use_real_codec: bool = False,
) -> DataFrame:
    """Image resize stage as a mapInPandas batch transform (X5).

    The pixel work is the stubbed codec layer (a real deployment plugs
    PIL/torchvision into the lambda); the Spark-side contract - binary
    in, fixed (target_w, target_h, binary) out, Arrow-batched - is real
    and tested. The deterministic fake emits a truncated/padded byte
    payload sized w*h/64 so tests can assert batch shapes."""

    def process(batches):
        import pandas as pd

        w, h = target
        for pdf in batches:
            if use_real_codec:
                raise NotImplementedError(
                    "image codec not available in this environment; "
                    "install Pillow and wire the resize here"
                )
            size = max(1, w * h // 64)
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype(str),
                    "target_w": w,
                    "target_h": h,
                    "resized": pdf[content_col].map(
                        lambda b: bytes(b[:size]).ljust(size, b"\0")
                    ),
                }
            )
            yield out

    return df.mapInPandas(process, RESIZED_SCHEMA)
