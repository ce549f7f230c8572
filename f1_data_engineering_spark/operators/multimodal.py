"""Multimodal-column plumbing (beyond-reference training-data scope).

Media (image/audio/video) is modeled as opaque ``binary`` columns with
typed metadata alongside — the lakehouse pattern for multimodal
training data.  The Spark-side plumbing (schemas, batch shapes,
``mapInPandas`` UDF signatures, partition behavior) is real and tested;
the actual codec work is stubbed (no image/audio libs in this
container) behind a deterministic fake + ``NotImplementedError``.

Scale notes: binary payloads ride the scan (Parquet keeps them
column-separate, so metadata-only queries never read bytes); decode
runs as Arrow-batched ``mapInPandas`` — the one legitimately-Python
stage — sized by ``spark.sql.files.maxPartitionBytes`` so a batch of
decoded frames fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.registry import load_table

#: Schema of a decoded-media feature batch (what a real decoder emits).
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column: byte length +
    content digest.  Bytes are synthesized from documents.text (the
    container has no media files); the query shape — project binary →
    compute metadata, no decode — is the production scan pattern."""
    d = load_table(spark, sf_dir, "documents")
    blob = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.sha2(blob, 256).alias("sha256_hex"),
    ).orderBy("doc_id")


ORACLE_BLOB_METADATA = """
SELECT doc_id,
  CAST(strlen(text) AS BIGINT) AS n_bytes,
  sha256(text) AS sha256_hex
FROM documents ORDER BY doc_id
"""


def decode_media_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake decoder for one Arrow batch.

    A real implementation would call PIL/ffmpeg here; the container has
    neither, so dimensions/luma derive deterministically from the bytes
    (stable across runs and engines).  Replace the body — not the
    signature — to productionize.
    """
    # NULL blob ⇒ empty bytes (the repo-wide NULL-text convention:
    # missing media metadata-processes like a zero-byte payload
    # instead of crashing the batch — found by the differential fuzzer
    # on a NULL-text corpus)
    n_bytes = batch["blob"].map(lambda v: len(v) if v is not None else 0)
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"],
            "n_bytes": n_bytes.astype("int64"),
            "width": (n_bytes % 1920 + 1).astype("int32"),
            "height": (n_bytes % 1080 + 1).astype("int32"),
            "mean_luma": (n_bytes % 256).astype("float64") / 255.0,
        }
    )


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode stage: (doc_id, blob) → DECODED_SCHEMA.

    ``mapInPandas`` streams column batches through Python once —
    the only Python hop in the pipeline; everything downstream is
    JVM-side again.
    """

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield decode_media_batch(b)

    return df.mapInPandas(_gen, DECODED_SCHEMA)


def decode_media_real(df: DataFrame) -> DataFrame:
    """Production decoder entry point — requires codec libraries that
    are not available in this environment."""
    raise NotImplementedError(
        "media codecs (PIL/ffmpeg) are not installed in this container; "
        "use decode_media() which runs the same plumbing with a "
        "deterministic fake decoder"
    )


#: Schema of a sampled video frame row (one row per kept frame).
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)

#: Dimension of the fake extracted feature vector.
FEATURE_DIM = 8


def sample_frames(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling stage for video blobs: one input row (doc_id,
    blob) → one OUTPUT ROW PER KEPT FRAME (stride sampling, frame 0
    always kept).

    mapInPandas is the right operator because the cardinality CHANGES
    (1 → n_frames/stride rows); a scalar pandas_udf cannot do that.
    The fake "demux" derives a frame count and per-frame digest from
    the bytes (deterministic, engine-independent); a real
    implementation would call ffmpeg per batch with the identical
    signature and output schema.

    Scale: output rows carry digests/indices, not frame bytes — frame
    payloads at 100 TB should be written column-separate by a
    downstream sink, never multiplied through a shuffle.
    """
    import hashlib

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_idx": [],
                "n_frames": [],
                "frame_digest": [],
            }
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                # NULL blob ⇒ empty bytes (repo NULL-text convention)
                raw = bytes(blob) if blob is not None else b""
                n_frames = len(raw) // 16 + 1  # fake demux: 16 B / frame
                for idx in range(0, n_frames, every_nth):
                    h = hashlib.sha256(raw + idx.to_bytes(8, "big")).hexdigest()
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["n_frames"].append(n_frames)
                    out["frame_digest"].append(h[:16])
            yield pd.DataFrame(out)

    return df.mapInPandas(_gen, FRAME_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extraction stage: (doc_id, blob) → (doc_id,
    embedding: array<double>) — the bridge from multimodal blobs into
    the similarity operators (ANN / near-dup / centroids run unchanged
    on the output).

    The fake extractor derives FEATURE_DIM floats in [-1, 1) from the
    sha256 of the bytes — deterministic and uniform-ish, so downstream
    LSH bucketing behaves like it would on real model output.  Swap
    the body (not the signature) for a real vision/audio encoder;
    batch-at-a-time is exactly the shape model inference wants.
    """
    import hashlib

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            embs = []
            for blob in b["blob"]:
                digest = hashlib.sha256(
                    bytes(blob) if blob is not None else b""
                ).digest()
                embs.append(
                    [
                        int.from_bytes(digest[4 * i : 4 * i + 4], "big")
                        / 2**31
                        - 1.0
                        for i in range(FEATURE_DIM)
                    ]
                )
            yield pd.DataFrame({"doc_id": b["doc_id"], "embedding": embs})

    return df.mapInPandas(_gen, schema)


def frame_sample_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked census of the frame-sampling stage: per doc, the
    demuxed frame count and how many frames the stride sampler kept.

    The Spark side runs the REAL ``mapInPandas`` path (Arrow batches,
    cardinality-changing Python demux); the DuckDB oracle recomputes
    the same counts in closed form (n_frames = bytes//16 + 1, kept =
    ceil(n_frames/stride)) — so the Python plumbing itself is under the
    differential gate, not just pytest.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("blob")
    )
    fr = sample_frames(d, every_nth=10)
    return (
        fr.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("n_frames").alias("n_frames"),
        )
        .orderBy("doc_id")
    )


ORACLE_FRAME_CENSUS = """
SELECT doc_id,
  CAST((COALESCE(strlen(text), 0) // 16 + 1 + 9) // 10 AS BIGINT) AS n_sampled,
  CAST(COALESCE(strlen(text), 0) // 16 + 1 AS BIGINT) AS n_frames
FROM documents ORDER BY doc_id
"""


#: Schema of the resize stage output.
RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("dst_width", T.IntegerType()),
        T.StructField("dst_height", T.IntegerType()),
        T.StructField("scale", T.DoubleType()),
        T.StructField("resized_digest", T.StringType()),
    ]
)


def resize_images(df: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize stage: (doc_id, blob) → aspect-preserving target geometry
    + digest of the (fake) resampled payload.  The geometry math —
    scale = max_side / longest side, never upscale — is the real
    preprocessing contract; the pixel resample is the stubbed part
    (sha256 of bytes+geometry stands in for the resampled buffer).

    Scale shape: pure mapInPandas over (doc_id, blob); the resized
    payload would be WRITTEN column-separate by the next sink, never
    shuffled (same rule as frames).
    """
    import hashlib

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "src_width", "src_height",
                "dst_width", "dst_height", "scale", "resized_digest",
            )}
            for doc_id, blob in zip(b["doc_id"], b["blob"]):
                raw = bytes(blob) if blob is not None else b""
                n = len(raw)
                # fake decode: same dimension derivation as decode_media
                sw, sh = n % 1920 + 1, n % 1080 + 1
                scale = min(1.0, max_side / max(sw, sh))
                dw = max(1, int(sw * scale))
                dh = max(1, int(sh * scale))
                digest = hashlib.sha256(
                    raw + dw.to_bytes(4, "big") + dh.to_bytes(4, "big")
                ).hexdigest()[:16]
                out["doc_id"].append(doc_id)
                out["src_width"].append(sw)
                out["src_height"].append(sh)
                out["dst_width"].append(dw)
                out["dst_height"].append(dh)
                out["scale"].append(round(scale, 6))
                out["resized_digest"].append(digest)
            yield pd.DataFrame(out)

    return df.mapInPandas(_gen, RESIZED_SCHEMA)


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    blob_metadata: ORACLE_BLOB_METADATA,
    frame_sample_census: ORACLE_FRAME_CENSUS,
}
