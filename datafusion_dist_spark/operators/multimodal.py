"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB: store the raw bytes as a
``binary`` column (or a pointer into object storage) next to typed
metadata; run decode / feature-extraction as Arrow-batched Pandas UDFs
over ``mapInPandas`` so each task processes a columnar batch without
JVM→Python row churn.

The decode *libraries* (PIL/ffmpeg/...) are not in this container, so
the decoders are stubbed exactly as the build contract requires: the
Spark-side plumbing (schema, batch iteration, partitioning) is real and
tested; ``decode_image`` raises ``NotImplementedError`` unless the
deterministic fake decoder is requested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_dist_spark.operators.common import spread

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("header_hex", T.StringType(), True),
        T.StructField("byte_checksum", T.LongType(), True),
    ]
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Model a multimodal table: utf-8 bytes of ``text`` stand in for an
    opaque media payload, with typed metadata columns alongside."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
    )


def decode_image(payload: bytes):  # pragma: no cover - contract stub
    """Real decoder entry point. Image/audio libs are not available in
    this environment — stubbed per the build contract."""
    raise NotImplementedError(
        "media decoding requires an image/audio library not present in "
        "this environment; use extract_features(..., fake_decoder=True) "
        "for the deterministic test double"
    )


def extract_features(payloads: DataFrame, fake_decoder: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps the transfer columnar (one Arrow batch per
    task iteration); the fake decoder computes deterministic features
    (length, 4-byte header hex, byte checksum) so the plumbing has an
    exact oracle.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads carry no media: skip instead of crashing
            # the task on len(None).
            pdf = pdf[pdf["payload"].notna()]
            if not fake_decoder:
                pdf["payload"].map(decode_image)  # raises: real decoder absent
            payload = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payload.map(len).astype("int64"),
                    "header_hex": payload.map(lambda b: b[:4].hex()),
                    "byte_checksum": payload.map(
                        lambda b: sum(b[:64]) % 100000
                    ).astype("int64"),
                }
            )

    return spread(payloads).mapInPandas(_extract, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("out_bytes", T.LongType(), True),
        T.StructField("resized_md5", T.StringType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), True),
        T.StructField("frame_bytes", T.LongType(), True),
        T.StructField("frame_md5", T.StringType(), True),
    ]
)


def resize_images(payloads: DataFrame, max_bytes: int = 256) -> DataFrame:
    """Image resize plumbing: Arrow-batched mapInPandas, 1 row in →
    1 row out. The deterministic stand-in "resize" truncates the
    payload to ``max_bytes`` (a real pipeline calls PIL.thumbnail
    here; identical schema/batching/partitioning). Output is audit
    columns only (size + md5 of the resized bytes) so the DuckDB
    oracle verifies the Python path byte-for-byte."""
    import hashlib

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["payload"].notna()]  # no media -> no output row
            resized = pdf["payload"].map(lambda b: bytes(b)[:max_bytes])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_bytes": resized.map(len).astype("int64"),
                    "resized_md5": resized.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return spread(payloads).mapInPandas(_resize, RESIZE_SCHEMA)


def sample_frames(
    payloads: DataFrame, frame_size: int = 64, max_frames: int = 4
) -> DataFrame:
    """Video frame-sampling plumbing: 1 row in → N rows out through
    mapInPandas (the fan-out shape of ffmpeg keyframe extraction).
    The payload is treated as concatenated ``frame_size``-byte frames;
    every ceil(n_frames/max_frames)-th frame is emitted with audit
    columns (md5 + length), so sampling is deterministic and oracle-
    checkable."""
    import hashlib

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_md5": []}
            for doc, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None:
                    continue  # no media -> no frames
                b = bytes(b)
                if not b:
                    continue
                nf = (len(b) + frame_size - 1) // frame_size
                stride = (nf + max_frames - 1) // max_frames
                for i in range(0, nf, stride):
                    fr = b[i * frame_size : (i + 1) * frame_size]
                    out["doc_id"].append(doc)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(len(fr))
                    out["frame_md5"].append(hashlib.md5(fr).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int64"),
                    "frame_bytes": pd.Series(out["frame_bytes"], dtype="int64"),
                    "frame_md5": pd.Series(out["frame_md5"], dtype="object"),
                }
            )

    return spread(payloads).mapInPandas(_sample, FRAME_SCHEMA)


def perceptual_hash(
    payloads: DataFrame, bits: int = 16, window: int = 256
) -> DataFrame:
    """Deterministic pHash analog over opaque binary payloads: bit i is
    the parity of the byte-sum of the i-th ``window/bits``-byte chunk
    of the payload's first ``window`` bytes.

    A real image pHash reduces pixel blocks to sign bits after a
    decoder+DCT pass; with decoders stubbed (build contract), byte-
    chunk parities exercise the identical shape — Python computes the
    hash FROM THE BYTES in an Arrow-batched mapInPandas (exactly
    where the decoder would run), while the oracle recomputes it from
    the source text's character codes (the payload is UTF-8-encoded
    ASCII, so byte k == ascii(char k)).

    Output (doc_id, phash BIGINT) plugs straight into the SimHash
    Hamming-banding machinery (operators/dedup.py:
    simhash_hamming_pairs) — one sketch-pair pipeline serves text and
    media alike.
    """
    import pandas as pd

    chunk = window // bits

    def _hash(it):
        for pdf in it:
            pdf = pdf[pdf["payload"].notna()]
            def one(b: bytes) -> int:
                h = 0
                head = b[:window]
                for i in range(bits):
                    if sum(head[i * chunk : (i + 1) * chunk]) % 2:
                        h |= 1 << i
                return h
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "phash": pdf["payload"].map(one)}
            )

    return spread(payloads).mapInPandas(_hash, "doc_id long, phash long")
