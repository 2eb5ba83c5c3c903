"""Multimodal (image/audio/video) column plumbing.

Beyond-reference surface (driver mandate): treat media as opaque ``binary``
columns with typed metadata; decode / feature-extract and text chunking
run as Arrow-batched Pandas functions over ``mapInPandas``.

The container has no image/audio libraries, so the *decode kernels* are
stubbed exactly as mandated: ``decode_media`` raises ``NotImplementedError``
unless a real decoder is injected, and :func:`fake_features` is the
deterministic stand-in used by tests. Everything Spark-side — schema,
partition sizing, UDF signatures, Arrow batch shape — is real and tested.

Scale notes: media rows are huge (MBs) — ``media_batch_rows`` keeps Arrow
batches bounded; keep binary columns OUT of shuffle keys; store media in
parquet with metadata columns first so metadata-only queries never touch
the blob pages (parquet column pruning).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical media schema: metadata first (prunable), blob last.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("content", T.BinaryType(), True),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)

Decoder = Callable[[bytes, str], list[float]]


def decode_media(content: bytes, media_type: str) -> list[float]:
    """Real decoder entry point — STUB.

    Decoding image/audio/video requires codec libraries not present in this
    environment. Inject a real decoder into :func:`extract_features`
    instead, or use :func:`fake_features` for plumbing tests.
    """
    raise NotImplementedError(
        "media decoding requires codec libraries (PIL/ffmpeg/torchaudio); "
        "inject a decoder via extract_features(decoder=...)"
    )


def fake_features(content: bytes, media_type: str) -> list[float]:
    """Deterministic stand-in decoder: FEATURE_DIM doubles derived from the
    sha256 of the payload — stable across engines/runs, so the distributed
    plumbing can be verified end-to-end without codecs."""
    digest = hashlib.sha256(content or b"").digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / float(0xFFFFFFFF)
        for i in range(FEATURE_DIM)
    ]


def extract_features(
    df: DataFrame,
    decoder: Decoder | None = None,
    batch_rows: int = 64,
) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas``.

    Arrow streams ``batch_rows``-sized record batches into Python; each
    batch yields one output frame — constant memory regardless of partition
    size, which is what keeps 100 TB of media from OOMing the Python
    workers. Metadata (n_bytes, sha256) is computed even when the decode
    kernel is stubbed.
    """
    decode = decoder or decode_media

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                contents = [bytes(c) if c is not None else b"" for c in chunk["content"]]
                out = pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "media_type": chunk["media_type"].values,
                        "n_bytes": [len(c) for c in contents],
                        "sha256": [hashlib.sha256(c).hexdigest() for c in contents],
                        "features": [
                            decode(c, t)
                            for c, t in zip(contents, chunk["media_type"])
                        ],
                    }
                )
                yield out

    return df.mapInPandas(_run, schema=FEATURES_SCHEMA)


def documents_as_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Adapter used by tests/bench: wrap the driver ``documents`` table as
    fake media rows (utf-8 payload bytes) matching MEDIA_SCHEMA."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("media_type"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
    )


CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
        T.StructField("n_chars", T.IntegerType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
    ]
)


def chunk_text_media(
    df: DataFrame,
    id_col: str = "media_id",
    text_col: str = "text",
    chunk_chars: int = 256,
) -> DataFrame:
    """Fixed-window chunking of text payloads via ``mapInPandas`` — the
    plumbing pattern for audio/video segmenting (windows of a big payload
    → per-chunk rows with content hashes), runnable without codecs because
    the payload here is text. Windows are counted in characters (hashes
    taken over the UTF-8 bytes), so the operation is exactly portable to
    the SQL oracle, which lacks byte-level blob slicing.

    Every document yields ≥ 1 chunk (an empty doc yields one empty chunk —
    downstream joins never lose rows). Constant memory per Arrow batch; at
    media scale, chunking early and dropping the parent blob keeps shuffle
    rows bounded by ``chunk_chars``, not by the original payload size.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ncs, nbs, hashes = [], [], [], [], []
            for mid, text in zip(pdf[id_col], pdf[text_col]):
                s = text or ""
                chunks = [
                    s[i : i + chunk_chars] for i in range(0, len(s), chunk_chars)
                ] or [""]
                for j, chunk in enumerate(chunks):
                    raw = chunk.encode("utf-8")
                    ids.append(mid)
                    idxs.append(j)
                    ncs.append(len(chunk))
                    nbs.append(len(raw))
                    hashes.append(hashlib.sha256(raw).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "chunk_index": pd.Series(idxs, dtype="int32"),
                    "n_chars": pd.Series(ncs, dtype="int32"),
                    "n_bytes": pd.Series(nbs, dtype="int64"),
                    "sha256": pd.Series(hashes, dtype="object"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _run, schema=CHUNKS_SCHEMA
    )
