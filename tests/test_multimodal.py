"""Multimodal binary-column plumbing (driver-mandated; decode stubbed)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from datapipelines_essentials_python_spark.operators import multimodal as mm


@pytest.fixture
def media(spark):
    rows = [
        (1, "image", b"fake-image-bytes"),
        (2, "video", b"fake-video-bytes"),
    ]
    df = spark.createDataFrame(rows, "media_id long, media_type string, content binary")
    return df.select(
        "media_id",
        "media_type",
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.when(F.col("media_type") == "video", F.lit(3500)).cast("long").alias("duration_ms"),
        "content",
    )


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        mm.decode_media(b"x", "image")


def test_extract_features_with_fake_decoder(spark, media):
    out = mm.extract_features(media, decoder=mm.fake_features).collect()
    by_id = {r["media_id"]: r for r in out}
    assert by_id[1]["n_bytes"] == len(b"fake-image-bytes")
    assert by_id[1]["sha256"] == hashlib.sha256(b"fake-image-bytes").hexdigest()
    assert len(by_id[1]["features"]) == mm.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in by_id[1]["features"])
    # deterministic across runs
    again = {r["media_id"]: r["features"] for r in mm.extract_features(media, decoder=mm.fake_features).collect()}
    assert again[1] == by_id[1]["features"]


def test_extract_features_default_decoder_fails_loudly(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        mm.extract_features(media).collect()


def test_documents_as_media_schema(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    media = mm.documents_as_media(docs)
    assert [f.name for f in media.schema.fields] == [f.name for f in mm.MEDIA_SCHEMA.fields]


def test_chunk_text_media(spark):
    from datapipelines_essentials_python_spark.operators.multimodal import chunk_text_media
    import hashlib

    df = spark.createDataFrame(
        [(1, "a" * 600), (2, "short"), (3, "")],
        "media_id long, text string",
    )
    rows = chunk_text_media(df, chunk_chars=256).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert [r["n_chars"] for r in sorted(by_id[1], key=lambda r: r["chunk_index"])] == [256, 256, 88]
    assert len(by_id[2]) == 1 and by_id[2][0]["n_bytes"] == 5
    # empty payload still yields one (empty) chunk
    assert len(by_id[3]) == 1 and by_id[3][0]["sha256"] == hashlib.sha256(b"").hexdigest()
