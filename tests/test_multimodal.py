from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import multimodal as M

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)


def media_df(spark):
    rows = [
        (1, "image", bytearray(b"imgbytes-1"), ("image/png", 64, 64, None, None)),
        (2, "image", bytearray(b"imgbytes-2"), ("image/png", 32, 32, None, None)),
        (3, "video", bytearray(b"vidbytes"), ("video/mp4", 640, 480, 3500, None)),
        (4, "audio", None, ("audio/wav", None, None, 2000, None)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_pil_available(), reason="PIL present: real decode works")
def test_decode_stub_raises_without_fake(spark):
    with pytest.raises(NotImplementedError):
        M.decode_image_features(media_df(spark))


@pytest.mark.skipif(not _pil_available(), reason="PIL not in this container")
def test_real_decode_end_to_end(spark):
    """Runs automatically the day the environment gains PIL: real PNG
    payloads through the fake=False path — decoded 4x4 grayscale
    thumbnail features, undecodable payloads to the zero vector."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    rows = [
        (1, "image", bytearray(buf.getvalue()), ("image/png", 8, 8, None, None)),
        (2, "image", bytearray(b"not-an-image"), ("image/png", 0, 0, None, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r["features"] for r in M.decode_image_features(df).collect()}
    assert len(out[1]) == M.FEATURE_DIM
    assert all(abs(v - 128 / 255.0) < 1e-6 for v in out[1])
    assert out[2] == [0.0] * M.FEATURE_DIM


def test_fake_decode_deterministic_shape(spark):
    out = M.decode_image_features(media_df(spark), fake=True)
    rows = {r["media_id"]: r for r in out.collect()}
    assert out.schema == M.FEATURES_SCHEMA
    assert len(rows[1]["features"]) == M.FEATURE_DIM
    assert rows[1]["features"] != rows[2]["features"]  # payload-dependent
    # deterministic across runs
    again = {r["media_id"]: r for r in M.decode_image_features(media_df(spark), fake=True).collect()}
    assert rows[1]["features"] == again[1]["features"]
    assert rows[4]["features"] is None  # null payload has no features


def test_metadata_only_query_does_not_read_payload(spark, tmp_path):
    """Columnar discipline: a meta-only projection must not scan the
    payload column (check the optimized plan's ReadSchema)."""
    path = str(tmp_path / "media")
    media_df(spark).write.parquet(path)
    df = spark.read.parquet(path).select("media_id", "meta.width")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan


def test_frame_sample_plan(spark):
    out = M.frame_sample_plan(media_df(spark)).collect()
    assert len(out) == 1  # only the video row
    assert out[0]["frame_ts_ms"] == [0, 1000, 2000]  # 3500ms -> 3 frames


def test_media_from_documents_contract(spark):
    docs = spark.createDataFrame(
        [(0, "hello world", "en", "web", 11), (1, "bonjour", "fr", "web", 7)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    media = M.media_from_documents(docs)
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[0]["kind"] == "image" and rows[1]["kind"] == "audio"
    assert bytes(rows[0]["payload"]) == b"hello world"
    assert rows[0]["meta"]["n_bytes"] == 11
    assert rows[0]["meta"]["mime"] == "image/png"
    feats = M.decode_image_features(media, fake=True).collect()
    assert all(len(r["features"]) == M.FEATURE_DIM for r in feats)


def test_resize_plan_fit_within_and_no_upscale(spark):
    docs = spark.createDataFrame(
        [(0, "img one", "en", "web", 7), (3, "img two", "en", "web", 7),
         (1, "audio", "en", "web", 5)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    media = M.media_from_documents(docs)
    out = {r["media_id"]: r for r in M.resize_plan(media).collect()}
    assert set(out) == {0, 3}  # only image rows (doc_id % 3 == 0)
    for r in out.values():
        assert max(r["out_width"], r["out_height"]) <= 224
        assert r["out_width"] <= r["width"] and r["out_height"] <= r["height"]
    # doc 0: 64x48 fits already -> unchanged (no upscale)
    assert (out[0]["out_width"], out[0]["out_height"]) == (64, 48)


def test_phash_twins_and_pigeonhole_recall(spark):
    """Identical payloads must pair at distance 0, and a fingerprint
    differing in exactly max_hamming bits must still be FOUND by the
    banded join (pigeonhole guarantee), while >max_hamming must not."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import dedup, multimodal

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "other text")],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    )
    fp = multimodal.phash63(multimodal.media_from_documents(docs))
    vals = {r.media_id: r.phash for r in fp.collect()}
    near = vals[1] ^ 0b1011011  # flip 5 low bits
    far = vals[1] ^ ((1 << 9) - 1)  # flip 9 bits
    fp2 = spark.createDataFrame(
        [(k, v) for k, v in vals.items()] + [(10, near), (11, far)],
        "media_id long, phash long",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_hamming_pairs(
            fp2, "media_id", sim_col="phash", max_hamming=6, bits=63
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 10)] == 5 and pairs[(2, 10)] == 5
    assert (1, 11) not in pairs
