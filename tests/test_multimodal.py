"""Multimodal plumbing tests: binary column schema, Arrow batch shape,
mapInPandas decode stage with the deterministic fake decoder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.operators.multimodal import (
    DECODED_SCHEMA,
    decode_media,
    decode_media_real,
)


@pytest.fixture()
def media_df(spark):
    rows = [(i, bytes([i % 251]) * (100 + i)) for i in range(50)]
    return spark.createDataFrame(rows, schema="doc_id long, blob binary")


def test_decode_media_schema_and_values(spark, media_df):
    out = decode_media(media_df)
    assert out.schema == DECODED_SCHEMA
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 50
    r = got[7]
    assert r["n_bytes"] == 107
    assert r["width"] == 107 % 1920 + 1
    assert r["height"] == 107 % 1080 + 1
    assert r["mean_luma"] == pytest.approx((107 % 256) / 255.0)


def test_decode_media_distributed(spark, media_df):
    # the decode must run per-partition (no driver collect): repartition
    # and check results are partition-invariant
    a = sorted(decode_media(media_df).collect())
    b = sorted(decode_media(media_df.repartition(7)).collect())
    assert a == b


def test_decode_media_real_is_stubbed(spark):
    with pytest.raises(NotImplementedError):
        decode_media_real(None)


def test_binary_survives_parquet_roundtrip(spark, media_df, tmp_path):
    p = str(tmp_path / "media")
    media_df.write.parquet(p)
    back = spark.read.parquet(p)
    assert dict(back.dtypes)["blob"] == "binary"
    orig = {r["doc_id"]: r["blob"] for r in media_df.collect()}
    got = {r["doc_id"]: r["blob"] for r in back.collect()}
    assert orig == got


def test_sample_frames_stride_and_determinism(spark, media_df):
    from f1_data_engineering_spark.operators.multimodal import (
        FRAME_SCHEMA,
        sample_frames,
    )

    out = sample_frames(media_df, every_nth=4)
    assert out.schema == FRAME_SCHEMA
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 7: 107 bytes -> 107//16+1 = 7 frames -> kept 0 and 4
    assert sorted(r["frame_idx"] for r in by_doc[7]) == [0, 4]
    assert all(r["n_frames"] == 7 for r in by_doc[7])
    # cardinality change is partition-invariant
    again = sorted(
        (r["doc_id"], r["frame_idx"], r["frame_digest"])
        for r in sample_frames(media_df.repartition(7), every_nth=4).collect()
    )
    assert again == sorted((r["doc_id"], r["frame_idx"], r["frame_digest"]) for r in rows)


def test_extract_features_feeds_similarity(spark, media_df):
    from f1_data_engineering_spark.functions.vectors import cosine_similarity
    from f1_data_engineering_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    feats = extract_features(media_df)
    rows = feats.collect()
    assert all(len(r["embedding"]) == FEATURE_DIM for r in rows)
    assert all(-1.0 <= x < 1.0 for r in rows for x in r["embedding"])
    # identical bytes -> identical embedding; the similarity operators
    # run unchanged on the extracted column
    a = feats.alias("a")
    b = feats.alias("b")
    sim = (
        a.join(b, F.col("a.doc_id") == F.col("b.doc_id"))
        .select(cosine_similarity("a.embedding", "b.embedding").alias("s"))
        .collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-12 for r in sim)


def test_resize_geometry_contract(spark, sf_dir):
    """Aspect ratio preserved, longest side capped at max_side, never
    upscaled, deterministic digests."""
    from pyspark.sql import functions as F

    from f1_data_engineering_spark.operators import multimodal as MM
    from f1_data_engineering_spark.sources.registry import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("blob")
    )
    rows = MM.resize_images(d, max_side=224).collect()
    assert rows
    for r in rows:
        longest = max(r["src_width"], r["src_height"])
        assert max(r["dst_width"], r["dst_height"]) <= max(224, 1)
        if longest <= 224:
            assert (r["dst_width"], r["dst_height"]) == (
                r["src_width"], r["src_height"],
            )  # never upscale
        else:
            # aspect preserved within integer truncation
            assert abs(
                r["dst_width"] / r["src_width"]
                - r["dst_height"] / r["src_height"]
            ) < 0.02
        assert len(r["resized_digest"]) == 16
    again = {r["doc_id"]: r["resized_digest"] for r in MM.resize_images(d).collect()}
    assert all(again[r["doc_id"]] == r["resized_digest"] for r in rows)
