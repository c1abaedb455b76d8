"""Similarity search and multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movie_data_etl_pipeline_spark.operators import multimodal, similarity

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # near 1
        (3, [0.0, 1.0, 0.0]),   # orthogonal to 1
        (4, [-1.0, 0.0, 0.0]),  # opposite of 1
    ]
    return spark.createDataFrame(rows, VEC_SCHEMA)


def test_knn_bruteforce_ranks(vecs):
    out = similarity.knn_bruteforce(vecs, vecs, k=3)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"]) for r in out.collect()
    }
    assert got[(1, 1)][0] == 2
    assert abs(got[(1, 1)][1] - 0.9 / math.sqrt(0.82)) < 1e-5
    assert got[(1, 2)][0] == 3 and abs(got[(1, 2)][1]) < 1e-9
    assert got[(1, 3)] == (4, -1.0)
    # no self matches anywhere
    assert all(r["query_id"] != r["neighbor_id"] for r in out.collect())


def test_lsh_buckets_deterministic(spark, vecs):
    # PORTABLE's planes are fixed by their index, so it ignores the seed
    for family, seeded in ((similarity.GAUSSIAN, True), (similarity.PORTABLE, False)):
        a, b, c = (
            sorted(map(tuple, similarity.lsh_bucket(vecs, dim=3, seed=s, family=family).collect()))
            for s in (11, 11, 12)
        )
        assert a == b
        # different planes → different buckets (overwhelmingly)
        assert (a != c) == seeded


def test_embedding_near_dup_threshold(vecs):
    out = similarity.embedding_near_dup_pairs(
        vecs, dim=3, threshold=0.95, n_planes=4, n_tables=8, seed=3
    ).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in out}
    # only (1,2) has cosine ≥ 0.95 (≈0.9939); LSH with 8 tables of 4
    # planes recalls it with near-certainty for near-parallel vectors
    assert pairs == {(1, 2)}


def test_multimodal_pipeline(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s", 11), (2, "spark engine", "en", "s", 12)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    assets = multimodal.synthesize_assets(docs)
    assert assets.schema["payload"].dataType.typeName() == "binary"
    stats = multimodal.asset_stats(assets).collect()
    assert stats[0]["n_assets"] == 2

    feats = multimodal.extract_features(assets, dim=8)
    rows = {r["asset_id"]: r["feature"] for r in feats.collect()}
    assert all(len(v) == 8 for v in rows.values())
    # deterministic: same payload → same feature on re-run
    rows2 = {r["asset_id"]: r["feature"] for r in multimodal.extract_features(assets, dim=8).collect()}
    assert rows == rows2


def test_decode_real_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"bytes", "jpeg")


def test_sample_frames_counts(spark, sf_dir):
    from movie_data_etl_pipeline_spark.operators import multimodal as MM
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(10)
    assets = MM.synthesize_assets(docs, media_type="video")
    frames = MM.sample_frames(assets, every_ms=1000)
    got = {r["asset_id"]: r["n"] for r in frames.groupBy("asset_id").count().withColumnRenamed("count", "n").collect()}
    for a in assets.select("asset_id", "meta.duration_ms").collect():
        assert got[a["asset_id"]] == a["duration_ms"] // 1000 + 1


def test_int8_quantization_report_bounds_and_zero_vector(spark):
    """Reconstruction error must respect the absmax-int8 bound
    (s/254 per element, plus the 2^-20 accounting quantum), the scale
    must be the exact per-label mean of max|v|, and an all-zero vector
    must contribute zero error instead of NaN."""
    schema = T.StructType(
        [
            T.StructField("label", T.IntegerType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (0, [1.0, -0.5, 0.25, 0.125]),
        (0, [2.0, 0.0, -2.0, 1.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, error 0
        (2, [0.003, -0.001, 0.002, 0.0005]),
    ]
    emb = spark.createDataFrame(rows, schema)
    got = {r["label"]: r for r in similarity.int8_quantization_report(emb).collect()}

    assert got[0]["n_vecs"] == 2
    assert got[0]["avg_max_abs"] == pytest.approx((1.0 + 2.0) / 2, abs=1e-6)
    # per-element error ≤ s/254; label-0 scales are 1.0 and 2.0
    assert 0.0 <= got[0]["avg_abs_err"] <= 2.0 / 254 + 2**-20

    assert got[1]["avg_max_abs"] == 0.0
    assert got[1]["avg_abs_err"] == 0.0

    # tiny magnitudes still bounded by their own scale, not absolute size
    assert got[2]["avg_abs_err"] <= 0.003 / 254 + 2**-20


def test_hard_negatives_cross_label_topk(spark, sf_dir):
    """Every mined negative carries a different label than its anchor,
    ranks are 1..k by descending score, and each anchor's rank-1
    negative is the true cross-label argmax (checked against a direct
    recomputation)."""
    from movie_data_etl_pipeline_spark.operators.similarity import hard_negatives
    from movie_data_etl_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 20)
    out = hard_negatives(emb, k=3, queries=anchors)
    rows = out.collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    by_anchor: dict[int, list] = {}
    for r in rows:
        assert labels[r["anchor_id"]] != r["neg_label"]
        assert labels[r["negative_id"]] == r["neg_label"]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for aid, rs in by_anchor.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
    # rank-1 correctness vs numpy recompute for one anchor
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    aid = min(by_anchor)
    qa = vecs[aid]
    best = max(
        (vid for vid in vecs if labels[vid] != labels[aid]),
        key=lambda vid: (
            float(qa @ vecs[vid] / (np.linalg.norm(qa) * np.linalg.norm(vecs[vid]))),
            -vid,
        ),
    )
    assert by_anchor[aid][0]["negative_id"] == best
