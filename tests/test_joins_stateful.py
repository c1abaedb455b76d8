"""As-of join, binned range join, IVF ANN, and the applyInPandasWithState
stateful streaming operator."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.operators import joins, similarity
from movie_data_etl_pipeline_spark.sources import load_table
from movie_data_etl_pipeline_spark.streaming import ingest as SI
from movie_data_etl_pipeline_spark.streaming import stateful as ST
from movie_data_etl_pipeline_spark.streaming import windows as SW


def test_asof_join_semantics(spark):
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [
            (1, "k", base + dt.timedelta(minutes=5)),   # after r@0 → matches 10.0
            (2, "k", base + dt.timedelta(minutes=10)),  # equal ts → matches 20.0
            (3, "k", base - dt.timedelta(minutes=1)),   # before any right → NULL
            (4, "x", base + dt.timedelta(hours=9)),     # key with no right rows → NULL
        ],
        "event_id long, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k", base, 10.0),
            ("k", base + dt.timedelta(minutes=10), 20.0),
            ("k", base + dt.timedelta(minutes=30), 30.0),
        ],
        "key string, ts timestamp, value double",
    )
    out = {
        r["event_id"]: r["value_r"]
        for r in joins.asof_join(left, right, on=["key"]).collect()
    }
    assert out == {1: 10.0, 2: 20.0, 3: None, 4: None}
    # tolerance: the minute-5 match is within 10 minutes; shrink to 1 minute → NULL
    tol = joins.asof_join(
        left, right, on=["key"], tolerance=F.expr("INTERVAL 1 MINUTE")
    )
    got = {r["event_id"]: r["value_r"] for r in tol.collect()}
    assert got[1] is None and got[2] == 20.0


def test_range_join_binned_equals_theta_join(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [("a", 0.0, 7.5), ("b", 7.5, 33.3), ("c", 33.3, 500.0)],
        "band string, lo double, hi double",
    )
    binned = joins.range_join_binned(events, bands, "value", "lo", "hi", bin_width=10.0)
    naive = events.join(
        bands, (events.value >= bands.lo) & (events.value < bands.hi), "inner"
    ).select("event_id", "band")
    got = {(r["event_id"], r["band"]) for r in binned.select("event_id", "band").collect()}
    want = {(r["event_id"], r["band"]) for r in naive.collect()}
    assert got == want and len(got) > 0
    # no nested-loop join in the physical plan
    plan = binned._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_knn_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_bruteforce(emb, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_ivf(emb, dim=64, k=5, n_cells=16, n_probe=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # the fixture embeddings are near-uniform (max pairwise cosine ~0.5),
    # the hardest case for IVF — 5-of-16 probing still recovers most
    assert recall >= 0.6, f"IVF recall too low: {recall:.3f}"
    # determinism: seeded KMeans + seeded pipeline → identical rerun
    rerun = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_ivf(emb, dim=64, k=5, n_cells=16, n_probe=5).collect()
    }
    assert rerun == approx


def test_stateful_running_totals_equals_batch(spark, sf_dir):
    stream = SW.read_events_stream(spark, sf_dir)
    streamed = SW.run_stream_to_memory(
        spark, ST.streaming_running_user_totals(stream), "t_stateful", output_mode="update"
    )
    # update mode re-emits a user's row every batch it appears in; the
    # LAST emission per user must equal the batch fold of the whole table
    final = (
        streamed.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
            F.max("last_ts").alias("last_ts"),
        )
    )
    events = load_table(spark, sf_dir, "events")
    expected = ST.batch_running_user_totals(events)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4), r["last_ts"])
        for r in final.collect()
    }
    want = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4), r["last_ts"])
        for r in expected.collect()
    }
    assert got == want and len(got) > 0


def test_stream_upsert_sink_idempotent(spark, sf_dir, tmp_path):
    target = str(tmp_path / "user_state")
    ckpt = str(tmp_path / "ckpt")
    stream = SW.read_events_stream(spark, sf_dir)
    totals = ST.streaming_running_user_totals(stream)
    q = SI.start_upsert_sink(
        totals, target, ["user_id"], order_col="last_ts", checkpoint_dir=ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(target)
    events = load_table(spark, sf_dir, "events")
    expected = ST.batch_running_user_totals(events)
    g = {r["user_id"]: (r["n_events"], round(r["total_value"], 4)) for r in got.collect()}
    w = {r["user_id"]: (r["n_events"], round(r["total_value"], 4)) for r in expected.collect()}
    assert g == w and len(g) > 0
    # restart from the checkpoint with no new data: a no-op, state unchanged
    stream2 = SW.read_events_stream(spark, sf_dir)
    q2 = SI.start_upsert_sink(
        ST.streaming_running_user_totals(stream2),
        target,
        ["user_id"],
        order_col="last_ts",
        checkpoint_dir=ckpt,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 4))
        for r in spark.read.parquet(target).collect()
    }
    assert again == w
