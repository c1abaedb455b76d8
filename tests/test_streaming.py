"""Structured-Streaming surface: the watermarked streaming aggregations
must agree with their batch twins when the stream is bounded (replay
equivalence — SURVEY.md §7 'Streaming state' test strategy)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.sources import load_table
from movie_data_etl_pipeline_spark.streaming import windows as SW


def test_sliding_oracle_parametric_non2_ratio(spark, sf_dir):
    """The DuckDB sliding-window oracle derives its replication factor
    from width/slide (r2 ADVICE: the old SQL hardcoded (0),(1)). Check
    a 3:1 ratio — 90-minute windows sliding every 30 minutes — against
    Spark's native window expansion on the same parquet."""
    import duckdb

    from movie_data_etl_pipeline_spark.plans.fixture_queries import st_sliding_oracle_sql

    got = sorted(
        map(tuple, SW.sliding_counts(
            load_table(spark, sf_dir, "events"), width="90 minutes", slide="30 minutes"
        ).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = sorted(map(tuple, con.execute(st_sliding_oracle_sql(90, 30)).fetchall()))
    assert got == want


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = SW.read_events_stream(spark, sf_dir)
    streamed = SW.run_stream_to_memory(
        spark, SW.streaming_tumbling_counts(stream, "1 hour", "2 hours"), "t_tumble"
    )
    batch = load_table(spark, sf_dir, "events")
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    got = sorted(
        (r["window_start"], r["event_type"], r["n_events"]) for r in streamed.collect()
    )
    want = sorted(
        (r["window_start"], r["event_type"], r["n_events"]) for r in expected.collect()
    )
    # append mode emits a window only once the watermark passes it: the
    # trailing windows (within watermark+width of max event time) stay
    # open when a bounded stream ends. Everything emitted must match the
    # batch result exactly; only tail windows may be withheld.
    assert len(got) > 0
    assert set(got) <= set(want)
    import datetime as dt

    max_ts = batch.agg(F.max("ts")).first()[0]
    horizon = max_ts - dt.timedelta(hours=2) - dt.timedelta(hours=1)
    missing = set(want) - set(got)
    assert all(w[0] >= horizon for w in missing)


def test_streaming_session_window_runs(spark, sf_dir):
    stream = SW.read_events_stream(spark, sf_dir)
    out = SW.run_stream_to_memory(
        spark, SW.streaming_session_counts(stream, "30 minutes", "2 hours"), "t_sess"
    )
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["session_end"] > r["session_start"] for r in rows)


def test_batch_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 7, "click", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 7, "click", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=90), 7, "click", 1.0, "{}"),  # new session
        (4, base, 8, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    out = SW.sessionize(df, gap_minutes=30).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert per_user == {7: [2, 1], 8: [1]}


def test_streaming_interval_join_equals_batch(spark, sf_dir):
    # the watermarked stream-stream join must replay to exactly the
    # batch interval join (the whole bounded file fits inside the
    # watermark horizon, so no pair is dropped)
    stream = SW.read_events_stream(spark, sf_dir)
    streamed = SW.run_stream_to_memory(
        spark, SW.streaming_interval_join(stream, 10, watermark="100 hours"), "t_ij"
    )
    ev = load_table(spark, sf_dir, "events")
    batch = SW.interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
        10,
    )
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_dedup_drops_redeliveries(spark, sf_dir):
    # an at-least-once source delivering everything twice (the same
    # file source unioned with itself) must come out key-unique
    from movie_data_etl_pipeline_spark.streaming import ingest as SI

    doubled = SW.read_events_stream(spark, sf_dir).unionByName(
        SW.read_events_stream(spark, sf_dir)
    )
    out = SW.run_stream_to_memory(
        spark,
        SI.streaming_dedup(doubled, ["event_id"], watermark="100 hours"),
        "t_dedup",
        output_mode="append",
    )
    got_ids = [r["event_id"] for r in out.select("event_id").collect()]
    want = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert len(got_ids) == len(set(got_ids)) == want


def _run_events_upsert_sink(stream, target: str, checkpoint: str) -> None:
    from movie_data_etl_pipeline_spark.streaming import ingest as SI

    q = SI.start_upsert_sink(
        stream, target, ["event_id"], order_col="ts", checkpoint_dir=checkpoint
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_foreachbatch_upsert_sink_idempotent(spark, sf_dir, tmp_path):
    target = str(tmp_path / "events_table")

    def run(checkpoint: str) -> None:
        _run_events_upsert_sink(SW.read_events_stream(spark, sf_dir), target, checkpoint)

    run(str(tmp_path / "ckpt1"))
    events = load_table(spark, sf_dir, "events")
    # snapshot eagerly — the second run overwrites the files a lazy
    # DataFrame would re-read
    rows1 = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert len(rows1) == events.select("event_id").distinct().count()

    # replaying the whole stream (fresh checkpoint = full redelivery)
    # must be a fixed point — the streaming form of "safe to rerun"
    run(str(tmp_path / "ckpt2"))
    rows2 = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert rows2 == rows1


def test_upsert_sink_failed_merge_keeps_target(spark, sf_dir, tmp_path):
    """A micro-batch that cannot merge into the existing target (here a
    narrower schema) fails the query; it must not replace the target
    with the batch."""
    import pytest
    from pyspark.errors import StreamingQueryException

    target = str(tmp_path / "events_table")
    _run_events_upsert_sink(
        SW.read_events_stream(spark, sf_dir), target, str(tmp_path / "ckpt1")
    )
    before = sorted(map(tuple, spark.read.parquet(target).collect()))
    narrow = SW.read_events_stream(spark, sf_dir).select("event_id", "ts")
    with pytest.raises(StreamingQueryException):
        _run_events_upsert_sink(narrow, target, str(tmp_path / "ckpt2"))
    assert sorted(map(tuple, spark.read.parquet(target).collect())) == before


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static join: every micro-batch joined against a static
    dimension must produce exactly the batch join's result on a bounded
    stream (no watermark, no withheld tail — the static side is
    stateless)."""
    batch = load_table(spark, sf_dir, "events")
    dim = (
        batch.select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    enriched = SW.stream_static_enrich(
        SW.read_events_stream(spark, sf_dir), dim, "user_id"
    )
    per_tier = enriched.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))
    got = SW.run_stream_to_memory(spark, per_tier, "t_enrich", output_mode="complete")
    want = batch.join(dim, "user_id").groupBy("tier").agg(F.count(F.lit(1)).alias("n"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_left_interval_join_emits_unmatched(spark):
    """LEFT OUTER stream-stream join: inner matches emit eagerly; a
    click that matched nothing emits with null error columns once the
    watermark proves no in-band error can still arrive. Uses the
    multi-batch synthetic source so the watermark actually advances
    between micro-batches (a single-file source would never trigger
    the eviction that releases outer rows)."""
    from movie_data_etl_pipeline_spark.sources.pyds import (
        _event_rows,
        register_python_sources,
    )

    register_python_sources(spark)

    def prep(df):
        return df.select(
            "event_id",
            "user_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            # synthetic types are view/click/purchase; alias purchase as
            # the error side so the click/error join has both inputs
            F.when(F.col("event_type") == "purchase", "error")
            .otherwise(F.col("event_type"))
            .alias("event_type"),
        )

    raw = (
        spark.readStream.format("synthetic_events")
        .option("batch_size", 100)
        .option("max_batches", 3)
        .load()
    )
    streamed = SW.run_stream_to_memory(
        spark,
        SW.streaming_interval_join(
            prep(raw), 10, watermark="5 minutes", how="left_outer"
        ),
        "t_ij_left",
    )
    batch = prep(
        spark.createDataFrame(
            [r for b in range(3) for r in _event_rows(b, 100)],
            "event_id bigint, user_id bigint, ts_s bigint, event_type string",
        )
    )
    want_left = {
        tuple(r)
        for r in SW.interval_join(
            batch.filter(F.col("event_type") == "click"),
            batch.filter(F.col("event_type") == "error"),
            10,
            how="left",
        ).collect()
    }
    want_inner = {r for r in want_left if r[2] is not None}
    got = {tuple(r) for r in streamed.collect()}
    assert want_inner <= got <= want_left  # no wrong rows, all matches present
    assert any(r[2] is None for r in got)  # outer rows actually emitted


def test_versioned_upsert_sink_snapshots_and_converges(spark, sf_dir, tmp_path):
    """Streaming ingest into the versioned CoW table: the final state
    equals the batch upsert result, every non-empty micro-batch left an
    auditable snapshot, and a reader pinned to a pre-stream version is
    unaffected by the stream's commits."""
    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable
    from movie_data_etl_pipeline_spark.streaming import ingest as SI

    events = load_table(spark, sf_dir, "events")
    seed = events.limit(50).select("event_id", "user_id", "event_type")
    table = VersionedCowTable(str(tmp_path / "vcow"), ["event_id"], n_buckets=8)
    table.init(seed)
    v0 = table.latest_version()
    pinned = {tuple(r) for r in table.read(spark, version=v0).collect()}

    q = SI.start_versioned_upsert_sink(
        SW.read_events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "ts"
        ),
        table,
        order_col="ts",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert table.latest_version() > v0  # the stream committed snapshots
    got = {
        tuple(r)
        for r in table.read(spark).select("event_id", "user_id", "event_type").collect()
    }
    want = {
        tuple(r)
        for r in events.select("event_id", "user_id", "event_type").collect()
    }
    assert got == want
    # the pinned pre-stream snapshot is untouched (ts column added by
    # the stream reads as NULL there only via latest; v0 keeps its schema)
    assert {tuple(r) for r in table.read(spark, version=v0).collect()} == pinned


def test_streaming_dedup_replay_equals_batch_distinct(spark, sf_dir):
    """At-least-once replay (every event delivered twice via self-union
    of two file-source reads) collapses to exactly-once under
    dropDuplicatesWithinWatermark (streaming/ingest.streaming_dedup);
    the surviving set equals batch dropDuplicates."""
    s1 = SW.read_events_stream(spark, sf_dir).select("event_id", "event_type", "ts")
    s2 = SW.read_events_stream(spark, sf_dir).select("event_id", "event_type", "ts")
    from movie_data_etl_pipeline_spark.streaming.ingest import streaming_dedup

    deduped = streaming_dedup(s1.unionAll(s2), ["event_id"], watermark="2 hours")
    got = SW.run_stream_to_memory(spark, deduped, "t_dedup")
    batch = load_table(spark, sf_dir, "events")
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()
    # value-level: per-type counts match the batch relation exactly
    g = {(r["event_type"], r["n"]) for r in
         got.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    w = {(r["event_type"], r["n"]) for r in
         batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert g == w


def _cdc_fixture(spark, sf_dir):
    """Initial target + synthetic ordered change feed over orders.

    Change lifecycle coverage: key%2==0 gets an update; key%4==0
    additionally a later delete; key%8==0 a still-later re-insert —
    so net winners exercise update, delete (tombstone), and
    resurrect-after-delete paths. Keys key%3==0 are absent from the
    initial target, so some updates are pure inserts."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    target0 = o.filter(F.col("o_orderkey") % 3 != 0)
    k = F.col("o_orderkey")
    upd = o.filter(k % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("status"),
        (F.col("price_c") + 111).alias("price_c"),
        (k * 4).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = o.filter(k % 4 == 0).select(
        "o_orderkey",
        F.lit("D").alias("status"),
        F.lit(0).cast("bigint").alias("price_c"),
        (k * 4 + 1).alias("seq"),
        F.lit("D").alias("op"),
    )
    reins = o.filter(k % 8 == 0).select(
        "o_orderkey",
        F.lit("R").alias("status"),
        (F.col("price_c") + 222).alias("price_c"),
        (k * 4 + 2).alias("seq"),
        F.lit("U").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(reins)
    return target0, changes


def test_streaming_cdc_sink_matches_batch_apply(spark, sf_dir, tmp_path):
    """Replaying the change feed through start_cdc_sink in single-file
    micro-batches (file arrival order NOT controlled — the seq guard
    plus tombstones must make any order converge) yields the same live
    state as one-shot merge.apply_changes on the full feed."""
    from movie_data_etl_pipeline_spark.operators import merge
    from movie_data_etl_pipeline_spark.streaming import ingest as SI

    target0, changes = _cdc_fixture(spark, sf_dir)
    feed_dir = str(tmp_path / "feed")
    # three chunk files split by seq MOD 3: each micro-batch carries a
    # mix of early and late sequence numbers (worst-case arrival)
    for i in range(3):
        changes.filter(F.col("seq") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)

    target_path = str(tmp_path / "cdc_table")
    # seed the sink target: initial payload at seq 0, live op
    target0.select(
        "o_orderkey", "status", "price_c",
        F.lit(0).cast("bigint").alias("seq"), F.lit("U").alias("op"),
    ).write.parquet(target_path)

    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    q = SI.start_cdc_sink(
        stream, target_path, ["o_orderkey"], "seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        tuple(r)
        for r in SI.read_cdc_state(spark, target_path, "seq").collect()
    }
    want = {
        tuple(r)
        for r in merge.apply_changes(
            target0, changes, ["o_orderkey"], "seq"
        ).collect()
    }
    assert got == want
    # lifecycle spot checks: deleted keys absent, re-inserted present
    keys = {t[0] for t in got}
    assert all(x not in keys for x in (4, 12, 20) if x % 8 != 0)
    assert all(x in keys for x in (8, 16, 24))


def test_streaming_cdc_sink_redelivery_is_fixed_point(spark, sf_dir, tmp_path):
    """Re-running the whole feed against the already-applied target
    (fresh checkpoint = full redelivery) must not change the state —
    every change is stale or equal by seq."""
    from movie_data_etl_pipeline_spark.streaming import ingest as SI

    target0, changes = _cdc_fixture(spark, sf_dir)
    feed_dir = str(tmp_path / "feed")
    changes.coalesce(1).write.parquet(feed_dir)
    target_path = str(tmp_path / "cdc_table")
    target0.select(
        "o_orderkey", "status", "price_c",
        F.lit(0).cast("bigint").alias("seq"), F.lit("U").alias("op"),
    ).write.parquet(target_path)

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        q = SI.start_cdc_sink(
            stream, target_path, ["o_orderkey"], "seq", checkpoint_dir=ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "c1"))
    state1 = {tuple(r) for r in spark.read.parquet(target_path).collect()}
    run(str(tmp_path / "c2"))
    state2 = {tuple(r) for r in spark.read.parquet(target_path).collect()}
    assert state2 == state1
