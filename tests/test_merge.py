"""Upsert/merge semantics (SURVEY.md §2.6 O8/O9) — including the
reference's idempotency contract ("safe to rerun",
``/root/reference/README.md:81``) and the column-preserving
``runtime_minutes`` trap (``02_etl.py:92-100``).
"""

from __future__ import annotations

from movie_data_etl_pipeline_spark.operators import merge

SCHEMA = "k INT, v STRING, runtime INT"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_upsert_insert_update_passthrough(spark):
    target = spark.createDataFrame([(1, "old1", 100), (2, "old2", 200)], SCHEMA)
    updates = spark.createDataFrame([(2, "new2", 999), (3, "new3", 300)], SCHEMA)
    out = merge.upsert(target, updates, ["k"])
    assert _rows(out) == [(1, "old1", 100), (2, "new2", 999), (3, "new3", 300)]


def test_upsert_idempotent(spark):
    target = spark.createDataFrame([(1, "a", 1), (2, "b", 2)], SCHEMA)
    updates = spark.createDataFrame([(2, "B", 20), (3, "C", 30)], SCHEMA)
    once = merge.upsert(target, updates, ["k"])
    twice = merge.upsert(once, updates, ["k"])
    assert _rows(once) == _rows(twice)


def test_upsert_preserve_column(spark):
    """The runtime_minutes semantics: the preserved column keeps the OLD
    non-null value on conflict; incoming value only fills target-nulls
    and inserts."""
    target = spark.createDataFrame([(1, "old1", 100), (2, "old2", None)], SCHEMA)
    updates = spark.createDataFrame([(1, "new1", None), (2, "new2", 222), (3, "new3", 333)], SCHEMA)
    out = merge.upsert(target, updates, ["k"], preserve_cols=["runtime"])
    assert _rows(out) == [
        (1, "new1", 100),   # old runtime preserved, other cols updated
        (2, "new2", 222),   # old was NULL → incoming backfills
        (3, "new3", 333),   # pure insert
    ]


def test_insert_if_absent(spark):
    target = spark.createDataFrame([(1, "keep", 1)], SCHEMA)
    incoming = spark.createDataFrame(
        [(1, "SHOULD_NOT_REPLACE", 9), (2, "add", 2), (2, "dup_in_batch", 3)], SCHEMA
    )
    out = merge.insert_if_absent(target, incoming, ["k"])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got[1] == "keep"
    assert got[2] in ("add", "dup_in_batch")
    assert out.count() == 2


def test_insert_if_absent_idempotent(spark):
    target = spark.createDataFrame([(1, "a", 1)], SCHEMA)
    incoming = spark.createDataFrame([(2, "b", 2)], SCHEMA)
    once = merge.insert_if_absent(target, incoming, ["k"])
    twice = merge.insert_if_absent(once, incoming, ["k"])
    assert _rows(once) == _rows(twice)


def test_scd2_close_insert_and_noop(spark):
    """Changed keys get the old version closed + a new open version;
    no-op change rows (tracked value unchanged) produce nothing; new
    keys insert an open version only."""
    cur = spark.createDataFrame(
        [(1, "a", "2020", None), (2, "b", "2020", None)],
        "k INT, v STRING, valid_from STRING, valid_to STRING",
    )
    changes = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (3, "c")], "k INT, v STRING"
    )
    out = merge.scd2_apply(cur, changes, ["k"], ["v"], "2021")
    assert _rows(out) == [
        (1, "a", "2020", "2021"),
        (1, "a2", "2021", None),
        (2, "b", "2020", None),  # no-op: unchanged value, no new version
        (3, "c", "2021", None),
    ]


def test_scd2_replay_fixed_point(spark):
    """Applying the same change batch twice yields the same history —
    the reference's rerun-safety contract lifted to versioned rows."""
    cur = spark.createDataFrame(
        [(1, "a", "2020", None)], "k INT, v STRING, valid_from STRING, valid_to STRING"
    )
    changes = spark.createDataFrame([(1, "a2")], "k INT, v STRING")
    once = merge.scd2_apply(cur, changes, ["k"], ["v"], "2021")
    twice = merge.scd2_apply(once, changes, ["k"], ["v"], "2021")
    assert _rows(once) == _rows(twice)


def test_scd2_null_tracked_values_compare_null_safe(spark):
    cur = spark.createDataFrame(
        [(1, None, "2020", None)], "k INT, v STRING, valid_from STRING, valid_to STRING"
    )
    noop = spark.createDataFrame([(1, None)], "k INT, v STRING")
    out = merge.scd2_apply(cur, noop, ["k"], ["v"], "2021")
    assert _rows(out) == [(1, None, "2020", None)]


# --------------------------------------------- bucketed copy-on-write


def _cow_fixture(spark, tmp_path, n_buckets=16):
    """A 400-key table plus a batch that updates 12 keys, inserts 5, and
    (in the preserve variant) carries nulls to be back-filled."""
    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    target = spark.createDataFrame(
        [(i, f"old{i}", i * 10) for i in range(400)], SCHEMA
    )
    batch = spark.createDataFrame(
        [(i, f"new{i}", None) for i in range(0, 120, 10)]
        + [(400 + i, f"ins{i}", 7) for i in range(5)],
        SCHEMA,
    )
    table = VersionedCowTable(str(tmp_path / "cow"), ["k"], n_buckets=n_buckets)
    table.init(target)
    return table, target, batch


import pytest


@pytest.mark.parametrize("preserve", [(), ("runtime",)])
def test_bucketed_cow_upsert_matches_dataframe_backend(spark, tmp_path, preserve):
    """O8 through both backends: the partition-pruned copy-on-write
    upsert must produce byte-identical table state to the plain
    DataFrame merge over the full target (the oracle-checked path)."""
    table, target, batch = _cow_fixture(spark, tmp_path)
    table.upsert(spark, batch, preserve_cols=preserve)
    want = merge.upsert(target, batch, ["k"], preserve_cols=preserve)
    assert _rows(table.read(spark)) == _rows(want)


def test_bucketed_cow_insert_if_absent_matches_dataframe_backend(spark, tmp_path):
    """O9 through both backends."""
    table, target, batch = _cow_fixture(spark, tmp_path)
    table.insert_if_absent(spark, batch)
    want = merge.insert_if_absent(target, batch, ["k"])
    assert _rows(table.read(spark)) == _rows(want)


def test_bucketed_cow_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale claim itself: bucket directories whose keys are NOT in
    the batch keep their exact parquet files (same names, same mtimes)
    — proof the merge neither read-rewrote nor appended outside the
    touched partitions, i.e. cost is O(touched), not O(target)."""
    import os

    from pyspark.sql import functions as F

    from movie_data_etl_pipeline_spark.operators.cow import bucket_of

    table, target, batch = _cow_fixture(spark, tmp_path)
    touched = {
        r[0]
        for r in batch.select(bucket_of(["k"], table.n_buckets)).distinct().collect()
    }
    assert 0 < len(touched) < table.n_buckets  # pruning has something to prune

    def snapshot(bucket):
        d = os.path.join(table.path, "v00001", f"_bucket_dir={bucket}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {b: snapshot(b) for b in range(table.n_buckets) if b not in touched}
    table.upsert(spark, batch)
    after = {b: snapshot(b) for b in before}
    assert before == after
    # and the table state is still correct
    assert _rows(table.read(spark)) == _rows(merge.upsert(target, batch, ["k"]))


def test_bucketed_cow_upsert_idempotent(spark, tmp_path):
    """The reference's safe-to-rerun contract survives the pruned
    backend: replaying the same batch is a fixed point."""
    table, _, batch = _cow_fixture(spark, tmp_path)
    table.upsert(spark, batch)
    once = _rows(table.read(spark))
    table.upsert(spark, batch)
    assert _rows(table.read(spark)) == once


# ----------------------------------------- versioned (snapshot) CoW


def test_versioned_cow_batch_missing_column_into_new_bucket_keeps_schema(
    spark, tmp_path
):
    """A batch that lacks a table column and lands only in buckets the
    table does not hold yet must not drop that column from the table:
    the empty current slice is read under the manifest schema."""
    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable, bucket_of

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=16)
    t.init(spark.createDataFrame([(0, "a", 10)], SCHEMA))
    held = {int(b) for b in t.manifest()["buckets"]}
    candidates = spark.createDataFrame([(k,) for k in range(1, 64)], "k INT")
    new_k = next(
        r["k"]
        for r in candidates.select("k", bucket_of(["k"], 16).alias("b")).collect()
        if r["b"] not in held
    )
    t.upsert(spark, spark.createDataFrame([(new_k, "b")], "k INT, v STRING"))
    out = t.read(spark)
    assert out.columns == ["k", "v", "runtime"]
    assert _rows(out) == [(0, "a", 10), (new_k, "b", None)]


def test_versioned_cow_upsert_matches_dataframe_backend(spark, tmp_path):
    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    target = spark.createDataFrame([(i, f"old{i}", i * 10) for i in range(400)], SCHEMA)
    batch = spark.createDataFrame(
        [(i, f"new{i}", None) for i in range(0, 120, 10)]
        + [(400 + i, f"ins{i}", 7) for i in range(5)],
        SCHEMA,
    )
    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=16)
    t.init(target)
    v2 = t.upsert(spark, batch)
    assert v2 == 2
    want = merge.upsert(target, batch, ["k"])
    assert _rows(t.read(spark)) == _rows(want)


def test_versioned_cow_snapshot_isolation_and_time_travel(spark, tmp_path):
    """A reader holding version 1 must see the ORIGINAL state after a
    later commit (immutable files + per-version manifest), and any
    historical version stays readable by number."""
    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    target = spark.createDataFrame([(i, f"old{i}", i) for i in range(100)], SCHEMA)
    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=8)
    t.init(target)
    snapshot_v1 = t.read(spark, version=1)  # resolved BEFORE the commit
    batch = spark.createDataFrame([(0, "NEW", 999), (100, "ins", 1)], SCHEMA)
    t.upsert(spark, batch)
    # the v1 reader still sees the pre-commit world
    assert _rows(snapshot_v1) == _rows(target)
    assert _rows(t.read(spark, version=1)) == _rows(target)
    # and latest sees the merge
    assert _rows(t.read(spark)) == _rows(merge.upsert(target, batch, ["k"]))


def test_versioned_cow_commits_only_touched_buckets(spark, tmp_path):
    """Each commit's version directory contains ONLY the touched
    buckets; untouched buckets keep pointing at their original version
    in the manifest."""
    import os

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable, bucket_of

    target = spark.createDataFrame([(i, f"old{i}", i) for i in range(400)], SCHEMA)
    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=16)
    t.init(target)
    batch = spark.createDataFrame([(1, "x", 1), (2, "y", 2)], SCHEMA)
    touched = {
        r[0] for r in batch.select(bucket_of(["k"], 16)).distinct().collect()
    }
    t.upsert(spark, batch)
    m = t.manifest()
    assert m["version"] == 2
    moved = {int(b) for b, v in m["buckets"].items() if v == 2}
    assert moved == touched
    v2_dirs = {
        d for d in os.listdir(os.path.join(t.path, "v00002")) if d.startswith("_bucket_dir=")
    }
    assert v2_dirs == {f"_bucket_dir={b}" for b in touched}


def test_versioned_cow_retry_after_orphaned_version_dir(spark, tmp_path):
    """A writer that crashed after its data write but before the
    pointer swap leaves an orphan v-dir; the table must still read the
    committed state, and a retried upsert must commit past the orphan
    instead of colliding with the immutable directory."""
    import os

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    target = spark.createDataFrame([(i, f"old{i}", i) for i in range(50)], SCHEMA)
    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=4)
    t.init(target)
    os.makedirs(os.path.join(t.path, "v00002", "_bucket_dir=0"))  # orphan
    assert _rows(t.read(spark)) == _rows(target)  # committed state intact
    batch = spark.createDataFrame([(0, "NEW", 9)], SCHEMA)
    v = t.upsert(spark, batch)
    assert v == 3  # skipped the orphan
    assert _rows(t.read(spark)) == _rows(merge.upsert(target, batch, ["k"]))


def test_versioned_cow_compact_collapses_files_preserves_data(spark, tmp_path):
    import glob
    import os

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=4)
    t.init(spark.createDataFrame([(i, i * 10) for i in range(40)], ["k", "v"]))
    for batch in range(3):  # fragment: each upsert adds part-files per bucket
        t.upsert(
            spark,
            spark.createDataFrame(
                [(i, 1000 + batch * 100 + i) for i in range(batch, 40, 3)], ["k", "v"]
            ),
        )
    before = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    pre_version = t.latest_version()

    new_v = t.compact(spark)
    assert new_v > pre_version
    after = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert after == before  # data is bit-identical
    # one parquet file per bucket dir in the compacted version
    bucket_dirs = glob.glob(
        os.path.join(str(tmp_path / "vcow"), f"v{new_v:05d}", "_bucket_dir=*")
    )
    assert bucket_dirs
    for bdir in bucket_dirs:
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1, bdir
    # time travel to the pre-compaction snapshot still works
    old = sorted((r["k"], r["v"]) for r in t.read(spark, version=pre_version).collect())
    assert old == before


def test_versioned_cow_vacuum_expires_old_snapshots(spark, tmp_path):
    import os

    import pytest as _pytest

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=4)
    t.init(spark.createDataFrame([(i, i) for i in range(20)], ["k", "v"]))
    t.upsert(spark, spark.createDataFrame([(1, 101), (2, 102)], ["k", "v"]))
    t.compact(spark)  # latest now references only the compacted version
    latest = t.latest_version()
    before = sorted((r["k"], r["v"]) for r in t.read(spark).collect())

    removed = t.vacuum(keep_last=1)
    assert removed  # old manifests + unreferenced version dirs went away
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == before
    # expired snapshot is gone: manifest deleted
    with _pytest.raises(FileNotFoundError):
        t.read(spark, version=1)
    # only referenced version dirs remain on disk
    dirs = {d for d in os.listdir(str(tmp_path / "vcow")) if d.startswith("v")}
    assert dirs == {f"v{latest:05d}"}


def test_versioned_cow_vacuum_is_anchored_at_committed_head(spark, tmp_path):
    """vacuum() with an open stage (upsert(publish=False)) must retain the
    COMMITTED head — a staged manifest above the `_latest` pointer cannot
    displace it from the keep_last window — and must keep the stage's own
    dirs so publish()/abort_staged() still work afterwards (round-5 ADVICE,
    cow.py vacuum staged-manifest bug)."""
    import os

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=4)
    t.init(spark.createDataFrame([(i, i) for i in range(20)], ["k", "v"]))
    head = t.latest_version()
    before = sorted((r["k"], r["v"]) for r in t.read(spark).collect())

    staged = t.upsert(
        spark, spark.createDataFrame([(1, 101)], ["k", "v"]), publish=False
    )
    assert t.latest_version() == head  # pointer untouched by the stage

    removed = t.vacuum(keep_last=1)
    # committed head survives: manifest readable, data intact
    assert t.latest_version() == head
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == before
    # the head manifest was NOT in the removed set
    assert all(f"{head:05d}" not in p for p in removed)
    # the open stage also survives and can still be audited + published
    audit = {r["k"]: r["v"] for r in t.read(spark, version=staged).collect()}
    assert audit[1] == 101
    t.publish(staged)
    assert t.latest_version() == staged
    # abort path on a fresh stage still leaves committed data intact
    staged2 = t.upsert(
        spark, spark.createDataFrame([(2, 202)], ["k", "v"]), publish=False
    )
    t.vacuum(keep_last=1)
    t.abort_staged(staged2)
    after = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert after[1] == 101 and after[2] == 2
    # no stray version dirs: only those the committed head references
    referenced = {int(v) for v in t.manifest()["buckets"].values()}
    dirs = {int(d[1:]) for d in os.listdir(str(tmp_path / "vcow")) if d.startswith("v")}
    assert dirs == referenced


def test_versioned_cow_delete_where_prunes_and_time_travels(spark, tmp_path):
    import glob
    import os

    from pyspark.sql import functions as F

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=8)
    t.init(spark.createDataFrame([(i, i * 10) for i in range(40)], ["k", "v"]))
    v1 = t.latest_version()

    # record per-bucket-dir mtimes of the committed version
    v1_dirs = {
        d: os.path.getmtime(d)
        for d in glob.glob(os.path.join(str(tmp_path / "vcow"), "v00001", "_bucket_dir=*"))
    }

    v2 = t.delete_where(spark, F.col("v") >= 300)  # deletes k in 30..39
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == list(range(30))
    # old snapshot still has everything
    assert sorted(r["k"] for r in t.read(spark, version=v1).collect()) == list(range(40))
    # untouched buckets were NOT rewritten (files immutable, same mtime)
    m = t.manifest()
    still_v1 = [b for b, ver in m["buckets"].items() if ver == 1]
    assert still_v1  # some buckets had no matches
    for d, mt in v1_dirs.items():
        assert os.path.getmtime(d) == mt
    # no-match predicate is a no-op
    assert t.delete_where(spark, F.col("v") > 10_000) == v2


def test_versioned_cow_delete_where_drops_emptied_bucket(spark, tmp_path):
    from pyspark.sql import functions as F

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=2)
    t.init(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]))
    t.delete_where(spark, F.lit(True))  # delete everything
    m = t.manifest()
    assert m["buckets"] == {}


def test_versioned_cow_schema_evolution_add_column(spark, tmp_path):
    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=4)
    t.init(spark.createDataFrame([(i, i * 10) for i in range(8)], ["k", "v"]))
    v1 = t.latest_version()

    # batch carries a NEW column; only touches some buckets
    t.upsert(
        spark,
        spark.createDataFrame([(1, 111, "en"), (9, 999, "fr")], ["k", "v", "lang"]),
    )
    rows = {r["k"]: r for r in t.read(spark).collect()}
    assert set(rows[1].asDict()) == {"k", "v", "lang"}
    assert rows[1]["v"] == 111 and rows[1]["lang"] == "en"
    assert rows[9]["lang"] == "fr"
    # rows living in bucket dirs written BEFORE the column existed read as NULL
    assert all(rows[k]["lang"] is None for k in rows if k not in (1, 9))
    # time travel to v1 shows the old two-column schema
    assert set(t.read(spark, version=v1).columns) == {"k", "v"}

    # a later batch WITHOUT the new column must not null it out
    t.upsert(spark, spark.createDataFrame([(1, 222)], ["k", "v"]))
    rows = {r["k"]: r for r in t.read(spark).collect()}
    assert rows[1]["v"] == 222 and rows[1]["lang"] == "en"  # preserved


def test_versioned_cow_change_feed(spark, tmp_path):
    """changes(v_from, v_to) recovers exactly the applied change set
    (insert/update/delete ops), equals the unpruned full-snapshot diff
    (bucket pruning loses nothing), and is empty between identical
    versions."""
    from pyspark.sql import functions as F

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    target = spark.createDataFrame([(i, f"old{i}", i) for i in range(200)], SCHEMA)
    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=16)
    t.init(target)
    v1 = t.latest_version()
    batch = spark.createDataFrame([(0, "NEW", 999), (200, "ins", 1)], SCHEMA)
    t.upsert(spark, batch)
    t.delete_where(spark, F.col("k") == 7)
    v3 = t.latest_version()

    feed = t.changes(spark, v1, v3)
    ops = {(r["k"], r["op"]) for r in feed.collect()}
    assert ops == {(0, "update"), (200, "insert"), (7, "delete")}

    # pruned feed == full-snapshot diff
    full = merge.snapshot_diff(t.read(spark, version=v1), t.read(spark, version=v3), ["k"])
    assert {tuple(r) for r in feed.collect()} == {tuple(r) for r in full.collect()}

    # no changes between identical versions
    assert t.changes(spark, v3, v3).count() == 0


def test_apply_changes_nets_insert_update_delete_to_delete(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k LONG, v STRING")
    changes = spark.createDataFrame(
        [
            (3, "ins", 1, "I"),
            (3, "upd", 2, "U"),
            (3, "x", 3, "D"),  # whole lifecycle in one batch → net delete
            (1, "a2", 1, "U"),
        ],
        "k LONG, v STRING, seq LONG, op STRING",
    )
    out = sorted(map(tuple, merge.apply_changes(target, changes, ["k"], "seq").collect()))
    assert out == [(1, "a2"), (2, "b")]


def test_apply_changes_out_of_order_highest_seq_wins(spark):
    target = spark.createDataFrame([(1, "old")], "k LONG, v STRING")
    changes = spark.createDataFrame(
        [(1, "late", 5, "U"), (1, "early", 2, "U"), (1, "mid", 3, "U")],
        "k LONG, v STRING, seq LONG, op STRING",
    )
    out = merge.apply_changes(target, changes, ["k"], "seq").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, "late")]


def test_apply_changes_reapply_is_idempotent(spark):
    target = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k LONG, v STRING")
    changes = spark.createDataFrame(
        [(2, "u2", 1, "U"), (3, "x", 1, "D"), (100, "new", 1, "I")],
        "k LONG, v STRING, seq LONG, op STRING",
    )
    once = merge.apply_changes(target, changes, ["k"], "seq")
    twice = merge.apply_changes(once, changes, ["k"], "seq")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_versioned_cow_write_audit_publish(spark, tmp_path):
    """WAP flow: a staged snapshot is fully materialized and readable
    by version, invisible at the committed head until publish(); a
    failed audit aborts cleanly; guards refuse nonsense transitions."""
    import os

    import pytest

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    head = t.latest_version()

    staged = t.upsert(
        spark,
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        publish=False,
    )
    # committed head unchanged; staged snapshot readable by version
    assert t.latest_version() == head
    assert {tuple(r) for r in t.read(spark).collect()} == {(1, "a"), (2, "b")}
    staged_rows = {tuple(r) for r in t.read(spark, version=staged).collect()}
    assert staged_rows == {(1, "a"), (2, "B"), (3, "c")}

    # audit passes -> publish promotes atomically
    t.publish(staged)
    assert t.latest_version() == staged
    assert {tuple(r) for r in t.read(spark).collect()} == staged_rows
    # re-publishing the head (or anything behind it) refuses
    with pytest.raises(ValueError, match="not ahead"):
        t.publish(staged)

    # stage a bad batch, audit fails (NULL v), abort removes all trace
    bad = t.upsert(
        spark,
        spark.createDataFrame([(4, None)], "k int, v string"),
        publish=False,
    )
    audit = t.read(spark, version=bad).filter("v IS NULL").count()
    assert audit == 1  # audit catches the violation
    t.abort_staged(bad)
    assert t.latest_version() == staged
    assert not os.path.exists(t._manifest_path(bad))
    assert not os.path.isdir(os.path.join(t.path, f"v{bad:05d}"))
    # aborting committed history refuses
    with pytest.raises(ValueError, match="committed history"):
        t.abort_staged(staged)
    # publishing a never-staged version refuses
    with pytest.raises(ValueError, match="no staged manifest"):
        t.publish(staged + 7)
    # a later regular upsert may REUSE the aborted number (the abort
    # removed every trace, so the slot is legitimately free) — what
    # matters is that it lands ahead of the committed head and reads
    # correctly
    nxt = t.upsert(spark, spark.createDataFrame([(5, "e")], "k int, v string"))
    assert nxt > staged
    assert {tuple(r) for r in t.read(spark).collect()} == staged_rows | {(5, "e")}


def _random_key_batch(spark, n, calls=None):
    """``n`` rows keyed by a nondeterministic Python UDF: every
    evaluation of the batch draws different keys (and so different
    buckets); ``calls``, an accumulator, counts the UDF's evaluations."""
    import random

    from pyspark.sql import functions as F

    def key(i):
        if calls is not None:
            calls.add(1)
        return f"{i}-{random.random()}"

    rand_key = F.udf(key, "string").asNondeterministic()
    return spark.range(n).select(
        rand_key("id").alias("k"), F.col("id").cast("string").alias("v")
    )


def test_versioned_cow_nondeterministic_batch_commits_what_it_wrote(spark, tmp_path):
    """The manifest's touched buckets and the written rows must come from
    ONE evaluation of the batch: with keys that change on every
    evaluation, a second scan for the bucket set would name directories
    the write never produced and drop rows written outside that set."""
    import os

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=64)
    t.init(spark.createDataFrame([(f"a{i}", "x") for i in range(10)], "k string, v string"))
    t.upsert(spark, _random_key_batch(spark, 20))
    assert t.read(spark).count() == 30
    dirs = t._bucket_dirs(t.manifest())
    assert len(dirs) == len(t.manifest()["buckets"])
    assert [d for d in dirs if not os.path.isdir(d)] == []


def test_versioned_cow_upsert_evaluates_batch_once(spark, tmp_path):
    """One commit runs the batch's upstream plan exactly once: the
    touched-bucket set is observed on the batch's single
    materialization, which the merge then reads."""
    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=16)
    t.init(spark.createDataFrame([("a", "x")], "k string, v string"))
    for _ in range(2):
        calls = spark.sparkContext.accumulator(0)
        t.upsert(spark, _random_key_batch(spark, 20, calls))
        assert calls.value == 20


def test_versioned_cow_empty_batch_commits_nothing(spark, tmp_path):
    """An empty batch is a no-op for both merge flavours: the current
    version comes back, and no manifest, version directory or pointer
    move is written."""
    import os

    from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

    t = VersionedCowTable(str(tmp_path / "vcow"), ["k"], n_buckets=4)
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    head = t.latest_version()
    before = sorted(os.listdir(t.path))
    empty = spark.createDataFrame([], "k int, v string")
    assert t.upsert(spark, empty) == head
    assert t.insert_if_absent(spark, empty.where("k > 0")) == head
    assert t.latest_version() == head
    assert sorted(os.listdir(t.path)) == before
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b")]
