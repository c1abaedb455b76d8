"""Tests for the latest operator batch: snapshot-diff CDC
(``operators/merge.snapshot_diff``), length-banded fuzzy self-join
(``operators/joins.fuzzy_self_join_levenshtein``), Misra–Gries heavy
hitters (``operators/text_analysis.heavy_hitters``), and Z-order layout
(``operators/layout``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.operators import joins, layout, merge, text_analysis


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------- CDC


def test_snapshot_diff_insert_update_delete(spark):
    schema = "k INT, a STRING, b INT"
    old = spark.createDataFrame(
        [(1, "same", 10), (2, "upd", 20), (3, "gone", 30), (4, None, 40)], schema
    )
    new = spark.createDataFrame(
        [(1, "same", 10), (2, "UPD", 20), (4, "filled", 40), (5, "new", 50)], schema
    )
    out = merge.snapshot_diff(old, new, ["k"])
    got = {r["k"]: r["op"] for r in out.collect()}
    # k=1 unchanged → absent; k=2 value change; k=3 delete; k=4 NULL→value
    # counts as update; k=5 insert.
    assert got == {2: "update", 3: "delete", 4: "update", 5: "insert"}


def test_snapshot_diff_carries_old_and_new(spark):
    schema = "k INT, v INT"
    old = spark.createDataFrame([(1, 10)], schema)
    new = spark.createDataFrame([(1, 11)], schema)
    row = merge.snapshot_diff(old, new, ["k"]).collect()[0]
    assert (row["old_v"], row["new_v"]) == (10, 11)


def test_snapshot_diff_identical_snapshots_empty(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k INT, v STRING")
    assert merge.snapshot_diff(df, df, ["k"]).count() == 0


# -------------------------------------------------------- fuzzy join


def test_fuzzy_join_matches_bruteforce(spark):
    vals = ["apple", "appl", "apples", "banana", "bananas", "orange", "grape", "grapes"]
    df = spark.createDataFrame([(v,) for v in vals], "name STRING")
    out = _rows(joins.fuzzy_self_join_levenshtein(df, "name", max_dist=2))
    # brute force over all unordered pairs
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = sorted(
        (min(a, b), max(a, b), lev(a, b))
        for a, b in itertools.combinations(vals, 2)
        if lev(a, b) <= 2
    )
    assert out == want


def test_fuzzy_join_equal_length_needs_id(spark):
    # identical strings on distinct rows pair as distance 0 when an id
    # tiebreaker is given
    df = spark.createDataFrame([(1, "same"), (2, "same")], "id INT, t STRING")
    out = joins.fuzzy_self_join_levenshtein(df, "t", max_dist=1, id_col="id")
    assert _rows(out) == [("same", "same", 0)]


# ------------------------------------------------------ heavy hitters


def test_heavy_hitters_exact_on_zipfy_corpus(spark):
    # token i appears (40 - i) times → unambiguous top-k
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(40) for _ in range(40 - j) if j % 4 == i % 4),)
         for i in range(8)],
        "doc_id INT, text STRING",
    )
    got = [(r["token"], r["n"]) for r in text_analysis.heavy_hitters(docs, k=5, capacity=64).collect()]
    exact = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .count()
        .orderBy(F.desc("count"), F.asc("token"))
        .limit(5)
        .collect()
    )
    assert got == [(r["token"], r["count"]) for r in exact]


def test_heavy_hitters_nbsp_corpus_tokenizes_like_jvm(spark):
    """Candidate generation (Python) and exact recount (JVM) must agree
    on token boundaries (r2 ADVICE #2): Java's \\s is ASCII-only, so an
    NBSP-glued pair like 'foo\\u00a0bar' is ONE token on the JVM side.
    A Unicode-\\s Python splitter would emit 'foo' and 'bar' candidates
    instead, the recount semi-join would find no match, and the true
    heavy hitter would silently vanish from the 'exact' top-k."""
    glued = "foo\u00a0bar"  # NBSP-glued: one JVM token
    docs = spark.createDataFrame(
        [(i, " ".join([glued] * 30 + [f"filler{i}_{j}" for j in range(5)]))
         for i in range(4)],
        "doc_id INT, text STRING",
    )
    got = [(r["token"], r["n"]) for r in text_analysis.heavy_hitters(docs, k=1, capacity=64).collect()]
    assert got == [(glued, 120)]


def test_heavy_hitters_mg_bound_holds_at_fixture_scale(spark, sf_dir):
    """The exactness precondition: k-th true count > N/capacity."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(F.split("text", r"\s+")).alias("t")).where(F.col("t") != "")
    n_total = toks.count()
    kth = (
        toks.groupBy("t").count().orderBy(F.desc("count")).limit(20).collect()[-1]["count"]
    )
    assert kth > n_total / 256, (kth, n_total)


# ------------------------------------------------------------ layout


def test_zvalue16_interleaves_bits(spark):
    df = spark.createDataFrame([(1, 0), (0, 1), (3, 3), (0xFFFF, 0)], "x INT, y INT")
    got = [r[0] for r in df.select(layout.zvalue16(F.col("x"), F.col("y"))).collect()]
    # x occupies even bits, y odd bits
    assert got == [1, 2, 15, 0x55555555]


def test_zorder_layout_clusters_both_dims(spark):
    import itertools

    pts = list(itertools.product(range(32), range(32)))
    df = spark.createDataFrame(pts, "x INT, y INT")
    out = layout.zorder_layout(df, "x", "y", num_partitions=8)
    stats = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .collect()
    )
    # 1024 points in 8 partitions: a z-layout bounds BOTH ranges well
    # below the full 0..31 extent on average (a 1-D sort would leave one
    # dimension at full range ~31 in every partition).
    avg_xr = sum(r["xr"] for r in stats) / len(stats)
    avg_yr = sum(r["yr"] for r in stats) / len(stats)
    assert avg_xr < 24 and avg_yr < 24, (avg_xr, avg_yr)


def test_zorder_layout_keys_above_16_bits(spark):
    """Keys far beyond 65,535 must still cluster: zorder_layout
    affine-maps raw keys into the curve's 16-bit domain, so locality is
    preserved instead of aliasing by truncation (regression for the r2
    ADVICE item: raw `zvalue16` would send 10_000_000 and 10_065_536 to
    the SAME cell while 10_000_000 and 10_000_001 land far apart)."""
    import itertools

    # 32x32 grid stretched over a ~33M-wide domain starting at 10M
    pts = [
        (10_000_000 + x * 1_048_576, 5_000_000 + y * 524_288)
        for x, y in itertools.product(range(32), range(32))
    ]
    df = spark.createDataFrame(pts, "x LONG, y LONG")
    out = layout.zorder_layout(df, "x", "y", num_partitions=8)
    stats = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .collect()
    )
    # same clustering bar as the small-domain test, scaled to the domain
    avg_xr = sum(r["xr"] for r in stats) / len(stats) / 1_048_576
    avg_yr = sum(r["yr"] for r in stats) / len(stats) / 524_288
    assert avg_xr < 24 and avg_yr < 24, (avg_xr, avg_yr)
    # and distinct raw keys must not collapse onto one curve cell
    n_cells = out.select("_zvalue").distinct().count()
    assert n_cells > 512, n_cells
