"""Round-3 wave 6: distribution testing (two-sample KS), inequality
measurement (Gini), seasonal indexing, graph projection, and a
deterministic Poisson bootstrap — statistical depth for the
monitoring layer started in wave4/wave5.

Determinism contract as everywhere: exact integer state for every
cross-row reduction; the bootstrap's randomness comes from the
engine-portable hash family (`functions/portable_hash.py`), so the
*resampling itself* is reproduced bit-for-bit by the DuckDB oracle —
a value-checked oracle for a randomized algorithm.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions import portable_hash as ph
from movie_data_etl_pipeline_spark.functions import scalar as SC
from movie_data_etl_pipeline_spark.operators import indexing
from movie_data_etl_pipeline_spark.sources import load_table


# ---------------------------------------------------------------------------
# qa_ks_test — exact two-sample Kolmogorov–Smirnov distance
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "click", "view"
_KS_CRIT = 1.358  # alpha = 0.05 two-sample coefficient


def qa_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample KS test between the value distributions of two
    event types — the distribution-level drift check PSI's fixed bins
    can miss (KS sees any ECDF gap, not just mass in coarse buckets).

    D = max_v |F₁(v) − F₂(v)| evaluated on the VALUE-GRAIN histogram:
    per distinct (snapped-cents) value, cumulative counts for each
    sample, and the sup as max |c₁·n₂ − c₂·n₁| — an integer, so the
    supremum is exact; division by n₁·n₂ happens once at the end. The
    cumulative window runs at distinct-value grain (bounded), never
    at event grain."""
    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
    )
    counts = (
        ev.filter(F.col("event_type").isin(_KS_A, _KS_B))
        .groupBy("v")
        .agg(
            F.sum((F.col("event_type") == _KS_A).cast("int")).alias("c1"),
            F.sum((F.col("event_type") == _KS_B).cast("int")).alias("c2"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    tot = ev.filter(F.col("event_type").isin(_KS_A, _KS_B)).agg(
        F.sum((F.col("event_type") == _KS_A).cast("int")).cast("bigint").alias("n1"),
        F.sum((F.col("event_type") == _KS_B).cast("int")).cast("bigint").alias("n2"),
    )
    sup = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))).alias(
            "d_num"
        ),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    d_stat = F.col("d_num").cast("double") / (n1d * n2d)
    crit = F.lit(_KS_CRIT) * F.sqrt((n1d + n2d) / (n1d * n2d))
    return sup.select(
        "n1",
        "n2",
        F.round(d_stat, 6).alias("d_stat"),
        F.round(crit, 6).alias("d_crit"),
        (d_stat > crit).alias("reject_same_dist"),
    )


QA_KS_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
  WHERE event_type IN ('{_KS_A}', '{_KS_B}')
),
counts AS (
  SELECT v,
         SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END) AS c2
  FROM ev GROUP BY v
),
cum AS (
  SELECT SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
         SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
  FROM counts
),
tot AS (
  SELECT CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM ev
),
sup AS (
  SELECT MAX(ABS(f1 * n2 - f2 * n1)) AS d_num, MAX(n1) AS n1, MAX(n2) AS n2
  FROM cum CROSS JOIN tot
)
SELECT n1, n2,
       ROUND(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d_stat,
       ROUND({_KS_CRIT} * SQRT((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6) AS d_crit,
       CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         > {_KS_CRIT} * SQRT((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS reject_same_dist
FROM sup
"""


# ---------------------------------------------------------------------------
# ag_gini — Gini coefficient of supplier revenue concentration
# ---------------------------------------------------------------------------


def ag_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of revenue concentration across suppliers —
    the one-number inequality readout behind ABC analysis (`ag_abc`
    shows the curve; this is its summary statistic).

    G = (2·Σ rankᵢ·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over ascending ranks —
    every term an exact integer (DECIMAL(38,0)/HUGEINT), one final
    division. Ranks come from `global_row_number`'s two-phase
    numbering at supplier grain (never a single-partition window)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_suppkey", SC.cents("l_extendedprice").alias("price_c")
    )
    per = li.groupBy("l_suppkey").agg(F.sum("price_c").alias("rev_c"))
    ranked = indexing.global_row_number(per, ["rev_c", "l_suppkey"], out_col="rn")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec("rev_c")).alias("sx"),
        F.sum(dec("rn") * dec("rev_c")).alias("srx"),
    )
    nn = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    srx = F.col("srx").cast("double")
    return m.select(
        "n",
        F.col("sx").cast("bigint").alias("total_rev_c"),
        F.round((F.lit(2.0) * srx - (nn + 1) * sx) / (nn * sx), 6).alias("gini"),
    )


AG_GINI_SQL = """
WITH per AS (
  SELECT l_suppkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev_c
  FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT rev_c, ROW_NUMBER() OVER (ORDER BY rev_c, l_suppkey) AS rn FROM per
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rev_c) AS sx, SUM(rn * rev_c) AS srx
  FROM ranked
)
SELECT n, CAST(sx AS BIGINT) AS total_rev_c,
       ROUND((2.0 * CAST(srx AS DOUBLE) - (CAST(n AS DOUBLE) + 1) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
FROM m
"""


# ---------------------------------------------------------------------------
# ts_weekday_index — multiplicative weekday seasonal index
# ---------------------------------------------------------------------------


def ts_weekday_index(spark: SparkSession, sf: str) -> DataFrame:
    """Multiplicative weekday seasonal index of daily revenue: each
    weekday's mean vs the all-days mean — the seasonal factor table a
    forecast divides out before trending (and the deseasonalization
    `qa_seasonal_anomaly` applies implicitly via per-weekday z).

    index = (Σ_w x · n) / (n_w · Σ x): one double division of exact
    integer products. Weekday convention reconciled: Spark
    ``dayofweek`` = DuckDB ``dayofweek + 1`` (both 1=Sunday here)."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"),
        SC.cents("o_totalprice").alias("price_c"),
    )
    daily = o.groupBy("d").agg(F.sum("price_c").alias("x_c"))
    per = daily.groupBy(F.dayofweek("d").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x_c").alias("sx_w"),
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("x_c").alias("sx"))
    j = per.crossJoin(F.broadcast(tot))
    return j.select(
        F.col("dow").cast("bigint").alias("dow"),
        "n_days",
        F.round(F.col("sx_w").cast("double") / F.col("n_days").cast("double"), 2).alias(
            "mean_rev_c"
        ),
        F.round(
            (F.col("sx_w") * F.col("n")).cast("double")
            / (F.col("n_days") * F.col("sx")).cast("double"),
            6,
        ).alias("seasonal_index"),
    ).orderBy("dow")


TS_WEEKDAY_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x_c
  FROM orders GROUP BY 1
),
per AS (
  SELECT dayofweek(d) + 1 AS dow, CAST(COUNT(*) AS BIGINT) AS n_days, SUM(x_c) AS sx_w
  FROM daily GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(x_c) AS sx FROM daily)
SELECT CAST(dow AS BIGINT) AS dow, n_days,
       ROUND(CAST(sx_w AS DOUBLE) / CAST(n_days AS DOUBLE), 2) AS mean_rev_c,
       ROUND(CAST(sx_w * n AS DOUBLE) / CAST(n_days * sx AS DOUBLE), 6) AS seasonal_index
FROM per CROSS JOIN tot ORDER BY dow
"""


# ---------------------------------------------------------------------------
# gr_bipartite_project — co-occurrence projection of the supplier–part graph
# ---------------------------------------------------------------------------

_COPART_MIN = 150


def gr_bipartite_project(spark: SparkSession, sf: str) -> DataFrame:
    """Bipartite→unipartite projection: supplier pairs weighted by
    shared parts (≥150) — the co-occurrence graph construction behind
    'related sellers' / collusion screens, and the input `gr_kcore` /
    `gr_triangles` would consume next.

    The self-join fans out per part as C(deg,2); the part-degree cap
    is the scale guard (here the natural degree ~sf-stable; at 100 TB
    a hub cap or hashed sampling per part bounds it — same discipline
    as the near-dup candidate joins). Shuffle key is the part id.
    The distinct (part, supplier) relation is eagerly truncated: both
    self-join sides consume it and Catalyst does not reuse the
    exchange across them (two full lineitem scans otherwise; A/B
    median 4.1 -> 3.4 s at sf0.1). An array-form rewrite measured 2.1x
    SLOWER here (tools/ab_r7_sf01.json, SCALE.md) — the per-part degree is
    ~4, so pair fan-out is tiny and the self-join is the right plan.
    The join is PINNED to a shuffle hash join: both sides are the
    same fact-scale relation, but AQE sizes the flip-to-broadcast
    decision on COMPRESSED shuffle bytes, and two well-compressing
    int64 columns sneak under the 64 MB threshold at 30x while the
    deserialized hash relation (~13.5M rows) does not fit the driver
    — the round-7 30x error sweep failed here twice with 'Not enough
    memory to build and broadcast'. A fact⋈fact key join must never
    broadcast at scale regardless of what it compresses to."""
    sp = (
        load_table(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = sp.select("l_partkey", F.col("l_suppkey").alias("s1"))
    b = sp.select("l_partkey", F.col("l_suppkey").alias("s2"))
    return (
        a.hint("shuffle_hash").join(b, "l_partkey")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co_parts"))
        .filter(F.col("n_co_parts") >= _COPART_MIN)
        .orderBy(F.desc("n_co_parts"), "s1", "s2")
    )


GR_BIPARTITE_SQL = f"""
WITH sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, CAST(COUNT(*) AS BIGINT) AS n_co_parts
FROM sp a JOIN sp b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
GROUP BY 1, 2 HAVING COUNT(*) >= {_COPART_MIN}
ORDER BY n_co_parts DESC, s1, s2
"""


# ---------------------------------------------------------------------------
# sa_bootstrap_ci — deterministic Poisson bootstrap of the mean
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Poisson(1) CDF thresholds, priced once in Python so both engines
# compare against identical double literals.
_POIS_CDF = []
_acc = 0.0
for _k in range(6):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _POIS_CDF.append(_acc)


def _pois_weight_spark(u):
    w = F.lit(6)
    for k in range(5, -1, -1):
        w = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    return w


def _pois_weight_sql(u_expr: str) -> str:
    out = "6"
    for k in range(5, -1, -1):
        out = f"CASE WHEN {u_expr} < {_POIS_CDF[k]!r} THEN {k} ELSE {out} END"
    return out


def sa_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean order value: 32
    replicates where each row's multiplicity is Poisson(1)-distributed
    — the standard single-pass distributed bootstrap (true
    with-replacement resampling needs global coordination; Poisson
    weights need none and converge to the same CI).

    The 'randomness' is `mix(key·37 + rep·101)` from the portable
    hash family, so the DuckDB oracle reproduces the exact resample —
    a value-checked oracle for a randomized estimator. Replicate
    means are exact integer ratios; the CI bounds are order statistics
    of the 32 means (no double summation anywhere)."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", SC.cents("o_totalprice").alias("x_c")
    )
    reps = spark.range(_BOOT_B).select(F.col("id").cast("long").alias("rep"))
    seed = (F.col("o_orderkey") * 37 + F.col("rep") * 101) % F.lit(ph.P)
    u = ph.mix(seed).cast("double") / F.lit(float(ph.P))
    per_rep = (
        o.crossJoin(F.broadcast(reps))
        .select("rep", "x_c", _pois_weight_spark(u).alias("w"))
        .groupBy("rep")
        .agg(
            F.sum(F.col("w") * F.col("x_c")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .select(
            "rep",
            F.round(F.col("swx").cast("double") / F.col("sw").cast("double"), 6).alias(
                "mean_c"
            ),
        )
    )
    ranked = per_rep.withColumn(
        "r", F.row_number().over(Window.orderBy("mean_c", "rep"))
    )
    point = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("x_c").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_c"),
    )
    lo_rank = max(1, round(0.05 * _BOOT_B))
    hi_rank = min(_BOOT_B, round(0.95 * _BOOT_B) + 1)
    bounds = ranked.agg(
        F.max(F.when(F.col("r") == lo_rank, F.col("mean_c"))).alias("boot_lo_c"),
        F.max(F.when(F.col("r") == hi_rank, F.col("mean_c"))).alias("boot_hi_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
    )
    return point.crossJoin(F.broadcast(bounds)).select(
        "n", "mean_c", "boot_lo_c", "boot_hi_c", "n_replicates"
    )


SA_BOOTSTRAP_SQL = f"""
WITH o AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x_c FROM orders
),
reps AS (SELECT UNNEST(range(0, {_BOOT_B})) AS rep),
wx AS (
  SELECT rep, x_c,
         {_pois_weight_sql(
             ph.sql_mix("(o_orderkey * 37 + rep * 101) % " + str(ph.P))
             + f" / {float(ph.P)!r}"
         )} AS w
  FROM o CROSS JOIN reps
),
per_rep AS (
  SELECT rep, ROUND(CAST(SUM(w * x_c) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6) AS mean_c
  FROM wx GROUP BY rep
),
ranked AS (
  SELECT mean_c, ROW_NUMBER() OVER (ORDER BY mean_c, rep) AS r FROM per_rep
),
bounds AS (
  SELECT MAX(CASE WHEN r = {max(1, round(0.05 * _BOOT_B))} THEN mean_c END) AS boot_lo_c,
         MAX(CASE WHEN r = {min(_BOOT_B, round(0.95 * _BOOT_B) + 1)} THEN mean_c END) AS boot_hi_c,
         CAST(COUNT(*) AS BIGINT) AS n_replicates
  FROM ranked
),
point AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(CAST(SUM(x_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_c
  FROM o
)
SELECT n, mean_c, boot_lo_c, boot_hi_c, n_replicates
FROM point CROSS JOIN bounds
"""


QUERIES = {
    "qa_ks_test": qa_ks_test,
    "ag_gini": ag_gini,
    "ts_weekday_index": ts_weekday_index,
    "gr_bipartite_project": gr_bipartite_project,
    "sa_bootstrap_ci": sa_bootstrap_ci,
}

ORACLES = {
    "qa_ks_test": QA_KS_SQL,
    "ag_gini": AG_GINI_SQL,
    "ts_weekday_index": TS_WEEKDAY_SQL,
    "gr_bipartite_project": GR_BIPARTITE_SQL,
    "sa_bootstrap_ci": SA_BOOTSTRAP_SQL,
}
