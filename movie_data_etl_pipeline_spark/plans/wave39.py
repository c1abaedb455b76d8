"""Round-4 wave 39: batch sessionization statistics, RFM customer
segmentation, and Cramér's V association strength.

Determinism contract: sessions are exact integer arithmetic over
epoch seconds under per-user windows; RFM bins are pure integer
divisions over distributed prefix sums; V is one fixed double
expression over the micro-snapped chi-square integer (`qa_chi2`'s
discipline, reference `plans/wave4.py:400`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions import scalar as SC
from movie_data_etl_pipeline_spark.sources import load_table

_SESSION_GAP_S = 1800


def ev_batch_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Batch sessionization of the event stream (the offline twin of
    ``streaming/windows.session_window``): a session breaks on a
    >30-min silence, session ids are the running count of breaks under
    ONE per-user window (key-partitioned — no global sort), then
    session-grain facts roll up to a bounded profile: sessions and
    exact duration/event totals per capped events-per-session bucket.
    At 100 TB: one shuffle on user_id, one on the 6-row bucket key."""
    ev = load_table(spark, sf, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec")
    brk = F.when(
        F.col("sec") - F.lag("sec", 1).over(w) > _SESSION_GAP_S, 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("sec") - F.min("sec")).cast("bigint").alias("duration_s"),
    )
    bucket = F.least(F.col("n_events"), F.lit(6)).cast("bigint")
    return (
        per_session.groupBy(bucket.alias("events_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("sum_events"),
            F.sum("duration_s").cast("bigint").alias("sum_duration_s"),
            F.max("duration_s").cast("bigint").alias("max_duration_s"),
        )
        .orderBy("events_bucket")
    )


_EV_SESS_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
lagged AS (
  SELECT user_id, sec,
         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
                   > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS brk
  FROM ev
),
sess AS (
  SELECT user_id, sec,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY sec
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM lagged
),
per_session AS (
  SELECT user_id, session_no,
         COUNT(*)::BIGINT AS n_events,
         CAST(MAX(sec) - MIN(sec) AS BIGINT) AS duration_s
  FROM sess GROUP BY 1, 2
)
SELECT CAST(LEAST(n_events, 6) AS BIGINT) AS events_bucket,
       COUNT(*)::BIGINT AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS sum_events,
       CAST(SUM(duration_s) AS BIGINT) AS sum_duration_s,
       CAST(MAX(duration_s) AS BIGINT) AS max_duration_s
FROM per_session
GROUP BY 1
ORDER BY 1
"""


def _quintile_maps_fused(cust: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(metric id, value → quintile 0..4) for ALL customer metrics in
    ONE pipeline — value histogram → distributed exclusive prefix sum
    → ``(5·cum) div n``, the ml_eval decile discipline, ties share a
    bin. r10 optimization (guide §2.4 remove shuffles): the per-metric
    ``_quintile_map`` ran the histogram + range-repartition +
    checkpoint + partition-totals prefix machinery once PER metric
    (three of everything); melting the metrics into (m, value) rows
    runs it once, range-partitioned on (m, value) so each metric's
    rows stay internally ordered (per-metric prefixes via (pid, m) /
    (m)-partitioned windows — still no global single-task window).
    Quintile values are identical: same per-metric histogram, same
    exclusive prefix, same integer division."""
    melted = cust.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("m"), F.col(c).alias("s"))
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("x")
    ).select("x.m", "x.s")
    hist = melted.groupBy("m", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    h = (
        hist.repartitionByRange(F.col("m").asc(), F.col("s").asc())
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    part_totals = h.groupBy("pid", "m").agg(F.sum("n_s").alias("ptot"))
    tiny = Window.partitionBy("m").orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = part_totals.select(
        "pid", "m", F.coalesce(F.sum("ptot").over(tiny), F.lit(0)).alias("ppre")
    )
    intra = Window.partitionBy("pid", "m").orderBy(F.col("s").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # per-metric totals from the CHECKPOINTED relation (ADVICE-r10):
    # deriving from the lazy `hist` replayed the melt+groupBy pipeline
    # a second time just to sum it
    tot = h.groupBy("m").agg(F.sum("n_s").cast("bigint").alias("n"))
    return (
        h.join(F.broadcast(prefix), ["pid", "m"])
        .withColumn(
            "cum",
            (F.col("ppre") + F.coalesce(F.sum("n_s").over(intra), F.lit(0))).cast(
                "bigint"
            ),
        )
        .join(F.broadcast(tot), "m")
        .select("m", "s", F.expr("(5 * cum) div n").cast("bigint").alias("q"))
    )


def ev_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days from last order
    to the corpus high-water date), frequency (order count), monetary
    (lifetime cents) — each cut into quintiles by pure integer
    arithmetic over its value histogram's distributed prefix sum, then
    rolled up to segment grain: customers and exact metric totals per
    (r,f,m) cell (recency quintile 0 = most recent via descending
    day-diff sign flip). Three histogram pipelines + three value
    joins — every join keyed, every cut deterministic under ties.
    The per-customer base is consumed by all three histogram
    pipelines AND the value joins, so it is eagerly truncated once —
    without it each consumer replays the orders scan + custkey
    aggregation (interleaved A/B, tools/ab_r7_sf01.json: 2.79 -> 1.97 s
    median at sf0.1)."""
    o = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderdate", SC.cents("o_totalprice").alias("cents")
    )
    hwm = o.agg(F.max("o_orderdate").alias("hwm"))
    cust = (
        o.join(F.broadcast(hwm))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("hwm"), F.col("o_orderdate")))
            .cast("bigint")
            .alias("rec"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("cents").cast("bigint").alias("money"),
        )
        .localCheckpoint(eager=True)
    )
    # ONE fused quintile-map pipeline for all three metrics (see
    # _quintile_maps_fused), checkpointed once so the three value
    # joins below read the materialized 64-ish-row map instead of
    # replaying the melted pipeline three times
    qmap = _quintile_maps_fused(cust, ("rec", "freq", "money")).localCheckpoint(
        eager=True
    )

    def pick(i: int, col: str) -> DataFrame:
        return qmap.filter(F.col("m") == i).select(
            F.col("s").alias(col), F.col("q").alias(f"{col}_q")
        )

    tagged = (
        cust.join(pick(0, "rec"), "rec")
        .join(pick(1, "freq"), "freq")
        .join(pick(2, "money"), "money")
    )
    return (
        tagged.groupBy("rec_q", "freq_q", "money_q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum("rec").cast("bigint").alias("sum_rec_days"),
            F.sum("freq").cast("bigint").alias("sum_orders"),
            F.sum("money").cast("bigint").alias("sum_cents"),
        )
        .orderBy("rec_q", "freq_q", "money_q")
    )


_EV_RFM_SQL = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
hwm AS (SELECT MAX(o_orderdate) AS hwm FROM o),
cust AS (
  SELECT o_custkey,
         CAST(MIN(datediff('day', o_orderdate, hwm)) AS BIGINT) AS rec,
         COUNT(*)::BIGINT AS freq,
         CAST(SUM(cents) AS BIGINT) AS money
  FROM o CROSS JOIN hwm
  GROUP BY 1
),
rh AS (SELECT rec AS s, COUNT(*)::BIGINT AS n_s FROM cust GROUP BY 1),
rq AS (
  SELECT s AS rec, (5 * COALESCE(CAST(SUM(n_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0))
         // (SELECT CAST(SUM(n_s) AS BIGINT) FROM rh) AS rec_q
  FROM rh
),
fh AS (SELECT freq AS s, COUNT(*)::BIGINT AS n_s FROM cust GROUP BY 1),
fq AS (
  SELECT s AS freq, (5 * COALESCE(CAST(SUM(n_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0))
         // (SELECT CAST(SUM(n_s) AS BIGINT) FROM fh) AS freq_q
  FROM fh
),
mh AS (SELECT money AS s, COUNT(*)::BIGINT AS n_s FROM cust GROUP BY 1),
mq AS (
  SELECT s AS money, (5 * COALESCE(CAST(SUM(n_s) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0))
         // (SELECT CAST(SUM(n_s) AS BIGINT) FROM mh) AS money_q
  FROM mh
),
tagged AS (
  SELECT cust.*, rec_q, freq_q, money_q
  FROM cust JOIN rq USING (rec) JOIN fq USING (freq) JOIN mq USING (money)
)
SELECT CAST(rec_q AS BIGINT) AS rec_q,
       CAST(freq_q AS BIGINT) AS freq_q,
       CAST(money_q AS BIGINT) AS money_q,
       COUNT(*)::BIGINT AS n_cust,
       CAST(SUM(rec) AS BIGINT) AS sum_rec_days,
       CAST(SUM(freq) AS BIGINT) AS sum_orders,
       CAST(SUM(money) AS BIGINT) AS sum_cents
FROM tagged
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def ag_cramers_v(spark: SparkSession, sf: str) -> DataFrame:
    """Cramér's V between order priority and status: the chi-square
    statistic accumulated exactly as `qa_chi2` does (micro-snapped
    cell contributions, reference `plans/wave4.py:400`), then
    V = √(χ² / (n·min(r−1, c−1))) as ONE fixed double expression over
    exact integers — the normalized association strength a drift
    monitor thresholds on. One scan, one contingency aggregate.
    Same DECIMAL(38,0) overflow discipline as qa_chi2 (the round-7
    30x error sweep faulted both int64 forms at once): num and the
    n·rt·ct denominator exact in decimal, num² as the IEEE double
    product — bit-identical below 2⁵³, robust to n ~ 1.5e10."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    )
    cells = o.groupBy("priority", "status").agg(F.count(F.lit(1)).alias("n_obs"))
    rt = cells.groupBy("priority").agg(F.sum("n_obs").alias("row_tot"))
    ct = cells.groupBy("status").agg(F.sum("n_obs").alias("col_tot"))
    n = cells.agg(
        F.sum("n_obs").cast("bigint").alias("n"),
        F.count_distinct("priority").cast("bigint").alias("r"),
        F.count_distinct("status").cast("bigint").alias("c"),
    )
    j = (
        cells.join(F.broadcast(rt), "priority")
        .join(F.broadcast(ct), "status")
        .crossJoin(F.broadcast(n))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (dec("n") * dec("n_obs") - dec("row_tot") * dec("col_tot")).cast("double")
    contrib_micro = F.round(
        F.lit(1e6)
        * (num * num)
        / (dec("n") * dec("row_tot") * dec("col_tot")).cast("double")
    ).cast("bigint")
    agg = j.select(
        contrib_micro.alias("c_micro"), "n", "r", "c"
    ).groupBy("n", "r", "c").agg(F.sum("c_micro").cast("bigint").alias("chi2_micro"))
    dof = F.least(F.col("r") - 1, F.col("c") - 1)
    return agg.select(
        "n",
        "r",
        "c",
        "chi2_micro",
        F.sqrt(
            (F.col("chi2_micro").cast("double") / F.lit(1e6))
            / (F.col("n") * dof).cast("double")
        ).alias("cramers_v"),
    )


_AG_CRAMERS_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status,
         COUNT(*)::BIGINT AS n_obs
  FROM orders GROUP BY 1, 2
),
rt AS (SELECT priority, CAST(SUM(n_obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
ct AS (SELECT status, CAST(SUM(n_obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT priority) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT status) AS BIGINT) AS c
  FROM cells
),
per AS (
  SELECT n, r, c,
         CAST(ROUND(1e6 *
           CAST((n * n_obs - row_tot * col_tot)
                * (n * n_obs - row_tot * col_tot) AS DOUBLE)
           / CAST(n * row_tot * col_tot AS DOUBLE)) AS BIGINT) AS c_micro
  FROM cells JOIN rt USING (priority) JOIN ct USING (status) CROSS JOIN tot
)
SELECT n, r, c,
       CAST(SUM(c_micro) AS BIGINT) AS chi2_micro,
       sqrt((CAST(SUM(c_micro) AS DOUBLE) / 1e6)
            / CAST(n * LEAST(r - 1, c - 1) AS DOUBLE)) AS cramers_v
FROM per
GROUP BY n, r, c
"""


QUERIES = {
    "ev_batch_sessions": ev_batch_sessions,
    "ev_rfm_segments": ev_rfm_segments,
    "ag_cramers_v": ag_cramers_v,
}

ORACLES = {
    "ev_batch_sessions": _EV_SESS_SQL,
    "ev_rfm_segments": _EV_RFM_SQL,
    "ag_cramers_v": _AG_CRAMERS_SQL,
}
