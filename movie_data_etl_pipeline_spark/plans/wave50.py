"""Round-4 wave 50: Brown–Forsythe (median-centered Levene) test of
variance homogeneity across order-priority groups.

Determinism contract: group medians are exact integers (lower median
from the value histogram's prefix sums); absolute deviations are
exact int64; the W statistic's cross-group sums are ONE left-
associated chain over the five fixed priority literals pivoted to a
single row (the iterative-lockstep pivot recipe — never an
order-sensitive SUM of doubles), identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.sources import load_table

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def ag_levene_bf(spark: SparkSession, sf: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity screen: do order totals
    (whole dollars) spread equally across the five priority classes?
    Each group's LOWER median comes from its value histogram's prefix
    sums (exact integer); z = |x − med| is exact int64 per row; the
    statistic W = ((N−k)/(k−1)) · Σnⱼ(z̄ⱼ−z̄)² / ΣΣ(z−z̄ⱼ)² is computed
    from the five groups' (n, Σz, Σz²) moments PIVOTED to one row and
    combined in one fixed left-associated double chain — the
    dispersion-drift gate next to `qa_chi2`'s frequency screen. Output:
    one row per group (its exact moments + median) plus the shared W.
    The two 5-row intermediates (med, g) are eagerly truncated: each
    is consumed twice (z-branch + final join, W-row + final join), and
    without truncation every consumer replays the full orders scan
    (interleaved A/B, tools/ab_r7_sf01.json: 2.40 -> 1.41 s median at sf0.1);
    med is additionally broadcast into the deviation join."""
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.floor("o_totalprice").cast("bigint").alias("x"),
    )
    hist = o.groupBy("grp", "x").agg(F.count(F.lit(1)).cast("bigint").alias("n_v"))
    wcum = Window.partitionBy("grp").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = hist.groupBy("grp").agg(F.sum("n_v").cast("bigint").alias("n_g"))
    med = (
        hist.withColumn("cum", F.coalesce(F.sum("n_v").over(wcum), F.lit(0)))
        .join(tot, "grp")
        # lower median: the first value whose inclusive cum covers n/2
        .filter(
            (2 * (F.col("cum") + F.col("n_v")) >= F.col("n_g"))
            & (2 * F.col("cum") < F.col("n_g"))
        )
        .groupBy("grp")
        .agg(F.min("x").cast("bigint").alias("med"))
        .localCheckpoint(eager=True)
    )
    z = o.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    g = (
        z.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum("z").cast("bigint").alias("sz"),
            F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        )
        .localCheckpoint(eager=True)
    )
    # pivot the 5 groups to one row of integer moments
    piv_aggs = []
    for i, p in enumerate(_PRIORITIES):
        for c in ("n_g", "sz", "szz"):
            piv_aggs.append(
                F.max(F.when(F.col("grp") == p, F.col(c))).alias(f"{c}_{i}")
            )
    one = g.agg(*piv_aggs)

    def chain(terms):
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    n_total = chain([F.col(f"n_g_{i}") for i in range(5)]).cast("bigint")
    sz_total = chain([F.col(f"sz_{i}") for i in range(5)]).cast("bigint")
    one = one.withColumn("n", n_total).withColumn("sz_all", sz_total)
    zbar = F.col("sz_all").cast("double") / F.col("n").cast("double")
    between = chain(
        [
            F.col(f"n_g_{i}").cast("double")
            * (F.col(f"sz_{i}").cast("double") / F.col(f"n_g_{i}").cast("double") - zbar)
            * (F.col(f"sz_{i}").cast("double") / F.col(f"n_g_{i}").cast("double") - zbar)
            for i in range(5)
        ]
    )
    within = chain(
        [
            F.col(f"szz_{i}").cast("double")
            - F.col(f"n_g_{i}").cast("double")
            * (F.col(f"sz_{i}").cast("double") / F.col(f"n_g_{i}").cast("double"))
            * (F.col(f"sz_{i}").cast("double") / F.col(f"n_g_{i}").cast("double"))
            for i in range(5)
        ]
    )
    w_row = one.select(
        "n",
        (
            ((F.col("n") - 5).cast("double") / F.lit(4.0)) * between / within
        ).alias("w_stat"),
    )
    return (
        g.join(med, "grp")
        .join(F.broadcast(w_row))
        .select(
            "grp",
            "n_g",
            F.col("med").alias("median_dollars"),
            "sz",
            "szz",
            "n",
            "w_stat",
        )
        .orderBy("grp")
    )


def _levene_sql() -> str:
    piv = []
    for i, p in enumerate(_PRIORITIES):
        for c in ("n_g", "sz", "szz"):
            piv.append(f"MAX(CASE WHEN grp = '{p}' THEN {c} END) AS {c}_{i}")
    n_chain = " + ".join(f"n_g_{i}" for i in range(5))
    sz_chain = " + ".join(f"sz_{i}" for i in range(5))
    zbar = "(CAST(sz_all AS DOUBLE) / CAST(n AS DOUBLE))"
    bt = " + ".join(
        f"CAST(n_g_{i} AS DOUBLE)"
        f" * (CAST(sz_{i} AS DOUBLE) / CAST(n_g_{i} AS DOUBLE) - {zbar})"
        f" * (CAST(sz_{i} AS DOUBLE) / CAST(n_g_{i} AS DOUBLE) - {zbar})"
        for i in range(5)
    )
    wt = " + ".join(
        f"CAST(szz_{i} AS DOUBLE)"
        f" - CAST(n_g_{i} AS DOUBLE)"
        f" * (CAST(sz_{i} AS DOUBLE) / CAST(n_g_{i} AS DOUBLE))"
        f" * (CAST(sz_{i} AS DOUBLE) / CAST(n_g_{i} AS DOUBLE))"
        for i in range(5)
    )
    return f"""
WITH o AS (
  SELECT o_orderpriority AS grp,
         CAST(FLOOR(o_totalprice) AS BIGINT) AS x
  FROM orders
),
hist AS (
  SELECT grp, x, COUNT(*)::BIGINT AS n_v FROM o GROUP BY 1, 2
),
tot AS (SELECT grp, CAST(SUM(n_v) AS BIGINT) AS n_g FROM hist GROUP BY 1),
med AS (
  SELECT grp, CAST(MIN(x) AS BIGINT) AS med
  FROM (
    SELECT h.grp, h.x, h.n_v, t.n_g,
           COALESCE(CAST(SUM(h.n_v) OVER (PARTITION BY h.grp ORDER BY h.x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
             AS cum
    FROM hist h JOIN tot t USING (grp)
  )
  WHERE 2 * (cum + n_v) >= n_g AND 2 * cum < n_g
  GROUP BY grp
),
z AS (
  SELECT o.grp, ABS(x - med) AS z FROM o JOIN med USING (grp)
),
g AS (
  SELECT grp, COUNT(*)::BIGINT AS n_g,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(z * z) AS BIGINT) AS szz
  FROM z GROUP BY 1
),
one AS (
  SELECT {", ".join(piv)} FROM g
),
two AS (
  SELECT *, CAST({n_chain} AS BIGINT) AS n,
            CAST({sz_chain} AS BIGINT) AS sz_all
  FROM one
),
w AS (
  SELECT n,
         (CAST(n - 5 AS DOUBLE) / 4.0) * ({bt}) / ({wt}) AS w_stat
  FROM two
)
SELECT g.grp, g.n_g, med.med AS median_dollars, g.sz, g.szz, w.n, w.w_stat
FROM g JOIN med USING (grp) CROSS JOIN w
ORDER BY grp
"""


_AG_LEVENE_SQL = _levene_sql()


QUERIES = {
    "ag_levene_bf": ag_levene_bf,
}

ORACLES = {
    "ag_levene_bf": _AG_LEVENE_SQL,
}
