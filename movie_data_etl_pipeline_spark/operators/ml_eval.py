"""Model-evaluation operators: AUC (Mann-Whitney), cumulative-gains
deciles, and a Gini-impurity decision stump — the classifier-quality
metrics a training-data pipeline computes over scored examples.

All three share one scale discipline: the fact relation is reduced to
a SCORE HISTOGRAM first (one row per distinct score value), every
order-dependent quantity (ranks, deciles, split prefixes) is computed
over that histogram with the distributed two-phase prefix sum from
``text_analysis.pack_sequences`` (range-repartition → per-partition
totals → broadcast offsets), and the final metric is a fixed
integer-arithmetic expression — no global-window funnel of the fact,
no row-at-a-time Python, engine-exact against the DuckDB twin.

At extreme scale the int64 products in the final double expressions
(e.g. ``2*n_pos*n_neg``) would need a widening to double earlier; the
histogram/prefix machinery itself is magnitude-safe.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def score_histogram(df: DataFrame, score: Column, label: Column) -> DataFrame:
    """Collapse scored rows to one row per distinct score value with
    positive/negative counts: ``(s, p, m)``. This is the one fact-grain
    aggregation every metric below starts from — the downstream work is
    bounded by |distinct scores|, not |rows|."""
    return (
        df.select(score.alias("s"), label.cast("int").alias("y"))
        .groupBy("s")
        .agg(
            F.sum("y").cast("bigint").alias("p"),
            F.sum(1 - F.col("y")).cast("bigint").alias("m"),
        )
    )


def with_exclusive_prefix(
    hist: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    descending: bool = False,
) -> DataFrame:
    """Add exclusive running sums ``cum_<c>`` of each value column in
    ``order_col`` order WITHOUT a global window: range-repartition so
    partition order equals key order, prefix the per-partition totals
    (a #partitions-row relation) in one tiny task, broadcast the
    offsets back and window only WITHIN partitions. The naive
    ``sum().over(Window.orderBy(...))`` single-task funnel — the shape
    that dies at 100 TB — never appears.

    The input relation is materialized once (``localCheckpoint``) so
    the partition-totals branch and the data branch observe the same
    pid↔row assignment (same invariant as
    ``text_analysis.pack_sequences``)."""
    ordc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    h = (
        hist.repartitionByRange(ordc)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    part_totals = h.groupBy("pid").agg(
        *[F.sum(c).alias(f"ptot_{c}") for c in value_cols]
    )
    tiny = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = part_totals.select(
        "pid",
        *[
            F.coalesce(F.sum(f"ptot_{c}").over(tiny), F.lit(0)).alias(f"ppre_{c}")
            for c in value_cols
        ],
    )
    intra = Window.partitionBy("pid").orderBy(ordc).rowsBetween(
        Window.unboundedPreceding, -1
    )
    out = h.join(F.broadcast(prefix), "pid")
    for c in value_cols:
        out = out.withColumn(
            f"cum_{c}",
            (
                F.col(f"ppre_{c}")
                + F.coalesce(F.sum(c).over(intra), F.lit(0))
            ).cast("bigint"),
        )
    return out.drop("pid", *[f"ppre_{c}" for c in value_cols])


def score_cum_relation(df: DataFrame, score: Column, label: Column) -> DataFrame:
    """The ONE relation every histogram metric below derives from —
    per distinct score value: counts ``(p, m, n_s)``, ASCENDING
    exclusive prefixes ``(cum_n_s, cum_p, cum_m)``, and broadcast
    totals ``(n, pos, neg)``. One fact aggregation, one
    range-repartition + checkpoint, one tiny partition-totals pass;
    a DESCENDING exclusive prefix never needs a second sort because
    ``desc_X(s) = tot_X − asc_X(s) − X(s)`` is map-side arithmetic.

    Built so a whole metric family (AUC, gains, Gini stump,
    calibration, PR curve) can share a single cached instance: totals
    are aggregated from the checkpointed prefix output, not the source,
    so no consumer re-scans the fact table."""
    hist = score_histogram(df, score, label).withColumn(
        "n_s", (F.col("p") + F.col("m")).cast("bigint")
    )
    cum = with_exclusive_prefix(hist, "s", ["n_s", "p", "m"])
    totals = cum.agg(
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum("p").cast("bigint").alias("pos"),
        F.sum("m").cast("bigint").alias("neg"),
    )
    return cum.join(F.broadcast(totals))


def auc_from_cum(rel: DataFrame) -> DataFrame:
    """Mann-Whitney AUC over a :func:`score_cum_relation`."""
    return (
        rel.select(
            "p",
            "m",
            "pos",
            "neg",
            (F.col("p") * (2 * F.col("cum_m") + F.col("m"))).alias("contrib"),
        )
        .agg(
            F.max("pos").cast("bigint").alias("n_pos"),
            F.max("neg").cast("bigint").alias("n_neg"),
            F.sum("contrib").cast("bigint").alias("u2"),
        )
        .select(
            "n_pos",
            "n_neg",
            "u2",
            (
                F.col("u2").cast("double")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
            ).alias("auc"),
        )
    )


def gains_deciles(
    df: DataFrame, score: Column, label: Column, n_bins: int = 10
) -> DataFrame:
    """Cumulative-gains / lift table: rows ranked by score DESCENDING
    are cut into ``n_bins`` equal-population bins (ties share a bin —
    the bin is a pure function of the score value, so the cut is
    deterministic and engine-portable), then each bin reports its
    positive capture and lift. ``bin = floor(n_bins · CntAbove(s) / n)``
    over the descending histogram — the prefix sum again, never a
    global row rank."""
    return gains_deciles_from_cum(score_cum_relation(df, score, label), n_bins)


def gains_deciles_from_cum(rel: DataFrame, n_bins: int = 10) -> DataFrame:
    """Gains/lift table over a :func:`score_cum_relation` — the
    descending count-above prefix is derived map-side
    (``n − cum_n_s − n_s``), no second sort."""
    binned = (
        rel.withColumn(
            # integer `div`, not floor(double /): exact past 2^53 rows and
            # consistent with calibration_bins / ml_pr_curve's binners
            "decile",
            F.expr(f"({n_bins} * (n - cum_n_s - n_s)) div n").cast("bigint"),
        )
        .groupBy("decile")
        .agg(
            F.sum("n_s").cast("bigint").alias("bin_n"),
            F.sum("p").cast("bigint").alias("bin_pos"),
            F.max("n").alias("n"),
            F.max("pos").alias("pos"),
        )
    )
    tiny = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        binned.withColumn("cum_n", F.sum("bin_n").over(tiny).cast("bigint"))
        .withColumn("cum_pos", F.sum("bin_pos").over(tiny).cast("bigint"))
        .select(
            "decile",
            "bin_n",
            "bin_pos",
            "cum_n",
            "cum_pos",
            (F.col("cum_pos").cast("double") / F.col("pos").cast("double")).alias(
                "capture"
            ),
            (
                (F.col("cum_pos") * F.col("n")).cast("double")
                / (F.col("cum_n") * F.col("pos")).cast("double")
            ).alias("lift"),
        )
        .orderBy("decile")
    )


def gini_stump(
    df: DataFrame, score: Column, label: Column, n_bins: int = 10
) -> DataFrame:
    """Decision-stump split search under GINI impurity — the
    tree-learner primitive whose comparisons stay engine-exact because
    Gini (unlike entropy) is rational: candidate thresholds are the
    ``n_bins − 1`` internal equal-population bin boundaries, each
    candidate's weighted impurity is

        imp = [ n_l − (p_l² + q_l²)/n_l + n_r − (p_r² + q_r²)/n_r ] / n

    computed from exact int64 prefix counts (one double expression,
    identical in the oracle), and the winning split is
    ``row_number() ORDER BY imp, threshold`` over the
    ``n_bins − 1``-row candidate relation."""
    return gini_stump_from_cum(score_cum_relation(df, score, label), n_bins)


def gini_stump_from_cum(rel: DataFrame, n_bins: int = 10) -> DataFrame:
    """Gini decision stump over a :func:`score_cum_relation`."""
    per_bin = (
        rel.withColumn(
            "bin",
            F.expr(f"({n_bins} * cum_n_s) div n").cast("bigint"),
        )
        .groupBy("bin")
        .agg(
            F.max("s").alias("threshold"),
            F.sum("n_s").cast("bigint").alias("bin_n"),
            F.sum("p").cast("bigint").alias("bin_pos"),
            F.max("n").alias("n"),
            F.max("pos").alias("pos"),
        )
    )
    tiny = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cand = (
        per_bin.withColumn("n_l", F.sum("bin_n").over(tiny).cast("bigint"))
        .withColumn("p_l", F.sum("bin_pos").over(tiny).cast("bigint"))
        .filter(F.col("bin") < n_bins - 1)
        .select(
            "threshold",
            "n_l",
            "p_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            (F.col("pos") - F.col("p_l")).alias("p_r"),
            "n",
        )
        # a giant top tie block can leave a boundary bin with an empty
        # right side — not a valid split, and a /0 in the impurity
        .filter(F.col("n_r") > 0)
    )
    q_l = F.col("n_l") - F.col("p_l")
    q_r = F.col("n_r") - F.col("p_r")
    imp = (
        F.col("n_l").cast("double")
        - (F.col("p_l") * F.col("p_l") + q_l * q_l).cast("double")
        / F.col("n_l").cast("double")
        + F.col("n_r").cast("double")
        - (F.col("p_r") * F.col("p_r") + q_r * q_r).cast("double")
        / F.col("n_r").cast("double")
    ) / F.col("n").cast("double")
    ranked = cand.withColumn("imp", imp).withColumn(
        "pick_rank",
        F.row_number().over(Window.orderBy(F.asc("imp"), F.asc("threshold"))),
    )
    return ranked.select(
        "threshold", "n_l", "p_l", "n_r", "p_r", "imp",
        F.col("pick_rank").cast("bigint").alias("pick_rank"),
    ).orderBy("pick_rank")


def calibration_bins(
    df: DataFrame,
    score: Column,
    label: Column,
    n_bins: int = 10,
    scale: int = 10_000,
) -> DataFrame:
    """Reliability (calibration) table + per-bin Brier decomposition
    for a score whose predicted probability is its own percentile
    rank: ``p̂ = ⌊scale·(2·CntBelow(s) + n_s) / (2n)⌋`` — the midrank
    percentile, an exact integer in [0, scale] computed from the
    ascending histogram's distributed prefix sum (no global window).
    Bins are equal-width in p̂ (``bin = min(p̂ div (scale/n_bins),
    n_bins−1)``, pure integer division in both engines); each bin
    reports count, positives, mean p̂, empirical positive rate, and
    its Brier sum ``Σ(p̂ − y)²`` accumulated as exact int64
    (per distinct score: p·(p̂−scale)² + m·p̂²) — only the final
    per-bin divisions are doubles. Int64 budget: scale²=1e8 per row
    supports ~9e10 rows per bin before overflow."""
    return calibration_bins_from_cum(
        score_cum_relation(df, score, label), n_bins=n_bins, scale=scale
    )


def calibration_bins_from_cum(
    rel: DataFrame, n_bins: int = 10, scale: int = 10_000
) -> DataFrame:
    """Reliability table + Brier over a :func:`score_cum_relation`."""
    width = scale // n_bins
    phat = F.expr(f"({scale} * (2 * cum_n_s + n_s)) div (2 * n)")
    return (
        rel.withColumn("phat", phat)
        .withColumn(
            "bin",
            F.least(F.expr(f"phat div {width}"), F.lit(n_bins - 1)).cast("bigint"),
        )
        .groupBy("bin")
        .agg(
            F.sum("n_s").cast("bigint").alias("bin_n"),
            F.sum("p").cast("bigint").alias("bin_pos"),
            F.sum(F.col("n_s") * F.col("phat")).cast("bigint").alias("sum_phat"),
            F.sum(
                F.col("p") * (F.col("phat") - F.lit(scale)) * (F.col("phat") - F.lit(scale))
                + F.col("m") * F.col("phat") * F.col("phat")
            )
            .cast("bigint")
            .alias("brier_num"),
        )
        .select(
            "bin",
            "bin_n",
            "bin_pos",
            "sum_phat",
            "brier_num",
            (
                F.col("sum_phat").cast("double")
                / (F.col("bin_n") * F.lit(scale)).cast("double")
            ).alias("mean_phat"),
            (F.col("bin_pos").cast("double") / F.col("bin_n").cast("double")).alias(
                "frac_pos"
            ),
            (
                F.col("brier_num").cast("double")
                / (F.col("bin_n") * F.lit(scale) * F.lit(scale)).cast("double")
            ).alias("brier"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------- retrieval
# NDCG position discounts as integer constants: disc(i) = ⌊2^40 / log2(i+1)⌋,
# computed ONCE here in Python and embedded verbatim in both engines (the
# ts_periodogram trick) — no runtime transcendental whose last ulp could
# disagree between libm implementations. RR holds ⌊2520 / i⌋ (2520 = lcm 1..10)
# so reciprocal ranks are exact integers too.
import math  # noqa: E402

NDCG_K = 10
NDCG_DISC = [math.floor((1 << 40) / math.log2(i + 1)) for i in range(1, NDCG_K + 1)]
NDCG_IDCG_PREF = [sum(NDCG_DISC[: i + 1]) for i in range(NDCG_K)]
RR_2520 = [2520 // i for i in range(1, NDCG_K + 1)]


def retrieval_ndcg_mrr(
    emb: DataFrame,
    n_queries: int = 50,
    k: int = 10,
    dim: int = 64,
    scale: int = 1 << 20,
) -> DataFrame:
    """Ranking-quality metrics (NDCG@k, reciprocal rank) for the
    embedding retrieval protocol the knn family shares (queries =
    ``vec_id < n_queries``, candidates = the rest, relevance = label
    match): candidates are ranked by the int64-quantized dot product
    (exact, order-free — ``sim_knn_portable``'s arithmetic), the
    discount table is integer constants, so DCG/IDCG are exact int64
    sums and the only doubles are final ratios. The query set is a
    broadcast (metadata-sized) against one streamed candidate scan —
    the exact-re-rank eval shape; production retrieval stays on the
    LSH/IVF paths."""
    assert k == NDCG_K, "discount table is built for k=10"
    quant = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )
    base = emb.select(F.col("vec_id").alias("id"), "label", quant.alias("v"))
    q = base.filter(F.col("id") < n_queries).select(
        F.col("id").alias("qid"), F.col("label").alias("qlab"), F.col("v").alias("qv")
    )
    c = base.filter(F.col("id") >= n_queries).select(
        F.col("id").alias("cid"), F.col("label").alias("clab"), F.col("v").alias("cv")
    )
    lab = c.groupBy(F.col("clab").alias("qlab")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lab")
    )
    qdot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "qlab", "cid", "clab", qdot.alias("qdot")
    )
    rnk = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("qdot"), F.asc("cid"))
    )
    top = (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= k)
        .withColumn("rel", (F.col("qlab") == F.col("clab")).cast("int"))
    )
    disc_arr = F.array(*[F.lit(d) for d in NDCG_DISC])
    pref_arr = F.array(*[F.lit(d) for d in NDCG_IDCG_PREF])
    rr_arr = F.array(*[F.lit(d) for d in RR_2520])
    agg = top.groupBy("qid", "qlab").agg(
        F.sum("rel").cast("bigint").alias("n_rel_topk"),
        F.sum(F.col("rel") * F.element_at(disc_arr, F.col("rnk")))
        .cast("bigint")
        .alias("dcg"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("frank"),
    )
    out = (
        agg.join(F.broadcast(lab), "qlab", "left")
        .withColumn("total_rel", F.coalesce("n_lab", F.lit(0)).cast("bigint"))
        .withColumn(
            "idcg",
            F.when(
                F.col("total_rel") > 0,
                # the index is clamped to [1, k] BEFORE element_at: this
                # Spark build mis-evaluates element_at under a NULL/
                # out-of-range index even inside a dead when-branch
                F.element_at(
                    pref_arr,
                    F.least(F.greatest(F.col("total_rel"), F.lit(1)), F.lit(k)).cast(
                        "int"
                    ),
                ),
            ).cast("bigint"),
        )
    )
    return out.select(
        F.col("qid").alias("query_id"),
        "n_rel_topk",
        "total_rel",
        "dcg",
        "idcg",
        (F.col("dcg").cast("double") / F.col("idcg").cast("double")).alias("ndcg"),
        # frank is NULL when no relevant doc ranks in the top k; guard
        # BEFORE element_at — element_at(arr, NULL) returns a stale
        # value on this Spark build instead of NULL
        F.when(
            F.col("frank").isNotNull(),
            F.element_at(rr_arr, F.coalesce(F.col("frank"), F.lit(1)).cast("int")),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rr2520"),
    ).orderBy("query_id")
