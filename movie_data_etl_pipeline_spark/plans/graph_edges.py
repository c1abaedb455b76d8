"""Shared relation builds for the graph / co-purchase query families.

Seven registry queries (``gr_pagerank``, ``gr_label_prop``, ``gr_hits``,
``gr_khop_reach``, ``gr_modularity``, ``gr_conductance``, ``gr_bfs_hops``)
run over the SAME base relation — the distinct (customer, supplier)
pairs of the orders⋈lineitem order graph — and each used to rebuild it
from the parquet scans. This module builds it ONCE per (SparkSession,
sf_dir) and hands out cheap map-side derivations (node encoding, edge
direction), so a bench/driver pass over the family pays the scan + join
+ distinct exactly once. Round 6 added two more cached builds on the
same discipline: the distinct (customer, part) co-PURCHASE pairs
(``copurchase_pairs`` — CF, association rules, link prediction) and
the 3-round label-propagation fixed point (``cotx_labels`` —
gr_label_prop, gr_modularity, gr_conductance).

The cache is ``session.per_session``, keyed by the live session:
entries die with the session (no stale DataFrames bound to a stopped
session), and a vanilla driver session works identically to the repo's
own factory — no conf dependence. The materialization is
``localCheckpoint(eager=True)``, the repo-wide iterative-algorithm
discipline: blocks are freed by the ContextCleaner when the cached
DataFrame is dropped, and lineage is truncated so every consumer plans
against a flat scan of the checkpointed pairs.

At 100 TB the same shape holds: the pair relation is orders⋈lineitem
shuffled once on orderkey then deduped — every graph query downstream
reuses that one shuffle instead of re-running it per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.session import per_session
from movie_data_etl_pipeline_spark.sources import load_table


@per_session
def cotx_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct (c, s) = (o_custkey, l_suppkey) co-transaction pairs,
    built and eagerly localCheckpointed once per (session, sf)."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").cast("bigint").alias("c"),
            F.col("l_suppkey").cast("bigint").alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


@per_session
def copurchase_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct (c, p) = (o_custkey, l_partkey) co-PURCHASE pairs —
    the customer↔part analogue of :func:`cotx_pairs`, built and
    eagerly localCheckpointed once per (session, sf). Shared base of
    the co-purchase family: ``wave36._cf_baskets`` (item-item CF,
    association rules) and ``wave25.gr_link_prediction`` each started
    from this exact orders⋈lineitem scan + distinct."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").cast("bigint").alias("c"),
            F.col("l_partkey").cast("bigint").alias("p"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def cotx_node_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The pairs under the shared node encoding — customers at even ids
    (2c), suppliers at odd (2s+1) — as (c_node, s_node)."""
    return cotx_pairs(spark, sf).select(
        (F.col("c") * 2).alias("c_node"),
        (F.col("s") * 2 + 1).alias("s_node"),
    )


def cotx_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Bidirectional node-encoded edge list (src, dst) — the input shape
    of ``graph.pagerank_fixed_point`` and the BFS family."""
    p = cotx_node_pairs(spark, sf)
    return p.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    ).unionByName(p.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst")))


@per_session
def cotx_labels(spark: SparkSession, sf: str) -> DataFrame:
    """The 3-round deterministic label-propagation fixed point over the
    co-transaction graph (25% of customers seeded with their market
    segment — the exact relation ``gr_label_prop`` returns before its
    NULL filter), built once per (session, sf) and eagerly
    localCheckpointed. Three registry queries run this identical
    iteration (``gr_label_prop``, ``gr_modularity``,
    ``gr_conductance``); the propagation is deterministic ((count desc,
    label asc) tie-break), so sharing the fixed point is pure
    amortization."""
    from movie_data_etl_pipeline_spark.operators import graph

    customer = load_table(spark, sf, "customer")
    edges = cotx_node_pairs(spark, sf).select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    )
    seeds = customer.filter(F.col("c_custkey") % 4 == 0).select(
        (F.col("c_custkey") * 2).alias("node"),
        F.col("c_mktsegment").alias("label"),
    )
    return graph.label_propagation(edges, seeds, iters=3).localCheckpoint(
        eager=True
    )
