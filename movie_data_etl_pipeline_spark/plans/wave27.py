"""Round-4 wave 27: distributed Lloyd k-means (unrolled, integer
geometry) and functional-dependency profiling.

Determinism contract unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.session import per_session
from movie_data_etl_pipeline_spark.sources import load_table

# ---------------------------------------------------------------------------
# emb_kmeans_iterate — 3 unrolled Lloyd rounds, integer-exact
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ROUNDS = 3
_KM_DIM = 64


@per_session
def kmeans_state(spark: SparkSession, sf: str):
    """The shared Lloyd fixed point: returns (assign, cents) after
    ``_KM_ROUNDS`` unrolled rounds — `emb_kmeans_iterate` reports it,
    `wave31.emb_silhouette` scores it. See `emb_kmeans_iterate` for
    the determinism contract. Cached per (session, sf) — the rounds
    run once per session however many queries read the fixed point
    (``session.per_session``); the final assignment is eagerly
    checkpointed so consumers plan against flat scans, not the unrolled
    round lineage."""
    assign, cents = _kmeans_state_uncached(spark, sf)
    return assign.localCheckpoint(eager=True), cents


def _kmeans_state_uncached(spark: SparkSession, sf: str):
    emb = load_table(spark, sf, "embeddings")
    q = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1048576.0)).cast("bigint"),
        ).alias("q"),
    ).localCheckpoint(eager=True)

    w8 = Window.orderBy("id")
    cents = (
        q.orderBy("id")
        .limit(_KM_K)
        .select(
            (F.row_number().over(w8) - 1).cast("bigint").alias("cluster"),
            F.col("q").alias("c"),
        )
        .localCheckpoint(eager=True)
    )

    dist = F.aggregate(
        F.zip_with("q", "c", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    wv = Window.partitionBy("id").orderBy(F.asc("dist"), F.asc("cluster"))
    assign = None
    for _ in range(_KM_ROUNDS):
        scored = q.crossJoin(F.broadcast(cents)).select(
            "id", "q", "cluster", dist.alias("dist")
        )
        assign = (
            scored.withColumn("rk", F.row_number().over(wv))
            .filter(F.col("rk") == 1)
            .select("id", "q", "cluster")
        )
        sums = assign.groupBy("cluster").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            *[
                F.sum(F.element_at("q", j + 1)).cast("bigint").alias(f"s{j}")
                for j in range(_KM_DIM)
            ],
        )
        new_c = sums.select(
            "cluster",
            "n",
            F.array(
                *[
                    F.floor(
                        F.col(f"s{j}").cast("double") / F.col("n").cast("double")
                    ).cast("bigint")
                    for j in range(_KM_DIM)
                ]
            ).alias("c_new"),
        )
        cents = (
            cents.join(new_c, "cluster", "left")
            .select("cluster", F.coalesce("c_new", "c").alias("c"))
            .localCheckpoint(eager=True)
        )
    return assign, cents


def emb_kmeans_iterate(spark: SparkSession, sf: str) -> DataFrame:
    """Lloyd's k-means over the embeddings, k=8, THREE unrolled rounds
    — the actual clustering iteration `sim_kmeans_assign` (single
    assignment against fixed seeds) stops short of. Everything stays
    integer-exact: vectors quantize to int64 (×2^20), distances are
    exact integer sums of squares, the argmin tie-breaks (dist asc,
    cluster asc), and each round's new centroid is the FLOOR-divided
    per-dimension mean (empty clusters keep their previous centroid) —
    so the fixed point is bit-identical in both engines with no float
    in any cross-row path.

    Scale: per round, one broadcast of the k×dim centroid relation
    into the embedding scan (the `sim_knn_ivf` shape) + one
    64-expression grouped aggregation; driver state is the 8-row
    centroid relation. Output: per-cluster member count and the first
    four centroid coordinates (the verification fingerprint)."""
    assign, cents = kmeans_state(spark, sf)
    counts = assign.groupBy("cluster").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # r10 broadcast-scan lead, A/B'd and REJECTED: counts is k-row but
    # so is the other side (cents) — a pin removes no fact-side
    # exchange at any scale, and the broadcast build round-trip
    # measured slightly SLOWER than the 8-row sort-merge tail
    # (0.300 vs 0.266 s interleaved at sf0.1, values equal; see
    # tools/plan_audit.BROADCAST_SCAN_TESTED)
    return (
        cents.join(counts, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_members"),
            *[
                F.element_at("c", j + 1).cast("bigint").alias(f"c{j}")
                for j in range(4)
            ],
        )
        .orderBy("cluster")
    )


def _km_round_sql(cent: str, out: str) -> str:
    sums = ", ".join(f"CAST(SUM(q[{j + 1}]) AS BIGINT) AS s{j}" for j in range(_KM_DIM))
    arr = ", ".join(
        f"CAST(floor(CAST(s{j} AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"
        for j in range(_KM_DIM)
    )
    return f"""
sc_{out} AS (
  SELECT id, q, cluster,
         CAST(list_sum([(q[i] - c[i]) * (q[i] - c[i]) for i in range(1, {_KM_DIM + 1})]) AS BIGINT) AS dist
  FROM qv CROSS JOIN {cent}
),
a_{out} AS (
  SELECT id, q, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist ASC, cluster ASC) AS rk
    FROM sc_{out}
  ) WHERE rk = 1
),
s_{out} AS (
  SELECT cluster, COUNT(*)::BIGINT AS n, {sums}
  FROM a_{out} GROUP BY cluster
),
n_{out} AS (SELECT cluster, n, [{arr}] AS c_new FROM s_{out}),
{out} AS (
  SELECT p.cluster, COALESCE(n_{out}.c_new, p.c) AS c
  FROM {cent} p LEFT JOIN n_{out} ON p.cluster = n_{out}.cluster
)"""


_EMB_KMEANS_SQL = f"""
WITH qv AS (
  SELECT vec_id AS id,
         [CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) for x in embedding] AS q
  FROM embeddings
),
c0 AS (
  SELECT (row_number() OVER (ORDER BY id)) - 1 AS cluster, q AS c
  FROM (SELECT id, q FROM qv ORDER BY id LIMIT {_KM_K})
),
{_km_round_sql('c0', 'c1')},
{_km_round_sql('c1', 'c2')},
{_km_round_sql('c2', 'c3')},
cnt AS (SELECT cluster, COUNT(*)::BIGINT AS n FROM a_c3 GROUP BY cluster)
SELECT c3.cluster, COALESCE(cnt.n, 0)::BIGINT AS n_members,
       c3.c[1] AS c0, c3.c[2] AS c1, c3.c[3] AS c2, c3.c[4] AS c3
FROM c3 LEFT JOIN cnt ON c3.cluster = cnt.cluster
ORDER BY c3.cluster
"""


# ---------------------------------------------------------------------------
# qa_fd_mining — functional-dependency profiling
# ---------------------------------------------------------------------------

_FD_PAIRS = [
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderdate", "o_orderstatus"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem", "l_partkey", "l_returnflag"),
    ("supplier", "s_suppkey", "s_nationkey"),
]


def qa_fd_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency profiling (the Metanome/data-profiling
    primitive): for each declared column pair A → B, does A determine
    B — and if not, HOW broken is the dependency (number of violating
    A-groups, worst distinct-B fan-out, rows trapped in violating
    groups)? The report that discovers real keys, near-keys, and
    denormalization opportunities before schema work. One grouped
    aggregation per declared pair, unioned — each is a single shuffle
    on its LHS; all counts integer."""
    outs = []
    for table, lhs, rhs in _FD_PAIRS:
        t = load_table(spark, sf, table)
        g = t.groupBy(F.col(lhs).cast("string").alias("lhs_val")).agg(
            F.countDistinct(rhs).alias("n_rhs"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        outs.append(
            g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.sum((F.col("n_rhs") > 1).cast("bigint")).cast("bigint").alias("n_violating"),
                F.max("n_rhs").cast("bigint").alias("max_fanout"),
                F.sum(F.when(F.col("n_rhs") > 1, F.col("n_rows")).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("rows_in_violation"),
            ).select(
                F.lit(f"{table}.{lhs}").alias("lhs"),
                F.lit(f"{table}.{rhs}").alias("rhs"),
                "n_groups",
                "n_violating",
                "max_fanout",
                "rows_in_violation",
                (F.col("max_fanout") == 1).cast("int").alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("lhs", "rhs")


def _fd_pair_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{table}.{lhs}' AS lhs, '{table}.{rhs}' AS rhs,
       COUNT(*)::BIGINT AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(MAX(n_rhs) AS BIGINT) AS max_fanout,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_in_violation,
       CAST(MAX(n_rhs) = 1 AS INTEGER) AS holds
FROM (
  SELECT CAST({lhs} AS VARCHAR) AS lhs_val,
         COUNT(DISTINCT {rhs})::BIGINT AS n_rhs,
         COUNT(*)::BIGINT AS n_rows
  FROM {table} GROUP BY 1
)"""


_QA_FD_SQL = (
    "\nUNION ALL\n".join(_fd_pair_sql(t, l, r) for t, l, r in _FD_PAIRS)
    + "\nORDER BY lhs, rhs"
)


QUERIES = {
    "emb_kmeans_iterate": emb_kmeans_iterate,
    "qa_fd_mining": qa_fd_mining,
}

ORACLES = {
    "emb_kmeans_iterate": _EMB_KMEANS_SQL,
    "qa_fd_mining": _QA_FD_SQL,
}
