"""Round-4 wave 26: bounded-hop reach (unrolled BFS), the map-type
higher-order-function surface, and generalized-ESD outlier detection
(unrolled iterative removal).

Determinism contract unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.plans import _hints
from movie_data_etl_pipeline_spark.sources import load_table


# ---------------------------------------------------------------------------
# gr_khop_reach — bounded-hop neighborhood size via unrolled BFS
# ---------------------------------------------------------------------------

_KHOP = 3
# the sampling knob: fixed seed count at any corpus size. 80 keeps
# ~190 seeds at sf0.1 (visited-set volume is seeds × |V| worst case on
# this dense small-world graph) while staying nonempty at sf0.001.
_SEED_MOD = 80
# hard cap ENFORCING the fixed-seed-count contract in code (the 30×
# amplification sweep showed the modulus alone lets seeds scale with
# the corpus, multiplying the seed×visited product 900×): the smallest
# _SEED_CAP qualifying custkeys are taken deterministically, a no-op
# at every fixture sf (<=190 qualify) and the safety rail beyond.
_SEED_CAP = 400


# bitset words per node: all _SEED_CAP seeds pack into 7 int64 words
_KHOP_NW = (_SEED_CAP + 63) // 64


def gr_khop_reach(spark: SparkSession, sf: str) -> DataFrame:
    """K-hop reach: for a deterministic seed sample of customers
    (``c_custkey % _SEED_MOD == 0``), the number of graph nodes within 1, 2,
    and 3 hops on the customer↔supplier co-transaction graph — the
    bounded-frontier BFS that prices influence/contagion reach and is
    the building block closeness-centrality approximations sample.
    All integers; per-seed counts are exact.

    Implementation: MULTI-SOURCE BFS with the seed set packed into a
    per-node int64 bitset (the classic MS-BFS optimization, public
    literature: Then et al., "The More the Merrier: Efficient
    Multi-Source Graph Traversal", VLDB 2015). BFS state is ONE row
    per node — (node, m0..m6) with bit j set iff seed j reaches the
    node — instead of one row per (seed, node) pair, so each round is
    one |E|-sized edge join + a per-dst ``bit_or`` aggregate and the
    seed count disappears from the join volume entirely. New bits per
    round are ``expanded & ~visited`` (word-wise int64 arithmetic,
    whole-stage codegen); reach_k per seed is the running sum of the
    per-round set-bit counts, recovered by exploding the (sparse)
    frontier bitsets to bit positions — |frontier|×448 generated rows,
    one shuffle, tiny beside the edge join. Round-6 interleaved A/B vs
    the (seed, node)-pair delta BFS: 3.8 s vs 10.1 s at sf0.1 and
    7.6 s vs 11.0 s at 10x (SCALE.md), identical output values.

    Scale: per round exactly one |E| join + one |V| aggregate + two
    |V|-bounded checkpoints, independent of seed count up to 64·words;
    _SEED_CAP is the knob (7 words here). The seed modulus is the
    sampling knob (fixed seed count at any corpus size)."""
    from pyspark.sql import Window

    from movie_data_etl_pipeline_spark.plans.graph_edges import cotx_edges

    # family-shared cached pair build; the union projection over the
    # checkpointed pairs is map-side, no further checkpoint needed
    edges = cotx_edges(spark, sf)
    customer = load_table(spark, sf, "customer")
    seeds = (
        customer.filter(F.col("c_custkey") % _SEED_MOD == 0)
        .orderBy("c_custkey")
        .limit(_SEED_CAP)
        .select((F.col("c_custkey") * 2).alias("seed"))
    )
    # seed -> bit index j (deterministic by seed order; <= _SEED_CAP
    # rows, so the unpartitioned window is trivial and bounded)
    sj = seeds.select(
        "seed",
        (F.row_number().over(Window.orderBy("seed")) - 1).alias("j"),
    ).localCheckpoint(eager=True)
    NW = _KHOP_NW
    zero = F.lit(0).cast("bigint")
    mask_cols = [
        F.when(
            (F.col("j") / 64).cast("int") == w,
            F.expr("shiftleft(cast(1 as bigint), cast(j % 64 as int))"),
        )
        .otherwise(zero)
        .alias(f"m{w}")
        for w in range(NW)
    ]
    visited = sj.select(F.col("seed").alias("node"), *mask_cols)
    frontier = visited
    delta_counts = []
    for k in range(1, _KHOP + 1):
        # node/dimension-grain bounds: frontier and visited carry ONE
        # row per graph node (7 int64 bitset words) — pin the per-round
        # broadcasts the r8 flip-off removed so the |E| edge relation
        # is never shuffled (A/B'd interleaved: tools/ab_r9_hints_sf01.json).
        # The visited|=frontier merge below stays a shuffle join: it is
        # FULL OUTER, which BroadcastHashJoin cannot build.
        expanded = (
            _hints.bounded_broadcast(frontier)
            .join(edges, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("nxt"))
            .agg(*[F.bit_or(f"m{w}").alias(f"e{w}") for w in range(NW)])
        )
        merged = expanded.join(
            _hints.bounded_broadcast(visited), F.col("nxt") == F.col("node"), "left"
        ).select(
            "nxt",
            # new bits = expanded & ~visited; Column's & / ~ are
            # BOOLEAN ops, so the bitwise forms: bitwiseAND, xor -1
            *[
                F.col(f"e{w}")
                .bitwiseAND(
                    F.coalesce(F.col(f"m{w}"), zero).bitwiseXOR(
                        F.lit(-1).cast("bigint")
                    )
                )
                .alias(f"n{w}")
                for w in range(NW)
            ],
        )
        frontier = (
            merged.filter(" or ".join(f"n{w} != 0" for w in range(NW)))
            .select(
                F.col("nxt").alias("node"),
                *[F.col(f"n{w}").alias(f"m{w}") for w in range(NW)],
            )
            .localCheckpoint(eager=True)
        )
        # visited |= frontier (full outer: first-seen nodes arrive
        # purely from the frontier side)
        visited = (
            visited.join(
                frontier.select(
                    F.col("node").alias("fn"),
                    *[F.col(f"m{w}").alias(f"f{w}") for w in range(NW)],
                ),
                F.col("node") == F.col("fn"),
                "full",
            )
            .select(
                F.coalesce(F.col("node"), F.col("fn")).alias("node"),
                *[
                    F.coalesce(F.col(f"m{w}"), zero)
                    .bitwiseOR(F.coalesce(F.col(f"f{w}"), zero))
                    .alias(f"m{w}")
                    for w in range(NW)
                ],
            )
            .localCheckpoint(eager=True)
        )
        # per-seed delta count: explode the frontier bitsets to their
        # set bit positions
        bits = frontier.select(
            F.posexplode(
                F.array(*[F.col(f"m{w}") for w in range(NW)])
            ).alias("w", "bits")
        ).filter(F.col("bits") != 0)
        delta_counts.append(
            bits.select(
                "w", "bits", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b")
            )
            .filter(F.expr("(bits >> b) & 1") == 1)
            .select((F.col("w") * 64 + F.col("b")).alias("j"))
            .groupBy("j")
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"d_{k}"))
        )
    out = sj
    for c in delta_counts:
        # per-round count relations are <= _SEED_CAP rows — broadcast
        # so the final assembly never exchanges the seed relation
        out = out.join(F.broadcast(c), "j", "left")
    running = zero
    reach_cols = []
    for k in range(1, _KHOP + 1):
        running = running + F.coalesce(F.col(f"d_{k}"), F.lit(0))
        reach_cols.append(running.cast("bigint").alias(f"reach_{k}"))
    return out.select("seed", *reach_cols).orderBy("seed")


def _khop_round_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT DISTINCT seed, node FROM (
    SELECT seed, node FROM {prev}
    UNION ALL
    SELECT v.seed, e.dst AS node FROM {prev} v JOIN edges e ON v.node = e.src
  )
)"""


_GR_KHOP_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c_node, l_suppkey * 2 + 1 AS s_node
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c_node AS src, s_node AS dst FROM pairs
  UNION ALL
  SELECT s_node AS src, c_node AS dst FROM pairs
),
v0 AS (
  SELECT c_custkey * 2 AS seed, c_custkey * 2 AS node
  FROM customer WHERE c_custkey % {_SEED_MOD} = 0
  ORDER BY c_custkey LIMIT {_SEED_CAP}
),
{_khop_round_sql('v0', 'v1')},
{_khop_round_sql('v1', 'v2')},
{_khop_round_sql('v2', 'v3')},
c1 AS (SELECT seed, (COUNT(*) - 1)::BIGINT AS reach_1 FROM v1 GROUP BY seed),
c2 AS (SELECT seed, (COUNT(*) - 1)::BIGINT AS reach_2 FROM v2 GROUP BY seed),
c3 AS (SELECT seed, (COUNT(*) - 1)::BIGINT AS reach_3 FROM v3 GROUP BY seed)
SELECT c1.seed, c1.reach_1, c2.reach_2, c3.reach_3
FROM c1 JOIN c2 USING (seed) JOIN c3 USING (seed)
ORDER BY seed
"""


# ---------------------------------------------------------------------------
# fn_map_surface — map-type higher-order functions
# ---------------------------------------------------------------------------


def fn_map_surface(spark: SparkSession, sf: str) -> DataFrame:
    """The MAP-type function surface (`fn_hof_surface`'s sibling for
    maps): per order-priority, build a map of status → order count
    (``map_from_entries``), then exercise ``transform_values`` (rate
    per 1000), ``map_filter`` (statuses with ≥ 5 orders), and
    ``map_zip_with`` (share of the priority's total) in one row-local
    pass. Maps are rendered back to (key-sorted) entry arrays before
    output because map column EQUALITY is undefined order — the same
    discipline the oracle side uses, making the surface value-checked
    rather than schema-checked. All counts integer; the one share
    division renders at the end."""
    orders = load_table(spark, sf, "orders")
    g = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = g.groupBy("o_orderpriority").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("status_n"),
        F.sum("n").cast("bigint").alias("total"),
    )
    enriched = m.select(
        "o_orderpriority",
        "total",
        F.map_filter("status_n", lambda _, v: v >= 5).alias("big"),
        F.transform_values("status_n", lambda _, v: v * 1_000_000).alias("ppm_raw"),
    ).select(
        "o_orderpriority",
        "total",
        F.map_filter(
            F.map_zip_with(
                "big",
                "ppm_raw",
                lambda _, b, p: F.when(
                    b.isNotNull(),
                    F.round(
                        p.cast("double") / F.col("total").cast("double")
                    ).cast("bigint"),
                ),
            ),
            lambda _, v: v.isNotNull(),
        ).alias("share_ppm"),
    )
    return enriched.select(
        "o_orderpriority",
        "total",
        F.to_json(
            F.transform(
                F.array_sort(F.map_keys("share_ppm")),
                lambda k: F.struct(
                    k.alias("status"), F.element_at(F.col("share_ppm"), k).alias("ppm")
                ),
            )
        ).alias("shares_json"),
    ).filter(
        F.size(F.map_keys("share_ppm")) > 0
    ).orderBy("o_orderpriority")


_FN_MAP_SQL = """
WITH g AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*)::BIGINT AS n
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS total FROM g GROUP BY 1
),
kept AS (
  SELECT o_orderpriority, o_orderstatus,
         CAST(ROUND(CAST(n * 1000000 AS DOUBLE) / t.total) AS BIGINT) AS ppm
  FROM g JOIN tot t USING (o_orderpriority)
  WHERE n >= 5
),
arr AS (
  SELECT o_orderpriority,
         '[' || string_agg(
           '{"status":"' || o_orderstatus || '","ppm":' || CAST(ppm AS VARCHAR) || '}',
           ',' ORDER BY o_orderstatus) || ']' AS shares_json
  FROM kept GROUP BY 1
)
SELECT t.o_orderpriority, t.total, a.shares_json
FROM tot t JOIN arr a USING (o_orderpriority)
ORDER BY t.o_orderpriority
"""


# ---------------------------------------------------------------------------
# ts_esd_outliers — generalized ESD iterative outlier removal
# ---------------------------------------------------------------------------

_ESD_ROUNDS = 3


def ts_esd_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Generalized ESD (extreme studentized deviate) outlier test on
    the daily-revenue series, 3 unrolled rounds: each round computes
    mean/std over the REMAINING days from exact integer sums (Σy, Σy²
    in whole dollars), flags the single most-deviant day (|y − mean|
    max, date ascending as the deterministic tiebreak), removes it and
    repeats — the iterative refinement a single z-score pass gets
    wrong when outliers mask each other. Output: the 3 removed days in
    removal order with their test statistic R_k. Selection runs on a
    day-grain relation (bounded by calendar days at any SF); the fact
    scan feeds it once."""
    orders = load_table(spark, sf, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("dte"))
        .agg(F.sum(F.round("o_totalprice").cast("bigint")).cast("bigint").alias("y"))
        .localCheckpoint(eager=True)
    )
    remaining = daily
    picks = []
    for k in range(1, _ESD_ROUNDS + 1):
        # shifted moments: anchor at the integer floor-mean so the
        # squared sums are DEVIATION-bounded — raw Σy² overflows int64
        # once daily revenue scales ~10× past sf0.1 (caught by the
        # scaling sweep). With a = sy div n, Σ(y−a) = sy mod n < n.
        pre = remaining.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sy"),
        ).select("n", F.expr("sy div n").cast("bigint").alias("a"))
        anchored = remaining.crossJoin(F.broadcast(pre))
        # d2 in DECIMAL(38,0): the anchored squares are deviation-
        # bounded but Σ(y−a)² still brushes int64 max at ~30× sf0.1
        # (caught by the 30× sweep, round 6 — ANSI mode faults instead
        # of wrapping). Decimal keeps the sum EXACT like DuckDB's
        # HUGEINT, and the value reaches the r statistic only through
        # the same cast-to-double both engines apply.
        dev = (F.col("y") - F.col("a")).cast("decimal(19,0)")
        s = anchored.groupBy("n", "a").agg(
            F.sum(F.col("y") - F.col("a")).cast("bigint").alias("d1"),
            F.sum(dev * dev).alias("d2"),
        )
        scored = remaining.crossJoin(F.broadcast(s)).select(
            "dte",
            "y",
            (
                F.abs(
                    (F.col("y") - F.col("a")).cast("double")
                    - F.col("d1").cast("double") / F.col("n").cast("double")
                )
                / F.sqrt(
                    (
                        F.col("d2").cast("double")
                        - F.col("d1").cast("double") * F.col("d1").cast("double")
                          / F.col("n").cast("double")
                    )
                    / (F.col("n").cast("double") - F.lit(1.0))
                )
            ).alias("r"),
        )
        top = scored.orderBy(F.desc("r"), F.asc("dte")).limit(1).localCheckpoint(eager=True)
        picks.append(
            top.select(
                F.lit(k).cast("bigint").alias("k"),
                F.col("dte").cast("string").alias("removed_day"),
                "y",
                F.round("r", 6).alias("r_stat"),
            )
        )
        remaining = remaining.join(top.select("dte"), "dte", "left_anti").localCheckpoint(
            eager=True
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.orderBy("k")


def _esd_round_sql(prev: str, out: str, k: int) -> str:
    return f"""
p_{out}_pre AS (
  SELECT COUNT(*)::BIGINT AS n,
         CAST(CAST(SUM(y) AS BIGINT) // COUNT(*) AS BIGINT) AS a
  FROM {prev}
),
s_{out} AS (
  SELECT n, a,
         CAST(SUM(y - a) AS BIGINT) AS d1,
         CAST(SUM((y - a) * (y - a)) AS BIGINT) AS d2
  FROM {prev} CROSS JOIN p_{out}_pre
  GROUP BY n, a
),
sc_{out} AS (
  SELECT dte, y,
         ABS(CAST(y - a AS DOUBLE) - CAST(d1 AS DOUBLE) / CAST(n AS DOUBLE))
         / sqrt((CAST(d2 AS DOUBLE) - CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE)
                 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS r
  FROM {prev} CROSS JOIN s_{out}
),
t_{out} AS (SELECT * FROM sc_{out} ORDER BY r DESC, dte ASC LIMIT 1),
p_{out} AS (
  SELECT CAST({k} AS BIGINT) AS k, CAST(dte AS VARCHAR) AS removed_day, y,
         ROUND(r, 6) AS r_stat
  FROM t_{out}
),
{out} AS (SELECT d.* FROM {prev} d LEFT JOIN t_{out} t ON d.dte = t.dte WHERE t.dte IS NULL)"""


_TS_ESD_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS dte,
         CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
{_esd_round_sql('daily', 'd1', 1)},
{_esd_round_sql('d1', 'd2', 2)},
{_esd_round_sql('d2', 'd3', 3)}
SELECT * FROM p_d1
UNION ALL SELECT * FROM p_d2
UNION ALL SELECT * FROM p_d3
ORDER BY k
"""


QUERIES = {
    "gr_khop_reach": gr_khop_reach,
    "fn_map_surface": fn_map_surface,
    "ts_esd_outliers": ts_esd_outliers,
}

ORACLES = {
    "gr_khop_reach": _GR_KHOP_SQL,
    "fn_map_surface": _FN_MAP_SQL,
    "ts_esd_outliers": _TS_ESD_SQL,
}
