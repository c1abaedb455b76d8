"""Mergeable distinct-count sketches as DATA (the pre-aggregation
pattern).

At 100 TB the question is rarely "what is today's distinct-user
count" — it's "distinct users for ANY date range / region / segment
combination, interactively". Exact COUNT(DISTINCT) cannot be
pre-aggregated (distinct is not summable across groups); HLL sketches
can: build one small binary sketch per finest-grained cell ONCE, store
it like any other column, and answer every coarser roll-up by merging
sketches — no re-scan of the raw data, ever. Merging is max-of-
registers: commutative, associative, idempotent, so estimates are
bit-reproducible regardless of partitioning or merge order (asserted
in tests, not just claimed), and re-delivered rows cannot inflate the
count (idempotence is the exactly-once-free dedup property).

Spark 4 ships the Apache DataSketches HLL family as JVM aggregates
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``);
everything here is codegen-compatible built-ins — no UDFs.

The reference has no analogue (Postgres would re-scan per rollup);
this is a north-star scale extension (SURVEY.md §2.9).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lg_k=14 → 16 Ki registers ≈ 0.8% relative standard error, exact to
# ~thousands of uniques; 12 KiB per sketch cell — the profile relation
# stays tiny relative to the data even with millions of cells.
DEFAULT_LG_K = 14


def hll_profile(
    df: DataFrame, keys: Sequence[str], col: str, lg_k: int = DEFAULT_LG_K
) -> DataFrame:
    """The finest-grain sketch relation: one row per ``keys`` cell with
    the binary HLL sketch of ``col`` (column ``sk``) — the persistable
    artifact every later roll-up merges from. One scan, one partially-
    aggregated shuffle on the cell keys."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(col, F.lit(lg_k)).alias("sk"))


def hll_rollup(profile: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Roll the sketch relation up to coarser ``keys``: merge the cell
    sketches (``hll_union_agg``) and render the distinct estimate.
    Input is the profile, not the data — cost scales with #cells."""
    return (
        profile.groupBy(*keys)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_distinct_est"))
        .orderBy(*keys)
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch: fixed-bin integer histogram state
# ---------------------------------------------------------------------------
#
# Same pre-aggregation argument as the HLL profile, for quantiles: exact
# percentiles cannot be pre-aggregated, but a fixed-bin histogram over a
# declared integer domain can — states merge by summing bin counts
# (commutative/associative/deterministic), and any roll-up answers any
# quantile to ±bin-width without re-scanning the data. Unlike t-digest /
# KLL (whose merge is order-sensitive in the low bits), every operation
# here is int64 arithmetic: the same inputs give the same sketch on any
# partitioning, any engine — so the whole path is oracle-checkable.


def histogram_profile(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lo: int,
    hi: int,
    n_bins: int = 4096,
) -> DataFrame:
    """Finest-grain histogram state: one row per (keys…, bin) with the
    int64 count. ``col`` must be integer-valued (cents discipline);
    values outside [lo, hi) saturate into the edge bins (documented
    sketch behavior, not data loss — the count is preserved).
    Overflow bound: (hi-lo)·n_bins must fit int64."""
    b = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.expr(f"(({col} - {lo}) * {n_bins}) div ({hi} - {lo})").cast("long"),
        ),
    )
    return df.groupBy(*keys, b.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))


def histogram_rollup(profile: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge histogram states to coarser ``keys``: element-wise sum of
    bin counts. Input is the profile relation — cost scales with #cells,
    never with the raw data."""
    return profile.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    profile: DataFrame,
    keys: Sequence[str],
    qs: Sequence[tuple[str, int, int]],
    lo: int,
    hi: int,
    n_bins: int = 4096,
) -> DataFrame:
    """Quantile estimates off a (possibly rolled-up) histogram state.

    For each ``(name, num, den)`` in ``qs`` the estimate is the LEFT
    EDGE of the smallest bin whose cumulative count reaches
    ``num/den`` of the cell total — the lower-quantile convention on
    binned data, every comparison exact int64 (``cum·den ≥ num·total``),
    so the result is engine- and partitioning-exact. Error vs the true
    quantile is bounded by one bin width.
    """
    from pyspark.sql import Window

    klist = list(keys)
    w = Window.partitionBy(*klist).orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy(*klist)
    cum = profile.select(
        *klist,
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    aggs = [F.max("total").alias("n_rows")]
    for name, num, den in qs:
        aggs.append(
            F.min(F.when(F.col("cum") * den >= F.lit(num) * F.col("total"), F.col("bin")))
            .alias(f"min_bin_{name}")
        )
    found = cum.groupBy(*klist).agg(*aggs)
    outs = [F.col(c) for c in klist] + [F.col("n_rows")]
    for name, _, _ in qs:
        outs.append(
            (F.lit(lo) + F.expr(f"(min_bin_{name} * ({hi} - {lo})) div {n_bins}"))
            .cast("long")
            .alias(name)
        )
    return found.select(*outs).orderBy(*klist)


# ---------------------------------------------------------------------------
# Mergeable frequency sketch: count-min over the portable hash family
# ---------------------------------------------------------------------------
#
# Third member of the sketch-as-data family (HLL = distincts, histogram
# = quantiles, CMS = per-item frequencies): a depth×width grid of int64
# counters answering "how often did THIS item occur" for any item,
# with one-sided error (estimate ≥ truth, overcount bounded by
# 2·N/width at 1−(1/2)^depth confidence — Cormode & Muthukrishnan).
# States merge by summing counters (commutative/associative), so
# per-partition / per-day sketches roll up without re-scanning raw
# data. The hash rows come from functions/portable_hash (LCG
# permutations over a polynomial code-point fold), so the ENTIRE
# sketch — every counter — is reproducible in DuckDB and the operator
# is value-check-ORACLE-able, unlike library CMS implementations.


def cms_profile(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Build the CMS state: one row per non-empty (d, bucket) with its
    int64 counter. One projection (depth bucket ids per row, all
    codegen arithmetic) + one ``depth×``-exploded groupBy whose domain
    is at most depth·width rows — the shuffle carries sketch cells,
    not data."""
    from movie_data_etl_pipeline_spark.functions import portable_hash as ph

    base = df.select(ph.str_hash(F.col(col).cast("string")).alias("__h"))
    buckets = F.array(
        *[
            F.pmod(ph.lcg_perm(F.lit(d), F.col("__h")), F.lit(width))
            for d in range(depth)
        ]
    )
    return (
        base.select(F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*profiles: DataFrame) -> DataFrame:
    """Sum-merge CMS states (same depth/width): the roll-up path —
    union the cell relations, one groupBy over ≤ depth·width rows."""
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    profile: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point estimates for each item in ``items``: min over the depth
    rows of the item's counter (absent cell = 0). The profile side is
    ≤ depth·width rows — always the broadcast build side — so lookup
    cost is one scan of ``items`` regardless of sketch fill."""
    from movie_data_etl_pipeline_spark.functions import portable_hash as ph

    it = items.select(
        F.col(col),
        ph.str_hash(F.col(col).cast("string")).alias("__h"),
    )
    buckets = F.array(
        *[
            F.pmod(ph.lcg_perm(F.lit(d), F.col("__h")), F.lit(width))
            for d in range(depth)
        ]
    )
    probes = it.select(col, F.posexplode(buckets).alias("d", "bucket"))
    return (
        probes.join(F.broadcast(profile), ["d", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: the SET-OPERATION sketch
# ---------------------------------------------------------------------------
#
# HLL answers |A| and |A ∪ B| (register max is a union), but NOT
# |A ∩ B| or Jaccard — register intersection is meaningless. KMV
# (Bar-Yossef et al.'s distinct-elements sketch / the bottom-k variant
# of MinHash) does: keep the k smallest hash values of the set; the
# k-th smallest m_k estimates |A| ≈ (k-1)·M/m_k for hashes uniform on
# [0, M), and because a bottom-k set is a uniform sample of the union,
# |bottom_k(A ∪ B) ∩ A's values ∩ B's values| / k estimates Jaccard.
# Merge = union the value sets, keep the k smallest — commutative,
# associative, idempotent. Over the portable hash family the whole
# sketch is engine-reproducible → value-checked oracle, like the CMS.


def kmv_profile(
    df: DataFrame, keys: Sequence[str], col: str, k: int = 128
) -> DataFrame:
    """Per-cell bottom-k sketch relation: rows (keys…, h) with the k
    smallest distinct portable-hash values of ``col``. The per-cell
    top-k compiles to a pre-shuffle WindowGroupLimit, so no reducer
    sees more than k rows per cell regardless of cell cardinality."""
    from pyspark.sql import Window

    from movie_data_etl_pipeline_spark.functions import portable_hash as ph

    klist = list(keys)
    # mix() is load-bearing here: KMV reads hash MAGNITUDE (order
    # statistics), and the raw polynomial fold clusters short strings
    # near 0 — see functions/portable_hash.mix.
    hashed = df.select(
        *klist, ph.mix(ph.str_hash(F.col(col).cast("string"))).alias("h")
    ).distinct()
    w = Window.partitionBy(*klist).orderBy(F.asc("h"))
    return (
        hashed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def kmv_merge(profiles: DataFrame, keys: Sequence[str], k: int = 128) -> DataFrame:
    """Merge sketch relations (already unioned into one DataFrame) to
    coarser ``keys``: distinct hash values, keep the k smallest."""
    from pyspark.sql import Window

    klist = list(keys)
    w = Window.partitionBy(*klist).orderBy(F.asc("h"))
    return (
        profiles.select(*klist, "h")
        .distinct()
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def kmv_estimate(profile: DataFrame, keys: Sequence[str], k: int = 128) -> DataFrame:
    """Distinct-count estimates per cell: (k−1)·M/m_k when the cell
    holds k values (M = the hash modulus), else the EXACT count (a
    cell smaller than k keeps its whole value set — the sketch is
    lossless below k). Integer arithmetic up to one final division."""
    from movie_data_etl_pipeline_spark.functions import portable_hash as ph

    klist = list(keys)
    g = profile.groupBy(*klist).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("h").alias("m_k"),
    )
    return g.select(
        *klist,
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(float(ph.P)) / F.col("m_k").cast("double")
        )
        .alias("n_distinct_est"),
    )


def kmv_jaccard(
    profile: DataFrame,
    keys: Sequence[str],
    k: int = 128,
) -> DataFrame:
    """Pairwise Jaccard estimates between every two cells of a sketch
    relation keyed by ONE column: bottom-k of each pair's union via a
    per-pair merge, then the fraction of those union-sample values
    present in both sides. Exact below k (small cells keep full sets).

    The pair×sketch expansion runs at CELL-metadata grain: the cell
    pair list (#cells², e.g. sources² — never data²) is exploded to
    (pair, member-cell) rows and equi-joined to the sketch relation,
    so the widest intermediate is #pairs·2·k rows."""
    from pyspark.sql import Window

    key = list(keys)[0]
    cells = profile.select(F.col(key).alias("c")).distinct()
    cell_pairs = cells.select(F.col("c").alias("ca")).join(
        cells.select(F.col("c").alias("cb")), F.col("ca") < F.col("cb")
    )
    members = cell_pairs.select(
        "ca", "cb", F.explode(F.array("ca", "cb")).alias("c")
    )
    u = (
        members.join(profile.select(F.col(key).alias("c"), "h"), "c")
        .groupBy("ca", "cb", "h")
        .agg(
            F.max(F.when(F.col("c") == F.col("ca"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("c") == F.col("cb"), 1).otherwise(0)).alias("in_b"),
        )
    )
    w = Window.partitionBy("ca", "cb").orderBy(F.asc("h"))
    topk = u.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= k)
    return (
        topk.groupBy("ca", "cb")
        .agg(
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
        .select(
            "ca",
            "cb",
            F.round(F.col("n_both") / F.col("n_union"), 6).alias("jaccard_est"),
        )
        .orderBy("ca", "cb")
    )
