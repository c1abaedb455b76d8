"""Round-4 wave 36: item-item collaborative filtering, a Pearson
correlation matrix from exact integer moments, and the string-function
surface probe.

Determinism contract: CF cosines and correlations are fixed double
expressions over exact int64 counts/moments (sqrt and division are
IEEE-correctly-rounded in both engines); the string surface compares
engine built-ins value-for-value on a bounded key range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.session import per_session
from movie_data_etl_pipeline_spark.sources import load_table

_CF_MAX_BASKET = 128
_CF_MIN_SUPPORT = 3
_CF_TOP = 100


def _cf_baskets(spark: SparkSession, sf: str):
    """Shared basket build for the co-purchase family (`rc_item_item_cf`,
    `rc_assoc_rules`): distinct (customer, part) pairs, capped at
    ``_CF_MAX_BASKET`` distinct parts per customer.

    Returns ``(kept, item_n, pruned)``:

    - ``kept`` — the capped basket relation (support denominators run
      over THIS, so pruning below cannot move any reported metric);
    - ``item_n`` — exact per-item basket counts over ``kept``;
    - ``pruned`` — ``kept`` restricted to items with ``n_item >=
      _CF_MIN_SUPPORT``: the Apriori monotonicity prune. A pair can
      only reach ``n_ab >= k`` if both items reach ``n_item >= k``, so
      building the quadratic per-customer self-join from ``pruned``
      instead of ``kept`` drops infrequent items BEFORE the fan-out at
      zero semantic cost — the classic frequent-1-itemset stage. At
      100 TB this is the difference between Σ|basket|² over all items
      and over frequent items only.

    Plan shape: the prune is an ANTI-join against the INFREQUENT item
    list, not a semi-join against the frequent one — on a uniform
    corpus (TPC-H parts) the infrequent set is empty/tiny, AQE turns
    the anti-join into a broadcast, and ``kept``'s partitioning
    survives into the pair self-join at zero shuffle cost; on a
    long-tail corpus the set is large, AQE keeps the shuffle, and the
    fan-out reduction pays for it many times over. Either way the
    optimizer picks the right physical strategy from runtime stats.
    """
    from movie_data_etl_pipeline_spark.plans.graph_edges import copurchase_pairs

    # family-shared cached (c, p) distinct build (also feeds
    # gr_link_prediction)
    baskets = copurchase_pairs(spark, sf)
    sizes = baskets.groupBy("c").agg(F.count(F.lit(1)).alias("bn"))
    kept = baskets.join(sizes.filter(F.col("bn") <= _CF_MAX_BASKET), "c").select(
        "c", "p"
    )
    item_n = kept.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    infrequent = item_n.filter(F.col("n_item") < _CF_MIN_SUPPORT).select("p")
    pruned = kept.join(infrequent, "p", "left_anti").select("c", "p")
    return kept, item_n, pruned


@per_session
def _cf_pair_counts(spark: SparkSession, sf: str):
    """The co-occurrence pair counts BOTH co-purchase queries start
    from: the per-customer self-join over the pruned basket relation,
    aggregated to ``(pa, pb, n_ab)`` and support-pruned. This is the
    quadratic stage — built once per (session, sf) and eagerly
    localCheckpointed (``session.per_session``), so `rc_item_item_cf`
    and `rc_assoc_rules` share one fan-out instead of running it twice.
    ``kept`` and ``item_n`` are returned alongside for the denominators.

    Returns ``(kept, item_n, pairs)``."""
    kept, item_n, pruned = _cf_baskets(spark, sf)
    a = pruned.select("c", F.col("p").alias("pa"))
    b = pruned.select("c", F.col("p").alias("pb"))
    pairs = (
        a.join(b, "c")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _CF_MIN_SUPPORT)
        .localCheckpoint(eager=True)
    )
    item_n = item_n.localCheckpoint(eager=True)
    # kept feeds rc_assoc_rules' n_baskets denominator — checkpoint it
    # too so the orders⋈lineitem scan+distinct is not re-run per call
    kept = kept.localCheckpoint(eager=True)
    return kept, item_n, pairs


def rc_item_item_cf(spark: SparkSession, sf: str) -> DataFrame:
    """Item-item collaborative filtering over co-purchase baskets:
    distinct (customer, part) pairs → per-customer self-join (the
    classic co-occurrence build, fanout bounded by the basket cap —
    power customers above ``_CF_MAX_BASKET`` distinct parts are
    dropped, the standard CF degree control that keeps the pair
    relation Σ|basket|² instead of unbounded) → support prune →
    cosine = n_ab / √(n_a·n_b) from exact int64 counts. Top-100
    pairs; cosine ties broken by part keys. The all-pairs work is
    per-customer-key-local — at 100 TB this is one shuffle on
    customer plus one on the pruned pair key, never a cross join.
    Items below ``_CF_MIN_SUPPORT`` are pruned BEFORE the self-join
    (Apriori monotonicity: ``n_ab >= k`` needs ``n_a, n_b >= k``), so
    the quadratic fan-out only sees frequent items."""
    kept, item_n, pairs = _cf_pair_counts(spark, sf)
    scored = (
        pairs.join(item_n.select(F.col("p").alias("pa"), F.col("n_item").alias("n_a")), "pa")
        .join(item_n.select(F.col("p").alias("pb"), F.col("n_item").alias("n_b")), "pb")
        .select(
            "pa",
            "pb",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.col("n_ab").cast("double")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
            ).alias("cosine"),
        )
    )
    # distributed top-k (TakeOrderedAndProject), not a global window over
    # the full pair relation — only the 100 survivors see a window
    top = scored.orderBy(F.desc("cosine"), F.asc("pa"), F.asc("pb")).limit(_CF_TOP)
    rnk = F.row_number().over(
        Window.orderBy(F.desc("cosine"), F.asc("pa"), F.asc("pb"))
    )
    return (
        top.withColumn("rnk", rnk.cast("bigint"))
        .select("pa", "pb", "n_ab", "n_a", "n_b", "cosine", "rnk")
        .orderBy("rnk")
    )


_RC_CF_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
kept AS (
  SELECT c, p FROM baskets
  WHERE c IN (SELECT c FROM baskets GROUP BY c HAVING COUNT(*) <= {_CF_MAX_BASKET})
),
item_n AS (SELECT p, COUNT(*)::BIGINT AS n_item FROM kept GROUP BY 1),
pruned AS (
  SELECT c, p FROM kept
  WHERE p IN (SELECT p FROM item_n WHERE n_item >= {_CF_MIN_SUPPORT})
),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, COUNT(*)::BIGINT AS n_ab
  FROM pruned a JOIN pruned b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MIN_SUPPORT}
),
scored AS (
  SELECT pa, pb, n_ab, na.n_item AS n_a, nb.n_item AS n_b,
         CAST(n_ab AS DOUBLE) / sqrt(CAST(na.n_item * nb.n_item AS DOUBLE)) AS cosine
  FROM pairs
  JOIN item_n na ON na.p = pa
  JOIN item_n nb ON nb.p = pb
)
SELECT pa, pb, n_ab, n_a, n_b, cosine, rnk
FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY cosine DESC, pa, pb) AS BIGINT) AS rnk
  FROM scored
)
WHERE rnk <= {_CF_TOP}
ORDER BY rnk
"""

# integer quantizations for the correlation matrix: whole units chosen
# so squares × row-count stay far inside int64 at every tested SF
_CORR_VARS = [
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_usd", "CAST(FLOOR(l_extendedprice) AS BIGINT)"),
    ("disc_pct", "CAST(ROUND(l_discount * 100) AS BIGINT)"),
    ("tax_pct", "CAST(ROUND(l_tax * 100) AS BIGINT)"),
]


def ag_corr_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson correlations across the four lineitem
    measures, from ONE pass of exact integer moment sums (n, Σx, Σx²
    per variable, Σxy per pair — int64 throughout: the values are
    quantized to whole units small enough that squares×rows stay
    ≲ 1e16) unpivoted to one row per variable pair. The correlation
    itself is one fixed double expression over those exact sums —
    ``(Σxy/n − x̄ȳ) / (σx·σy)`` — identical in the oracle. One fact
    scan, one 1-row aggregate, a 6-row output: the profile-matrix
    shape that costs a single map-side-combinable reduction at any
    scale."""
    li = load_table(spark, sf, "lineitem")
    vals = li.select(
        *[F.expr(expr).alias(name) for name, expr in _CORR_VARS]
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for name, _ in _CORR_VARS:
        aggs.append(F.sum(name).cast("bigint").alias(f"s_{name}"))
        aggs.append(F.sum(F.col(name) * F.col(name)).cast("bigint").alias(f"ss_{name}"))
    pairs = [
        (a, b)
        for i, (a, _) in enumerate(_CORR_VARS)
        for b, _ in [v for v in _CORR_VARS[i + 1 :]]
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).cast("bigint").alias(f"sp_{a}_{b}"))
    m = vals.agg(*aggs)

    # r11 (the emb_pca_power finding — guide §7.3 driver-side cost):
    # the six correlation expressions were built with ~400 chained
    # Column calls, each a py4j round-trip; the same expression tree
    # rendered as ONE SQL string parses JVM-side with an identical
    # plan and bit-identical doubles (same association order).
    def corr_sql(a: str, b: str) -> str:
        n = "cast(n as double)"
        sx, sy = f"cast(s_{a} as double)", f"cast(s_{b} as double)"
        sxx, syy = f"cast(ss_{a} as double)", f"cast(ss_{b} as double)"
        sxy = f"cast(sp_{a}_{b} as double)"
        cov = f"({sxy} / {n} - ({sx} / {n}) * ({sy} / {n}))"
        vx = f"({sxx} / {n} - ({sx} / {n}) * ({sx} / {n}))"
        vy = f"({syy} / {n} - ({sy} / {n}) * ({sy} / {n}))"
        return f"{cov} / (sqrt({vx}) * sqrt({vy}))"

    rows = F.expr(
        "array("
        + ",".join(
            f"struct('{a}' as var_x, '{b}' as var_y, n as n, ({corr_sql(a, b)}) as corr)"
            for a, b in pairs
        )
        + ")"
    )
    return (
        m.select(F.explode(rows).alias("r"))
        .select("r.var_x", "r.var_y", "r.n", "r.corr")
        .orderBy("var_x", "var_y")
    )


def _corr_sql() -> str:
    sel = ["COUNT(*)::BIGINT AS n"]
    for name, expr in _CORR_VARS:
        sel.append(f"CAST(SUM({expr}) AS BIGINT) AS s_{name}")
        sel.append(f"CAST(SUM(({expr}) * ({expr})) AS BIGINT) AS ss_{name}")
    names = [n for n, _ in _CORR_VARS]
    exprs = dict(_CORR_VARS)
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    for a, b in pairs:
        sel.append(f"CAST(SUM(({exprs[a]}) * ({exprs[b]})) AS BIGINT) AS sp_{a}_{b}")
    rows = []
    for a, b in pairs:
        cov = f"(CAST(sp_{a}_{b} AS DOUBLE)/nn - (CAST(s_{a} AS DOUBLE)/nn) * (CAST(s_{b} AS DOUBLE)/nn))"
        vx = f"(CAST(ss_{a} AS DOUBLE)/nn - (CAST(s_{a} AS DOUBLE)/nn) * (CAST(s_{a} AS DOUBLE)/nn))"
        vy = f"(CAST(ss_{b} AS DOUBLE)/nn - (CAST(s_{b} AS DOUBLE)/nn) * (CAST(s_{b} AS DOUBLE)/nn))"
        rows.append(
            f"SELECT '{a}' AS var_x, '{b}' AS var_y, n,\n"
            f"       {cov} / (sqrt({vx}) * sqrt({vy})) AS corr\n"
            f"FROM (SELECT *, CAST(n AS DOUBLE) AS nn FROM m)"
        )
    body = "\nUNION ALL\n".join(rows)
    return (
        "WITH m AS (\n  SELECT " + ",\n         ".join(sel) + "\n  FROM lineitem\n)\n"
        + body
        + "\nORDER BY var_x, var_y"
    )


_AG_CORR_SQL = _corr_sql()


def fn_string_surface(spark: SparkSession, sf: str) -> DataFrame:
    """String-function surface probe (the ``fn_*`` family's string
    chapter): 14 built-ins evaluated value-for-value on the part-name
    domain — case mapping, pad/truncate, translate, search, regexp
    extract, levenshtein, md5 — pinned by the oracle so any engine
    semantic drift (1-based positions, pad truncation, regex flavor)
    fails loudly. Map-only over a key-pruned scan."""
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.length("p_name").cast("bigint").alias("len"),
        F.substring("p_name", 3, 8).alias("sub38"),
        F.instr(F.col("p_name"), "a").cast("bigint").alias("pos_a"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("underscored"),
        F.translate("p_name", "aeiou", "12345").alias("vowel_digits"),
        F.lpad("p_name", 12, "*").alias("lpad12"),
        F.rpad("p_name", 14, ".").alias("rpad14"),
        F.reverse("p_name").alias("rev"),
        F.repeat(F.substring("p_name", 1, 3), 2).alias("rep3x2"),
        F.size(F.split("p_name", " ")).cast("bigint").alias("n_words"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.levenshtein(F.col("p_name"), F.lit("chocolate")).cast("bigint").alias("lev_choc"),
        F.md5(F.col("p_name").cast("binary")).alias("md5_hex"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
    ).orderBy("p_partkey")


_FN_STRING_SQL = r"""
SELECT p_partkey,
       upper(p_name) AS up,
       CAST(length(p_name) AS BIGINT) AS len,
       substring(p_name, 3, 8) AS sub38,
       CAST(strpos(p_name, 'a') AS BIGINT) AS pos_a,
       replace(p_name, ' ', '_') AS underscored,
       translate(p_name, 'aeiou', '12345') AS vowel_digits,
       lpad(p_name, 12, '*') AS lpad12,
       rpad(p_name, 14, '.') AS rpad14,
       reverse(p_name) AS rev,
       repeat(substring(p_name, 1, 3), 2) AS rep3x2,
       CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
       regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
       CAST(levenshtein(p_name, 'chocolate') AS BIGINT) AS lev_choc,
       md5(p_name) AS md5_hex,
       concat_ws('-', p_brand, p_type) AS brand_type
FROM part
WHERE p_partkey < 200
ORDER BY p_partkey
"""


QUERIES = {
    "rc_item_item_cf": rc_item_item_cf,
    "ag_corr_matrix": ag_corr_matrix,
    "fn_string_surface": fn_string_surface,
}

ORACLES = {
    "rc_item_item_cf": _RC_CF_SQL,
    "ag_corr_matrix": _AG_CORR_SQL,
    "fn_string_surface": _FN_STRING_SQL,
}
