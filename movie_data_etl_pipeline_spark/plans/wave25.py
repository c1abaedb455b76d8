"""Round-4 wave 25: held-out bigram-LM perplexity scoring (the classic
LM-quality data filter), common-neighbor link prediction, and
incident/session interval-overlap via gaps-and-islands.

Determinism contract unchanged. The perplexity pipeline snaps per-token
log-probabilities to integer micro-nats BEFORE any cross-row sum, so
document scores are exact bigint sums in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions.text import tokens
from movie_data_etl_pipeline_spark.sources import load_table


# ---------------------------------------------------------------------------
# tx_perplexity — held-out bigram-LM document scoring
# ---------------------------------------------------------------------------


def tx_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Add-one-smoothed bigram language model TRAINED on the
    ``doc_id % 5 != 0`` split, scoring the held-out ``% 5 == 0`` docs
    by perplexity — the classic LM-quality filter (CCNet/KenLM-style):
    low-perplexity ⇒ in-distribution fluent text, high ⇒ boilerplate /
    noise / wrong language. Held-out tokens unseen in training back
    off to an UNK row (count 0, the smoothing floor).

    Oracle strategy: ln((c12+1)/(c1+V)) is the only double; it is
    snapped to integer MICRO-NATS per bigram type before the per-doc
    sum, so the cross-row aggregation is an exact bigint in both
    engines and the perplexity is one closed-form render per row.

    Scale: the model IS a DataFrame (bigram counts keyed by the pair) —
    training is one groupBy over the train split, scoring one equi-join
    of held-out bigrams against it. No driver state, no UDFs; the
    100 TB form is identical with the model bucketed by bigram key."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 2)
    big = docs.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.col("t"),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.when(b.isNull(), F.lit(None)).otherwise(
                    F.struct(a.alias("w1"), b.alias("w2"))
                ),
            )
        ).alias("bg"),
    ).filter(F.col("bg").isNotNull()).select("doc_id", "bg.w1", "bg.w2")

    train = big.filter(F.col("doc_id") % 5 != 0)
    held = big.filter(F.col("doc_id") % 5 == 0)

    c12 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    c1 = train.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    # r11 (guide §5 — the driver should do almost no data work): the
    # vocab size was a driver-side `.count()` — a SYNCHRONOUS extra
    # action whose two groupBy passes ran before the scoring job could
    # even be submitted. Carried as a broadcast 1-row relation instead
    # (V+1 accounts for the UNK type the held-out side can produce);
    # the smoothing denominator reads the same double, so every
    # micro-nat is unchanged (oracle re-proven).
    vrel = (
        train.select("w1")
        .union(train.select(F.col("w2").alias("w1")))
        .agg((F.countDistinct("w1") + F.lit(1)).cast("double").alias("__v"))
    )
    scored = (
        held.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vrel))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce("c12", F.lit(0)).cast("double") + F.lit(1.0))
                    / (F.coalesce("c1", F.lit(0)).cast("double") + F.col("__v"))
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("mu"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (-F.sum("mu")).cast("bigint").alias("nll_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "nll_micro",
            F.round(
                F.exp(
                    F.col("nll_micro").cast("double")
                    / (F.lit(1000000.0) * F.col("n_bigrams").cast("double"))
                ),
                3,
            ).alias("ppl"),
        )
        .orderBy("doc_id")
    )


_TX_PPL_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
  FROM documents
),
bigl AS (
  SELECT doc_id,
         unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS bg
  FROM toks WHERE len(t) >= 2
),
big AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bigl),
train AS (SELECT * FROM big WHERE doc_id % 5 <> 0),
held AS (SELECT * FROM big WHERE doc_id % 5 = 0),
c12 AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM train GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*)::BIGINT AS c1 FROM train GROUP BY 1),
vv AS (
  SELECT COUNT(*)::BIGINT + 1 AS v FROM (
    SELECT w1 FROM train UNION SELECT w2 FROM train
  )
),
scored AS (
  SELECT doc_id,
         CAST(ROUND(ln((CAST(COALESCE(c12.c12, 0) AS DOUBLE) + 1.0)
                       / (CAST(COALESCE(c1.c1, 0) AS DOUBLE) + CAST(vv.v AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS mu
  FROM held
  LEFT JOIN c12 USING (w1, w2)
  LEFT JOIN c1 USING (w1)
  CROSS JOIN vv
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_bigrams,
       CAST(-SUM(mu) AS BIGINT) AS nll_micro,
       ROUND(exp(CAST(CAST(-SUM(mu) AS BIGINT) AS DOUBLE)
                 / (1000000.0 * CAST(COUNT(*) AS DOUBLE))), 3) AS ppl
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# gr_link_prediction — common-neighbor Jaccard scores
# ---------------------------------------------------------------------------


def gr_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction on the customer↔part co-purchase graph: for
    customer PAIRS at distance 2 (sharing ≥ 2 purchased parts), the
    Jaccard coefficient of their part neighborhoods — the
    collaborative-filtering / record-linkage prior ("these two buy
    the same items"). The part side keeps per-key fan-out CONSTANT as
    the data scales (customers and parts grow together), so the
    posting-list self-join grows linearly; the hub cut (parts bought
    by > 200 customers excluded — the df-cut of graphs) bounds the
    worst key, and the shared-degree floor of 2 prunes noise pairs —
    the same candidate-bounding discipline as `dd_containment`.
    Top-100 pairs by (jaccard desc, keys asc); integer counts until
    one division."""
    from movie_data_etl_pipeline_spark.plans.graph_edges import copurchase_pairs

    # family-shared cached (customer, part) distinct build — the same
    # base relation wave36's CF/assoc-rules family starts from, so the
    # orders⋈lineitem scan + distinct is paid once per session. (An
    # earlier in-query A/B found an explicit barrier strictly slower
    # than ReusedExchange for THIS query alone; the shared checkpoint
    # differs by amortizing the build across the whole co-purchase
    # family, and all three consumers here — deg, hub cut, posting —
    # read the flat checkpoint.)
    cs = copurchase_pairs(spark, sf).select("c", F.col("p").alias("s"))
    # r11 candidate tested and REJECTED on 100× evidence (the r10 pin
    # precedent): decorating the postings with deg via a window over c
    # and letting the degrees RIDE the pair generation (collect (c,deg)
    # structs, max() them in the pair aggregate) removes BOTH deg
    # attach joins and won 1.12× at sf0.1 (4.03 → 3.59 s interleaved,
    # values equal) — but at 100× it measured 0.93× cold and 0.80×
    # warm best-of-3 (tools/ab_r11_linkpred_x100{,b}.json): the window
    # must SORT the full posting relation per c-partition where the old
    # groupBy(c) collapses it map-side to tiny deg rows, and the pair
    # exchange widens by two bigints per row. The 100 TB posture rules;
    # the separate deg relation + size-planned attach joins stay.
    deg = cs.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # candidate pairs via ARRAY-FORM generation instead of the posting
    # self-join: group the postings per part, sort the customer list,
    # apply the hub cut as an array-size filter, and emit the ordered
    # pairs map-side with nested array transforms. Same pair multiset
    # as the self-join — but ONE shuffle of the posting relation (the
    # groupBy) instead of two join sides plus an ~18M-row join output
    # feeding the aggregate. Round-6 interleaved A/B (identical
    # top-100 asserted): median 3.3 s
    # vs 6.9-7.3 s (join form) at sf0.1 and 13.6 vs 16.0 at 10x; a
    # filter-before-collect variant (hub_ok join ahead of the
    # collect) planned a SortMergeJoin on the post-agg relation and
    # measured 10+ s — and at corpus scale hub_ok ≈ ALL parts, so
    # that join is never broadcastable anyway. Per-group memory is
    # bounded by pre-dropping hubs with a broadcast ANTI-join on the
    # fan>200 key set (ADVICE-r6): the COMPLEMENT of hub_ok is tiny
    # even when hub_ok is not (hubs are the distribution tail), so the
    # anti side always broadcasts, a mega-hub never buffers its full
    # posting list in one aggregation group, and the count aggregate
    # that derives the hub set is map-side partial — one cheap extra
    # pass over the checkpointed build, no SortMergeJoin.
    hubs = (
        cs.groupBy("s")
        .agg(F.count(F.lit(1)).alias("fan"))
        .filter(F.col("fan") > 200)
        .select("s")
    )
    groups = (
        cs.join(F.broadcast(hubs), "s", "left_anti")
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("c")).alias("cu"))
        .filter(F.size("cu") >= 2)
    )
    pairs = groups.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("cu"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("cu"), i + 2,
                            F.greatest(F.size("cu") - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(x.alias("c_a"), y.alias("c_b")),
                    ),
                )
            )
        ).alias("pr")
    ).select("pr.c_a", "pr.c_b")
    shared = (
        pairs.groupBy("c_a", "c_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    # r10 pin candidate tested and REJECTED (the label_propagation
    # precedent): a bounded_broadcast on deg (node-grain) for these two
    # attach joins WINS at sf0.1 (3.97 vs 4.62 s interleaved, values
    # equal) but LOSES at 100× (155.5 vs 137.0 s, 96 partitions, 20g
    # driver — OPTIMIZATION_r10.md) — the per-key deg hash-relation
    # build+broadcast grows with |V| and overtakes the co-partitioned
    # shuffle of `shared`. The 100 TB posture rules: stays size-planned.
    return (
        shared.join(deg.select(F.col("c").alias("c_a"), F.col("deg").alias("deg_a")), "c_a")
        .join(deg.select(F.col("c").alias("c_b"), F.col("deg").alias("deg_b")), "c_b")
        .select(
            "c_a",
            "c_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "c_a", "c_b")
        .limit(100)
    )


_GR_LINKPRED_SQL = """
WITH cs AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT c, COUNT(*)::BIGINT AS deg FROM cs GROUP BY 1),
hub_ok AS (SELECT s FROM cs GROUP BY s HAVING COUNT(*) <= 200),
p AS (SELECT cs.c, cs.s FROM cs JOIN hub_ok USING (s)),
shared AS (
  SELECT a.c AS c_a, b.c AS c_b, COUNT(*)::BIGINT AS n_shared
  FROM p a JOIN p b ON a.s = b.s AND a.c < b.c
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT c_a, c_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE)
             / CAST(da.deg + db.deg - n_shared AS DOUBLE), 6) AS jaccard
FROM shared
JOIN deg da ON da.c = c_a
JOIN deg db ON db.c = c_b
ORDER BY jaccard DESC, c_a, c_b
LIMIT 100
"""


# ---------------------------------------------------------------------------
# ev_incident_overlap — gaps-and-islands incidents × session intervals
# ---------------------------------------------------------------------------

_INC_GAP_MIN = 5  # minutes between error minutes that still chain an incident
_SES_GAP_MIN = 30


def ev_incident_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-OVERLAP join (both sides are intervals — the join
    `rj_range_join`'s point-in-range shape cannot express): platform
    INCIDENTS are derived from the event stream itself by
    gaps-and-islands — error-bearing minutes chained while gaps stay
    ≤ 5 minutes — and user SESSIONS by the 30-minute-gap rule; the
    output is every (session, incident) pair that overlaps in time
    with the overlap length in seconds — "which user sessions were
    exposed to which incident". The incident side is tiny (it is a
    minute-grain aggregate of one event type), so the overlap join is
    a broadcast theta-join against it — the standard shape when one
    interval set is metadata-sized; binned equi-join is the fallback
    when both sides are facts. Timestamps become epoch seconds
    (integers) before any arithmetic."""
    ev = load_table(spark, sf, "events")
    err_min = (
        ev.filter(F.col("event_type") == "error")
        .select((F.unix_timestamp("ts") - F.pmod(F.unix_timestamp("ts"), F.lit(60))).alias("m"))
        .distinct()
    )
    w = Window.orderBy("m")
    inc = (
        err_min.withColumn(
            "nf",
            F.when(
                F.lag("m").over(w).isNull()
                | (F.col("m") - F.lag("m").over(w) > _INC_GAP_MIN * 60),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("inc_id", F.sum("nf").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
        .groupBy("inc_id")
        .agg(
            F.min("m").cast("bigint").alias("inc_start"),
            (F.max("m") + 60).cast("bigint").alias("inc_end"),
        )
    )
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ses = (
        ev.select("user_id", "event_id", "ts", F.unix_timestamp("ts").alias("es"))
        .withColumn(
            "nf",
            F.when(
                F.lag("es").over(ws).isNull()
                | (F.col("es") - F.lag("es").over(ws) > _SES_GAP_MIN * 60),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_seq",
            F.sum("nf").over(ws.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("es").cast("bigint").alias("s_start"),
            F.max("es").cast("bigint").alias("s_end"),
        )
    )
    j = ses.join(
        F.broadcast(inc),
        (F.col("s_start") < F.col("inc_end")) & (F.col("inc_start") <= F.col("s_end")),
    )
    return j.select(
        "user_id",
        "session_seq",
        "inc_id",
        (
            F.least("s_end", F.col("inc_end") - 1) - F.greatest("s_start", "inc_start")
        ).cast("bigint").alias("overlap_s"),
    ).orderBy("user_id", "session_seq", "inc_id")


_EV_INCIDENT_SQL = f"""
WITH err_min AS (
  SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 60 AS m
  FROM events WHERE event_type = 'error'
),
flag AS (
  SELECT m, CASE WHEN lag(m) OVER (ORDER BY m) IS NULL
                      OR m - lag(m) OVER (ORDER BY m) > {_INC_GAP_MIN * 60}
                 THEN 1 ELSE 0 END AS nf
  FROM err_min
),
inc AS (
  SELECT CAST(SUM(nf) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS BIGINT) AS inc_id, m
  FROM flag
),
incidents AS (
  SELECT inc_id, MIN(m)::BIGINT AS inc_start, (MAX(m) + 60)::BIGINT AS inc_end
  FROM inc GROUP BY 1
),
es AS (
  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > {_SES_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS nf
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
ses AS (
  SELECT user_id, session_seq, MIN(es)::BIGINT AS s_start, MAX(es)::BIGINT AS s_end
  FROM (
    SELECT *, CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM es
  ) GROUP BY 1, 2
)
SELECT user_id, session_seq, inc_id,
       (LEAST(s_end, inc_end - 1) - GREATEST(s_start, inc_start))::BIGINT AS overlap_s
FROM ses JOIN incidents ON s_start < inc_end AND inc_start <= s_end
ORDER BY user_id, session_seq, inc_id
"""


QUERIES = {
    "tx_perplexity": tx_perplexity,
    "gr_link_prediction": gr_link_prediction,
    "ev_incident_overlap": ev_incident_overlap,
}

ORACLES = {
    "tx_perplexity": _TX_PPL_SQL,
    "gr_link_prediction": _GR_LINKPRED_SQL,
    "ev_incident_overlap": _EV_INCIDENT_SQL,
}
