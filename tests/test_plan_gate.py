"""Registry-wide physical-plan gate: every query in the registry is
planned (not executed) and screened for the patterns that die at
100 TB. `tests/test_plans.py` pins the *desired* shapes of selected
queries; this module is the complementary blanket ban — a new or
edited query that accidentally plans a cartesian product, an
unpartitioned data-path window, or a single-partition exchange of a
fact relation fails CI here before it ever ships.

Allowlists are explicit and per-query, so every exception is a
reviewed, documented decision rather than a silent regression.
"""

from __future__ import annotations

import re

import pytest

from movie_data_etl_pipeline_spark import plancheck
from movie_data_etl_pipeline_spark.plans.fixture_queries import QUERIES

# Queries whose plans legitimately contain a nested-loop/cartesian
# product. Two sanctioned shapes:
#  * exact all-pairs baselines, documented as the small-scale twin of
#    an LSH/IVF scale path (knn/hard-negative mining);
#  * broadcast of a one-row aggregate (totals, caps, thresholds) into
#    a fact relation — constant-size build side, not a pair blowup.
NESTED_LOOP_OK = {
    # exact all-pairs baselines (scale path = LSH/IVF variants)
    "sim_knn_bruteforce",
    "sim_hard_negatives",
    # broadcast one-row aggregates / tiny constant relations
    "sa_mixture_sample",
    "px_training_mix",
    "q11_value_concentration",
    "q15_top_supplier",
    "q22_idle_customers",
    "ag_histogram",
    "dd_ngram_jaccard",  # length-bound ±1 bin join, bounded replication
    "tx_vocab_coverage",  # k-list × vocab-histogram prefix
    "tx_unigram_logprob",  # 1-row total ⨯ vocab pricing
    "tx_perplexity",  # 1-row vocab-size ⨯ scored bigrams
    "tx_source_divergence",  # 1-row corpus-total ⨯ (source,tok) counts
    "fp_token_pairs",  # 1-row doc-count ⨯ frequent-pair lift rendering
    "ap_exact_quantiles",
    "qa_volume_anomaly",
    "qa_key_skew",
    "ag_median_mode",
    "emb_prefix_norm",
    "tx_adaptive_quality",
    "px_clean_corpus",
    "sim_knn_lsh",  # broadcast plane table (n_tables×n_planes rows)
    "sim_knn_ivf",  # broadcast centroid table
    "sim_embedding_near_dup",
    "ev_funnel",  # broadcast step list
    "ts_gapfill",  # 1-row min/max bounds ⨯ sequence
    "ts_ewma",
    "w5_value_windows",
    "jx_fuzzy_join",  # banded candidate join, bounded bands
    "mm_frame_sample",
    "tx_datacard",
    "sa_hash_split",  # boundary literals
    "dd_minhash_lsh",
    "dd_minhash_incremental",
    "dd_simhash",
    "dd_contamination",
    "hh_heavy_hitters",  # broadcast candidate set recount
    "tx_chunking",
    "ix_global_rownum",  # broadcast partition-offset relation
    "tx_tfidf_topk",  # broadcast 1-row corpus doc-count into IDF
    "dd_bloom_incremental",  # broadcast 1-row bloom bitmap array
    "ev_type_pmi",  # broadcast 1-row n_users total
    "tx_bigram_surprisal",  # broadcast 1-row vocab-size V into bigram pricing
    "sim_tfidf_cosine",  # broadcast 1-row doc-count N into IDF pricing
    "qa_join_explosion",  # broadcast 1-row total-pairs aggregate
    "ap_kmv_jaccard",  # cell-pair enumeration at #sources² metadata grain
    "gr_triangles",  # broadcast of three 1-row census aggregates
    "tx_skipgram_pmi",  # broadcast 1-row pair-slot total
    "qa_release_gate",  # composes qa_volume_anomaly's sanctioned 1-row broadcast
    "qa_fk_repair",  # broadcast 1-row rows_total aggregate
    "ag_mutual_info",  # broadcast 1-row N total into cell pricing
    "qa_entropy_profile",  # broadcast 1-row per-column totals into pricing
    "qa_benford",  # broadcast 1-row digit-count total
    "ev_survival_km",  # broadcast 1-row observation-end timestamp
    "ag_theil_sen",  # day-grain pair enumeration + 1-row slope broadcast
    "ev_audience_overlap",  # type-domain² pair skeleton (sizes × sizes)
    # wave-4..7 one-row-total broadcasts (same shape as the entries
    # above: constant-size build side priced into a bounded relation)
    "qa_psi_drift",  # 1-row per-source totals into bin shares
    "ts_acf",  # 1-row series mean/variance into lag products
    "ts_cusum",  # 1-row global mean into the daily series
    "qa_chi2",  # 1-row grand total into contingency cells
    "ag_simpsons",  # 1-row pooled rate into per-segment rates
    "qa_ks_test",  # 1-row sample sizes into the ECDF grid
    "ts_weekday_index",  # 1-row overall mean into weekday means
    "sa_bootstrap_ci",  # 1-row point estimate into replicate bounds
    "ts_mk_trend",  # 1-row S statistic into the verdict row
    "sa_kfold_assign",  # 1-row grand totals into per-fold shares
    # broadcast seed/codebook tables (the sim_knn_ivf centroid shape)
    "emb_pq_codebook",  # 8-row PQ seed table into embeddings scan
    "sim_kmeans_assign",  # 8-row centroid table into embeddings scan
    "gr_kcore",  # 1-row adaptive-k relation into the peel's HAVING
    "gr_modularity",  # broadcast 1-row edge-count m into per-community rows
    "ag_huber_irls",  # broadcast 1-row (alpha,beta) per IRLS round into day grain
    "sim_matryoshka_recall",  # exact all-pairs baseline on sampled queries (scale path = IVF/LSH bucket audit)
    "ev_incident_overlap",  # broadcast theta-join against the metadata-sized incident interval set
    "ts_esd_outliers",  # broadcast 1-row moment aggregate per ESD round
    "emb_kmeans_iterate",  # broadcast 8-row centroid table per Lloyd round (sim_knn_ivf shape)
    "ts_periodogram",  # broadcast 493-row trig table joined on x mod period (expression equality)
    "gr_conductance",  # broadcast 1-row edge-count m (gr_modularity's sanctioned shape)
    "emb_silhouette",  # broadcast 8-row centroid table (kmeans shape)
    "ag_quantile_irls",  # broadcast 1-row (alpha,beta) per IRLS round
    "fe_quantile_bins",  # 7-row boundary relation into the value histogram
    "emb_pca_power",  # 1-row norm/λ relation into the 8-row vector
    "sa_neyman_alloc",  # 1-row weight total into the allocation
    "ts_seasonal_outliers",  # 1-row median/MAD into the day relation
    "ag_raking",  # 1-row grid totals into the cell-grain IPF steps
    "ts_forecast_backtest",  # 1-row max-date cutoff into the day series
    "ev_growth_accounting",  # 1-row max-week bound into churn weeks
    "qa_freshness",  # 1-row global high-water mark into type lags
    "qa_key_gaps",  # 1-row key bounds into the block relation
    "fe_woe_iv",  # 1-row good/bad totals + IV into category rows
    "px_interleave_order",  # 1-row source count into position pricing
    "sim_cluster_purity",  # 8-row seed table into embeddings scan
    "ev_user_outliers",  # 1-row N + type-stat broadcasts into user terms
    "ts_intervention_impact",  # 1-row pre fit × 1-row post fit
    "dd_cross_source_dups",  # source-domain² pair skeleton
    "ml_gains_deciles",  # broadcast 1-row (n, pos) totals into bin pricing
    "ml_gini_stump",  # broadcast 1-row (n, pos) totals into candidate pricing
    "ml_auc_mw",  # broadcast 1-row totals via the shared score_cum_relation
    "ir_ndcg_mrr",  # broadcast 50-row query set into the exact re-rank eval
    "gr_hits",  # broadcast 1-row max per normalization round
    "rc_assoc_rules",  # broadcast 1-row basket-count N into rule pricing
    "ml_calibration",  # broadcast 1-row row-total n into the percentile (ml_gains shape)
    "ml_pr_curve",  # broadcast 1-row (n, pos) totals (ml_gains shape)
    "jx_bloom_semijoin",  # broadcast 1-row Bloom bitmap array (dd_bloom shape)
    "ev_rfm_segments",  # broadcast 1-row high-water date + per-metric 1-row totals
    "ag_cramers_v",  # broadcast 1-row (n, r, c) contingency totals (qa_chi2 shape)
    "ag_kendall_tau",  # day-grain pair enumeration (ag_theil_sen's sanctioned shape)
    "ag_ols2_cramer",  # broadcast 1-row anchor means (ts_esd's sanctioned shape)
    "ap_hll_setops",  # type-domain² sketch-pair skeleton (ev_audience_overlap shape)
    "ag_cuped",  # broadcast 1-row pooled moments into the 2-variant rows
    "ag_levene_bf",  # broadcast 1-row pivoted W statistic into the 5 group rows
    "ag_granger_lite",  # broadcast 1-row anchor means (wave-45 sanctioned shape)
    "px_curation_e2e",  # broadcast 1-row mixture cap (sa_mixture_sample shape)
    "ts_changepoint_binseg",  # broadcast 1-row (n, sy) totals into day candidates
    "ag_negbin_fit",  # broadcast 1-row anchor mean (wave-45 sanctioned shape)
    "sq_lateral_topn",  # 5-row region ⨯ lateral rank (decorrelated by Catalyst)
    "ev_session_gap_median",  # broadcast 1-row totals + 1-row order statistics
    "ev_stickiness",  # broadcast 1-row min-date bound into the day filter
    "ix_bm25_topk",  # broadcast 1-row corpus (n_docs, total_len) into scoring
}


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    """Plan (never execute) every registry query once."""
    out: dict[str, str] = {}
    for name, fn in QUERIES.items():
        out[name] = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    return out


# ---------------------------------------------------------------------------
# Fact⋈fact broadcast audit (VERDICT-r7 ask #3)
#
# The round-7 30x sweep OOM class: AQE's runtime flip-to-broadcast
# sizes the build side on COMPRESSED shuffle bytes, and a narrow
# all-int64 fact relation compresses 20-100x — so a "small" build side
# can be gigabytes deserialized. The class is closed in two layers:
#
#  1. ENGINE-WIDE: session.py sets
#     spark.sql.adaptive.autoBroadcastJoinThreshold=-1, so AQE can
#     never convert a statically-planned shuffle join into a broadcast
#     at runtime (static planning still broadcasts dimensions off
#     trustworthy parquet file sizes). test_session_disables_runtime_
#     broadcast_flip pins the config.
#  2. PER-SITE: the fact⋈fact self-joins whose pair relation is
#     unbounded carry an explicit shuffle_hash hint (also faster than
#     sort-merge at 1x — no sort). SHUFFLE_HASH_PINNED asserts each
#     pin survives in the static plan, so a refactor that drops a hint
#     fails CI here.
#
# Site audit (every fact⋈fact join site in the operator library):
#  * dedup.containment_pairs posting join        — PINNED (r7)
#  * plans/wave6 gr_bipartite_project fact joins — PINNED (r7)
#  * dedup.ngram_jaccard_pairs prefix self-join  — narrow int64
#    posting relation, unbounded; closed by layer 1; static plan is
#    SMJ/SHJ (sides have no file stats -> never statically broadcast).
#  * dedup.minhash_lsh_pairs (+portable) banded self-join — same shape
#    as above: (id, band, bucket) all-int64, closed by layer 1.
#  * dedup.simhash_near_dup_pairs chunk join     — same class, layer 1.
#  * dedup.incremental_minhash_pairs (+portable) — batch ⋈ (corpus ∪
#    batch): the SMALLER side is always the arriving batch (subset
#    relation), so a broadcast build is bounded by batch size — the
#    RIGHT production plan; flip intentionally allowed statically,
#    runtime flip closed by layer 1.
#  * plans/wave36 _cf_pair_counts basket self-join (rc_item_item_cf /
#    rc_assoc_rules) — narrow int64 (c, p), unbounded pairs; layer 1.
#  * similarity.knn_lsh bucket self-join (both plane families),
#    knn_ivf posting join — the join relations CARRY the embedding
#    vectors: float arrays are near-incompressible, so compressed ≈
#    deserialized and the heuristic is not lying; additionally closed
#    by layer 1.
#  * similarity.tfidf_cosine_pairs token posting join — mixed
#    int64+float postings from the capped inverted index; layer 1.
#  * operators/skew.salted_join — fact ⋈ DIMENSION by contract (the
#    dim side is replicated per salt); a broadcast of the replicated
#    dim is bounded by n_salts × |dim| and safe.
#  * dd_lsh_recall ground-truth co-shingle join — runs on the
#    deterministic doc_id % 4 sample by design (the modulus is the
#    documented production knob bounding BOTH sides); layer 1.
# ---------------------------------------------------------------------------

SHUFFLE_HASH_PINNED = {
    # query -> why the pin exists (all narrow-int fact⋈fact pair joins)
    "dd_containment": "PPJoin prefix⋈postings pin (r7 30x OOM fix class)",
    "gr_bipartite_project": "fact⋈fact self-join pin (r7 30x OOM root cause)",
}


def test_fact_pair_joins_keep_shuffle_hash_pin(plans):
    missing = [
        n for n in SHUFFLE_HASH_PINNED if "ShuffledHashJoin" not in plans[n]
    ]
    assert not missing, (
        f"shuffle_hash pin lost from fact-pair join plans: {missing} — "
        "these joins OOM'd (or share the exact plan class that OOM'd) "
        "when AQE flipped them to broadcast at 30x; restore the hint"
    )


def test_session_disables_runtime_broadcast_flip(spark):
    """Layer-1 closure of the compressed-bytes broadcast fault class:
    the factory session must keep AQE's runtime flip-to-broadcast off
    (static broadcast planning is governed separately by
    spark.sql.autoBroadcastJoinThreshold and stays on)."""
    assert spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold") == "-1"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


# A size-chosen broadcast of a small fact scan at sf0.1 is
# scale-ADAPTIVE (at 100 TB the file size exceeds the threshold and
# Spark re-plans to a shuffle join on its own) — not a bug. The
# genuinely scale-broken shape is a HINT-FORCED broadcast of an
# unreduced fact relation: hints override the size threshold at any
# scale, so that build side grows with the data forever. Planning with
# the static threshold at -1 strips every size-chosen broadcast; any
# BroadcastExchange that survives comes from an explicit hint and must
# either reduce (aggregate/limit) before the fact scan or be
# allowlisted here with its boundedness argument.
# The allowlist is shared with tools/plan_audit.py (which annotates
# these as "allowlisted" in PLANS.md instead of flagging) — one
# reviewed inventory, boundedness arguments at the definition site.
HINTED_FACT_BROADCAST_OK = plancheck.HINTED_FACT_BROADCAST_OK

# The walker lives in the package so this gate and tools/plan_audit.py
# run the SAME per-path analysis (ADVICE-r8 #1: the old whole-subtree
# walk let a reduced sibling branch excuse an unreduced fact scan).


def test_walker_enumerates_every_offense_in_one_pass():
    """ADVICE-r9 #3: two INDEPENDENT offending BroadcastExchanges must
    both be reported — the first-offense-only return surfaced the
    second only after the first was fixed."""
    plan = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastHashJoin [k], [k], Inner, BuildRight",
        "   :- BroadcastHashJoin [k], [k], Inner, BuildLeft",
        "   :  :- BroadcastExchange HashedRelationBroadcastMode",
        "   :  :  +- Scan parquet [k] /tmp/sf/orders.parquet",
        "   :  +- Scan parquet [k] /tmp/sf/part.parquet",
        "   +- BroadcastExchange HashedRelationBroadcastMode",
        "      +- Filter isnotnull(k#2)",
        "         +- Scan parquet [k] /tmp/sf/lineitem.parquet",
    ])
    assert plancheck.unreduced_fact_broadcasts(plan) == ["orders", "lineitem"]
    # the first-or-None wrapper keeps the historical single-offense API
    assert plancheck.broadcasts_unreduced_fact(plan) == "orders"


def test_pin_candidate_scan_finds_the_r9_shape():
    """VERDICT-r9 ask #2: the bounded-side pin candidate shape — a
    shuffle join of a fully-reduced (aggregated) side against an
    unreduced fact probe — is detected with grain classification; a
    both-sides-fact shuffle join and an already-broadcast join are
    not candidates."""
    candidate = "\n".join([
        "AdaptiveSparkPlan",
        "+- SortMergeJoin [node#1], [src#2], Inner",
        "   :- Sort [node#1 ASC]",
        "   :  +- HashAggregate(keys=[node#1], functions=[max(lbl#9)])",
        "   :     +- Scan parquet [node] /tmp/sf/events.parquet",
        "   +- Sort [src#2 ASC]",
        "      +- Scan parquet [src] /tmp/sf/events.parquet",
    ])
    got = plancheck.broadcast_pin_candidates(candidate)
    assert len(got) == 1
    assert got[0]["build_side"] == "left"
    assert got[0]["grain"] == "entity"
    assert got[0]["probe_facts"] == ["events"]

    both_fact = candidate.replace(
        "HashAggregate(keys=[node#1], functions=[max(lbl#9)])",
        "Filter isnotnull(node#1)",
    )
    assert plancheck.broadcast_pin_candidates(both_fact) == []
    pinned = candidate.replace("SortMergeJoin", "BroadcastHashJoin")
    assert plancheck.broadcast_pin_candidates(pinned) == []
    # calendar-grain build side classifies as calendar
    cal = candidate.replace("keys=[node#1]", "keys=[o_orderdate#4]")
    assert plancheck.broadcast_pin_candidates(cal)[0]["grain"] == "calendar"
    # a checkpointed pair relation (Scan ExistingRDD) is a valid probe
    # side for the pin-candidate scan (wider PROBE_SCAN_RE), though not
    # for the gate's fact-broadcast check (narrow FACT_SCAN_RE)
    rdd_probe = candidate.replace(
        "Scan parquet [src] /tmp/sf/events.parquet",
        "Scan ExistingRDD[src#2L,dst#3L]",
    )
    got_rdd = plancheck.broadcast_pin_candidates(rdd_probe)
    assert len(got_rdd) == 1 and got_rdd[0]["probe_facts"] == ["ExistingRDD"]


def test_walker_flags_unreduced_branch_behind_reduced_sibling():
    """Regression for the ADVICE-r8 #1 false negative: a hinted
    broadcast build side joining a REDUCED branch (printed first) with
    an UNREDUCED fact-scan branch must be flagged — the sibling's
    aggregate covers nothing on the scan's own path."""
    plan = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastHashJoin [k], [k], Inner, BuildRight",
        "   :- Scan parquet [k] /tmp/sf/part.parquet",
        "   +- BroadcastExchange HashedRelationBroadcastMode",
        "      +- SortMergeJoin [k], [k], Inner",
        "         :- HashAggregate(keys=[k], functions=[count(1)])",
        "         :  +- Scan parquet [k] /tmp/sf/orders.parquet",
        "         +- Filter isnotnull(k#2)",
        "            +- Scan parquet [k] /tmp/sf/lineitem.parquet",
    ])
    assert plancheck.broadcasts_unreduced_fact(plan) == "lineitem"


# Reviewed inventory of plans/_hints.bounded_broadcast CALL sites
# (docstring mentions excluded): module -> expected number of calls.
# A bounded-side pin overrides Spark's size planning at EVERY scale, so
# adding one is a reviewed decision — update this map WITH the bound
# argument in the new call site's comment, or the gate fails.
BOUNDED_BROADCAST_SITES = {
    "plans/wave7.py": 1,    # ts_mk_trend: calendar-grain day aggregate
    "plans/wave41.py": 1,   # ag_kendall_tau: calendar-grain day aggregate
    "plans/wave23.py": 2,   # gr_modularity: node-grain label fixed point (2 sides)
    "plans/wave35.py": 1,   # gr_hits: node-grain state via hits_fixed_point(state_hint=)
    "plans/wave30.py": 2,   # gr_conductance: node-grain label fixed point (2 sides)
    "plans/wave26.py": 2,   # gr_khop_reach: node-grain frontier + visited bitset state
}


def test_bounded_broadcast_call_sites_are_the_reviewed_inventory():
    import pathlib
    import re as _re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "movie_data_etl_pipeline_spark"
    found: dict[str, int] = {}
    for path in pkg.rglob("*.py"):
        if path.name == "_hints.py":
            continue
        # USAGE mentions count — call sites, function-reference passes
        # (state_hint=..., positional args, assignments), and
        # direct-import lines — so a `from ._hints import
        # bounded_broadcast` bypass still trips the inventory.
        # Excluded (ADVICE-r9): `#`-comment prose and ``-quoted
        # docstring mentions — an innocent plain-text comment naming
        # the hint is not a call site.
        usage = _re.compile(
            r"bounded_broadcast\s*\("                      # direct call
            r"|=\s*(?:_hints\.)?bounded_broadcast\b"       # kwarg / assignment reference
            r"|[(,]\s*(?:_hints\.)?bounded_broadcast\b"    # positional reference
            r"|import\s.*\bbounded_broadcast\b"            # direct-import bypass
        )
        n = sum(
            1
            for line in path.read_text().splitlines()
            if usage.search(line.split("#", 1)[0]) and "``" not in line
        )
        if n:
            found[str(path.relative_to(pkg))] = n
    assert found == BOUNDED_BROADCAST_SITES, (
        f"bounded_broadcast call sites changed: {found} != "
        f"{BOUNDED_BROADCAST_SITES} — every pin must be reviewed here "
        "with its boundedness argument (see plans/_hints.py)"
    )


def test_walker_accepts_reduce_on_the_scans_own_path():
    plan = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastExchange HashedRelationBroadcastMode",
        "   +- HashAggregate(keys=[k], functions=[count(1)])",
        "      +- Scan parquet [k] /tmp/sf/lineitem.parquet",
    ])
    assert plancheck.broadcasts_unreduced_fact(plan) is None


def test_walker_attributes_markerless_detail_lines_to_their_operator():
    """A fact path on a marker-less continuation line (Location: detail
    printed under its operator) must inherit the OWNING operator's
    ancestry — not become uncoverable (cur=-1 false flag) — and an
    unreduced scan printed the same way must still be flagged."""
    covered = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastExchange HashedRelationBroadcastMode",
        "   +- HashAggregate(keys=[k], functions=[count(1)])",
        "      +- Scan parquet [k]",
        "            Location: InMemoryFileIndex [file:/tmp/sf/lineitem.parquet]",
    ])
    assert plancheck.broadcasts_unreduced_fact(covered) is None
    uncovered = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastExchange HashedRelationBroadcastMode",
        "   +- Filter isnotnull(k#2)",
        "      +- Scan parquet [k]",
        "            Location: InMemoryFileIndex [file:/tmp/sf/lineitem.parquet]",
    ])
    assert plancheck.broadcasts_unreduced_fact(uncovered) == "lineitem"


def test_walker_rejects_locallimit_as_a_reduce():
    """LocalLimit bounds rows per partition, not in total — a build
    side whose only intervening operator is LocalLimit grows with the
    data and must be flagged."""
    plan = "\n".join([
        "AdaptiveSparkPlan",
        "+- BroadcastExchange HashedRelationBroadcastMode",
        "   +- LocalLimit 1000",
        "      +- Scan parquet [k] /tmp/sf/lineitem.parquet",
    ])
    assert plancheck.broadcasts_unreduced_fact(plan) == "lineitem"
    ok = plan.replace("LocalLimit", "GlobalLimit")
    assert plancheck.broadcasts_unreduced_fact(ok) is None


@pytest.fixture(scope="module")
def hint_only_plans(spark, sf_dir):
    """Plan every registry query with the STATIC broadcast threshold
    off, so the only broadcasts left are hint-forced ones."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # drop persisted InMemoryRelations: the cache manager substitutes
    # cached subtrees COMPILED UNDER THE OLD THRESHOLD (a size-chosen
    # broadcast frozen inside a cached plan would read as hint-forced
    # here); localCheckpointed shared builds are RDD-backed and
    # unaffected
    spark.catalog.clearCache()
    try:
        return {
            name: fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            for name, fn in QUERIES.items()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_no_hint_forced_broadcast_of_unreduced_fact_relation(hint_only_plans):
    offenders = {}
    for name, plan in hint_only_plans.items():
        if name in HINTED_FACT_BROADCAST_OK:
            continue
        # list form (ADVICE-r9 #3): a plan with several independent
        # offending exchanges enumerates them all in one failure
        ts = plancheck.unreduced_fact_broadcasts(plan)
        if ts:
            offenders[name] = ts
    assert not offenders, (
        f"hint-forced broadcast of an unreduced fact relation: {offenders} — "
        "a hinted broadcast ignores the size threshold at every scale, so "
        "this build side grows with the data; aggregate/limit it first, "
        "drop the hint, or allowlist with a boundedness argument"
    )


def test_no_unsanctioned_nested_loops(plans):
    bad = [
        n
        for n, p in plans.items()
        if ("CartesianProduct" in p or "BroadcastNestedLoopJoin" in p)
        and n not in NESTED_LOOP_OK
    ]
    assert not bad, f"unsanctioned nested-loop/cartesian plans: {bad}"


def test_sanctioned_nested_loops_are_broadcast_not_cartesian(plans):
    """Within the allowlist, only the two exact-baseline queries may
    plan a raw CartesianProduct; every other exception must be the
    broadcast form (constant-size build side)."""
    exact_baselines = {"sim_knn_bruteforce", "sim_hard_negatives"}
    bad = [
        n
        for n in NESTED_LOOP_OK - exact_baselines
        if n in plans and "CartesianProduct" in plans[n]
    ]
    assert not bad, f"allowlisted queries planning raw cartesians: {bad}"


def test_no_single_partition_exchange_of_fact_scans(plans):
    """An Exchange SinglePartition directly consuming a parquet scan
    (or a scan's projection/filter) would serialize the whole input
    through one task. Single-partition exchanges of AGGREGATED
    relations (global agg, partition totals, vocab histograms) are
    bounded and fine — the gate only rejects the scan-fed shape."""
    offenders = []
    for name, p in plans.items():
        # walk each SinglePartition exchange's subtree head: reject if
        # the nearest child within two indented lines is a Scan with no
        # intervening aggregate
        lines = p.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            subtree = "\n".join(lines[i : i + 4])
            if re.search(r"Scan parquet", subtree) and not re.search(
                r"HashAggregate|SortAggregate|ObjectHashAggregate", subtree
            ):
                offenders.append(name)
                break
    assert not offenders, f"single-partition exchange fed by a raw scan: {offenders}"
