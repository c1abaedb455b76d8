"""Generate PLANS.md: the formatted physical plan of every registry
query at the bench scale factor, plus a per-query digest of the
scale-relevant plan facts (scan columns read, filters pushed to
parquet, join strategies, top-k vs global sort, Python boundary).

This is the audit trail for the 100 TB posture claims: instead of
trusting docstrings, read the digest — a query whose scan reads 16
columns for a 3-column projection, or whose dimension join sort-merges,
shows up immediately.

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from movie_data_etl_pipeline_spark import plancheck
from movie_data_etl_pipeline_spark.plans import fixture_queries as FQ
from movie_data_etl_pipeline_spark.session import get_spark


def digest(plan: str, hint_only_plan: str | None = None, name: str | None = None) -> list[str]:
    """Scale-relevant facts from the FORMATTED plan string; the
    fact-broadcast audit runs on ``hint_only_plan`` — the SIMPLE-mode
    plan string compiled with the static broadcast threshold off —
    because (a) the formatted tree section prints scans without file
    paths (the walker can never match there: a vacuous audit, caught by
    the r9 self-review) and (b) planning at threshold -1 strips every
    size-chosen broadcast, so what remains is hint-forced — exactly the
    shape that ignores scale (same methodology as the CI gate
    ``test_no_hint_forced_broadcast_of_unreduced_fact_relation``)."""
    facts: list[str] = []
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    if joins:
        counts: dict[str, int] = {}
        for j in joins:
            counts[j] = counts.get(j, 0) + 1
        facts.append("joins: " + ", ".join(f"{k}×{v}" for k, v in sorted(counts.items())))
    for block in re.split(r"\n\n", plan):
        if not re.match(r"\(\d+\) Scan parquet", block):
            continue
        loc = re.search(r"/(\w+)\.parquet", block)
        schema = re.search(r"ReadSchema: struct<([^>]*)>", block)
        if loc and schema:
            ncols = 0 if not schema.group(1).strip() else schema.group(1).count(",") + 1
            facts.append(f"scan {loc.group(1)}: {ncols} cols")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    n_pushed = sum(len(p.split(",")) for p in pushed if p.strip())
    if n_pushed:
        facts.append(f"pushed filters: {n_pushed}")
    if "TakeOrderedAndProject" in plan:
        facts.append("top-k (no global sort)")
    if "WindowGroupLimit" in plan:
        facts.append("pre-shuffle group limit")
    for marker, label in [
        ("ArrowEvalPython", "Arrow-batched Python"),
        # BatchEvalPythonUDTF is the lateral table-function API —
        # row-to-rows generators are per-row BY DESIGN, not a hot-path
        # scalar UDF smell; only flag plain BatchEvalPython.
        ("BatchEvalPythonUDTF", "Python UDTF (lateral, row-to-rows by design)"),
        ("FlatMapGroupsInPandas", "grouped Arrow Python"),
        ("MapInPandas", "mapInPandas"),
    ]:
        if marker in plan:
            facts.append(label)
    if "BatchEvalPython" in plan.replace("BatchEvalPythonUDTF", ""):
        facts.append("row-at-a-time Python (!)")
    # fact-relation broadcast audit (VERDICT-r7 ask #3): a
    # BroadcastExchange whose build subtree scans a fact table with no
    # reducing operator on the scan's own path is the shape that dies
    # at 100 TB — the build side grows with the data. The per-path
    # walker is shared with tests/test_plan_gate.py (ADVICE-r8 #1) and
    # runs on the hint-only SIMPLE plan (paths inline, size-chosen
    # broadcasts stripped — see the docstring).
    if hint_only_plan is not None:
        # list form (ADVICE-r9 #3): enumerate EVERY offending exchange
        for t in plancheck.unreduced_fact_broadcasts(hint_only_plan):
            if name in plancheck.HINTED_FACT_BROADCAST_OK:
                facts.append(
                    f"hint-forced broadcast of {t} scan — allowlisted: "
                    f"{plancheck.HINTED_FACT_BROADCAST_OK[name]}"
                )
            else:
                facts.append(f"hint-forced broadcast of unreduced {t} scan (!)")
    n_exchanges = plan.count("Exchange")
    facts.append(f"exchanges: {n_exchanges}")
    return facts


# Pin candidates already A/B-tested — NOT re-tested by future scans
# (VERDICT-r9 ask #2: negatives documented in the tool). Every verdict
# below is from an interleaved same-session A/B with value equality
# asserted; records in tools/ab_r9_hints_sf01.json / _x100.json and
# tools/ab_r10_*.json.
BROADCAST_SCAN_TESTED = {
    # name -> (verdict, evidence) — sf0.1 deltas from
    # ab_r9_hints_sf01.json (best-of-3, on vs off), 100x ratios from
    # ab_r9_hints_x100.json (best-of-2, off/on)
    "gr_modularity": ("PINNED r9", "2.58x at 100x; -0.57 s sf0.1"),
    "gr_hits": ("PINNED r9", "2.36x at 100x; -0.66 s sf0.1"),
    "ts_mk_trend": ("PINNED r9", "calendar-grain day agg; -0.36 s sf0.1"),
    "ag_kendall_tau": ("PINNED r9", "calendar-grain day agg; -0.33 s sf0.1"),
    "gr_conductance": ("PINNED r9", "4.30x at 100x; -0.35 s sf0.1"),
    "gr_khop_reach": ("PINNED r9", "2.70x at 100x; -0.50 s sf0.1"),
    "gr_assortativity": (
        "REJECTED r9",
        "static planner already broadcasts the degree build — pin is a no-op",
    ),
    "gr_kcore": (
        "REJECTED r9",
        "static planner already broadcasts the histogram build — pin is a no-op",
    ),
    "gr_label_prop": (
        "REJECTED r9",
        "label-VALUED node-grain state: wins sf0.1 (2.49 vs 2.99 s) but "
        "LOSES 100x (85.6 vs 64.2 s) — broadcast build cost beats the "
        "co-partitioned shuffle only at small |V|",
    ),
    "gr_link_prediction": (
        "REJECTED r10",
        "deg attach joins (node-grain build): wins sf0.1 (3.97 vs 4.62 s "
        "interleaved) but LOSES 100x (155.5 vs 137.0 s at 96 partitions / "
        "20g driver) — the gr_label_prop class: per-key node-grain "
        "hash-relation build+broadcast grows with |V| and overtakes the "
        "co-partitioned shuffle of the pair-grain probe",
    ),
    "emb_kmeans_iterate": (
        "REJECTED r10",
        "counts build IS k-row (k=8 constant) but the probe side (cents) "
        "is k-row too — no fact-side exchange removed at any scale, and "
        "the pin measured slightly SLOWER interleaved at sf0.1 (0.300 vs "
        "0.266 s best-of-3, values equal): the broadcast build round-trip "
        "costs more than the 8-row sort-merge tail",
    ),
    "dd_lsh_recall": (
        "REJECTED r10 (static)",
        "build side is PAIR-grain (distinct LSH-caught near-dup pairs) — "
        "grows with the corpus pair count, fails the boundedness "
        "requirement; a pin overrides size planning at every scale, so "
        "no A/B can qualify an unbounded side",
    ),
}


def broadcast_scan(sf_dir: str) -> None:
    """--broadcast-scan mode (VERDICT-r9 ask #2): run the bounded-side
    pin-candidate shape query (``plancheck.broadcast_pin_candidates``)
    over the DEFAULT-threshold simple-mode plans of every registry
    entry and write tools/broadcast_scan_r{N}.json. Candidates are
    LEADS for an interleaved sf0.1 + 100x A/B — never pin from this
    report alone (the r9 label_propagation rejection is the template).

    BLIND SPOT (documented, not silent): joins INSIDE checkpointed
    iterative rounds (label propagation, k-core peel, HITS rounds)
    never reach a registry entry's final executedPlan — the checkpoint
    truncates lineage, so the final plan shows only `Scan ExistingRDD`.
    That family is audited at the operator level instead: the
    fixed-point helpers accept explicit state hints, their pins live in
    the reviewed plans/_hints inventory, and the r9 A/B negatives below
    cover every fixed-point shape in the engine. What THIS scan covers
    is the other r9 win family — single-pass plans joining an
    aggregated (node/dimension/calendar-grain) relation to a fact or
    checkpointed pair relation via a shuffle join."""
    import json

    spark = get_spark("broadcast_scan")
    report: dict[str, object] = {}
    n_cand = 0
    for name in FQ.QUERIES:
        plan = (
            FQ.QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        cands = plancheck.broadcast_pin_candidates(plan)
        if not cands:
            continue
        entry: dict[str, object] = {"candidates": cands}
        if name in BROADCAST_SCAN_TESTED:
            verdict, why = BROADCAST_SCAN_TESTED[name]
            entry["tested"] = f"{verdict}: {why}"
        report[name] = entry
        n_cand += len(cands)
        mark = " (tested)" if name in BROADCAST_SCAN_TESTED else ""
        grains = ",".join(c["grain"] for c in cands)
        print(f"  {name}: {len(cands)} candidate(s) [{grains}]{mark}")
    out_path = Path(__file__).resolve().parent / "broadcast_scan_r10.json"
    out_path.write_text(
        json.dumps(
            {
                "note": (
                    "final-plan scan; iterative-round joins are behind "
                    "checkpoint boundaries and are audited via the "
                    "plans/_hints pin inventory + A/B negatives (see "
                    "BROADCAST_SCAN_TESTED)"
                ),
                "tested_negatives": {
                    k: f"{v[0]}: {v[1]}"
                    for k, v in BROADCAST_SCAN_TESTED.items()
                    if v[0].startswith("REJECTED")
                },
                "queries": report,
            },
            indent=1,
        )
        + "\n"
    )
    fresh = [n for n in report if n not in BROADCAST_SCAN_TESTED]
    print(
        f"broadcast-scan: {n_cand} candidate join(s) in {len(report)} quer"
        f"{'y' if len(report) == 1 else 'ies'}, {len(fresh)} untested -> {out_path.name}"
    )
    if fresh:
        print("untested leads (A/B at sf0.1 AND 100x before pinning):")
        for n in fresh:
            print(f"  {n}")


def main() -> None:
    if "--broadcast-scan" in sys.argv:
        args = [a for a in sys.argv[1:] if a != "--broadcast-scan"]
        broadcast_scan(
            args[0]
            if args
            else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        )
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("plan_audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` at `{sf_dir}`. For each",
        "query: the scale-relevant digest, then the formatted plan (scan",
        "sections truncated by Spark). Regenerate after plan-affecting",
        "changes.",
        "",
    ]
    # second compile pass with the static broadcast threshold off: any
    # surviving BroadcastExchange is hint-forced, and the simple-mode
    # string carries inline scan paths the audit walker can match
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.catalog.clearCache()  # drop plans frozen under the old threshold
    try:
        hint_only = {
            name: FQ.QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            for name in FQ.QUERIES
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.catalog.clearCache()
    for name in FQ.QUERIES:
        qe = FQ.QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        plan = qe.explainString(mode)
        out.append(f"## {name}")
        out.append("")
        for fact in digest(plan, hint_only.get(name), name):
            out.append(f"- {fact}")
        out.append("")
        out.append("```")
        # keep the operator tree; drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        out.append(tree.rstrip())
        out.append("```")
        out.append("")
    Path(__file__).resolve().parents[1].joinpath("PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(FQ.QUERIES)} queries)")


if __name__ == "__main__":
    main()
