#!/usr/bin/env python3
"""Alternating A/B of two git revisions on a perfbench workload or registry queries.

    python3 tools/ab.py PARENT CHANGE --workload etl_upsert --seeds 1-10
    python3 tools/ab.py HEAD~1 HEAD --workload curation_batch --seeds 1,2,3
    python3 tools/ab.py HEAD~1 HEAD --queries sim_knn_lsh,sim_knn_ivf --sf DIR

Each revision's committed files are extracted (``git archive``) into a
fresh temporary directory, so both sides run exactly what the commit
holds, with its own ``perfbench/``. For every seed the tool runs
``perfbench/run.py --workload W --seed S --seconds <run_seconds> --trace 0``
once on each side, alternating which side goes first, one run at a time.

It prints, for each end-to-end metric in the parent's
``BENCHMARK.json``: both sides' medians, the change/parent median ratio,
the parent's spread (Q3-Q1)/median, and in how many pairs the change was
better (ties count for neither side); each run's metrics go to stderr
as it ends. Exit status is 1 when any run failed or was not ``correct``,
else 0. Standard library only.

With ``--queries a,b,c`` (fixture set ``--sf``, default
``$SPARK_GRAFT_SF_DIR``) each of ``--pairs`` pairs runs one fresh Python
process per side, alternating which side goes first, with ``PYTHONPATH``
at that side's tree (without it the Python workers fail to import the
package, or import another copy of it). A process runs each named query ``QUERY_RUNS`` times
(``collect()``); run 1 is cold, the median of the rest is the process's
warm time. Per query the tool prints the row count, whether the sha256
of the sorted rows and the column names and types are equal on both
sides, whether the optimized plans are equal after expression ids are
stripped, the median warm time per side, the change/parent ratio and
the parent's (Q3-Q1)/median across its processes. Exit status is 1 when
any process failed or any query's values, columns or types differ.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")
QUERY_RUNS = 5

# One process of the --queries mode: argv = names, fixture dir, runs.
# Prints one JSON line per query. Runs inside the side's tree.
QUERY_CHILD = r"""
import hashlib, json, re, sys, time
from movie_data_etl_pipeline_spark.plans.fixture_queries import QUERIES
from movie_data_etl_pipeline_spark.session import get_spark

names, sf, runs = sys.argv[1].split(","), sys.argv[2], int(sys.argv[3])
spark = get_spark(data_dir=sf)
for name in names:
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf)
        rows = df.collect()
        times.append(time.perf_counter() - t0)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?|plan_id=\d+|\b([a-z]+)_\d+\b", r"\1", plan)
    print(json.dumps({
        "query": name,
        "rows": len(rows),
        "sha256": hashlib.sha256(
            "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest(),
        "schema": [[f.name, f.dataType.simpleString()] for f in df.schema.fields],
        "plan_sha256": hashlib.sha256(plan.encode()).hexdigest(),
        "times": times,
    }), flush=True)
"""


def _seeds(spec: str) -> list[int]:
    """``1-10`` or ``1,3,5`` (or a mix) as a list of ints."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="git revision of the baseline")
    ap.add_argument("change", help="git revision of the change")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload", help="perfbench workload")
    mode.add_argument("--queries", type=lambda s: s.split(","),
                      help="comma-separated registry query names")
    ap.add_argument("--seeds", type=_seeds, default=_seeds("1-10"),
                    help="--workload seeds, e.g. 1-10 or 1,2,5 (default 1-10)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="--queries fixture directory (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--pairs", type=int, default=3,
                    help="--queries process pairs (default 3)")
    args = ap.parse_args()
    if args.queries and not args.sf:
        ap.error("--queries needs --sf DIR or $SPARK_GRAFT_SF_DIR")
    return args


def _checkout(rev: str, into: Path) -> str:
    """Extract the committed files of ``rev`` into ``into``; returns the
    full commit id."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    tar = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True, capture_output=True)
    with tarfile.open(fileobj=io.BytesIO(tar.stdout)) as t:
        t.extractall(into)
    return sha


def _run(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run; its last stdout line, plus the exit status."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec = {"correct": False, "stderr_tail": p.stderr[-2000:]}
    rec["returncode"] = p.returncode
    return rec


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), linear interpolation as perfbench uses."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _summary(runs: list[dict], metrics: list[dict]) -> list[str]:
    pairs = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
    complete = [p for p in pairs.values() if all(
        s in p and "metrics" in p[s] for s in SIDES)]
    lines = [f"{'metric':<10} {'parent p50':>10} {'change p50':>10} "
             f"{'ratio':>6} {'parent IQR/p50':>14} {'change wins':>11}"]
    if not complete:
        return lines + ["(no pair where both sides printed metrics)"]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["metrics"][name]["value"] for p in complete] for s in SIDES}
        q1, pm, q3 = _quartiles(vals["parent"])
        cm = statistics.median(vals["change"])
        wins = sum(
            (c < p) if lower else (c > p)
            for p, c in zip(vals["parent"], vals["change"])
        )
        lines.append(f"{name:<10} {pm:>10.3f} {cm:>10.3f} {cm / pm:>6.2f} "
                     f"{(q3 - q1) / pm:>14.2f} {wins:>7}/{len(complete)}")
    return lines


def _run_queries(tree: Path, names: list[str], sf: str) -> dict:
    """One fresh process over ``names`` in ``tree``: {query: record}, or
    {"error": stderr tail} when it does not exit cleanly."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(tree), env.get("PYTHONPATH")) if p)
    p = subprocess.run(
        [sys.executable, "-c", QUERY_CHILD, ",".join(names), sf, str(QUERY_RUNS)],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    recs = {}
    for line in p.stdout.splitlines():
        if line.startswith('{"query"'):
            rec = json.loads(line)
            recs[rec["query"]] = rec
    if p.returncode or set(recs) != set(names):
        return {"error": p.stderr[-2000:]}
    return recs


def _query_summary(procs: dict[str, list[dict]], names: list[str]) -> tuple[list[str], bool]:
    """Per-query table; second value is True when any value differs."""
    lines = [f"{'query':<24} {'rows':>6} {'values':>7} {'schema':>7} {'plan':>7} "
             f"{'parent p50':>10} {'change p50':>10} {'ratio':>6} {'parent IQR/p50':>14}"]
    differs = False
    for name in names:
        recs = {s: [p[name] for p in procs[s]] for s in SIDES}
        same = {
            k: len({json.dumps(r[k]) for s in SIDES for r in recs[s]}) == 1
            for k in ("sha256", "schema", "plan_sha256")
        }
        differs |= not (same["sha256"] and same["schema"])
        warm = {s: [statistics.median(r["times"][1:]) for r in recs[s]] for s in SIDES}
        q1, pm, q3 = _quartiles(warm["parent"])
        cm = statistics.median(warm["change"])
        flag = {k: "equal" if v else "DIFFER" for k, v in same.items()}
        lines.append(f"{name:<24} {recs['parent'][0]['rows']:>6} {flag['sha256']:>7} "
                     f"{flag['schema']:>7} {flag['plan_sha256']:>7} {pm:>10.3f} {cm:>10.3f} "
                     f"{cm / pm:>6.2f} {(q3 - q1) / pm:>14.2f}")
    return lines, differs


def _ab_workload(args: argparse.Namespace, trees: dict[str, Path], head: str) -> int:
    bench = json.loads((trees["parent"] / "BENCHMARK.json").read_text())
    runs = []
    for i, seed in enumerate(args.seeds):
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            res = _run(trees[side], args.workload, seed, bench["run_seconds"])
            runs.append({"side": side, "seed": seed, "result": res})
            shown = {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}
            print(f"ab: seed {seed} {side:<6} correct={res.get('correct')} "
                  f"failed={res.get('failed')} {shown}", file=sys.stderr, flush=True)

    print(f"workload {args.workload}, seeds {args.seeds}, {head}")
    print("\n".join(_summary(runs, bench["end_to_end"])))
    bad = [r for r in runs if not r["result"].get("correct") or r["result"]["returncode"]]
    for r in bad:
        print(f"ab: FAIL seed {r['seed']} {r['side']}: {r['result']}", file=sys.stderr)
    return 1 if bad else 0


def _ab_queries(args: argparse.Namespace, trees: dict[str, Path], head: str) -> int:
    procs: dict[str, list[dict]] = {s: [] for s in SIDES}
    for i in range(args.pairs):
        for side in SIDES if i % 2 == 0 else SIDES[::-1]:
            recs = _run_queries(trees[side], args.queries, args.sf)
            procs[side].append(recs)
            shown = recs.get("error") or {
                q: round(statistics.median(r["times"][1:]), 3) for q, r in recs.items()}
            print(f"ab: pair {i + 1} {side:<6} {shown}", file=sys.stderr, flush=True)

    print(f"queries at {args.sf}, {args.pairs} process pairs x {QUERY_RUNS} runs "
          f"(warm = runs 2-{QUERY_RUNS}), {head}")
    if any("error" in p for s in SIDES for p in procs[s]):
        print("ab: FAIL a query process did not finish", file=sys.stderr)
        return 1
    lines, differs = _query_summary(procs, args.queries)
    print("\n".join(lines))
    return 1 if differs else 0


def main() -> int:
    args = _args()
    tmp = Path(tempfile.mkdtemp(prefix="ab-"))
    try:
        trees = {s: tmp / s for s in SIDES}
        shas = {s: _checkout(getattr(args, s), trees[s]) for s in SIDES}
        head = f"parent {shas['parent'][:10]}, change {shas['change'][:10]}"
        if args.queries:
            return _ab_queries(args, trees, head)
        return _ab_workload(args, trees, head)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
