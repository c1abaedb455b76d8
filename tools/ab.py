#!/usr/bin/env python3
"""Alternating A/B of two git revisions on one perfbench workload.

    python3 tools/ab.py PARENT CHANGE --workload etl_upsert --seeds 1-10
    python3 tools/ab.py HEAD~1 HEAD --workload curation_batch --seeds 1,2,3

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
"""

from __future__ import annotations

import argparse
import io
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")


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
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=_seeds, default=_seeds("1-10"),
                    help="seeds, e.g. 1-10 or 1,2,5 (default 1-10)")
    return ap.parse_args()


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


def main() -> int:
    args = _args()
    tmp = Path(tempfile.mkdtemp(prefix="ab-"))
    try:
        trees = {s: tmp / s for s in SIDES}
        shas = {s: _checkout(getattr(args, s), trees[s]) for s in SIDES}
        bench = json.loads((trees["parent"] / "BENCHMARK.json").read_text())
        runs = []
        for i, seed in enumerate(args.seeds):
            for side in SIDES if i % 2 == 0 else SIDES[::-1]:
                res = _run(trees[side], args.workload, seed, bench["run_seconds"])
                runs.append({"side": side, "seed": seed, "result": res})
                shown = {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()}
                print(f"ab: seed {seed} {side:<6} correct={res.get('correct')} "
                      f"failed={res.get('failed')} {shown}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"workload {args.workload}, seeds {args.seeds}, "
          f"parent {shas['parent'][:10]}, change {shas['change'][:10]}")
    print("\n".join(_summary(runs, bench["end_to_end"])))
    bad = [r for r in runs if not r["result"].get("correct") or r["result"]["returncode"]]
    for r in bad:
        print(f"ab: FAIL seed {r['seed']} {r['side']}: {r['result']}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
