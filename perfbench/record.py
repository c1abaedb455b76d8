#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/record.py --workloads curation_batch,etl_upsert \\
        --seeds 1-10 --out perfbench/records/steadiness_a.json

Runs ``run.py`` once per (workload, seed), one run at a time, and
writes, for every metric of every workload, the values, their median,
first and third quartile (``statistics.quantiles(values, n=4)``) and the
spread (Q3 - Q1) / median, plus each run's process wall time and the
side figures an untraced run prints on stderr (error rate, peak RSS,
and the ETL's rows/s, write and space amplification). With
``--trace 1`` it records the per-layer metrics instead, and the spans
and per-op job rollup of each workload's first seed; with
``--compare`` it adds, per workload, the tracing overhead (the
``trace.wall_s`` median minus the untraced ``wall_s`` median of that
summary) and whether the op time no span covers stays within it, or
within the untraced quartile distance where that is larger.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from run import SIDE_PREFIX  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def tracing_overhead(traced: dict, untraced: dict) -> dict:
    """Traced minus untraced ``wall_s`` median, and the op time that no
    child span covers. Two sets of runs resolve the overhead only to the
    untraced quartile distance, so the spans count as covering the ops
    when the uncovered time is within the larger of the two."""
    overhead = traced["trace.wall_s"]["median"] - untraced["wall_s"]["median"]
    resolution = untraced["wall_s"]["q3"] - untraced["wall_s"]["q1"]
    uncovered = traced["trace.unattributed_s"]["median"]
    return {
        "tracing_overhead_s": overhead,
        "overhead_resolution_s": resolution,
        "unattributed_s": uncovered,
        "spans_cover_ops": uncovered <= max(overhead, resolution),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", help="untraced summary to subtract for tracing overhead")
    args = ap.parse_args()

    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    report: dict = {"trace": int(args.trace), "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for i, seed in enumerate(seeds(args.seeds)):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", str(seed),
                   "--trace", args.trace]
            if args.trace == "1" and i == 0:
                out = Path(args.out)
                cmd += ["--trace-file", str(out.with_name(f"{out.stem}_{wl}_spans.json").resolve())]
            t0 = time.monotonic()
            proc = subprocess.run(
                cmd,
                capture_output=True, text=True, cwd=HERE.parent, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else None
            side = [ln.partition(SIDE_PREFIX)[2] for ln in proc.stderr.splitlines()
                    if SIDE_PREFIX in ln]
            runs.append({
                "seed": seed, "exit": proc.returncode, "process_s": time.monotonic() - t0,
                "result": result, "side": json.loads(side[-1]) if side else {},
            })
            print(f"{wl} seed={seed} exit={proc.returncode} "
                  f"{time.monotonic() - t0:.1f}s {lines[-1] if lines else proc.stderr[-500:]}",
                  flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        names = ok[0]["metrics"].keys() if ok else []
        report["workloads"][wl] = {
            "runs": runs,
            "all_correct": all(r["exit"] == 0 and r["result"] and r["result"]["correct"] for r in runs),
            "process_s": summarise([r["process_s"] for r in runs]),
            "metrics": {
                n: {"unit": ok[0]["metrics"][n]["unit"],
                    **summarise([r["metrics"][n]["value"] for r in ok])}
                for n in names
            },
        }
        side_names = runs[0]["side"].keys() if runs[0]["side"] else []
        if side_names:
            report["workloads"][wl]["side"] = {
                n: summarise([r["side"][n] for r in runs if r["side"]]) for n in side_names
            }
        if args.compare:
            base = json.loads(Path(args.compare).read_text())["workloads"].get(wl)
            traced = report["workloads"][wl]["metrics"]
            if base and "trace.wall_s" in traced:
                report["workloads"][wl].update(tracing_overhead(traced, base["metrics"]))
    Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    return 0 if all(w["all_correct"] for w in report["workloads"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
