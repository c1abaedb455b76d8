#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under a private directory, starts one local Spark session on
``local[<nproc>]``, runs the workload as a closed loop with one client,
checks every output, stops the JVM and its Python workers, removes its
directory, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The amount of work per run is fixed per workload (see
``BENCHMARK.json``); ``--seconds`` is accepted as part of the
benchmark's command line but never cuts work short, so that every run
of a workload measures the same ops.

Exit status: 0 when every op ran and every check passed, 1 when any
failed (the JSON is still printed), 2 when the engine package is not
present (nothing is printed).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "movie_data_etl_pipeline_spark"

# BENCHMARK.json lists curation_batch and etl_upsert; views_adhoc runs
# by hand (see README.md)
WORKLOADS = ("curation_batch", "etl_upsert", "views_adhoc")
FIXTURE_SF = 0.01  # registry workloads: the engine's correctness scale
ETL_MOVIES = 2000
ETL_BATCHES = 3
ETL_WARMUP_MOVIES = 300  # the untimed warm-up ETL: init and one batch


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # part of the command-line interface every benchmark run is given;
    # the work per run is fixed, so the value is not used
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-file", help="write spans and per-op rollups here (traced runs)")
    return ap.parse_args()


def _quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _prepare_env(run_dir: Path, data_dir: Path, trace: bool) -> None:
    cpus = len(os.sched_getaffinity(0))
    local, tmp = run_dir / "spark-local", run_dir / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # temp files of this process, the JVM and the Python workers stay in
    # the run directory; the JVM keeps no perf-data file in /tmp either
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_SF_DIR"] = str(data_dir)
    # Python workers start from the JVM's environment, not this sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # the session sizes partitions, heap and master from its inputs
    for knob in ("SHUFFLE_PARTITIONS", "DRIVER_MEM", "MASTER"):
        os.environ.pop(f"SPARK_GRAFT_{knob}", None)
    from tracing import TRACED_CONFS

    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        submit + (TRACED_CONFS if trace else []) + ["pyspark-shell"]
    )


def _start_session():
    """The measured set-up: import the engine, build its session, run a
    warm-up query, and start the Python worker pool with one UDF."""
    t0 = time.perf_counter()
    from pyspark.sql import functions as F

    from movie_data_etl_pipeline_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(4).select(F.udf(lambda x: x + 1, "long")("id")).collect()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "get_spark_s": t2 - t1}


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every descendant."""
    from pyspark import SparkContext

    from tracing import descendants

    left = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while left and time.monotonic() < deadline:
        left = [p for p in left if Path(f"/proc/{p}").exists()]
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _rows_per_s(counters: dict) -> float:
    """Silver rows merged by the ETL batches per second of batch phase."""
    if not counters.get("batch_phase_s"):
        return 0.0
    return counters["silver_rows"] / counters["batch_phase_s"]


def _layer_metrics(tracer, out, setup: dict, peak_rss_mb: float) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run (0 where a layer is idle)."""
    jobs = tracer.rollup_jobs()
    kinds = {k: [o for o, v in tracer.ops.items() if v["kind"] == k]
             for k in ("registry_op", "shared_build", "etl_op")}
    work_ops = kinds["registry_op"] + kinds["etl_op"]
    all_ops = work_ops + kinds["shared_build"]

    def spans(names_or_prefix: str, ops: list[str]) -> float:
        ops_set = set(ops)
        return sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["op"] in ops_set and s["name"].startswith(names_or_prefix)
        )

    def phase_jobs(prefix: str, ops: list[str]) -> int:
        return sum(
            len(j) for o in ops for n, j in tracer.ops[o]["phase_jobs"].items()
            if n.startswith(prefix)
        )

    def total(key: str, ops: list[str]) -> float:
        return sum(jobs[o][key] for o in ops)

    op_wall = sum(tracer.ops[o]["span"]["end"] - tracer.ops[o]["span"]["start"] for o in all_ops)
    unattributed = 0.0
    for o in all_ops:
        rec = tracer.ops[o]["span"]
        children = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] == rec["id"])
        unattributed += (rec["end"] - rec["start"]) - children
    c = out.counters
    run_s = total("run_ms", all_ops) / 1e3
    n_jobs = total("jobs", all_ops)
    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "plans.build_s": spans("build", kinds["registry_op"]),
        "plans.build_jobs": phase_jobs("build", kinds["registry_op"]),
        "plans.checkpoint_jobs": total("checkpoint_jobs", all_ops),
        "plans.checkpoint_s": total("checkpoint_ms", all_ops) / 1e3,
        "plans.shared_build_s": c.get("shared_build_s", 0.0),
        "plans.shared_build_jobs": total("jobs", kinds["shared_build"]),
        "spark.plan_s": spans("plan", kinds["registry_op"]),
        "spark.exec_s": spans("exec", kinds["registry_op"]),
        "spark.jobs": n_jobs,
        "spark.stages": total("stages", all_ops),
        "spark.tasks": total("tasks", all_ops),
        "spark.jobs_per_op": total("jobs", work_ops) / max(1, len(work_ops)),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("cpu_ns", all_ops) / 1e9,
        "spark.gc_s": total("gc_ms", all_ops) / 1e3,
        "spark.cores_busy": run_s / op_wall if op_wall else 0.0,
        "spark.shuffle_write_bytes": total("shuffle_write", all_ops),
        "spark.shuffle_read_bytes": total("shuffle_read", all_ops),
        "spark.spill_bytes": total("spill", all_ops),
        "spark.peak_exec_mem_bytes": max([jobs[o]["peak_mem"] for o in all_ops] or [0]),
        "functions.py_ops": c.get("py_ops", 0),
        "functions.py_udf_s": tracer.py_udf_seconds(),
        "sources.json_read_bytes": c.get("json_read_bytes", 0),
        "sources.read_amp": c.get("json_read_bytes", 0) / c["landed_bytes"] if c.get("landed_bytes") else 0.0,
        "pipeline.silver_rows": c.get("silver_rows", 0),
        "pipeline.rows_per_s": _rows_per_s(c),
        "operators.cow.init_s": spans("cow.init:", kinds["etl_op"]),
        "operators.cow.upsert_s": spans("cow.upsert:", kinds["etl_op"]),
        "operators.cow.jobs": phase_jobs("cow.", kinds["etl_op"]),
        "operators.cow.touched_bucket_frac": c.get("touched_bucket_frac", 0.0),
        "operators.cow.bytes_written": c.get("bytes_written", 0),
        "operators.cow.files_written": c.get("files_written", 0),
        "operators.cow.write_amp": c.get("write_amp", 0.0),
        "operators.cow.space_amp": c.get("space_amp", 0.0),
        "client.op_p90_s": _quantile(out.op_s, 0.9),
        "process.peak_rss_mb": peak_rss_mb,
        "trace.wall_s": out.wall_s,
        "trace.unattributed_s": unattributed,
    }
    return m, jobs


def main() -> int:
    args = _args()
    if not (ROOT / PACKAGE / "session.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import gen
    import workloads
    from tracing import RssSampler, Tracer

    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    t_start = time.perf_counter()
    try:
        data_dir = run_dir / "inputs"
        if args.workload == "etl_upsert":
            landed = gen.write_tmdb(str(data_dir / "main"), args.seed, ETL_MOVIES, ETL_BATCHES)
            warmup = gen.write_tmdb(str(data_dir / "warmup"), args.seed, ETL_WARMUP_MOVIES, 1)
        else:
            gen.write_fixtures(str(data_dir), args.seed, FIXTURE_SF)
        _prepare_env(run_dir, data_dir, bool(args.trace))
        t_inputs = time.perf_counter()
        with RssSampler() as rss:
            spark, setup = _start_session()
            try:
                tracer = None
                if args.trace:
                    tracer = Tracer(spark)
                if args.workload == "views_adhoc":
                    out = workloads.views_adhoc(spark, str(data_dir), tracer)
                elif args.workload == "curation_batch":
                    out = workloads.curation_batch(spark, str(data_dir), tracer)
                else:
                    out = workloads.etl_upsert(spark, run_dir, landed, tracer, warmup)
                if tracer is not None:
                    layer, per_op = _layer_metrics(tracer, out, setup, rss.peak_kb / 1024.0)
            finally:
                t_stop = time.perf_counter()
                _stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass

    t_end = time.perf_counter()
    print(
        f"perfbench: inputs {t_inputs - t_start:.1f}s, setup {setup['setup_s']:.1f}s, "
        f"timed {out.wall_s:.1f}s, workload incl. checks "
        f"{t_stop - t_inputs - setup['setup_s']:.1f}s, stop and cleanup {t_end - t_stop:.1f}s; "
        f"timed ops {' '.join(f'{x:.2f}' for x in out.op_s)}",
        file=sys.stderr,
    )
    for e in out.errors:
        print(f"perfbench: FAIL {e}", file=sys.stderr)
    failed = min(out.attempted, len(out.errors))
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        if args.trace_file:
            Path(args.trace_file).write_text(json.dumps({
                "workload": args.workload, "seed": args.seed,
                "metrics": layer, "spans": tracer.spans, "jobs": per_op,
            }, indent=1, default=str))
    else:
        e2e = {
            "setup_s": setup["setup_s"],
            "wall_s": out.wall_s,
            "op_p50_s": statistics.median(out.op_s) if out.op_s else 0.0,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        # Figures the result line cannot carry as bounded metrics: each
        # is 0 on some workload, or varies too much between seeds (see
        # README.md). record.py keeps them with the steadiness records.
        side = {"error_rate": failed / out.attempted, "peak_rss_mb": rss.peak_kb / 1024.0}
        if args.workload == "etl_upsert":
            c = out.counters
            side.update(rows_per_s=_rows_per_s(c), write_amp=c.get("write_amp", 0.0),
                        space_amp=c.get("space_amp", 0.0))
        print(f"{SIDE_PREFIX}{json.dumps(side)}", file=sys.stderr)
    print(json.dumps({
        "correct": not out.errors,
        "attempted": out.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if not out.errors else 1


SIDE_PREFIX = "perfbench: side "
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.checkpoint_jobs": "count",
    "plans.checkpoint_s": "s",
    "plans.shared_build_s": "s",
    "plans.shared_build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.cores_busy": "cores",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "functions.py_ops": "count",
    "functions.py_udf_s": "s",
    "sources.json_read_bytes": "bytes",
    "sources.read_amp": "ratio",
    "pipeline.silver_rows": "count",
    "pipeline.rows_per_s": "rows/s",
    "operators.cow.init_s": "s",
    "operators.cow.upsert_s": "s",
    "operators.cow.jobs": "count",
    "operators.cow.touched_bucket_frac": "ratio",
    "operators.cow.bytes_written": "bytes",
    "operators.cow.files_written": "count",
    "operators.cow.write_amp": "ratio",
    "operators.cow.space_amp": "ratio",
    "client.op_p90_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())
