"""Tracing for the benchmark's traced run, kept in memory.

* :class:`Tracer` records spans (name, start, end, parent, op id) around
  the benchmark's own calls into each layer, tags every Spark job an op
  launches with ``setJobGroup(op)``, and at the end rolls the jobs up
  from Spark's live status store (the store behind the status tracker),
  so no event log is written at all.
* :class:`RssSampler` follows the peak resident memory of the process
  tree: this Python driver, the JVM and the Python workers.

Only the traced run creates a :class:`Tracer`; the untraced run times
its ops with bare ``perf_counter`` calls.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

# executed-plan nodes that cross into Python workers
PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "AggregateInPandas", "WindowInPandas", "PythonUDTF",
)
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}

# Static confs the traced session needs. They must reach the JVM before
# it starts, and ``session.get_spark`` builds its own builder, so they
# travel in PYSPARK_SUBMIT_ARGS.
TRACED_CONFS = [
    "--conf", "spark.ui.retainedJobs=1000000",
    "--conf", "spark.ui.retainedStages=1000000",
    "--conf", "spark.sql.ui.retainedExecutions=1000000",
]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.t0 = time.perf_counter()
        self.begin_ms = 0

    def begin(self) -> None:
        """Start of the timed phase: from here on, Python UDFs are profiled
        and JSON scans counted, so untimed warm-up work is charged to
        nothing."""
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.begin_ms = int(time.time() * 1000)

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "start": time.perf_counter() - self.t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    @contextmanager
    def op(self, op_id: str, name: str, kind: str):
        """Root span of one operation; its Spark jobs join group ``op_id``."""
        self.sc.setJobGroup(op_id, name)
        with self.span(kind, name_of_op=name) as rec:
            rec["op"] = op_id
            self.ops[op_id] = {"name": name, "kind": kind, "span": rec, "phase_jobs": {}}
            try:
                yield rec
            finally:
                self.sc.setJobGroup("perfbench-idle", "between ops")

    @contextmanager
    def phase(self, name: str):
        """A child span of the current op; records which of the op's jobs
        had started by the time the phase ended."""
        with self.span(name) as rec:
            yield rec
        op_id = rec["op"]
        seen = set(self.sc.statusTracker().getJobIdsForGroup(op_id))
        earlier = set().union(*self.ops[op_id]["phase_jobs"].values())
        self.ops[op_id]["phase_jobs"][name] = seen - earlier

    # ----------------------------------------------------------- rollup

    def _flush_listener(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; fall back to a pause
            time.sleep(2.0)

    def rollup_jobs(self) -> dict[str, dict]:
        """Per-op Spark job rollup from the live status store: jobs,
        stages, tasks, executor run/CPU/GC time, shuffle, spill, peak
        execution memory, and the jobs launched from checkpoint call
        sites."""
        self._flush_listener()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        out = {}
        for op_id in self.ops:
            r = dict.fromkeys(
                ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                 "shuffle_write", "shuffle_read", "spill",
                 "checkpoint_jobs", "checkpoint_ms"), 0)
            r["peak_mem"] = 0
            r["job_ids"] = sorted(tracker.getJobIdsForGroup(op_id))
            for jid in r["job_ids"]:
                jd = store.job(jid)
                r["jobs"] += 1
                if "checkpoint" in jd.name().lower():
                    r["checkpoint_jobs"] += 1
                    sub, done = jd.submissionTime(), jd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        r["checkpoint_ms"] += done.get().getTime() - sub.get().getTime()
                for sid in conv.asJava(jd.stageIds()):
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    r["stages"] += 1
                    r["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    r["run_ms"] += sd.executorRunTime()
                    r["cpu_ns"] += sd.executorCpuTime()
                    r["gc_ms"] += sd.jvmGcTime()
                    r["shuffle_write"] += sd.shuffleWriteBytes()
                    r["shuffle_read"] += sd.shuffleReadBytes()
                    r["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    r["peak_mem"] = max(r["peak_mem"], sd.peakExecutionMemory())
            out[op_id] = r
        return out

    def json_scan_bytes(self) -> int:
        """Bytes of files read by JSON scans, from the SQL status store's
        plan graphs: the ``size of files read`` metric of every ``Scan
        json`` node executed since :meth:`begin`."""
        self._flush_listener()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for ex in conv.asJava(sql_store.executionsList()):
            if ex.submissionTime() < self.begin_ms:
                continue
            ex_id = ex.executionId()
            values = dict(conv.asJava(sql_store.executionMetrics(ex_id)))
            for node in conv.asJava(sql_store.planGraph(ex_id).allNodes()):
                if not node.name().startswith("Scan json"):
                    continue
                for m in conv.asJava(node.metrics()):
                    if m.name() == "size of files read" and m.accumulatorId() in values:
                        total += parse_size(values[m.accumulatorId()])
        return total

    def py_udf_seconds(self) -> float:
        """Python worker time inside UDFs, from Spark's perf profiler."""
        collector = getattr(self.spark, "_profiler_collector", None)
        if collector is None:
            return 0.0
        return sum(s.total_tt for s in collector._perf_profile_results.values())


def parse_size(text: str) -> int:
    """Bytes from Spark's formatted size metric (``12.3 KiB``); for a
    task-level metric the first number is the total."""
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    return int(float(m.group(1)) * _SIZE[m.group(2)]) if m else 0


def py_plan(plan: str) -> bool:
    return any(n in plan for n in PY_NODES)


# ------------------------------------------------------------------ memory


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM forks the Python
    worker daemon from one of its own threads)."""
    kids: list[int] = []
    try:
        threads = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in threads:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    found, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(_children(pid))
    return found


def tree_rss_kb(root: int) -> int:
    return sum(_rss_kb(p) for p in [root, *descendants(root)])


class RssSampler:
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
