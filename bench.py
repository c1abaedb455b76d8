"""Benchmark harness: runs every registry query (``FQ.QUERIES``, in
registry order) at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
fixtures) on ``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines —
the full per-query record, then a short totals-only line that survives
tail-truncating log capture (parse the LAST parseable line):

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "cold_total": <sec>, "queries": {"v1_top_actors": <sec>, ...},
     "sf": "<dir>"}
    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "cold_total": <sec>, "n_queries": <int>, "sf": "<dir>"}

``value`` sums per-query best-of-2 (steady state); ``cold_total`` sums
every query's FIRST rep, which includes the one-time materialization of
the session-shared builds (plans/doc_pairs, plans/graph_edges) paid by
whichever query touches each build first.

Each query is forced end-to-end with the noop sink (full materialization
of every output row — no pruning shortcut a ``count()`` might allow).
A small warmup query first absorbs JVM/codegen startup so per-query
numbers reflect steady-state throughput.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from movie_data_etl_pipeline_spark.plans import fixture_queries as FQ
from movie_data_etl_pipeline_spark.session import get_spark


def _warm_python_workers(spark) -> None:
    """Spawn the per-core Python worker pool and pay the numpy/pandas
    import inside each once, during warmup — on a long-lived cluster the
    workers are resident (``spark.python.worker.reuse`` defaults true),
    so steady-state query numbers should not include the one-time
    interpreter+Arrow spin-up of whichever query happens to run first."""

    def _touch(batches):
        import numpy  # noqa: F401  (force the heavy imports in-worker)
        import pandas  # noqa: F401

        for b in batches:
            yield b

    cpus = spark.sparkContext.defaultParallelism
    spark.range(0, cpus * 4, 1, cpus).mapInPandas(_touch, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")

    # warmup: JVM + codegen + parquet footer caches + Python worker pool
    FQ.QUERIES["v2_top_genres"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    _warm_python_workers(spark)

    times: dict[str, float] = {}
    cold_total = 0.0
    for name, fn in FQ.QUERIES.items():
        # best of 2: single-shot numbers at this scale carry ±20%
        # scheduler/GC noise that swamps real plan differences; the min
        # is the standard steady-state throughput estimate
        best = float("inf")
        for rep in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = min(best, dt)
            if rep == 0:
                cold_total += dt
            # drop persisted intermediates so no query pays a
            # predecessor's cache-eviction/GC bill
            spark.catalog.clearCache()
        times[name] = round(best, 3)

    totals = {
        "metric": "headline_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "cold_total": round(cold_total, 3),
    }
    print(json.dumps({**totals, "queries": times, "sf": sf_dir}))
    # Log capture may keep only the TAIL of stdout, and the per-query
    # dict above is ~6 KB — so repeat the totals in a short second line
    # that survives truncation. Consumers parse the LAST parseable line.
    print(json.dumps({**totals, "n_queries": len(times), "sf": sf_dir}))


if __name__ == "__main__":
    main()
