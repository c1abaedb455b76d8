"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); the configs below are chosen so
the *same* logical plans scale to a multi-executor cluster: AQE enabled
(runtime partition coalescing, skew-join splitting) with its
flip-to-broadcast conversion OFF (it sizes on compressed shuffle bytes,
which lies about narrow int64 fact relations — the round-7 OOM class;
static broadcast planning on parquet file sizes stays on), UTC session
timezone (parity with the DuckDB oracle, which is UTC-naive), Arrow
transfer for the pandas-UDF slow path.
"""

from __future__ import annotations

import functools
import os
import weakref

from pyspark.sql import SparkSession


def per_session(build):
    """Memoize a shared build ``build(spark, *args)`` once per live
    SparkSession and positional ``args``: the expensive relation (a
    join + distinct, an iterative fixed point, an LSH index) runs once
    per session however many registry queries read it. The cache is a
    ``WeakKeyDictionary`` keyed on the session object, so entries die
    with the session (no stale DataFrames bound to a stopped session),
    a ``newSession()`` gets its own builds, and a vanilla driver
    session works the same as this factory's — no conf dependence.
    Arguments are positional only, so one logical build has one key;
    materialization (``localCheckpoint``) stays the builder's choice."""
    cache: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()

    @functools.wraps(build)
    def cached(spark: SparkSession, *args):
        per = cache.setdefault(spark, {})
        if args not in per:
            per[args] = build(spark, *args)
        return per[args]

    return cached


def _dir_bytes(data_dir: str) -> int:
    """Total size of the files under ``data_dir``; 0 when it is missing."""
    total = 0
    for root, _dirs, files in os.walk(data_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _host_ram_bytes() -> int:
    """Physical RAM from ``/proc/meminfo``; 0 where it cannot be read."""
    try:
        with open("/proc/meminfo") as fh:
            return int(fh.readline().split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        return 0


def _shuffle_partitions_for(data_bytes: int, cpus: int, scale: int = 1) -> int:
    return max(cpus, min(4096, (data_bytes * scale) // (16 * 1024 * 1024)))


def _driver_memory_for(data_bytes: int, scale: int = 1) -> str:
    half_ram_gb = _host_ram_bytes() // (2 * 1024**3)
    need_gb = -(-(data_bytes * scale * 12) // (1024**3))  # ceil
    return f"{max(8, min(half_ram_gb, need_gb))}g"


def data_scaled_shuffle_partitions(data_dir: str, cpus: int, scale: int = 1) -> int:
    """Self-sizing shuffle-partition count (guide §2.2/§5): derive the
    initial partition count from the INPUT VOLUME instead of pinning it
    to the local core count. A fixed count makes per-task aggregate /
    sort state grow linearly with data — the class that killed the
    graph-family shared build with AGGREGATE_OUT_OF_MEMORY at 100×
    under 32 partitions while 96–128 ran clean (OPTIMIZATION_r10.md);
    in r10 the fix was an env knob the 100× tooling had to remember to
    set, in r11 the default derives itself (VERDICT-r10 ask #4).

    Sizing: total compressed parquet bytes under ``data_dir``, one
    partition per 16 MiB compressed. The fixtures are zstd/snappy
    parquet that decompress ~8× into in-memory rows, so this targets
    ≈128 MiB of raw per-task state (guide §2.2's 100 MB–1 GB band),
    floored at the core count (never fewer tasks than cores) and
    clamped at 4096 (beyond that, block-count quadratics dominate —
    guide §2.2 — and a real cluster should size explicitly). At sf0.1
    (~17 MB) this derives exactly ``cpus`` — bit-identical session conf
    to every earlier round, so bench numbers stay comparable; at the
    100× fixtures (~1.6 GB) it derives ~96, the measured-clean value.
    AQE coalescing (enabled below) right-sizes small exchanges DOWN at
    runtime, so the only cost of over-deriving is scheduler overhead
    that coalescing removes. ``scale`` multiplies the measured bytes —
    the amplified-scale tools pass their factor when sizing a session
    that will WRITE the amplified fixtures before querying them (the
    conf is fixed at session build, so the derivation must anticipate
    the post-amplify volume)."""
    return _shuffle_partitions_for(_dir_bytes(data_dir), cpus, scale)


def data_scaled_driver_memory(data_dir: str, cpus: int, scale: int = 1) -> str:
    """Self-sizing local-mode heap (guide §5): in ``local[N]`` the
    driver JVM IS the executor — all N concurrent tasks share its
    heap — so a heap pinned at 8g makes total execution memory
    constant while data grows: at the 100× fixtures the shipped 8g
    died with a hard ``OutOfMemoryError: Java heap space`` inside
    gr_link_prediction even at the derived 95 shuffle partitions
    (r11 sweep log), while 20g runs the family clean (r10 record).

    Sizing: compressed parquet bytes × 12 (≈8× zstd decompression into
    row/aggregate state plus ~1.5× execution headroom), floored at the
    8g every bench round has used — at sf0.1 the derivation lands
    exactly there, so the bench session conf is bit-identical to
    previous rounds — and otherwise capped at half the machine's RAM.
    The floor wins over the cap: a 16 GB host reads half-RAM as 7g and
    still gets 8g. Explicit ``SPARK_GRAFT_DRIVER_MEM`` still wins. On a real cluster executor
    memory is provisioned per node and this local-mode heuristic is
    moot (set executor/overhead sizes explicitly, guide §5)."""
    return _driver_memory_for(_dir_bytes(data_dir), scale)


def resolve_sizing(
    data_bytes: int,
    cpus: int,
    shuffle_partitions: int | None = None,
) -> tuple[int, str]:
    """``(shuffle partitions, driver heap)`` for a session serving
    ``data_bytes`` of fixtures. An explicit ``shuffle_partitions``
    wins, then the ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` /
    ``SPARK_GRAFT_DRIVER_MEM`` knobs (production and amplified-scale
    tooling may pin them), then the data-scaled derivation."""
    if shuffle_partitions is None:
        # The r10 interleaved 32-vs-96 A/B over a fixed 69-query subset
        # measured 3×cores 11% SLOWER at sf0.1
        # (tools/ab_r10_shuffle.json), so the derivation intentionally
        # lands on = cores at bench volume and only grows with data.
        knob = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if knob is not None:
            shuffle_partitions = int(knob)
        else:
            shuffle_partitions = _shuffle_partitions_for(data_bytes, cpus)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory_for(data_bytes)
    return shuffle_partitions, driver_mem


def get_spark(
    app_name: str = "movie_data_etl_pipeline_spark",
    shuffle_partitions: int | None = None,
    data_dir: str | None = None,
) -> SparkSession:
    """Build (or return) the SparkSession.

    ``shuffle_partitions`` defaults to the data-scaled derivation above
    (= the local core count at bench scale) — at cluster scale you
    would instead size it to ~2-3× total executor cores, or simply rely
    on AQE's coalescing (enabled here) to right-size every exchange at
    runtime. ``data_dir`` tells the derivation which fixture set this
    session will serve when it is not ``$SPARK_GRAFT_SF_DIR`` (the
    amplified-scale tools pass their /tmp/scalebench_xN dir).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    resolved_dir = data_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    shuffle_partitions, driver_mem = resolve_sizing(
        _dir_bytes(resolved_dir), cpus, shuffle_partitions
    )
    # default is local mode sized to the machine; on a cluster set
    # SPARK_GRAFT_MASTER (yarn / k8s://... / spark://...) — or submit
    # via spark-submit --master, which wins over any builder setting —
    # and size shuffle_partitions to ~2-3x total executor cores (or
    # let AQE coalescing right-size each exchange at runtime)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # close the AQE flip-to-broadcast fault class engine-wide
        # (round-7 root cause, VERDICT-r7 ask #3): the runtime flip
        # sizes its broadcast decision on COMPRESSED shuffle bytes, and
        # a narrow all-int64 fact relation dictionary/RLE-compresses
        # 20-100x — so a build side that "fits" the threshold can be
        # gigabytes deserialized (the gr_bipartite_project 30x OOM).
        # Static planning is unaffected: it sizes on parquet file
        # bytes (trustworthy), so every dimension broadcast keeps its
        # plan; only the untrustworthy runtime SMJ/SHJ->BHJ conversion
        # is off. Per-site shuffle_hash pins on known fact⋈fact joins
        # remain as belt-and-braces (and are faster at 1x anyway).
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # allow Python DataSource readers (sources/pyds.py) to absorb
        # pushed filters for partition pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # the events fixture stores ts as TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read as raw int64 nanos and convert
        # in sources.parquet (ns→µs truncation, matching DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as TIMESTAMP(MICROS), not legacy INT96:
        # µs round-trips through every reader (DuckDB, pyarrow, our
        # own footer-sniffing loader); INT96 is deprecated and
        # surfaces as timestamp[ns] in arrow, confusing unit sniffs
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
