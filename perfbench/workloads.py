"""The three benchmark workloads and their output checks.

Each workload is a closed loop with one client: an op is issued only
after the previous one has finished. Each returns a :class:`Outcome`
with per-op latencies, failures, and workload counters. When a
:class:`tracing.Tracer` is passed, every op runs inside a root span with
``build`` / ``plan`` / ``exec`` (registry ops) or per-layer (ETL) child
spans, and its Spark jobs carry the op id as job group.
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

# A fixed, named subset of the 58 relational view/TPC-H queries, in
# registry order: all eleven of the paper's own view shapes (v1-v4, t5,
# f1-f3, a6, o6, o7) plus a 3-way join with top-N, a HAVING subquery, an
# anti-join, a window, grouping sets and a correlated subquery.
VIEW_OPS = (
    "v1_top_actors", "v2_top_genres", "v3_genre_ratings", "v4_top_actors_by_rating",
    "t5_top20", "f1_explode", "f2_json_flatten", "f3_variant_json",
    "a6_duplicate_report", "o6_dedup_last_wins", "o7_top_n_per_group",
    "q3_shipping_priority", "q18_large_orders", "j6_anti_join",
    "w1_running_total", "g3_grouping_sets", "sq_correlated_agg",
)
# one untimed pass warms the JVM (JIT, codegen caches); the timed pass
# then measures a warm session
VIEW_WARMUP_PASSES = 1
VIEW_PASSES = 1

# A fixed, named subset of the 80 LLM-data ops, in registry order. The
# shared doc_pairs builds (0.5 and 0.8 Jaccard pairs, the 0.8 components
# and a hit on them, both shingle-hash families), in-build
# localCheckpoints and the Python boundary (MapInPandas) are all on this
# path.
CURATION_OPS = (
    "dd_dup_clusters", "dd_canonical_pick", "dd_ngram_jaccard", "tx_winnowing",
    "sim_tfidf_cosine", "mm_features",
)
# One untimed pass warms the JVM, then the timed passes. Each pass reads
# its own hard-linked copy of the fixtures: the shared builds are cached
# per (session, input directory), so every pass builds them cold, as a
# fresh session would, while the JIT and codegen caches stay warm.
CURATION_WARMUP_PASSES = 1
CURATION_PASSES = 2

ETL_BUCKETS = 16
ETL_KEYS = {
    "movies": ["tmdb_movie_id"],
    "genres": ["tmdb_genre_id"],
    "movie_genre": ["tmdb_movie_id", "tmdb_genre_id"],
    "actors": ["tmdb_person_id"],
    "movie_actor": ["tmdb_movie_id", "tmdb_person_id"],
}
# re-applying the last batch to these must change nothing: the
# preserve-on-conflict rule and the composite-key top-N cast
FIXED_POINT_TABLES = ("movies", "movie_actor")
FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@dataclass
class Outcome:
    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    errors: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    counters: dict = field(default_factory=dict)

    def fail(self, what: str, err: BaseException | str) -> None:
        msg = str(err).strip().splitlines()[0][:300] if str(err).strip() else type(err).__name__
        self.errors.append(f"{what}: {msg}")


def _ctx(tracer, method: str, *args):
    return getattr(tracer, method)(*args) if tracer is not None else nullcontext()


# ------------------------------------------------------------ result checks


def frame_digest(pdf) -> tuple[int, list[str], str]:
    """(rows, sorted columns, order-insensitive value hash) of a pandas
    frame, with floats rounded to 9 decimals as the oracle crosscheck
    does."""
    df = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype in ("float64", "float32"):
            df[c] = df[c].round(9)
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return len(rows), list(df.columns), h


def duckdb_oracle(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_against_oracle(out: Outcome, con, oracles: dict, name: str, digests: list) -> None:
    """Row count, columns and value hash of every run of ``name``
    against its DuckDB twin; a query without one must return rows."""
    if name not in oracles:
        if any(rows == 0 for rows, _cols, _h in digests):
            out.fail(name, "rows-only query returned no rows")
        return
    expect = frame_digest(con.execute(oracles[name]).fetchdf())
    for rows, cols, h in digests:
        if (rows, cols) != expect[:2]:
            out.fail(name, f"rows/cols {rows}/{cols} != oracle {expect[0]}/{expect[1]}")
        elif h != expect[2]:
            out.fail(name, "value hash differs from the oracle")


# --------------------------------------------------------- registry ops


def _registry_op(spark, tracer, queries, name: str, sf_dir: str, op_id: str):
    """Build the query, plan it, and collect its rows to the client.
    Returns (pandas frame, executed-plan string or None)."""
    if tracer is None:
        return queries[name](spark, sf_dir).toPandas(), None
    with tracer.op(op_id, name, "registry_op"):
        with tracer.phase("build"):
            df = queries[name](spark, sf_dir)
        with tracer.phase("plan"):
            plan = df._jdf.queryExecution().executedPlan().toString()
        with tracer.phase("exec"):
            pdf = df.toPandas()
    return pdf, plan


def _run_registry(spark, sf_dir, tracer, names, pass_dirs, warmup, before_pass=None) -> Outcome:
    """``warmup`` untimed, untraced passes over ``names``, then the timed
    ones; pass ``p`` reads ``pass_dirs[p]``, and a traced pass first
    calls ``before_pass(p, dir)``. Every op's result is checked
    afterwards against the oracle on ``sf_dir``."""
    from movie_data_etl_pipeline_spark.plans.fixture_queries import ORACLES, QUERIES

    from tracing import py_plan

    out = Outcome()
    results: dict[str, list] = {n: [] for n in names}
    py_names = set()

    def one_pass(p: int, tr) -> None:
        if tr is not None and before_pass is not None:
            before_pass(p, pass_dirs[p])
        for name in names:
            out.attempted += 1
            t = time.perf_counter()
            try:
                pdf, plan = _registry_op(spark, tr, QUERIES, name, pass_dirs[p], f"{name}@{p}")
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                out.fail(name, e)
                pdf = plan = None
            if p >= warmup:
                out.op_s.append(time.perf_counter() - t)
            if pdf is not None:
                results[name].append(pdf)
            if plan is not None and py_plan(plan):
                py_names.add(name)

    for p in range(warmup):
        one_pass(p, None)
    if tracer is not None:
        tracer.begin()
    t0 = time.perf_counter()
    for p in range(warmup, len(pass_dirs)):
        one_pass(p, tracer)
    out.wall_s = time.perf_counter() - t0
    out.counters["py_ops"] = len(py_names)
    # checks, outside the timed region
    digests = {n: [frame_digest(pdf) for pdf in pdfs] for n, pdfs in results.items()}
    results.clear()
    con = duckdb_oracle(sf_dir)
    try:
        for name, ds in digests.items():
            check_against_oracle(out, con, ORACLES, name, ds)
    finally:
        con.close()
    return out


def _registry_order(wanted: tuple[str, ...]) -> tuple[list[str], list[str]]:
    from movie_data_etl_pipeline_spark.plans.fixture_queries import QUERIES

    return [n for n in QUERIES if n in wanted], sorted(set(wanted) - set(QUERIES))


def _count_missing(out: Outcome, missing: list[str]) -> Outcome:
    for name in missing:
        out.attempted += 1
        out.fail(name, "not in the registry")
    return out


def views_adhoc(spark, sf_dir: str, tracer) -> Outcome:
    names, missing = _registry_order(VIEW_OPS)
    dirs = [sf_dir] * (VIEW_WARMUP_PASSES + VIEW_PASSES)
    return _count_missing(
        _run_registry(spark, sf_dir, tracer, names, dirs, VIEW_WARMUP_PASSES), missing
    )


def _pass_dirs(sf_dir: str, n: int) -> list[str]:
    """``n`` hard-linked copies of the fixture directory, one per pass."""
    src = Path(sf_dir)
    dirs = []
    for p in range(n):
        d = src.with_name(f"{src.name}-pass{p}")
        d.mkdir()
        for f in src.iterdir():
            os.link(f, d / f.name)
        dirs.append(str(d))
    return dirs


def curation_batch(spark, sf_dir: str, tracer) -> Outcome:
    names, missing = _registry_order(CURATION_OPS)
    dirs = _pass_dirs(sf_dir, CURATION_WARMUP_PASSES + CURATION_PASSES)
    shared_s = [0.0]

    def shared_builds(p: int, pass_dir: str) -> None:
        shared_s[0] += _shared_builds(spark, pass_dir, tracer, p)

    out = _run_registry(spark, sf_dir, tracer, names, dirs, CURATION_WARMUP_PASSES, shared_builds)
    if tracer is not None:
        out.counters["shared_build_s"] = shared_s[0]
    return _count_missing(out, missing)


def _shared_builds(spark, sf_dir: str, tracer, p: int) -> float:
    """Traced run only: build the session-shared relations the curation
    ops of pass ``p`` consume before any of them runs, so their cost is
    charged to them."""
    from movie_data_etl_pipeline_spark.plans import doc_pairs

    builders = {
        "doc_pairs.xxh_shingle_sets": lambda: doc_pairs.xxh_shingle_sets(spark, sf_dir),
        "doc_pairs.portable_shingle_arrays": lambda: doc_pairs.portable_shingle_arrays(spark, sf_dir),
        "doc_pairs.jaccard_pairs_0.5": lambda: doc_pairs.jaccard_pairs(spark, sf_dir, 0.5),
        "doc_pairs.dup_components_0.8": lambda: doc_pairs.dup_components(spark, sf_dir, 0.8),
    }
    t0 = time.perf_counter()
    for name, build in builders.items():
        with tracer.op(f"shared:{name}@{p}", name, "shared_build"):
            with tracer.phase("build"):
                build()
    return time.perf_counter() - t0


# ------------------------------------------------------------------- ETL


def _dir_stats(root: Path) -> tuple[int, int]:
    """(bytes, data files) under ``root``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


def _snapshot_bytes(table) -> int:
    m = table.manifest()
    return sum(_dir_stats(Path(d))[0] for d in table._bucket_dirs(m))


def _table_digest(df):
    """(rows, order-insensitive hash) of a table, ignoring load timestamps."""
    from pyspark.sql import functions as F

    cols = [c for c in df.columns if c != "created_at"]
    r = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count("*").alias("n"), F.sum(F.col("h") % (1 << 31)).alias("s")
    ).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


class _Etl:
    """The five copy-on-write tables of one ETL run under ``root`` and the
    steps that fill them; each step runs in a span when traced."""

    def __init__(self, spark, root: Path, tracer):
        from movie_data_etl_pipeline_spark.operators.cow import VersionedCowTable

        self.spark, self.root, self.tracer = spark, root, tracer
        self.tables = {
            n: VersionedCowTable(str(root / n), keys, n_buckets=ETL_BUCKETS)
            for n, keys in ETL_KEYS.items()
        }
        self.versions: list[tuple] = []  # (table, snapshot version) of every upsert

    def silver(self, landing: dict) -> dict:
        from movie_data_etl_pipeline_spark import pipeline
        from movie_data_etl_pipeline_spark.sources import rest

        f = landing["files"]
        with _ctx(self.tracer, "phase", "sources.read"):
            env = rest.read_page_envelopes(self.spark, f["pages"])
            genres = rest.read_genre_list(self.spark, f["genres"])
            credits = rest.read_credits(self.spark, f["credits"])
        with _ctx(self.tracer, "phase", "pipeline.run_pipeline"):
            return pipeline.run_pipeline(env, genres, credits)

    def init(self, landed: dict) -> None:
        from pyspark.sql import functions as F

        s = self.silver(landed["init"])
        # a backfill job has filled runtime_minutes for some movies
        with _ctx(self.tracer, "phase", "inputs.backfill"):
            runtimes = self.spark.createDataFrame(
                sorted(landed["runtimes"].items()), "tmdb_movie_id int, runtime_minutes int"
            )
            movies = s["movies"]
            s["movies"] = movies.drop("runtime_minutes").join(
                F.broadcast(runtimes), "tmdb_movie_id", "left"
            ).select(*movies.columns)
        for name, t in self.tables.items():
            with _ctx(self.tracer, "phase", f"cow.init:{name}"):
                t.init(s[name])

    def upsert_all(self, landing: dict, names=tuple(ETL_KEYS)) -> None:
        s = self.silver(landing)
        for name in names:
            t = self.tables[name]
            with _ctx(self.tracer, "phase", f"cow.upsert:{name}"):
                v = t.upsert(
                    self.spark, s[name],
                    preserve_cols=["runtime_minutes"] if name == "movies" else (),
                )
            self.versions.append((t, v))

    def readback(self) -> dict:
        state = {}
        for n, t in self.tables.items():
            with _ctx(self.tracer, "phase", f"cow.read:{n}"):
                state[n] = t.read(self.spark).toPandas()
        return state


def etl_upsert(spark, work: Path, landed: dict, tracer, warmup: dict) -> Outcome:
    """Untimed and untraced, the whole ETL on the small ``warmup``
    landing, to warm the JIT and codegen caches; then the timed ETL on
    ``landed``: init, the batches, and a read-back of every table."""
    warm = _Etl(spark, work / "warmup", None)
    warm.init(warmup)
    for batch in warmup["batches"]:
        warm.upsert_all(batch)
    warm.readback()

    etl = _Etl(spark, work / "tables", tracer)
    root, tables = etl.root, etl.tables
    out = Outcome()

    def timed_op(op_id: str, body) -> float | None:
        out.attempted += 1
        t = time.perf_counter()
        try:
            with _ctx(tracer, "op", op_id, op_id, "etl_op"):
                body()
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            out.fail(op_id, e)
            return None
        return time.perf_counter() - t

    if tracer is not None:
        tracer.begin()
    t0 = time.perf_counter()
    if timed_op("init", lambda: etl.init(landed)) is None:
        out.wall_s = time.perf_counter() - t0
        return out
    written0, files0 = _dir_stats(root)
    for k, batch in enumerate(landed["batches"]):
        dt = timed_op(f"batch{k}", lambda b=batch: etl.upsert_all(b))
        if dt is not None:
            out.op_s.append(dt)
    written1, files1 = _dir_stats(root)
    state: dict = {}
    timed_op("readback", lambda: state.update(etl.readback()))
    out.wall_s = time.perf_counter() - t0
    if tracer is not None:
        out.counters["json_read_bytes"] = tracer.json_scan_bytes()

    # buckets each batch upsert rewrote: those its snapshot points at
    touched = [
        sum(ver == v for ver in t.manifest(v)["buckets"].values()) / t.n_buckets
        for t, v in etl.versions
    ]
    batch_bytes = sum(b["bytes"] for b in landed["batches"])
    snapshot = sum(_snapshot_bytes(t) for t in tables.values())
    out.counters.update({
        "silver_rows": sum(sum(b["silver_rows"].values()) for b in landed["batches"]),
        "batch_phase_s": sum(out.op_s),
        "landed_bytes": landed["init"]["bytes"] + batch_bytes,
        "bytes_written": written1 - written0,
        "files_written": files1 - files0,
        "write_amp": (written1 - written0) / batch_bytes,
        "space_amp": written1 / snapshot if snapshot else 0.0,
        "touched_bucket_frac": sum(touched) / len(touched) if touched else 0.0,
    })
    if state:
        _check_tables(out, state, landed)
    # re-applying the last batch must be a fixed point
    out.attempted += 1
    try:
        before = {n: _table_digest(tables[n].read(spark)) for n in FIXED_POINT_TABLES}
        with _ctx(tracer, "op", "fixed_point", "fixed_point", "check"):
            etl.upsert_all(landed["batches"][-1], FIXED_POINT_TABLES)
        after = {n: _table_digest(tables[n].read(spark)) for n in FIXED_POINT_TABLES}
        for n in FIXED_POINT_TABLES:
            if before[n] != after[n]:
                out.fail("fixed_point", f"{n} changed when the last batch was re-applied")
    except Exception as e:  # noqa: BLE001
        out.fail("fixed_point", e)
    return out


def _check_tables(out: Outcome, state: dict, landed: dict) -> None:
    """Unique keys, expected row counts, last-wins field values, and
    backfilled runtimes that survived every batch."""
    for name, keys in ETL_KEYS.items():
        df = state[name]
        if len(df) != landed["final_rows"][name]:
            out.fail(name, f"{len(df)} rows, expected {landed['final_rows'][name]}")
        if df.duplicated(subset=keys).any():
            out.fail(name, "duplicate keys")
    movies = state["movies"].set_index("tmdb_movie_id")
    want = landed["movies"]
    got_votes = movies["vote_count"].to_dict()
    if any(got_votes.get(m) != want[m]["vote_count"] for m in want):
        out.fail("movies", "vote_count is not the last ingested value")
    got_pop = movies["popularity"].astype(float).to_dict()
    if any(abs(got_pop.get(m, -1.0) - want[m]["popularity"]) > 5e-4 for m in want):
        out.fail("movies", "popularity is not the last-arriving duplicate")
    rt = movies["runtime_minutes"].dropna().astype(int).to_dict()
    if rt != landed["runtimes"]:
        out.fail("movies", "backfilled runtime_minutes did not survive the batches")
