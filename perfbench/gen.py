"""Seeded input generators for the benchmark.

Two families, both pure functions of ``(seed, size)`` so the same seed
always writes byte-identical files:

* :func:`write_fixtures` — the star-schema + ``events`` + ``documents``
  + ``embeddings`` parquet tables the registry queries read, with the
  same columns, types and value domains as the engine's test fixtures
  (FIXTURES.md section A), at a chosen scale factor.
* :func:`write_tmdb` — TMDB-shaped landed JSONL for the reference ETL:
  popular-movie page envelopes with cross-page duplicates, one credits
  document per movie, the genre list, and re-ingest batches of changed
  and new movies.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
WORDS = (
    "a the row column table part line key value data hash join scan sort "
    "filter merge group order agg window stream batch query spark vector "
    "small big fast slow customer"
).split()

DAY_US = 86_400 * 1_000_000


def _epoch_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: Path, name: str, table: pa.Table) -> None:
    pq.write_table(table, out / f"{name}.parquet", compression="snappy")


def fixture_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.01 matches the
    engine's sf0.01 fixtures row for row)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; returns the sizes."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = fixture_sizes(sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }))
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }))
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, npart), " "), rng.choice(PART_NOUN, npart)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
    }))

    no, nl = n["orders"], n["lineitem"]
    t0 = _epoch_us("1995-01-01")
    o_days = (_epoch_us("2001-08-01") - t0) // DAY_US
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": pa.array(t0 + rng.integers(0, o_days + 1, no) * DAY_US, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    }))
    l_days = (_epoch_us("2001-11-04") - t0) // DAY_US
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(
            t0 + (1 + rng.integers(0, l_days, nl)) * DAY_US, pa.timestamp("us")
        ),
    }))

    ne = n["events"]
    e0 = _epoch_us("2024-01-01")
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.sort(e0 + rng.integers(0, 30 * DAY_US, ne)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }))

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    }))
    return n


# ---------------------------------------------------------------- TMDB

GENRES = [
    (28, "Action"), (12, "Adventure"), (16, "Animation"), (35, "Comedy"),
    (80, "Crime"), (99, "Documentary"), (18, "Drama"), (10751, "Family"),
    (14, "Fantasy"), (36, "History"), (27, "Horror"), (10402, "Music"),
    (9648, "Mystery"), (10749, "Romance"), (878, "Science Fiction"),
    (10770, "TV Movie"), (53, "Thriller"), (10752, "War"), (37, "Western"),
]
PAGE_SIZE = 20  # pipeline.PAGE_SIZE
TOP_N_CAST = 15  # pipeline.run_pipeline default


class _Tmdb:
    """Seeded TMDB universe: movies, an actor pool and casts."""

    def __init__(self, seed: int, n_movies: int):
        self.rng = np.random.default_rng(seed)
        self.n_actors = 3 * n_movies
        self.next_id = 1
        self.movies: dict[int, dict] = {}
        self.casts: dict[int, list[dict]] = {}

    def new_movie(self) -> int:
        rng = self.rng
        mid = self.next_id
        self.next_id += int(rng.integers(1, 4))
        self.movies[mid] = self._movie(mid)
        self.casts[mid] = [
            {
                "id": int(pid),
                "name": f"Actor {pid}",
                "gender": int(pid % 3),
                "popularity": round(float(pid % 997) / 10.0, 3),
                "order": order,
                "character": f"Role {mid}-{order}",
            }
            for order, pid in enumerate(
                rng.choice(self.n_actors, int(rng.integers(5, 26)), replace=False) + 1
            )
        ]
        return mid

    def _movie(self, mid: int) -> dict:
        rng = self.rng
        year = int(rng.integers(1950, 2025))
        return {
            "id": mid,
            "title": f"Movie {mid}",
            "original_title": f"Original {mid}",
            "overview": " ".join(rng.choice(WORDS, int(rng.integers(5, 30)))),
            "release_date": "" if rng.random() < 0.05
            else f"{year}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}",
            "original_language": str(rng.choice(LANGS)),
            "popularity": round(float(rng.uniform(0.5, 500.0)), 3),
            "vote_average": round(float(rng.uniform(1.0, 10.0)), 1),
            "vote_count": int(rng.integers(0, 20_000)),
            "genre_ids": sorted(
                int(g) for g in rng.choice([g for g, _ in GENRES], int(rng.integers(1, 4)), replace=False)
            ),
        }

    def change(self, mid: int) -> None:
        """A re-ingest sees new popularity and votes for ``mid``."""
        m = self.movies[mid]
        m["popularity"] = round(float(self.rng.uniform(0.5, 500.0)), 3)
        m["vote_average"] = round(float(self.rng.uniform(1.0, 10.0)), 1)
        m["vote_count"] = m["vote_count"] + int(self.rng.integers(1, 500))

    def land(self, out: Path, ids: list[int]) -> dict:
        """Land ``ids`` as page envelopes (about 10% of movies repeated on
        a later page with an earlier snapshot of their fields, so last
        wins restores the current one) plus one credits document each.
        Returns the landed paths, bytes and expected silver row counts."""
        rng = self.rng
        out.mkdir(parents=True, exist_ok=True)
        stream = [dict(self.movies[m]) for m in ids]
        n_dup = len(ids) // 10
        for pos in sorted(rng.choice(len(ids), n_dup, replace=False).tolist()):
            stale = dict(self.movies[ids[pos]])
            stale["popularity"] = round(stale["popularity"] / 2, 3)
            stream.insert(max(0, pos - PAGE_SIZE), stale)  # earlier arrival loses
        pages = [stream[i:i + PAGE_SIZE] for i in range(0, len(stream), PAGE_SIZE)]
        with (out / "pages.jsonl").open("w") as f:
            for p, results in enumerate(pages, start=1):
                f.write(json.dumps({"page": p, "results": results, "total_pages": len(pages)}) + "\n")
        with (out / "credits.jsonl").open("w") as f:
            for m in ids:
                f.write(json.dumps({"id": m, "cast": self.casts[m], "crew": []}) + "\n")
        with (out / "genres.jsonl").open("w") as f:
            f.write(json.dumps({"genres": [{"id": g, "name": n} for g, n in GENRES]}) + "\n")
        files = {k: str(out / f"{k}.jsonl") for k in ("pages", "credits", "genres")}
        actors = {c["id"] for m in ids for c in self.casts[m]}
        return {
            "files": files,
            "bytes": sum(Path(p).stat().st_size for p in files.values()),
            "silver_rows": {
                "movies": len(ids),
                "genres": len(GENRES),
                "movie_genre": sum(len(self.movies[m]["genre_ids"]) for m in ids),
                "actors": len(actors),
                "movie_actor": sum(min(TOP_N_CAST, len(self.casts[m])) for m in ids),
            },
        }


def write_tmdb(
    out_dir: str, seed: int, n_movies: int, n_batches: int,
    changed: float = 0.10, new: float = 0.05,
) -> dict:
    """Land the initial ingest under ``out_dir/init`` and ``n_batches``
    re-ingest batches under ``out_dir/batch_<k>``. Each batch re-lands
    ``changed`` of the existing movies with new fields plus ``new`` more
    movies. Returns the landing descriptors, the backfilled runtimes,
    the final movie fields and the expected final row count per table."""
    u = _Tmdb(seed, n_movies)
    out = Path(out_dir)
    ids = [u.new_movie() for _ in range(n_movies)]
    # runtime_minutes backfilled for a third of the initial movies
    runtimes = {m: 80 + (m * 7) % 90 for m in ids if m % 3 == 0}
    landings = [u.land(out / "init", ids)]
    for k in range(n_batches):
        n_changed, n_new = int(n_movies * changed), int(n_movies * new)
        existing = sorted(u.movies)
        picked = sorted(int(i) for i in u.rng.choice(existing, n_changed, replace=False))
        for m in picked:
            u.change(m)
        fresh = [u.new_movie() for _ in range(n_new)]
        landings.append(u.land(out / f"batch_{k}", picked + fresh))
    return {
        "init": landings[0],
        "batches": landings[1:],
        "runtimes": runtimes,
        "movies": u.movies,
        "final_rows": {
            "movies": len(u.movies),
            "genres": len(GENRES),
            "movie_genre": sum(len(m["genre_ids"]) for m in u.movies.values()),
            "actors": len({c["id"] for cast in u.casts.values() for c in cast}),
            "movie_actor": sum(min(TOP_N_CAST, len(c)) for c in u.casts.values()),
        },
    }
