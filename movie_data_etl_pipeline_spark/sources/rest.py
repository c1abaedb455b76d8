"""REST/JSON ingestion sources (SURVEY.md §2.1 S1–S4).

The reference fetches TMDB JSON driver-side with ``requests``
(``/root/reference/02_etl.py:21-26``), loops pages
(``02_etl.py:50-62``), and does one credits GET per movie
(``02_etl.py:136-140``) throttled by ``sleep``
(``02_etl.py:202-221``).

Spark-native rendering: the *fetch* stays an ingestion job (land raw
JSON to storage — at scale one file per page/batch on object storage),
and the *engine* consumes landed JSON with ``spark.read.json`` under an
explicit schema. The N+1 per-movie credits loop disappears: a landed
``credits`` dataset joins/explodes as one DataFrame op. HTTP is gated
behind an import-try so the engine works fully offline.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - network path, not exercised in tests
    import requests  # type: ignore[import-untyped]
except Exception:  # noqa: BLE001
    requests = None

from movie_data_etl_pipeline_spark.schemas import (
    TMDB_CREDITS,
    TMDB_GENRE_LIST,
    TMDB_PAGE_ENVELOPE,
)

TMDB_BASE = "https://api.themoviedb.org/3"


def http_get_json(
    path: str,
    api_key: str,
    params: dict | None = None,
    timeout_s: int = 30,
    base_url: str = TMDB_BASE,
) -> dict:
    """S1: authenticated GET → decoded JSON; raises on non-2xx
    (mirrors ``tmdb_get``, ``02_etl.py:21-26``). Driver/ingest side
    only — never called from executors. ``base_url`` exists so the
    live path is testable against a loopback stub server."""
    if requests is None:
        raise RuntimeError("requests not available in this environment")
    q = {"api_key": api_key, **(params or {})}
    resp = requests.get(f"{base_url}{path}", params=q, timeout=timeout_s)
    resp.raise_for_status()
    return resp.json()


def fetch_and_land_pages(
    out_dir: str,
    api_key: str,
    pages: int = 2,
    sleep_s: float = 0.25,
    base_url: str = TMDB_BASE,
) -> list[str]:
    """S2+S4: fetch popular-movie pages 1..N and land one JSON file per
    page (the landing pattern that replaces driver-resident lists).
    ``sleep_s`` keeps the reference's politeness throttle
    (``02_etl.py:202,221``)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    written = []
    for page in range(1, pages + 1):
        doc = http_get_json("/movie/popular", api_key, {"page": page}, base_url=base_url)
        p = out / f"popular_page_{page:05d}.json"
        p.write_text(json.dumps(doc))
        written.append(str(p))
        time.sleep(sleep_s)
    return written


def land_json_docs(out_dir: str, name: str, docs: Iterable[dict]) -> str:
    """Write an iterable of JSON documents as one JSONL file — the test
    and backfill entry point (same layout a fetcher would produce)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    p = out / f"{name}.jsonl"
    with p.open("w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    return str(p)


def read_page_envelopes(spark: SparkSession, path: str) -> DataFrame:
    """Landed paginated envelopes → typed bronze DataFrame (one row per
    page). Explicit schema: absent fields become NULL (P4 semantics,
    ``02_etl.py:73-80``) and no inference scan is needed."""
    return spark.read.schema(TMDB_PAGE_ENVELOPE).json(path)


def read_credits(spark: SparkSession, path: str) -> DataFrame:
    """Landed credits documents (one per movie) → typed bronze DataFrame
    (S3's N+1 loop becomes a single scan)."""
    return spark.read.schema(TMDB_CREDITS).json(path)


def read_genre_list(spark: SparkSession, path: str) -> DataFrame:
    """Landed ``/genre/movie/list`` document (``02_etl.py:31-35``)."""
    return spark.read.schema(TMDB_GENRE_LIST).json(path)
