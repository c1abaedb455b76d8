"""Regenerate the per-query index table in COVERAGE.md (between the
QUERY_INDEX markers) from the live registry — name, operator family,
oracle type, driver-record round, and (optionally) the latest bench
time.

Usage:
    python tools/query_index.py [path/to/bench_output.json]

The optional argument is a file containing bench.py's FULL json line
(the one with the per-query dict); its times fill the bench column.
Driver rounds come from CORRECTNESS_r*.json at the repo root.
"""

from __future__ import annotations

import glob
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BEGIN = "<!-- QUERY_INDEX:BEGIN (generated by tools/query_index.py — do not edit by hand) -->"
END = "<!-- QUERY_INDEX:END -->"

FAMILIES = {
    "q": "tpch",
    "v": "movie-views",
    "t": "top-k",
    "f": "flatten/json",
    "j": "joins",
    "jx": "joins",
    "aj": "as-of join",
    "rj": "range join",
    "pit": "point-in-time",
    "w": "window",
    "g": "grouping",
    "pv": "pivot",
    "su": "set ops",
    "sq": "subquery",
    "fn": "function surface",
    "p": "projection/coercion",
    "o": "merge/upsert",
    "a": "dedup report",
    "dd": "dedup",
    "sim": "similarity/ann",
    "emb": "embeddings",
    "tx": "text analysis",
    "px": "corpus pipeline",
    "mm": "multimodal",
    "hh": "heavy hitters",
    "ap": "sketches",
    "st": "streaming",
    "ts": "time series",
    "ev": "events/funnel",
    "qa": "data quality",
    "ag": "agg/stats",
    "sa": "sampling/splits",
    "fe": "feature eng",
    "gr": "graph",
    "ix": "indexing",
    "ly": "layout",
    "inc": "incremental",
    "fp": "fingerprints",
    "src": "sources",
    "g4": "grouping",
}


def family_of(name: str) -> str:
    prefix = name.split("_", 1)[0]
    if prefix in FAMILIES:
        return FAMILIES[prefix]
    stripped = re.sub(r"\d+$", "", prefix)
    return FAMILIES.get(stripped, stripped)


def main() -> None:
    from movie_data_etl_pipeline_spark.plans.fixture_queries import ORACLES, QUERIES

    rounds: dict[str, int] = {}
    for f in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", Path(f).name).group(1))
        for name in json.load(open(f)):
            rounds[name] = rnd  # keep the LATEST round that checked it

    bench_times: dict[str, float] = {}
    if len(sys.argv) > 1:
        text = open(sys.argv[1]).read()
        for line in text.splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(obj.get("queries"), dict):
                bench_times = obj["queries"]

    lines = [
        BEGIN,
        "",
        f"## Query index ({len(QUERIES)} queries, {len(ORACLES)} with DuckDB oracles)",
        "",
        "`driver` = latest round with a green CORRECTNESS row; `oracle`",
        "hash = value-checked against DuckDB, rows = rows-only; bench",
        "seconds from the latest local sf0.1 run where provided.",
        "",
        "| query | family | oracle | driver | bench s |",
        "|---|---|---|---|---|",
    ]
    for name in QUERIES:
        oracle = "hash" if name in ORACLES else "rows"
        drv = f"r{rounds[name]}" if name in rounds else "—"
        t = bench_times.get(name)
        ts = f"{t:.2f}" if isinstance(t, (int, float)) else "—"
        lines.append(f"| {name} | {family_of(name)} | {oracle} | {drv} | {ts} |")
    block = "\n".join(lines) + "\n" + END

    cov = (REPO / "COVERAGE.md").read_text()
    if BEGIN in cov:
        cov = re.sub(
            re.escape(BEGIN) + ".*?" + re.escape(END), block, cov, flags=re.S
        )
    else:
        cov = cov.rstrip() + "\n\n" + block + "\n"
    (REPO / "COVERAGE.md").write_text(cov)
    print(f"wrote {len(QUERIES)} rows ({sum(1 for n in QUERIES if n in bench_times)} with bench times)")


if __name__ == "__main__":
    main()
