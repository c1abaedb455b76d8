"""Self-sizing session conf (r11, VERDICT-r10 ask #4): the shuffle
partition count and local-mode heap derive from the data volume the
session will serve, so an amplified-scale run is robust WITHOUT env
overrides while the bench-scale conf stays bit-identical to every
earlier round (= cores, 8g). Pure-python — no SparkSession needed."""

from __future__ import annotations

import pytest

from movie_data_etl_pipeline_spark import session
from movie_data_etl_pipeline_spark.session import (
    data_scaled_driver_memory,
    data_scaled_shuffle_partitions,
    resolve_sizing,
)

GB = 1024**3


@pytest.fixture
def host_ram(monkeypatch):
    """Pin the host RAM the heap derivation sees (default 64 GB), so
    the cap does not depend on the machine running the tests."""

    def pin(gb: int) -> None:
        monkeypatch.setattr(session, "_host_ram_bytes", lambda: gb * GB)

    pin(64)
    return pin


def _mkdata(tmp_path, mb: int) -> str:
    d = tmp_path / "fixtures"
    d.mkdir()
    # sparse file: getsize() reports the apparent size without writing it
    f = d / "table.parquet"
    with open(f, "wb") as fh:
        fh.truncate(mb * 1024 * 1024)
    return str(d)


def test_bench_scale_is_bit_identical(tmp_path, host_ram):
    """At sf0.1 volume (~17 MB) the derivation lands EXACTLY on the
    r1-r10 conf — cores partitions, 8g heap — so driver bench numbers
    stay comparable across the self-sizing change."""
    d = _mkdata(tmp_path, 17)
    assert data_scaled_shuffle_partitions(d, 32) == 32
    assert data_scaled_shuffle_partitions(d, 8) == 8
    assert data_scaled_driver_memory(d, 32) == "8g"


def test_amplified_scale_grows(tmp_path, host_ram):
    """At the 100x volume (~1.7 GB compressed) the derivation reaches
    the 96-128 partition band measured OOM-free in r10 and a heap
    comfortably above the 8g that died (r11 sweep: 18-20g runs the
    graph family clean with no env overrides)."""
    d = _mkdata(tmp_path, 17)
    parts = data_scaled_shuffle_partitions(d, 32, scale=100)
    assert 96 <= parts <= 256
    mem_gb = int(data_scaled_driver_memory(d, 32, scale=100).rstrip("g"))
    assert 12 <= mem_gb <= 64


def test_heap_floor_wins_over_half_ram_cap(tmp_path, host_ram):
    """On a 16 GB host half-RAM reads as 7g; the 8g floor still holds,
    so the bench-scale heap is the same on every host."""
    host_ram(16)
    d = _mkdata(tmp_path, 17)
    assert data_scaled_driver_memory(d, 32, scale=100) == "8g"
    assert data_scaled_driver_memory(d, 32) == "8g"


def test_missing_dir_falls_back(tmp_path):
    assert data_scaled_shuffle_partitions(str(tmp_path / "nope"), 32) == 32
    assert data_scaled_driver_memory(str(tmp_path / "nope"), 32) == "8g"


def test_env_knobs_still_win(host_ram, monkeypatch):
    """The explicit knobs keep priority over the derivation — a
    production deployment that pins them must not be second-guessed —
    and an explicit argument wins over both."""
    big = 17 * 100 * 1024 * 1024
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert resolve_sizing(big, 32) == (106, "20g")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "777")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert resolve_sizing(big, 32) == (777, "3g")
    assert resolve_sizing(big, 32, shuffle_partitions=5) == (5, "3g")


def test_clamps(tmp_path):
    """The partition derivation is clamped: never below cores, never
    above 4096 (past that, shuffle block-count quadratics dominate —
    guide §2.2 — and a real cluster should size explicitly)."""
    d = _mkdata(tmp_path, 17)
    assert data_scaled_shuffle_partitions(d, 32, scale=10**6) == 4096
    assert data_scaled_shuffle_partitions(d, 48) == 48
