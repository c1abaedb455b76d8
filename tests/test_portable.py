"""Engine-portable hash surface: the oracle-provable twins of the
hash-dependent dedup/ANN operators (``functions/portable_hash.py``).

Three things are proven here:

1. the portable hash family itself agrees between Spark, DuckDB, and a
   plain-Python reference fold (any drift breaks every downstream twin);
2. each portable twin's OUTPUT matches its DuckDB oracle at sf0.001
   (the sf0.01 run is the driver's crosscheck; this is the fast local
   gate);
3. the twins keep the production plan shape — JVM-only expressions, no
   Python in any hot path (the whole point is provability WITHOUT
   giving up whole-stage codegen).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions import portable_hash as ph
from movie_data_etl_pipeline_spark.operators import dedup, similarity
from movie_data_etl_pipeline_spark.plans import fixture_queries as FQ


def _py_str_hash(s: str) -> int:
    h = 0
    for c in s:
        h = (h * ph.BASE + ord(c)) % ph.P
    return h


def test_str_hash_three_way_agreement(spark):
    samples = ["", "a", "hel lo", "The quick brown fox 42!", "x" * 200, "naïve 中文 end"]
    sdf = spark.createDataFrame([(s,) for s in samples], "s STRING")
    got_spark = [r[0] for r in sdf.select(ph.str_hash("s")).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {ph.sql_str_hash('?')}", [s]).fetchone()[0] for s in samples
    ]
    want = [_py_str_hash(s) for s in samples]
    assert got_spark == want
    assert got_duck == want


def test_lcg_perm_and_sign_agreement(spark):
    xs = [(i, (i * 7919) % ph.P) for i in range(64)]
    sdf = spark.createDataFrame(xs, "i LONG, x LONG")
    got = sdf.select(
        ph.lcg_perm(F.col("i"), F.col("x")).alias("perm"),
        ph.rademacher_sign(F.col("i")).alias("sign"),
    ).collect()
    for (i, x), row in zip(xs, got):
        a, b = ph.perm_coeffs(i)
        assert row["perm"] == (a * x + b) % ph.P
        assert row["sign"] == ph.py_rademacher_sign(i)


def test_sql_rademacher_sign_matches_python():
    import duckdb

    con = duckdb.connect()
    got = con.execute(
        f"SELECT [{ph.sql_rademacher_sign('i')} for i in range(0, 256)]"
    ).fetchone()[0]
    assert list(got) == [ph.py_rademacher_sign(i) for i in range(256)]


def test_rademacher_signs_balanced_and_unstructured():
    signs = [ph.py_rademacher_sign(i) for i in range(4096)]
    frac = sum(1 for s in signs if s == 1) / len(signs)
    assert 0.45 < frac < 0.55
    # 64-dim plane rows must be distinct AND not near-duplicates: the
    # mixed finalizer keeps |row·row|/dim bounded away from 1 (the raw
    # LCG parity rows were ~0.97-correlated, which froze JL quality)
    rows = [signs[p * 64 : (p + 1) * 64] for p in range(32)]
    assert len({tuple(r) for r in rows}) == 32
    for a in range(32):
        for b in range(a + 1, 32):
            corr = abs(sum(x * y for x, y in zip(rows[a], rows[b]))) / 64
            assert corr <= 0.5, (a, b, corr)


def test_minhash_portable_subset_of_exact_jaccard(spark, sf_dir):
    """LSH recall can drop pairs but never invent them: every portable-
    banding survivor must appear in the exact Jaccard pair set with the
    same score."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    lsh = dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=32, bands=8, family=dedup.PORTABLE
    ).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert (r["a_id"], r["b_id"]) in exact
        assert abs(exact[(r["a_id"], r["b_id"])] - r["jaccard"]) < 1e-9


@pytest.mark.parametrize(
    "qname",
    ["dd_minhash_portable", "dd_simhash_portable", "sim_knn_portable", "dd_minhash_incr_portable"],
)
def test_portable_twins_match_duckdb_oracle(spark, sf_dir, qname):
    sdf = FQ.QUERIES[qname](spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    ddf = con.execute(FQ.ORACLES[qname]).df()
    assert sorted(sdf.columns) == sorted(ddf.columns)

    def norm(df: pd.DataFrame):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(9)
        return sorted(df.astype(str).itertuples(index=False, name=None))

    assert norm(sdf) == norm(ddf)


@pytest.mark.parametrize(
    "qname",
    ["dd_minhash_portable", "dd_simhash_portable", "sim_knn_portable", "dd_minhash_incr_portable"],
)
def test_portable_twins_stay_jvm_side(spark, sf_dir, qname):
    plan = FQ.QUERIES[qname](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_knn_portable_ranks_by_exact_integer_dot(spark, sf_dir):
    """Within every query's returned list, ranks must follow the exact
    integer dot product (desc) with neighbor-id tie-break — i.e. the
    re-rank stage is exact even though candidate recall is approximate."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.knn_lsh(
        emb, dim=64, k=5, n_planes=8, n_tables=4, family=similarity.PORTABLE
    ).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        ranked = [(-r["score"], r["neighbor_id"]) for r in rows]
        assert ranked == sorted(ranked)
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


@pytest.mark.parametrize("qname", ["sim_knn_portable", "emb_random_projection"])
def test_quantize_is_a_column_below_the_exchange(spark, sf_dir, qname):
    """The 2^20 quantize must reach the Rademacher plane-dot fold as a
    column projected under the input ``Repartition``. Computed in the
    fold's own projection, Catalyst inlines the ``transform`` into the
    n_planes·dim lambda and re-runs it per element (``sim_knn_portable``
    measured ~1.8x slower)."""
    lines = (
        FQ.QUERIES[qname](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    ).splitlines()
    # the plane-dot fold is the aggregate over rademacher_sign's shifts
    folds = [ln for ln in lines if "aggregate(" in ln and "shiftright(" in ln]
    assert folds
    assert not any("FLOOR(" in ln for ln in folds)
    # the tree prints top-down: the quantize Project sits below the
    # exchange (a persisted relation prints its physical plan)
    rep = next(
        i for i, ln in enumerate(lines) if "Repartition" in ln or "RoundRobinPartitioning" in ln
    )
    assert any("Project" in ln and "FLOOR(" in ln for ln in lines[rep + 1:])
