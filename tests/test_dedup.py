"""Dedup semantics (SURVEY.md §2.6 O6 / §2.5 A6 / near-dup family).

The last-wins test reproduces the reference's contract exactly: a batch
with duplicate keys differing in payload must keep the LATEST occurrence
(``/root/reference/02_etl.py:224-231`` docstring: "preserving the latest
occurrence"), which bare ``dropDuplicates`` does not guarantee.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.operators import dedup


def test_last_wins_keeps_latest_payload(spark):
    rows = [
        (1, 0, "first"),
        (1, 1, "middle"),
        (1, 2, "latest"),
        (2, 0, "only"),
        (3, 5, "newer"),
        (3, 4, "older"),
    ]
    df = spark.createDataFrame(rows, "id INT, seq INT, payload STRING")
    out = dedup.dedup_last_wins(df, ["id"], [F.desc("seq")])
    got = {r["id"]: r["payload"] for r in out.collect()}
    assert got == {1: "latest", 2: "only", 3: "newer"}


def test_last_wins_deterministic_on_rerun(spark):
    rows = [(i % 10, i, f"p{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "id INT, seq INT, payload STRING").repartition(7)
    a = sorted(map(tuple, dedup.dedup_last_wins(df, ["id"], [F.desc("seq")]).collect()))
    b = sorted(map(tuple, dedup.dedup_last_wins(df, ["id"], [F.desc("seq")]).collect()))
    assert a == b
    assert all(seq == 990 + id_ for id_, seq, _ in a)


def test_dedup_exact_keeps_min_key(spark):
    df = spark.createDataFrame(
        [(10, "x"), (3, "x"), (7, "y")], "doc_id INT, text STRING"
    )
    out = dedup.dedup_exact(df, ["text"], keep_min_of="doc_id")
    got = {r["text"]: r["doc_id"] for r in out.collect()}
    assert got == {"x": 3, "y": 7}


def test_duplicate_report(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a")], "k INT, t STRING"
    )
    out = {(r["k"], r["t"]): r["n"] for r in dedup.duplicate_report(df, ["k", "t"]).collect()}
    assert out == {(1, "a"): 2}


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    other = "completely different words about spark engines and columnar formats"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id LONG, text STRING"
    )


def test_ngram_jaccard_finds_near_dup_pair(spark):
    out = dedup.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in out}
    assert pairs == {(1, 2)}
    j = out[0]["jaccard"]
    # 13 tokens → 11 shingles each; one end-token differs → 10 shared,
    # union 12 → J = 10/12
    assert abs(j - 10 / 12) < 1e-6


def test_minhash_lsh_recalls_exact_pairs(spark):
    exact = {
        (r["a_id"], r["b_id"])
        for r in dedup.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    }
    approx = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_lsh_pairs(
            _docs(spark), n=3, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    # high-similarity pair must be recalled at 32 bands (2 rows/band)
    assert exact <= approx or approx == exact


@pytest.mark.parametrize("family", ["XXH", "PORTABLE"])
def test_supplied_banded_index_mismatch_fails_loudly(spark, monkeypatch, family):
    """The documented caller INVARIANT on minhash_lsh_pairs (supplied
    index must match this call's banding parameters) gets a debug-path
    runtime guard (VERDICT-r8 stretch ask): under
    SPARK_GRAFT_DEBUG_INVARIANTS=1 a mismatched index raises instead of
    silently losing recall — for every hash family."""
    fam = getattr(dedup, family)
    docs = _docs(spark)
    sh = dedup._shingle_sets(docs, "doc_id", "text", 3, family=fam)
    wrong = dedup._minhash_banded(sh, 64, 8, family=fam)  # built at 8 bands
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_INVARIANTS", "1")
    with pytest.raises(ValueError, match="different banding parameters"):
        dedup.minhash_lsh_pairs(
            docs, n=3, num_hashes=64, bands=16, sh=sh, banded=wrong, family=fam
        )
    # ADVICE-r9: SAME band count but different num_hashes produces
    # different per-band bucket hashes — the band-count check alone
    # cannot see it; the recomputed-sample check must
    wrong_nh = dedup._minhash_banded(sh, 32, 16, family=fam)  # built at 32 hashes
    with pytest.raises(ValueError, match="different banding parameters"):
        dedup.minhash_lsh_pairs(
            docs, n=3, num_hashes=64, bands=16, sh=sh, banded=wrong_nh, family=fam
        )
    # shape violations fail even without the debug flag
    monkeypatch.delenv("SPARK_GRAFT_DEBUG_INVARIANTS")
    with pytest.raises(ValueError, match="lacks column"):
        dedup.minhash_lsh_pairs(
            docs, n=3, num_hashes=64, bands=16, sh=sh,
            banded=wrong.withColumnRenamed("bucket", "hash"), family=fam,
        )
    # a CORRECT supplied index passes the guard under the flag
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_INVARIANTS", "1")
    right = dedup._minhash_banded(sh, 64, 16, family=fam)
    got = {
        (r["a_id"], r["b_id"])
        for r in dedup.minhash_lsh_pairs(
            docs, n=3, num_hashes=64, bands=16, sh=sh, banded=right, family=fam
        ).collect()
    }
    assert got == {(1, 2)}


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "x y z w")],
        "doc_id LONG, text STRING",
    )
    out = dedup.simhash_near_dup_pairs(df, max_hamming=0, chunks=4).collect()
    assert {(r["a_id"], r["b_id"], r["hamming"]) for r in out} == {(1, 2, 0)}


def test_incremental_dedup_fresh_only_and_idempotent(spark):
    batch = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id long, fp string"
    )
    seen = spark.createDataFrame([("b",), ("d",)], "fp string")
    out = dedup.incremental_dedup(batch, seen, ["fp"], keep_min_of="id")
    rows = {(r["id"], r["fp"]) for r in out.collect()}
    # within-batch dup "a" keeps min id; "b" already seen; "c" fresh
    assert rows == {(1, "a"), (4, "c")}
    # rerun against a corpus that now contains the emitted keys → empty
    seen2 = seen.unionByName(out.select("fp"))
    assert dedup.incremental_dedup(batch, seen2, ["fp"], keep_min_of="id").count() == 0


def test_connected_components_chain_and_star(spark):
    """A 4-vertex chain (diameter 3 — needs multiple propagation
    rounds), a star, and an isolated pair must each collapse to one
    component labeled by its minimum id."""
    from movie_data_etl_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (10, 12), (10, 13),  # star centered at 10
         (20, 21)],                    # isolated pair
        "a_id BIGINT, b_id BIGINT",
    )
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    want = {(1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10), (13, 10),
            (20, 20), (21, 20)}
    assert got == want


def test_connected_components_matches_union_find(spark):
    """Differential check vs a driver-side union-find on a pseudo-random
    graph (deterministic seed)."""
    import random

    from movie_data_etl_pipeline_spark.operators.dedup import connected_components

    rng = random.Random(42)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min id in component
    label = {}
    for v in range(60):
        r = find(v)
        label.setdefault(r, []).append(v)
    want = {(v, min(vs)) for r, vs in label.items() for v in vs
            if any(v in e for e in edges)}
    # only vertices that appear in an edge are in the operator's output
    touched = {v for e in edges for v in e}
    want = {(v, c) for v, c in want if v in touched}

    pairs = spark.createDataFrame(edges, "a_id BIGINT, b_id BIGINT")
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert got == want


def test_incremental_minhash_equals_full_recompute(spark, sf_dir):
    """Deterministic hash family ⇒ the incremental batch-vs-index path
    must produce EXACTLY the full-union LSH pairs restricted to pairs
    touching the batch — no recall haircut, no phantom pairs."""
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    batch = docs.where(F.col("doc_id") % 10 == 0)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}

    incr = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dedup.incremental_minhash_pairs(corpus, batch).collect()
    }
    full = {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
        if r["a_id"] in batch_ids or r["b_id"] in batch_ids
    }
    assert incr == full


def test_incremental_minhash_excludes_corpus_only_pairs(spark):
    """A near-dup pair entirely inside the already-indexed corpus must
    NOT be re-reported when a disjoint batch arrives."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " extra")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "completely different text about spark shuffles and parquet files")],
        ["doc_id", "text"],
    )
    out = dedup.incremental_minhash_pairs(corpus, batch, threshold=0.3).collect()
    assert out == []  # (1,2) is corpus-only; batch doc 10 matches nothing


def test_containment_pairs_match_pure_python_bruteforce(spark, sf_dir):
    """The PPJoin-style prefix+positional candidate discipline in
    ``containment_pairs`` must lose NO pair: compare against a pure
    Python brute force (every unordered pair, exact Fraction
    threshold) over the sf0.001 documents, at three thresholds —
    the independent oracle that would catch a prefix-bound
    off-by-one the registry crosscheck (single threshold, DuckDB
    twin re-deriving the same discipline) might not."""
    from fractions import Fraction

    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    sets = {
        r["id"]: frozenset(r["sh"])
        for r in dedup._shingle_sets(docs, "doc_id", "text", 3).collect()
    }
    ids = sorted(sets)
    for threshold in (0.4, 0.6, 0.8):
        t = Fraction(threshold).limit_denominator(10**6)
        expected = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                if inter * t.denominator >= min(len(sets[a]), len(sets[b])) * t.numerator:
                    expected.add((a, b, inter, len(sets[a]), len(sets[b])))
        got = {
            (r["a_id"], r["b_id"], r["n_shared"], r["na"], r["nb"])
            for r in dedup.containment_pairs(docs, threshold=threshold).collect()
        }
        assert got == expected, f"threshold {threshold}: {len(got)} vs {len(expected)}"


def test_jaccard_pairs_match_pure_python_bruteforce(spark, sf_dir):
    """Same independent pure-Python oracle for the prefix-filtered
    exact-Jaccard detector, at two thresholds."""
    from fractions import Fraction

    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    sets = {
        r["id"]: frozenset(r["sh"])
        for r in dedup._shingle_sets(docs, "doc_id", "text", 3).collect()
    }
    ids = sorted(sets)
    for threshold in (0.35, 0.5):
        t = Fraction(threshold).limit_denominator(10**6)
        expected = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a]) + len(sets[b]) - inter
                if inter * t.denominator >= union * t.numerator:
                    expected.add((a, b))
        got = {
            (r["a_id"], r["b_id"])
            for r in dedup.ngram_jaccard_pairs(docs, threshold=threshold).collect()
        }
        assert got == expected, f"threshold {threshold}: {len(got)} vs {len(expected)}"
