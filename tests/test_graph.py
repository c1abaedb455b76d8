"""Fixed-point PageRank (`operators/graph.py`): exactness, invariants,
and partitioning-independence of the iterative integer computation."""

from __future__ import annotations

from movie_data_etl_pipeline_spark.operators import graph


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src LONG, dst LONG")


def test_two_cycle_is_exact_fixed_point(spark):
    """A↔B: each node's contribution equals its full rank, so
    rank' = 0.15·S + 0.85·S = S exactly (S divisible by 20) — the
    iteration must be a no-op, bit-for-bit."""
    e = _edges(spark, [(1, 2), (2, 1)])
    out = {r["node"]: r["rank"] for r in graph.pagerank_fixed_point(e, iters=4).collect()}
    assert out == {1: graph.SCALE, 2: graph.SCALE}


def test_star_center_dominates(spark):
    leaves = list(range(2, 12))
    pairs = [(1, l) for l in leaves] + [(l, 1) for l in leaves]
    out = {r["node"]: r["rank"] for r in graph.pagerank_fixed_point(_edges(spark, pairs)).collect()}
    center = out[1]
    assert all(center > out[l] for l in leaves)
    # all leaves are symmetric → identical ranks
    assert len({out[l] for l in leaves}) == 1


def test_mass_nearly_conserved_without_danglers(spark):
    """Every node has out-edges → only integer-division floors leak
    mass: bounded by (outdeg+1) per node per round, invisible at
    SCALE=1e12."""
    pairs = [(i, (i + 1) % 20) for i in range(20)] + [(i, (i + 7) % 20) for i in range(20)]
    rows = graph.pagerank_fixed_point(_edges(spark, pairs), iters=5).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 20 * graph.SCALE) < 20 * 5 * 100  # floors only

def test_partitioning_independence(spark):
    pairs = [(i % 13, (i * 7) % 13) for i in range(60) if i % 13 != (i * 7) % 13]
    a = sorted(map(tuple, graph.pagerank_fixed_point(_edges(spark, pairs).repartition(1)).collect()))
    b = sorted(map(tuple, graph.pagerank_fixed_point(_edges(spark, pairs).repartition(16)).collect()))
    assert a == b


def test_dangling_node_receives_only_teleport(spark):
    """1→2 with no out-edge from 2 (except none): node 2's inbound mass
    decays each round; node 1 (no inbound) must sit at exactly the
    teleport base after round 1."""
    e = _edges(spark, [(1, 2)])
    out = {r["node"]: r["rank"] for r in graph.pagerank_fixed_point(e, iters=3).collect()}
    base = (20 - 17) * graph.SCALE // 20
    assert out[1] == base
    assert out[2] > base


def _seeds(spark, rows):
    return spark.createDataFrame(rows, "node LONG, label STRING")


def test_label_prop_frontier_expands_per_round(spark):
    # chain 1-2-3-4, seed at 1: labels reach node 4 only at round 3
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    s = _seeds(spark, [(1, "L")])
    two = {r["node"]: r["label"] for r in graph.label_propagation(e, s, iters=2).collect()}
    assert two[3] == "L" and two[4] is None
    three = {r["node"]: r["label"] for r in graph.label_propagation(e, s, iters=3).collect()}
    assert three == {1: "L", 2: "L", 3: "L", 4: "L"}


def test_label_prop_seeds_are_clamped(spark):
    # node 1 seeded "X" surrounded by "Y"-seeded neighbors: stays "X"
    e = _edges(spark, [(1, 2), (1, 3)])
    s = _seeds(spark, [(1, "X"), (2, "Y"), (3, "Y")])
    out = {r["node"]: r["label"] for r in graph.label_propagation(e, s, iters=4).collect()}
    assert out[1] == "X" and out[2] == "Y" and out[3] == "Y"


def test_label_prop_majority_and_tie_break(spark):
    # node 10: two "B" neighbors, one "A" → B ; node 20: one of each → A (asc tie-break)
    e = _edges(spark, [(10, 1), (10, 2), (10, 3), (20, 4), (20, 5)])
    s = _seeds(spark, [(1, "B"), (2, "B"), (3, "A"), (4, "B"), (5, "A")])
    out = {r["node"]: r["label"] for r in graph.label_propagation(e, s, iters=1).collect()}
    assert out[10] == "B" and out[20] == "A"


def test_label_prop_partition_independence(spark):
    pairs = [(i, (i * 3 + 1) % 17) for i in range(40) if i != (i * 3 + 1) % 17]
    s = _seeds(spark, [(0, "P"), (5, "Q"), (11, "R")])
    e1 = _edges(spark, pairs).repartition(1)
    e2 = _edges(spark, pairs).repartition(16)
    a = sorted(map(tuple, graph.label_propagation(e1, s, iters=3).collect()))
    b = sorted(map(tuple, graph.label_propagation(e2, s, iters=3).collect()))
    assert a == b


def test_hits_rejects_zero_iters(spark):
    # iters=0 used to fall through to a None.select AttributeError
    import pytest

    e = spark.createDataFrame([(1, 10), (2, 10)], ["c", "s"])
    with pytest.raises(ValueError, match="iters must be >= 1"):
        graph.hits_fixed_point(e, iters=0)
