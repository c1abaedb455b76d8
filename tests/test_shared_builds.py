"""Lifecycle contract of the per-(session, sf) shared-build caches
(`plans/graph_edges`, `plans/ml_scored`, `plans/doc_pairs`,
`wave27.kmeans_state`, `wave36._cf_pair_counts`):

- same session + same sf → the SAME DataFrame object (cache hit: the
  expensive build runs once per session);
- a different SparkSession object (``newSession()`` shares the
  SparkContext but is a distinct session) → a fresh build, no
  cross-session bleed (``session.per_session`` keys on the live session
  object, which is what makes the caches vanilla-driver-safe);
- and the fresh build's VALUES match the cached one's — the cache is
  an amortization, never a semantic dependency.
"""

from __future__ import annotations

import pytest

from movie_data_etl_pipeline_spark.plans import doc_pairs, graph_edges, ml_scored
from movie_data_etl_pipeline_spark.plans.wave27 import kmeans_state
from movie_data_etl_pipeline_spark.plans.wave36 import _cf_pair_counts


def _rows(df):
    return sorted(map(tuple, df.collect()))


BUILDERS = [
    ("cotx_pairs", lambda s, sf: graph_edges.cotx_pairs(s, sf)),
    ("orders_score_cum", lambda s, sf: ml_scored.orders_score_cum(s, sf)),
    ("jaccard_pairs", lambda s, sf: doc_pairs.jaccard_pairs(s, sf, 0.5)),
    ("dup_components", lambda s, sf: doc_pairs.dup_components(s, sf, 0.8)),
    ("kmeans_assign", lambda s, sf: kmeans_state(s, sf)[0]),
    ("cf_pair_counts", lambda s, sf: _cf_pair_counts(s, sf)[2]),
    ("xxh_shingle_arrays", lambda s, sf: doc_pairs.xxh_shingle_arrays(s, sf)),
    ("portable_shingle_arrays", lambda s, sf: doc_pairs.portable_shingle_arrays(s, sf)),
    ("copurchase_pairs", lambda s, sf: graph_edges.copurchase_pairs(s, sf)),
    ("cotx_labels", lambda s, sf: graph_edges.cotx_labels(s, sf)),
    ("portable_banded_index", lambda s, sf: doc_pairs.portable_banded_index(s, sf)),
    ("xxh_shingle_sets", lambda s, sf: doc_pairs.xxh_shingle_sets(s, sf)),
    ("portable_shingle_sets", lambda s, sf: doc_pairs.portable_shingle_sets(s, sf)),
    ("xxh_banded_index", lambda s, sf: doc_pairs.xxh_banded_index(s, sf)),
]


@pytest.mark.parametrize("name,build", BUILDERS, ids=[n for n, _ in BUILDERS])
def test_shared_build_cache_contract(spark, sf_dir, name, build):
    first = build(spark, sf_dir)
    again = build(spark, sf_dir)
    assert again is first, f"{name}: second call in one session must be a cache hit"

    other = spark.newSession()
    fresh = build(other, sf_dir)
    assert fresh is not first, f"{name}: a new session must not see the old cache"
    assert _rows(fresh) == _rows(first), f"{name}: rebuild changed values"


def test_shared_build_cache_keys_on_args(spark, sf_dir):
    """Arguments after the session are part of the cache key: two
    thresholds are two builds, not one."""
    assert doc_pairs.jaccard_pairs(spark, sf_dir, 0.5) is not doc_pairs.jaccard_pairs(
        spark, sf_dir, 0.8
    )


def test_shingle_set_derivations_match_operator_forms(spark, sf_dir):
    """The row-local set derivations over the cached positional arrays
    must be value-identical to the operator-level derivations they
    replace (``dedup._shingle_sets`` with ``family=XXH`` / ``PORTABLE``) —
    the cache is an amortization, never a semantic fork."""
    from movie_data_etl_pipeline_spark.operators import dedup
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert _rows(doc_pairs.xxh_shingle_sets(spark, sf_dir)) == _rows(
        dedup._shingle_sets(docs, "doc_id", "text", 3)
    )
    assert _rows(doc_pairs.portable_shingle_sets(spark, sf_dir)) == _rows(
        dedup._shingle_sets(docs, "doc_id", "text", 3, family=dedup.PORTABLE)
    )


def test_xxh_banded_index_matches_operator_banding(spark, sf_dir):
    """The shared xxh 64x16 banded index must equal the operator-level
    banding of the operator-level shingle sets, and id-slicing it must
    equal banding the slice (the equivalence dd_minhash_incremental
    relies on — banding is per-document row-local)."""
    from pyspark.sql import functions as F

    from movie_data_etl_pipeline_spark.operators import dedup
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    op_sets = dedup._shingle_sets(docs, "doc_id", "text", 3)
    op_banded = dedup._minhash_banded(op_sets, 64, 16)
    idx = doc_pairs.xxh_banded_index(spark, sf_dir)
    assert _rows(idx) == _rows(op_banded)
    assert _rows(idx.where(F.col("id") % 10 == 0)) == _rows(
        dedup._minhash_banded(
            op_sets.where(F.col("id") % 10 == 0), 64, 16
        )
    )
