"""Column-level vector math over ``array<float>`` embedding columns
(north-star similarity-search surface, SURVEY.md §2.9).

All dense math is expressed with ``zip_with`` / ``aggregate`` higher-order
functions — evaluated JVM-side per row inside codegen, with the
accumulator in DOUBLE for deterministic left-to-right summation (the same
fold order every engine uses for a single row's array, so results are
reproducible and oracle-comparable).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalized(a: Column | str, nrm: Column | str) -> Column:
    """Unit-scale ``a`` by a precomputed norm column.

    Cosine over many pairs should be ``dot(normalized, normalized)``:
    normalizing each vector ONCE (n rows) and folding a single dot per
    pair halves-to-quarters the per-pair lambda evaluations versus
    recomputing ``dot/(|a|·|b|)`` (3 folds) on every candidate — the
    verify stage of LSH similarity is exactly such a pair hot path."""
    return F.transform(_c(a), lambda x: x.cast("double") / _c(nrm))
