"""Space-filling-curve data layout (north-star 100 TB extension).

The reference expresses its access-path intent as four btree indexes
(``/root/reference/sql/01_schema.sql:62-65``) — two DESC value indexes
and two FK-side join indexes. Spark has no indexes; the equivalent lever
is *data layout*: sorting the parquet files so row-group min/max
statistics prune reads. A plain sort optimizes one column only; a
Z-order (Morton) curve interleaves the bits of two keys so row groups
are tight ranges in BOTH dimensions, giving balanced data skipping for
predicates on either key — the layout analogue of having both
``idx_movie_actor_person`` and ``idx_movie_genre_genre`` at once.

Everything is JVM-side expression arithmetic (shift/and/or inside one
whole-stage-codegen span — no Python, no UDF), so computing the curve
costs one projection over the scan. At 100 TB the pattern is: compute
``zvalue16`` → ``repartitionByRange`` on it (range exchange ≈ the
cluster-wide sort) → ``sortWithinPartitions`` → write; readers then hit
a small fraction of row groups for selective predicates on either key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Magic-mask bit spreading (public-domain "interleave by binary magic
# numbers" technique): spread a 16-bit value so its bits occupy even
# positions of a 32-bit lane.
_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(v: Column) -> Column:
    """Spread the low 16 bits of ``v`` to even bit positions (bigint)."""
    out = v.cast("bigint").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        out = out.bitwiseOR(F.shiftleft(out, shift)).bitwiseAND(F.lit(mask))
    return out


def zvalue16(x: Column, y: Column) -> Column:
    """32-bit Morton code interleaving the low 16 bits of ``x`` (even
    bits) and ``y`` (odd bits). Pure codegen'd integer arithmetic.

    Domain contract: inputs must already lie in ``[0, 65535]`` — the
    masking TRUNCATES higher bits, so keys that differ only above bit
    15 (e.g. 1 and 65537) would alias to the same curve position.
    ``zorder_layout`` guarantees the contract by affine-mapping each
    raw key into the 16-bit domain first; call ``scale16`` yourself if
    you use this directly on keys that may exceed 65535."""
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1))


def scale16(c: Column, lo, hi) -> Column:
    """Affine-map a numeric column with known ``[lo, hi]`` bounds onto
    the Z-curve's 16-bit domain ``[0, 65535]``, preserving order (and
    therefore locality): nearby keys land in nearby curve cells no
    matter how large the raw domain is. Double arithmetic on purpose —
    a bigint rendering of ``(c - lo) * 65535`` overflows for wide
    domains, and curve-cell resolution only needs ~16 significant bits.
    NULLs map to cell 0."""
    lo_l, hi_l = F.lit(float(lo)), F.lit(float(hi))
    if float(hi) <= float(lo):
        return F.lit(0).cast("bigint")
    scaled = F.floor(
        (c.cast("double") - lo_l) / (hi_l - lo_l) * F.lit(65535.0)
    )
    return F.coalesce(
        F.least(F.greatest(scaled, F.lit(0)), F.lit(65535)), F.lit(0)
    ).cast("bigint")


def zorder_layout(
    df: DataFrame, col_x: str, col_y: str, num_partitions: int | None = None
) -> DataFrame:
    """Return ``df`` clustered along the Z-curve of ``(col_x, col_y)``:
    range-partitioned then sorted within partitions by the interleaved
    key, ready to write. The ``_zvalue`` column is kept so callers can
    inspect/verify the curve; drop it before writing if undesired.

    ``repartitionByRange`` samples the z-distribution to build balanced
    range bounds — at cluster scale this is one exchange, after which
    every output file covers a tight (x, y) rectangle and parquet
    min/max stats prune on either column.

    Keys of ANY numeric magnitude are supported: a one-row bounds
    aggregate (the only driver-side fetch, O(1) rows) learns each
    column's min/max, and ``scale16`` affine-maps the raw keys into the
    curve's 16-bit domain. Without this, keys above 65,535 — i.e.
    exactly the cardinalities this module targets — would alias by
    truncation and destroy the locality the layout exists to provide.
    """
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(F.col(col_x).cast("double")),
        F.max(F.col(col_x).cast("double")),
        F.min(F.col(col_y).cast("double")),
        F.max(F.col(col_y).cast("double")),
    ).first()
    if lo_x is None:  # empty input: nothing to cluster
        return df.withColumn("_zvalue", F.lit(0).cast("bigint"))
    out = df.withColumn(
        "_zvalue",
        zvalue16(
            scale16(F.col(col_x), lo_x, hi_x),
            scale16(F.col(col_y), lo_y, hi_y),
        ),
    )
    if num_partitions:
        out = out.repartitionByRange(num_partitions, "_zvalue")
    else:
        out = out.repartitionByRange("_zvalue")
    return out.sortWithinPartitions("_zvalue")


def compaction_plan(
    manifest: DataFrame,
    file_col: str = "file_id",
    size_col: str = "rows",
    target: int = 4096,
) -> DataFrame:
    """Small-file compaction planner: assign each file in a table
    manifest to a rewrite bin of ~``target`` combined size — the
    maintenance job every long-lived 100 TB table needs (streaming
    sinks and per-partition appends accrete kilobyte files; scans then
    pay per-file open/footer costs that dwarf the data read).

    Deterministic sequential packing: files ordered by (size DESC,
    file_id) take ``bin = floor(exclusive_cumsum / target)`` — every
    bin lands within one file of the target, the plan is a pure
    function of the manifest (re-running on the same snapshot yields
    the same plan, so a crashed compactor can resume idempotently),
    and unlike first-fit-decreasing it is expressible as one window —
    no driver-side loop over files.

    Scale note: the window is unpartitioned BUT runs at metadata
    grain — one row per FILE (~800k rows for 100 TB of 128 MB files),
    the same bounded-relation exemption as the partition-totals
    windows in ``global_row_number``/``pack_sequences``. The data
    itself is never touched here; executing the plan is a
    ``bin``-partitioned rewrite of only the flagged bins.

    Output: one row per bin — file count, combined size, and the
    comma-joined file list (ordered as packed) — plus ``compact``:
    false when the bin holds a single already-at-target file (no
    rewrite needed), the skip condition that keeps the job
    incremental.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(size_col), F.asc(file_col))
    cum = F.coalesce(
        F.sum(size_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    assigned = manifest.select(
        F.col(file_col).alias("file_id"),
        F.col(size_col).cast("bigint").alias("sz"),
        F.floor(cum / F.lit(target)).cast("bigint").alias("bin"),
    )
    return (
        assigned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("sz").alias("total_rows"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("sz"), F.col("file_id"))),
                        lambda a, b: F.when(a["sz"] > b["sz"], -1)
                        .when(a["sz"] < b["sz"], 1)
                        .when(a["file_id"] < b["file_id"], -1)
                        .when(a["file_id"] > b["file_id"], 1)
                        .otherwise(0),
                    ),
                    lambda s: s["file_id"].cast("string"),
                ),
                ",",
            ).alias("files"),
            ((F.count(F.lit(1)) > 1) | (F.max("sz") < F.lit(target))).alias("compact"),
        )
        .orderBy("bin")
    )
