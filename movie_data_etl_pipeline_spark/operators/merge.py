"""Upsert / merge operators (SURVEY.md §2.6 O8/O9) — the reference's
idempotency contract ("safe to rerun", ``/root/reference/README.md:81``)
re-expressed for an immutable columnar store.

Reference semantics:

* **update-on-conflict** (O8): ``INSERT .. ON CONFLICT (key) DO UPDATE``
  for genres/movies/actors/movie_actor
  (``/root/reference/02_etl.py:37-42,84-101,158-166,189-196``). The
  movies variant deliberately EXCLUDES ``runtime_minutes`` from the
  update list (``02_etl.py:92-100``) so a previously backfilled value
  survives re-ingest — the "preserve columns" option below.
* **insert-if-absent** (O9): ``ON CONFLICT DO NOTHING`` for the
  movie_genre junction (``02_etl.py:123-128``).

Spark has no in-place mutation on plain Parquet, so both become
anti-join / outer-join set algebra producing the *new table state*; on a
MERGE-capable backend (Delta/Iceberg) the same call sites would emit
``MERGE INTO`` — the operator is kept backend-agnostic by returning a
DataFrame and leaving the write to the caller.

Scale posture: one shuffle on the key for the join; with the target
partitioned by key range, a real deployment rewrites only partitions that
contain incoming keys (partition-scoped read-modify-write) instead of the
whole table. ``upsert`` assumes ``updates`` is itself key-unique —
dedup first (``dedup.dedup_last_wins``) if the batch may carry dupes,
exactly as the reference dedups before loading (``02_etl.py:260``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    preserve_cols: Sequence[str] = (),
) -> DataFrame:
    """New table state: rows from ``updates`` replace same-key rows in
    ``target``; unmatched target rows pass through; unmatched update rows
    are inserts.

    ``preserve_cols`` reproduces the ``runtime_minutes`` trap
    (``02_etl.py:92-100``): for those columns the OLD value wins when it
    is non-null (``coalesce(old, new)``); all other non-key columns take
    the incoming value.

    Without ``preserve_cols`` this is the cheap plan — union + left-anti,
    a single hash join keyed on ``key_cols``. With them, matched rows
    need both sides' values, so a full-outer join computes per-column
    coalesce.
    """
    keys = list(key_cols)
    if not preserve_cols:
        return updates.unionByName(target.join(updates, keys, "left_anti"))

    preserve = set(preserve_cols)
    t = target.alias("t")
    u = updates.alias("u")
    merged = t.join(u, keys, "full_outer")
    out_cols = []
    for name in target.columns:
        if name in keys:
            # full_outer on key list coalesces join keys automatically
            out_cols.append(F.col(name))
        elif name in preserve:
            out_cols.append(F.coalesce(F.col(f"t.{name}"), F.col(f"u.{name}")).alias(name))
        else:
            # incoming wins when the key matched; old value only for
            # target-only rows (updates side entirely null). Keys are
            # NOT NULL in every reference table, so a null updates-side
            # key means "no match".
            out_cols.append(
                F.when(F.col(f"u.{keys[0]}").isNotNull(), F.col(f"u.{name}"))
                .otherwise(F.col(f"t.{name}"))
                .alias(name)
            )
    return merged.select(*out_cols)


def upsert_evolve(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    preserve_cols: Sequence[str] = (),
) -> DataFrame:
    """Schema-evolving upsert: Delta-style ``MERGE .. WITH SCHEMA
    EVOLUTION`` semantics on top of :func:`upsert`.

    The result carries the UNION schema (target columns first, then
    columns only the batch has). Columns the batch no longer sends
    keep their old target value on matched rows (they join O8's
    ``preserve_cols``, because the widened batch carries NULL there by
    construction); columns the batch introduces read NULL on rows the
    batch didn't touch. Types for widened columns come from the side
    that has them, so the evolution is lossless. ``preserve_cols`` are
    kept old-wins as in :func:`upsert`. A batch missing a key column
    raises ``ValueError``.

    Same scale posture as :func:`upsert` — the widening is pure
    projection (no extra shuffle or scan)."""
    keys = list(key_cols)
    new_cols = [c for c in updates.columns if c not in target.columns]
    stale_cols = [
        c for c in target.columns if c not in updates.columns and c not in keys
    ]
    missing = [c for c in keys if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing key columns: {missing}")
    for c in new_cols:
        target = target.withColumn(c, F.lit(None).cast(updates.schema[c].dataType))
    for c in stale_cols:
        updates = updates.withColumn(c, F.lit(None).cast(target.schema[c].dataType))
    updates = updates.select(*target.columns)
    return upsert(target, updates, keys, preserve_cols=[*preserve_cols, *stale_cols])


def merge_conditional(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    when_matched_update: str | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: str | None = None,
) -> DataFrame:
    """Full ANSI-style conditional MERGE as set algebra: clause
    conditions are SQL boolean expressions over the aliases ``t``
    (target row) and ``u`` (batch row), evaluated on the joined
    relation.

    Clause semantics (first match wins, like MERGE):

    * matched and ``when_matched_update`` → the batch row replaces
      the target row;
    * matched and (not update but) ``when_matched_delete`` → the key
      is removed;
    * matched and neither → the target row survives unchanged;
    * unmatched batch row and ``when_not_matched_insert`` → insert;
      (``None`` for a condition means the clause never fires; pass
      ``"true"`` for an unconditional clause)
    * unmatched target row → passes through.

    One full-outer join on the keys — the same single-shuffle shape
    as :func:`upsert`; on Delta/Iceberg the identical call site emits
    ``MERGE INTO`` with the same clause list."""
    keys = list(key_cols)
    t = target.alias("t")
    u = updates.alias("u")
    joined = t.join(u, keys, "full_outer")
    matched = F.col(f"u.{keys[0]}").isNotNull() & F.col(f"t.{keys[0]}").isNotNull()
    t_only = F.col(f"u.{keys[0]}").isNull()
    u_only = F.col(f"t.{keys[0]}").isNull()
    # ANSI MERGE fires a clause only when its condition is TRUE; a NULL
    # (three-valued "unknown", e.g. a comparison over a NULL column) must
    # behave like FALSE, so coalesce each condition — otherwise a NULL
    # would poison both take_u and take_t below and silently DROP the row.
    def _cond(expr_str: str | None):
        if not expr_str:
            return F.lit(False)
        return F.coalesce(F.expr(expr_str), F.lit(False))

    upd = _cond(when_matched_update)
    dele = _cond(when_matched_delete)
    ins = _cond(when_not_matched_insert)
    take_u = (matched & upd) | (u_only & ins)
    take_t = (matched & ~upd & ~dele) | t_only
    out_cols = []
    for name in target.columns:
        if name in keys:
            out_cols.append(F.col(name))
        else:
            out_cols.append(
                F.when(take_u, F.col(f"u.{name}"))
                .otherwise(F.col(f"t.{name}"))
                .alias(name)
            )
    return joined.filter(take_u | take_t).select(*out_cols)


def partition_overwrite(
    target: DataFrame,
    updates: DataFrame,
    part_cols: Sequence[str],
) -> DataFrame:
    """Dynamic partition overwrite (Spark's
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` /
    ``INSERT OVERWRITE`` semantics, expressed as set algebra so the
    caller can target any sink): every partition value present in
    ``updates`` is replaced WHOLESALE by the batch's rows for it —
    target rows in those partitions that the batch no longer carries
    are dropped — while partitions the batch doesn't mention pass
    through untouched.

    This is the restatement/backfill primitive :func:`upsert` cannot
    express (key-level upsert never deletes). Scale: one anti-join of
    the target against the batch's DISTINCT partition list — a
    metadata-sized broadcast; on a partitioned sink the same call
    site rewrites only the named partitions."""
    keys = list(part_cols)
    missing = [c for c in keys if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing partition columns: {missing}")
    lacking = [c for c in target.columns if c not in updates.columns]
    if lacking:
        raise ValueError(f"updates missing target columns: {lacking}")
    extra = [c for c in updates.columns if c not in target.columns]
    if extra:
        raise ValueError(
            f"updates carry columns absent from target (would be silently dropped): {extra}"
        )
    parts = updates.select(*keys).distinct()
    return updates.select(*target.columns).unionByName(
        target.join(F.broadcast(parts), keys, "left_anti")
    )


def scd2_apply(
    current: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    effective,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: the history-preserving
    generalization of the reference's update-on-conflict upsert
    (``/root/reference/02_etl.py:84-101``) — instead of overwriting the
    matched row, the open version (``to_col`` IS NULL) is *closed* at
    ``effective`` and a new open version is appended.

    Change detection makes the operator idempotent (the reference's
    "safe to rerun" contract, ``README.md:81``): a change row whose
    ``tracked_cols`` are null-safe-equal to the current open version is
    a no-op, so replaying the same batch yields a fixed point instead of
    stacking duplicate versions.

    ``changes`` carries ``key_cols + tracked_cols``; ``effective`` is a
    Column (or literal) stamped as the new ``from_col`` / old ``to_col``.
    Keys absent from ``current`` become inserts (open version only).

    Scale posture: one shuffle on the key joins changes against only the
    *open* slice of the dimension; closed history rows stream through
    untouched (on a partitioned table: only the open partition is
    rewritten). The changes side is typically CDC-sized — broadcast.
    """
    keys = list(key_cols)
    eff = effective if not isinstance(effective, str) else F.lit(effective)
    open_rows = current.filter(F.col(to_col).isNull())
    closed_rows = current.filter(F.col(to_col).isNotNull())

    cmp = changes.select(*keys, *tracked_cols)
    j = cmp.alias("c").join(open_rows.alias("o"), keys, "left")
    same = F.lit(True)
    for t in tracked_cols:
        same = same & F.col(f"c.{t}").eqNullSafe(F.col(f"o.{t}"))
    # real change: no open version yet, or any tracked value differs
    changed = j.filter(F.col(f"o.{from_col}").isNull() | ~same).select("c.*")

    changed_keys = changed.select(*keys)
    to_close = open_rows.join(changed_keys, keys, "left_semi").withColumn(to_col, eff)
    untouched = open_rows.join(changed_keys, keys, "left_anti")
    new_open = changed.withColumn(from_col, eff).withColumn(
        to_col, F.lit(None).cast(open_rows.schema[to_col].dataType)
    )
    cols = current.columns
    return (
        closed_rows.select(cols)
        .unionByName(to_close.select(cols))
        .unionByName(untouched.select(cols))
        .unionByName(new_open.select(cols))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per
    changed key with ``op`` ∈ {'insert', 'delete', 'update'}.

    This is the *inverse* of the reference's upsert family — where
    ``ON CONFLICT`` (``/root/reference/02_etl.py:84-101``) applies a
    change set, ``snapshot_diff`` recovers the change set from before/
    after states, which is how an immutable-parquet pipeline feeds
    downstream incremental consumers (the reference gets this for free
    from Postgres triggers/WAL; here it is an explicit operator).

    Comparison is null-safe per column (``eqNullSafe``): NULL→value and
    value→NULL both count as updates. Unchanged keys are dropped. Output
    carries the coalesced key plus ``old_<c>`` / ``new_<c>`` for every
    compared column.

    Scale posture: a single full-outer hash join on the key; with both
    snapshots partitioned/bucketed the same way this is co-located and
    shuffle-free. Presence is detected via constant marker columns, not
    key-null checks, so it also works for nullable keys.
    """
    keys = list(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    cmp = list(compare_cols)

    o = old.select(*keys, *cmp).withColumn("_old_present", F.lit(1)).alias("o")
    n = new.select(*keys, *cmp).withColumn("_new_present", F.lit(1)).alias("n")
    j = o.join(n, keys, "full_outer")

    differs = F.lit(False)
    for c in cmp:
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    op = (
        F.when(F.col("o._old_present").isNull(), F.lit("insert"))
        .when(F.col("n._new_present").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    out = [F.col(k) for k in keys] + [op.alias("op")]
    for c in cmp:
        out.append(F.col(f"o.{c}").alias(f"old_{c}"))
        out.append(F.col(f"n.{c}").alias(f"new_{c}"))
    return j.select(*out).filter(F.col("op").isNotNull())


def insert_if_absent(
    target: DataFrame, incoming: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """ON CONFLICT DO NOTHING (``02_etl.py:123-128``): append only rows
    whose key is not already present; existing rows untouched. Incoming
    is also self-deduped on the key (first occurrence by all-column
    order) so a batch with internal dupes stays key-unique — matching
    the junction PK the reference relies on
    (``/root/reference/sql/01_schema.sql:45``)."""
    keys = list(key_cols)
    fresh = incoming.dropDuplicates(keys).join(target, keys, "left_anti")
    return target.unionByName(fresh)


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """CDC apply (the ``APPLY CHANGES INTO`` shape): collapse a
    change-feed batch to its NET effect per key, then apply in one pass —
    the reference's ON CONFLICT upsert (``02_etl.py:84-101``) extended
    with ordered out-of-order arrival and deletes.

    Semantics: for every key the change with the highest ``seq_col``
    wins (ties broken by arrival order are refused — use a total
    sequence); if the winner's ``op_col`` equals ``delete_op`` the key is
    removed, otherwise its payload replaces/creates the target row.
    Earlier changes for the same key are absorbed BEFORE touching the
    target — a batch containing insert→update→delete for one key nets to
    a delete, exactly once.

    Plan: one window over the changes (last-wins), one left-anti join to
    drop every touched key from the target, one union — the target is
    scanned once regardless of how many changes a key received. Pairs
    with ``cow.VersionedCowTable`` for bucket-pruned physical
    application.
    """
    from movie_data_etl_pipeline_spark.operators.dedup import dedup_last_wins

    latest = dedup_last_wins(changes, key_cols, [F.desc(seq_col)])
    payload_cols = [c for c in changes.columns if c not in (seq_col, op_col)]
    upserts = latest.filter(F.col(op_col) != delete_op).select(*payload_cols)
    touched = latest.select(*key_cols)
    kept = target.join(touched, list(key_cols), "left_anti")
    return kept.select(*payload_cols).unionByName(upserts)
