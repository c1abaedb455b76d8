"""Streaming ingest operators (north-star extension, SURVEY.md §2.9):
exactly-once-flavored dedup and incremental upsert for a continuously
arriving stream — the streaming rendering of the reference's idempotent
load contract ("safe to rerun", ``/root/reference/README.md:81``;
ON CONFLICT upserts, ``/root/reference/02_etl.py:84-101,123-128``).

Scale posture:
* ``streaming_dedup`` uses ``dropDuplicatesWithinWatermark`` — dedup
  state is evicted once the watermark passes an event, so state is
  bounded by (watermark horizon × arrival rate), not by stream history.
  An unbounded ``dropDuplicates`` on a stream would grow state forever;
  at 100 TB/day that distinction IS the operator.
* ``start_upsert_sink`` applies the batch ``merge.upsert`` per
  micro-batch via ``foreachBatch``. Re-delivered batches (at-least-once
  sources, restarts) converge to the same table state because upsert is
  idempotent on the key — the same fixed-point property
  ``test_merge.py`` pins for the batch operator. It runs in update
  output mode, so it also takes a stateful aggregation's changed rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.operators import merge
from movie_data_etl_pipeline_spark.operators.dedup import dedup_last_wins


def streaming_dedup(
    stream: DataFrame,
    key_cols: Sequence[str] = ("event_id",),
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Emit each key once: duplicates arriving within the watermark
    horizon of the first occurrence are dropped, and the key's dedup
    state is evicted once the watermark passes it (late re-deliveries
    beyond the horizon are the documented at-least-once residue — the
    bounded-state trade every streaming dedup makes)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def start_upsert_sink(
    stream: DataFrame,
    target_path: str,
    key_cols: Sequence[str],
    order_col: str,
    checkpoint_dir: str,
):
    """Continuous upsert into a parquet target: per micro-batch, dedup
    the batch last-wins on ``order_col`` (a batch can carry several
    versions of one key), read the current target, ``merge.upsert``, and
    atomically swap via overwrite. Returns the started StreamingQuery.
    A batch that cannot merge into the existing target (e.g. a narrower
    schema) fails the query and leaves the target as it was.

    On a transactional table format (Delta/Iceberg) the body becomes a
    single ``MERGE INTO``; the read-modify-write here is the plain-
    parquet rendering, kept partition-scoped at scale (write only the
    partitions a batch touches — the same note as ``merge.upsert``)."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        latest = dedup_last_wins(batch, keys, [F.desc(order_col)])
        try:
            target = spark.read.parquet(target_path)
        except AnalysisException:  # first batch: target does not exist yet
            new_state = latest
        else:
            new_state = merge.upsert(target, latest, keys)
        # materialize before overwriting the path being read
        new_state.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            target_path
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def start_cdc_sink(
    stream: DataFrame,
    target_path: str,
    key_cols: Sequence[str],
    seq_col: str,
    checkpoint_dir: str,
    op_col: str = "op",
    delete_op: str = "D",
):
    """Continuous CDC apply (the streaming form of
    ``merge.apply_changes``): per micro-batch, collapse the batch to
    its net effect per key (highest ``seq_col`` wins), drop changes
    STALER than what the target already holds, and apply — with
    deletes retained as TOMBSTONE rows (``op_col = delete_op``) so a
    late redelivery of a pre-delete update cannot resurrect the key
    across batch boundaries (the failure mode a naive
    delete-means-remove sink has; real CDC sinks keep tombstones and
    let compaction reap them later — see ``layout.compaction_plan``).

    The target therefore stores payload + ``seq_col`` + ``op_col``;
    readers filter ``op_col != delete_op``. Replaying any suffix of
    the stream (at-least-once redelivery, restart from an older
    checkpoint) converges to the same state because every change is
    guarded by its sequence number — the streaming rendering of the
    reference's "safe to rerun" contract. Per batch: one window over
    the batch, one key-equi join against the target, one anti-join —
    the target is scanned once per micro-batch, partition-scoped on a
    real deployment."""
    spark = stream.sparkSession
    keys = list(key_cols)

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        # op_col is the deterministic tiebreaker dedup_last_wins requires:
        # two same-key changes carrying an equal seq within one batch
        # resolve to the op that sorts last ("U" beats "D"), so replays
        # pick the same winner every time.
        latest = dedup_last_wins(batch, keys, [F.desc(seq_col), F.desc(op_col)])
        try:
            target = spark.read.parquet(target_path)
        except AnalysisException:  # first batch: no target yet
            target = None
        if target is not None:
            tseq = target.select(*keys, F.col(seq_col).alias("__tseq"))
            latest = (
                latest.join(tseq, keys, "left")
                .filter(
                    F.col("__tseq").isNull() | (F.col(seq_col) >= F.col("__tseq"))
                )
                .drop("__tseq")
            )
            kept = target.join(latest.select(*keys), keys, "left_anti")
            new_state = kept.unionByName(latest.select(*target.columns))
        else:
            new_state = latest
        new_state.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            target_path
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_cdc_state(spark, target_path: str, seq_col: str, op_col: str = "op",
                   delete_op: str = "D") -> DataFrame:
    """Reader view of a ``start_cdc_sink`` target: live rows only
    (tombstones filtered), bookkeeping columns dropped."""
    return (
        spark.read.parquet(target_path)
        .filter(F.col(op_col) != delete_op)
        .drop(op_col, seq_col)
    )


def start_versioned_upsert_sink(
    stream: DataFrame,
    table,
    order_col: str,
    checkpoint_dir: str,
):
    """Continuous upsert into a ``cow.VersionedCowTable``: each
    micro-batch is deduped last-wins on ``order_col`` and committed as
    ONE new snapshot that rewrites only the buckets the batch touches.

    This is the streaming/table-format integration the plain-parquet
    sink above cannot give: batch readers resolve a manifest once and
    keep a consistent point-in-time view for as long as they run —
    the streaming writer's atomic pointer swap never makes them see a
    half-applied micro-batch — and replayed batches converge to the
    same table STATE (upsert idempotency) while each commit remains an
    auditable version. At 100 TB the per-batch write cost is the
    touched buckets, not the table (the pruning argument of
    ``operators/cow``, now per micro-batch)."""
    keys = list(table.key_cols)

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        table.upsert(
            batch.sparkSession, dedup_last_wins(batch, keys, [F.desc(order_col)])
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
