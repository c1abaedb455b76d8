"""Bucketed copy-on-write table: partition-pruned MERGE for plain
Parquet, with snapshot isolation and time travel.

The reference's ``INSERT .. ON CONFLICT`` (``02_etl.py:84-101,123-128``)
mutates rows in place; ``operators/merge`` re-expresses the semantics as
set algebra but leaves the WRITE to the caller — and a naive caller
rewrites the WHOLE target per batch, which is O(target) and unusable at
100 TB. Table formats (Delta, Iceberg, Hudi) fix this with file-level
pruning inside ``MERGE INTO``: only files containing matched keys are
rewritten. ``VersionedCowTable`` provides the same asymptotics with
nothing but Spark + Parquet:

* every row carries ``_bucket = pmod(xxhash64(key), n_buckets)`` — a
  deterministic, key-functional partitioning;
* an incoming batch touches at most ``min(|batch|, n_buckets)``
  buckets; the merge READS only those bucket directories and WRITES
  only those, under a fresh version directory;
* untouched bucket directories are never opened, never rewritten:
  cost is O(touched fraction of target), exactly like a format MERGE;
* every commit evaluates its input exactly ONCE and learns the touched
  bucket set from that same job (a ``collect_set`` observation riding
  on it), so the manifest names exactly the bucket directories the
  commit wrote — consistent by construction, even when the input is
  nondeterministic or its source changes between two scans.

Trade-offs vs a real table format, stated honestly: there is no
multi-writer coordination, and the batch must be small relative to the
bucket count for pruning to pay.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from movie_data_etl_pipeline_spark.operators import merge as M

BUCKET_COL = "_bucket"
MANIFEST_PREFIX = "manifest-v"
LATEST_POINTER = "_latest"
DIR_COL = "_bucket_dir"


def bucket_of(key_cols: Sequence[str], n_buckets: int):
    """Deterministic bucket id for a key tuple: pmod(xxhash64(keys), n).
    xxhash64 is a JVM built-in (no Python), seed-stable across runs, so
    the SAME key always lands in the SAME directory — the invariant the
    pruned merge relies on."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )


def _buckets_in(df: DataFrame) -> list[int]:
    """Sorted distinct bucket ids of ``df`` — a driver-side collect
    BOUNDED by ``n_buckets`` ints (not by data size), the same class of
    driver fetch as a partition-pruning predicate. It runs ``df`` as a
    job of its own, so it only probes what a commit will NOT write (the
    predicate of :meth:`VersionedCowTable.delete_where`); the bucket set
    of written rows comes from :func:`_observe_buckets` on the write's
    own evaluation, never from a second one."""
    return sorted(r[0] for r in df.select(BUCKET_COL).distinct().collect())


def _observe_buckets(df: DataFrame):
    """``df`` with a ``collect_set(_bucket)`` observation attached, and a
    callable returning its sorted bucket ids once ``df`` has run (a
    ``localCheckpoint`` or a write). The set is gathered by the same job
    that materializes the rows — at most ``n_buckets`` ints, the same
    bound as :func:`_buckets_in` — and a task attempt merged twice adds
    nothing to a set."""
    obs = Observation()
    observed = df.observe(obs, F.collect_set(BUCKET_COL).alias(BUCKET_COL))
    return observed, lambda: sorted(obs.get[BUCKET_COL])


class VersionedCowTable:
    """A Parquet table hash-bucketed by key, with the two properties a
    real table format adds on top of pruned copy-on-write: SNAPSHOT
    ISOLATION and TIME TRAVEL — implemented the way Iceberg does, scaled
    down: data files are immutable once written, each commit writes
    ONLY the touched buckets under a fresh ``v<N>/`` directory, and a
    tiny JSON manifest maps every bucket to the version directory
    currently holding it. Readers resolve a manifest once and then read
    only immutable paths, so a concurrent commit can never show them a
    half-rewritten bucket; old manifests keep working forever, giving
    point-in-time reads for free.

    Commit protocol (crash-safe without any lock, single-writer):
    write new bucket dirs → write ``manifest-v<N>.json`` → atomically
    swap the ``_latest`` pointer (write-temp + ``os.replace``). A crash
    before the swap leaves orphan files but the table logically
    unchanged.

    The bucket id is stored as a REGULAR column (``_bucket``) inside
    the files — version dirs are selected manifest-side, so reads list
    exactly the wanted directories and need no ``basePath`` partition
    discovery; the duplicated ``_bucket_dir`` partition column exists
    only to fan the write out into one directory per bucket.
    """

    def __init__(self, path: str, key_cols: Sequence[str], n_buckets: int = 64):
        self.path = path
        self.key_cols = list(key_cols)
        self.n_buckets = int(n_buckets)

    # ------------------------------------------------------ manifest

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"{MANIFEST_PREFIX}{version:05d}.json")

    def latest_version(self) -> int:
        with open(os.path.join(self.path, LATEST_POINTER)) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _commit(
        self,
        buckets_to_ver: dict[int, int],
        version: int,
        schema_json: str,
        publish: bool = True,
    ) -> None:
        """Write ``manifest-v<version>.json``; with ``publish`` also swap
        the head pointer to it. The manifest records the snapshot's
        logical schema, so a read can span bucket dirs written before a
        column was added (missing columns surface as NULL) —
        Iceberg-style additive evolution. Without ``publish`` the
        snapshot is STAGED: readable via ``read(version=...)``,
        invisible to readers of the committed head until
        :meth:`publish`."""
        m = {
            "version": version,
            "buckets": {str(b): v for b, v in buckets_to_ver.items()},
            "schema": schema_json,
        }
        with open(self._manifest_path(version), "w") as f:
            json.dump(m, f)
        if publish:
            self._publish_pointer(version)

    def _publish_pointer(self, version: int) -> None:
        tmp = os.path.join(self.path, f".{LATEST_POINTER}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self.path, LATEST_POINTER))  # atomic swap

    def _bucket_dirs(
        self, manifest: dict, buckets: Sequence[int] | None = None
    ) -> list[str]:
        """Directories holding ``buckets`` (default: every bucket, in
        id order) in the snapshot ``manifest`` describes."""
        held = {int(b): v for b, v in manifest["buckets"].items()}
        return [
            os.path.join(self.path, f"v{held[b]:05d}", f"{DIR_COL}={b}")
            for b in (sorted(held) if buckets is None else buckets)
        ]

    # ------------------------------------------------------------ io

    def _write_version(self, df: DataFrame, version: int) -> None:
        (
            df.withColumn(DIR_COL, F.col(BUCKET_COL))
            .write.mode("errorifexists")  # version dirs are immutable
            .partitionBy(DIR_COL)
            .parquet(os.path.join(self.path, f"v{version:05d}"))
        )

    def init(self, df: DataFrame) -> None:
        os.makedirs(self.path, exist_ok=True)
        with_bucket, written = _observe_buckets(
            df.withColumn(BUCKET_COL, bucket_of(self.key_cols, self.n_buckets))
        )
        self._write_version(with_bucket, 1)
        self._commit({b: 1 for b in written()}, 1, with_bucket.schema.json())

    def _read_raw(
        self, spark: SparkSession, m: dict, buckets: Sequence[int] | None = None
    ) -> DataFrame:
        """Read ``buckets`` (default all) of snapshot ``m`` under its
        logical schema — a dir written before an added column existed
        yields NULLs for it. No buckets reads as an empty slice."""
        schema = StructType.fromJson(json.loads(m["schema"]))
        dirs = self._bucket_dirs(m, buckets)
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*dirs)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Table state at ``version`` (default: latest). The manifest is
        resolved ONCE here; the returned DataFrame only references
        immutable paths, so it stays consistent however long it lives."""
        m = self.manifest(version)
        if not m["buckets"]:
            raise ValueError("empty table")
        return self._read_raw(spark, m).drop(BUCKET_COL)

    # --------------------------------------------------------- merge

    def _next_version(self, committed: int) -> int:
        """First free version number: past the committed head AND past
        any orphan directory a crashed writer left between its data
        write and the pointer swap — a retry must not collide with the
        immutable (errorifexists) orphan."""
        on_disk = [
            int(d[1:])
            for d in os.listdir(self.path)
            if d.startswith("v") and d[1:].isdigit()
        ]
        return max([committed, *on_disk]) + 1

    def _merge(self, spark: SparkSession, batch: DataFrame, combine, publish: bool) -> int:
        """Pruned read-modify-write committed as a new snapshot: read
        ONLY the buckets the batch touches, apply ``combine(current_slice,
        batch)``, and write the result as those buckets' new version.
        Returns the new version (the current one if the batch is empty).

        The batch is evaluated ONCE: one ``localCheckpoint`` job both
        materializes it and observes its bucket set, and the merge reads
        that checkpoint. The touched set and the written rows therefore
        come from the same evaluation, so the manifest can only point at
        bucket directories this commit wrote, and no batch row can land
        outside them — whatever the batch's upstream plan does when run
        again."""
        m = self.manifest()
        new_version = self._next_version(m["version"])
        batch_b, batch_buckets = _observe_buckets(
            batch.withColumn(BUCKET_COL, bucket_of(self.key_cols, self.n_buckets))
        )
        batch_b = batch_b.localCheckpoint()
        touched = batch_buckets()
        if not touched:
            return m["version"]
        buckets = {int(b): v for b, v in m["buckets"].items()}
        # buckets the table does not hold yet read as an empty slice under
        # the manifest schema, so the snapshot keeps every table column
        current = self._read_raw(spark, m, [b for b in touched if b in buckets])
        merged = combine(current, batch_b)
        self._write_version(merged, new_version)
        buckets.update((b, new_version) for b in touched)
        self._commit(buckets, new_version, merged.schema.json(), publish)
        return new_version

    def upsert(
        self,
        spark: SparkSession,
        batch: DataFrame,
        preserve_cols: Sequence[str] = (),
        publish: bool = True,
    ) -> int:
        """O8 semantics at pruned cost, committed as a new snapshot;
        returns the new version number. Schema evolution follows
        ``merge.upsert_evolve``: new batch columns are added (NULL on
        rows the batch did not touch), and a column the batch does not
        carry keeps its current value, like ``preserve_cols``.

        With ``publish=False`` the snapshot is STAGED (data + manifest
        written, head pointer untouched) for a write-audit-publish flow:
        audit via ``read(version=...)``, then :meth:`publish` or
        :meth:`abort_staged`."""
        keys = self.key_cols + [BUCKET_COL]
        return self._merge(
            spark,
            batch,
            lambda cur, bat: M.upsert_evolve(cur, bat, keys, preserve_cols),
            publish,
        )

    def insert_if_absent(self, spark: SparkSession, batch: DataFrame) -> int:
        """O9 semantics (``merge.insert_if_absent``) at pruned cost:
        append only keys not already present; returns the new version."""
        keys = self.key_cols + [BUCKET_COL]
        return self._merge(
            spark, batch, lambda cur, bat: M.insert_if_absent(cur, bat, keys), True
        )

    # -------------------------------------------- write-audit-publish

    def publish(self, version: int) -> None:
        """Atomically promote a STAGED snapshot (``upsert(...,
        publish=False)``) to the committed head — the P of
        write-audit-publish: downstream readers see either the old
        head or the fully-audited new one, never anything between.
        Refuses to move the pointer backwards."""
        if not os.path.exists(self._manifest_path(version)):
            raise ValueError(f"no staged manifest for version {version}")
        if version <= self.latest_version():
            raise ValueError(
                f"version {version} is not ahead of the committed head "
                f"{self.latest_version()}"
            )
        self._publish_pointer(version)

    def abort_staged(self, version: int) -> None:
        """Drop a staged snapshot that failed its audit: remove its
        manifest and version directory. Refuses to touch the committed
        head or any version at or below it (immutable history)."""
        if version <= self.latest_version():
            raise ValueError(
                f"version {version} is committed history; vacuum() is the "
                "only sanctioned remover of committed versions"
            )
        mp = self._manifest_path(version)
        if os.path.exists(mp):
            os.remove(mp)
        vdir = os.path.join(self.path, f"v{version:05d}")
        if os.path.isdir(vdir):
            shutil.rmtree(vdir)

    def delete_where(self, spark: SparkSession, predicate) -> int:
        """Predicate DELETE as copy-on-write (Iceberg CoW delete): find
        the buckets that actually hold matching rows (one pruned scan
        of the predicate column — Parquet min/max pushdown applies),
        rewrite ONLY those buckets minus the matches, commit as a new
        snapshot. Buckets with no matches keep their existing immutable
        files; a predicate matching nothing is a no-op returning the
        current version. ``predicate`` is a Column (or SQL string).

        At 100 TB the rewrite cost is proportional to the buckets the
        predicate touches, not the table — and point-deletes (GDPR
        erasure by key) touch exactly the key's hash bucket."""
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        m = self.manifest()
        if not m["buckets"]:
            return m["version"]
        touched = _buckets_in(self._read_raw(spark, m).where(predicate))
        if not touched:
            return m["version"]
        new_version = self._next_version(m["version"])
        survivors, kept_buckets = _observe_buckets(
            self._read_raw(spark, m, touched).where(
                ~F.coalesce(predicate, F.lit(False))  # NULL predicate = keep
            )
        )
        self._write_version(survivors, new_version)
        buckets = {int(b): v for b, v in m["buckets"].items()}
        kept = set(kept_buckets())
        for b in touched:
            if b in kept:
                buckets[b] = new_version
            else:
                del buckets[b]  # every row deleted: bucket leaves the manifest
        self._commit(buckets, new_version, m["schema"])
        return new_version

    # --------------------------------------------------- maintenance

    def compact(self, spark: SparkSession, buckets: Sequence[int] | None = None) -> int:
        """Small-file compaction: rewrite the selected buckets (default
        all) into ONE file each under a fresh version — data identical,
        file count collapsed. Every upsert commit writes part-files ∝
        the merge's shuffle partitions, so after many small batches a
        bucket is dozens of tiny files and scan open-cost dominates;
        this is the maintenance job (Iceberg ``rewrite_data_files``)
        that restores one-file-per-bucket WITHOUT blocking readers:
        the commit protocol is unchanged, and a concurrent reader keeps
        the manifest it already resolved. Returns the new version."""
        m = self.manifest()
        bucket_map = {int(b): v for b, v in m["buckets"].items()}
        targets = (
            sorted(bucket_map)
            if buckets is None
            else sorted(b for b in set(buckets) if b in bucket_map)
        )
        if not targets:
            return m["version"]
        new_version = self._next_version(m["version"])
        # the files carry _bucket as a regular column; repartitioning on
        # it lands each bucket in exactly one task → one output file per
        # bucket dir after the partitionBy split
        compacted = self._read_raw(spark, m, targets).repartition(
            len(targets), F.col(BUCKET_COL)
        )
        self._write_version(compacted, new_version)
        bucket_map.update((b, new_version) for b in targets)
        self._commit(bucket_map, new_version, m["schema"])
        return new_version

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Expire old snapshots (Iceberg ``expire_snapshots``): retain
        the newest ``keep_last`` COMMITTED manifests, delete older
        manifest files and every version directory no retained manifest
        references — including orphan dirs a crashed writer left. Trades
        time-travel depth for space; the latest committed state is never
        touched. Retention is anchored at ``latest_version()`` (the
        ``_latest`` pointer): manifests ABOVE the committed head are
        open stages from ``upsert(publish=False)`` — they are kept, and
        the version dirs they reference are kept, so a
        write-audit-publish flow in progress survives a concurrent
        vacuum and ``abort_staged`` afterwards cannot strand the table.

        Remaining race window (single-writer assumption): an upsert
        that has written its version DIRECTORY but not yet its staged
        manifest is indistinguishable from a crashed writer's orphan —
        a vacuum running inside that window sweeps the dir and the
        upsert fails at commit. Real table formats close this with a
        grace period (Iceberg's ``older_than``); here vacuum must not
        run concurrently with an in-flight write, which the
        single-writer model this backend documents already requires.
        Returns the removed paths (for audit logging)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        head = self.latest_version()
        versions = sorted(
            int(f[len(MANIFEST_PREFIX) : -len(".json")])
            for f in os.listdir(self.path)
            if f.startswith(MANIFEST_PREFIX) and f.endswith(".json")
        )
        committed = [v for v in versions if v <= head]
        staged = [v for v in versions if v > head]
        retained = committed[-keep_last:] + staged
        referenced: set[int] = set()
        for v in retained:
            referenced.update(int(ver) for ver in self.manifest(v)["buckets"].values())
        removed: list[str] = []
        for v in committed[:-keep_last]:
            p = self._manifest_path(v)
            os.remove(p)
            removed.append(p)
        for d in os.listdir(self.path):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) not in referenced:
                p = os.path.join(self.path, d)
                shutil.rmtree(p)
                removed.append(p)
        return removed

    def changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
        compare_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two committed snapshots (the Delta
        `table_changes` / Iceberg incremental-read surface): one row per
        key whose state differs between ``v_from`` and ``v_to`` (default
        latest), with ``op`` ∈ {'insert','delete','update'} and
        ``old_<c>``/``new_<c>`` values — what an incremental downstream
        consumer replays instead of re-reading the table.

        Composes time travel with ``merge.snapshot_diff``; because both
        snapshots share the hash-bucket layout (``BUCKET_COL`` from the
        same key columns and bucket count across versions), the diff's
        full-outer join co-partitions cleanly. Buckets whose version
        pointer is IDENTICAL in both manifests cannot contain changes
        and are pruned before the join — an O(changed-buckets) read,
        the CoW analogue of reading only new data files."""
        if v_to is None:
            v_to = self.latest_version()
        m_from, m_to = self.manifest(v_from), self.manifest(v_to)
        changed = [
            b
            for b in set(m_from["buckets"]) | set(m_to["buckets"])
            if m_from["buckets"].get(b) != m_to["buckets"].get(b)
        ]
        changed_ids = [int(b) for b in changed]
        old = self.read(spark, version=v_from)
        new = self.read(spark, version=v_to)
        if changed_ids:
            bucket = bucket_of(self.key_cols, self.n_buckets)
            old = old.where(bucket.isin(changed_ids))
            new = new.where(bucket.isin(changed_ids))
        else:  # identical manifests: empty feed without a join
            old = old.limit(0)
            new = new.limit(0)
        return M.snapshot_diff(old, new, self.key_cols, compare_cols)
