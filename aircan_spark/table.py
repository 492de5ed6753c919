"""Parquet-backed managed tables with versioned snapshots.

The reference's "warehouse" is BigQuery/Postgres; here it is a directory of
Parquet per table, with lightweight snapshot versioning so overwrite/upsert
never read-and-clobber the files they are scanning:

    warehouse/<name>/
        _VERSION        # text file: current snapshot number
        v1/  part-*.parquet
        v2/  ...

Reads resolve ``_VERSION`` and scan one snapshot directory. Rewriting
operations (overwrite, upsert) write snapshot N+1 and then flip the pointer
— a poor-man's atomic commit that also works on object stores (single-key
put). Appends write additional files INTO the current snapshot (no rewrite,
no shuffle) and rely on ``mergeSchema`` at read time for additive schema
evolution (reference: ALLOW_FIELD_ADDITION, warehouse.py:106-115,154-172).

At 100 TB scale the upsert rewrite should touch only affected partitions;
``bucket_by`` hash-partitions the table directory layout by key so a future
partial-rewrite can prune untouched buckets. (Production deployments would
use Delta/Iceberg for this; the mechanism here keeps the engine dependency
-free while preserving the semantics.)

Reference analogs: table lifecycle D1/D2/D7 (warehouse.py:61-69,138-151,
445-456), loads K2/K3 (warehouse.py:73-135,300-359), upsert J1
(warehouse.py:430-491).

Concurrency contract (the reference gets this from BigQuery job atomicity,
warehouse.py:430-491; this engine states it explicitly): ONE writer per
table at a time is the supported mode. Rewriting operations practice
optimistic concurrency — each records the snapshot version it started
from and re-checks it at the pointer flip; a concurrent commit in between
raises ``ConcurrentWriteError`` instead of silently clobbering the other
writer's snapshot (first committer wins). The check-then-flip window is
microseconds but not zero, and appends (which add files into the CURRENT
snapshot without a version flip) concurrent with a rewrite can land in
the about-to-be-superseded snapshot — serializing concurrent writers for
real requires a transactional catalog (Delta/Iceberg), which is exactly
what a production deployment would swap in here.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aircan_spark import ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN
from aircan_spark import upsert as upsert_mod

_VERSION_FILE = "_VERSION"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a snapshot between this operation's read
    and its commit — the rewrite is based on stale data (see the module
    concurrency contract)."""


class ParquetTable:
    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.warehouse = warehouse
        self.name = name
        self.path = os.path.join(warehouse, name)
        # r13 (guide §1.2 fixed costs): snapshot-keyed read-plan memo.
        # Every ``read()`` previously re-ran mergeSchema footer inference
        # (a distributed job + driver listing) even when the snapshot had
        # not moved — an upsert alone reads the same snapshot twice
        # (_align_types + merge target). A DataFrame is an immutable lazy
        # plan, so caching it caches table METADATA only (the catalog
        # analog, same argument as data.load_table's session cache);
        # every execution still reads the parquet bytes. Keyed on
        # (version, snapshot-dir mtime_ns): a version flip misses, and
        # append() clears the memo itself, so read-after-append on the
        # same object never depends on the dir mtime ticking. The mtime
        # still catches appends made through another table object.
        self._read_cache: dict[tuple, DataFrame] = {}

    # ---- snapshot plumbing -------------------------------------------------
    def _version_path(self) -> str:
        return os.path.join(self.path, _VERSION_FILE)

    def current_version(self) -> int:
        try:
            with open(self._version_path()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def exists(self) -> bool:
        return self.current_version() > 0

    def snapshot_dir(self, version: int | None = None) -> str:
        v = version if version is not None else self.current_version()
        return os.path.join(self.path, f"v{v}")

    def _commit(
        self,
        version: int,
        keep_snapshots: int = 2,
        expected_base: int | None = None,
    ) -> None:
        os.makedirs(self.path, exist_ok=True)
        if expected_base is not None:
            now = self.current_version()
            if now != expected_base:
                raise ConcurrentWriteError(
                    f"table {self.name}: version moved {expected_base} -> "
                    f"{now} during this rewrite; refusing to clobber the "
                    f"concurrent commit (retry on the new snapshot)"
                )
        tmp = self._version_path() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._version_path())
        # GC old snapshots beyond the retention window (shared with
        # vacuum so the retention predicate can never drift between the
        # commit path and explicit maintenance).
        self._gc_snapshots(version, keep_snapshots)

    def _gc_snapshots(self, newest: int, keep_snapshots: int) -> int:
        """Remove snapshot dirs with version <= newest - keep_snapshots.
        Returns the count of dirs that actually DISAPPEARED (not
        attempts): callers auditing retirement (GDPR delete flows) must
        not be told a snapshot is gone while an EACCES/busy file keeps
        its data readable on disk."""
        removed = 0
        for entry in os.listdir(self.path) if os.path.isdir(self.path) else []:
            if entry.startswith("v") and entry[1:].isdigit():
                if int(entry[1:]) <= newest - keep_snapshots:
                    target = os.path.join(self.path, entry)
                    shutil.rmtree(target, ignore_errors=True)
                    if not os.path.isdir(target):
                        removed += 1
        return removed

    def vacuum(self, keep_snapshots: int = 1) -> int:
        """Retire snapshot versions older than the newest
        ``keep_snapshots`` (default: current only). The normal retention
        window (``_commit`` keep_snapshots=2) holds the previous version
        for time-travel/diff; call this when the history is known dead —
        e.g. a rewrite-style delete whose pre-delete snapshot must not
        linger (GDPR), or a scratch warehouse a harness will re-read
        lazily (only the CURRENT version's files back ``read()``).
        Returns the number of snapshot dirs actually removed."""
        return self._gc_snapshots(self.current_version(), max(keep_snapshots, 1))

    # ---- reads ---------------------------------------------------------------
    def read(self) -> DataFrame:
        if not self.exists():
            raise FileNotFoundError(f"table {self.name} does not exist at {self.path}")
        snap = self.snapshot_dir()
        try:
            key = (self.current_version(), os.stat(snap).st_mtime_ns)
        except OSError:
            key = None  # non-stat-able path: no cheap stamp, no memo
        if key is not None and key in self._read_cache:
            return self._read_cache[key]
        # mergeSchema: appended files may carry additive columns (D3).
        df = self.spark.read.option("mergeSchema", "true").parquet(snap)
        if key is not None:
            self._read_cache.clear()  # one live snapshot per table object
            self._read_cache[key] = df
        return df

    @property
    def columns(self) -> list[str]:
        return self.read().columns

    def max_id(self, column: str = ROW_NUMBER_COLUMN) -> int:
        """COALESCE(MAX(_id), 0) — next-row-number start (reference A1,
        warehouse.py:13-31). Column-pruned scan: only `_id` pages read."""
        if not self.exists():
            return 0
        row = self.read().agg(F.coalesce(F.max(column), F.lit(0)).alias("m")).collect()[0]
        return int(row["m"])

    # ---- writes ----------------------------------------------------------------
    def overwrite(self, df: DataFrame) -> None:
        """WRITE_TRUNCATE analog (reference K2): new snapshot, flip pointer."""
        base = self.current_version()
        v = base + 1
        df.write.mode("overwrite").parquet(self.snapshot_dir(v))
        self._commit(v, expected_base=base)

    def delete(self, keys_df: DataFrame, keys: list[str]) -> int:
        """Targeted key delete (GDPR): rewrite the snapshot without rows
        whose key tuple appears in ``keys_df`` (LEFT ANTI), committed as
        a new version — the previous snapshot stays readable until the
        retention window retires it, and ``_id`` numbering is unaffected
        (MAX over survivors can only shrink; inserts still number above
        any historical max via the snapshot's own MAX+1). This is the
        full-rewrite form; ``BucketedParquetTable.delete`` is the
        bucket-pruned 100 TB path. Returns rows deleted."""
        current = self.read()
        n_before = current.count()
        remaining = current.join(
            keys_df.select(*keys).distinct(), on=keys, how="left_anti"
        )
        self.overwrite(remaining)
        return n_before - self.read().count()

    def _align_types(self, df: DataFrame) -> DataFrame:
        """Cast columns shared with the table to the table's types — the
        coercion a warehouse load job performs implicitly (reference:
        schema applied at load, warehouse.py:99-110). New columns pass
        through untouched (additive evolution)."""
        existing = {f.name: f.dataType for f in self.read().schema.fields}
        cols = []
        changed = False
        for f in df.schema.fields:
            want = existing.get(f.name)
            if want is not None and want != f.dataType:
                cols.append(df[f.name].cast(want).alias(f.name))
                changed = True
            else:
                cols.append(df[f.name])
        return df.select(*cols) if changed else df

    def append(self, df: DataFrame) -> None:
        """WRITE_APPEND with additive schema evolution (reference K3/D3).

        Physical file append into the current snapshot — zero rewrite of
        existing data, scales regardless of table size.
        """
        if not self.exists():
            self.overwrite(df)
            return
        self._align_types(df).write.mode("append").parquet(self.snapshot_dir())
        # the version did not move: drop the memo rather than trust the
        # snapshot dir's mtime to tick for the files just added
        self._read_cache.clear()

    def create_empty_like(self, df: DataFrame) -> None:
        """Schema-only clone: CREATE TABLE .. AS SELECT .. WHERE 1=0
        (reference D2/F3, warehouse.py:138-151)."""
        if not self.exists():
            self.overwrite(df.limit(0))

    def upsert(
        self,
        stage: DataFrame,
        keys: list[str],
        *,
        preserve_columns: tuple[str, ...] = (),
        job_ts: dt.datetime | None = None,
    ) -> None:
        """MERGE the stage into this table (reference J1 flow,
        warehouse.py:430-491): auto-create from stage schema when absent,
        dedup + join-merge, rewrite as a new snapshot."""
        if not self.exists():
            self.create_empty_like(stage)
        else:
            stage = self._align_types(stage)
        # base captured BEFORE the read: the merge plan scans this exact
        # snapshot, so the commit check detects any version moved since
        base = self.current_version()
        held: list[DataFrame] = []  # merge's deduped-stage persist (r13)
        v = base + 1
        try:
            merged = upsert_mod.merge(
                self.read(),
                stage,
                keys,
                preserve_columns=preserve_columns,
                job_ts=job_ts,
                persists=held,
            )
            merged.write.mode("overwrite").parquet(self.snapshot_dir(v))
        finally:  # a failed merge or write must not leak the stage pin
            for f in held:
                f.unpersist(blocking=False)
        self._commit(v, expected_base=base)

    def backfill_updated_at(
        self, job_ts: dt.datetime, column: str = UPDATED_AT_COLUMN
    ) -> None:
        """UPDATE t SET _updated_at=@ts WHERE _updated_at IS NULL
        (reference F1, warehouse.py:337-357) as a coalesce projection."""
        base = self.current_version()
        df = self.read()
        if column not in df.columns:
            df = df.withColumn(column, F.lit(job_ts))
        else:
            df = df.withColumn(column, F.coalesce(F.col(column), F.lit(job_ts)))
        v = base + 1
        df.write.mode("overwrite").parquet(self.snapshot_dir(v))
        self._commit(v, expected_base=base)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def ensure_warehouse(path: str) -> str:
    """CREATE DATABASE IF NOT EXISTS analog (reference D1)."""
    os.makedirs(path, exist_ok=True)
    return path
