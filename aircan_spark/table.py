"""Parquet-backed managed tables with versioned snapshots.

The reference's "warehouse" is BigQuery/Postgres; here it is a directory of
Parquet per table, with lightweight snapshot versioning so overwrite/upsert
never read-and-clobber the files they are scanning:

    warehouse/<name>/
        _VERSION        # JSON commit record: {version, rows, max_id, schema}
        v1/  part-*.parquet
        v2/  ...

``_VERSION`` is the commit record: snapshot number, row count, MAX(_id)
(0 without an ``_id`` column) and schema. Writes count rows and MAX(_id)
in the write job itself (``write_observed``), so ``read()`` (recorded
schema, no footer inference), ``max_id()`` and ``row_count()`` run no
Spark job (reference A1, warehouse.py:13-31). Rewrites (overwrite, upsert,
delete) write snapshot N+1 and publish its record with tmp write +
``os.replace`` — an atomic commit that also works on object stores.
Appends write files INTO the current snapshot (no rewrite, no shuffle) and
republish its record: rows added, max raised, schema widened to the union
(old fields, then new — mergeSchema's order) in place of read-time
``mergeSchema`` (reference ALLOW_FIELD_ADDITION, warehouse.py:106-172).

At 100 TB scale the upsert rewrite should touch only affected partitions;
``BucketedParquetTable`` (bucketed.py) hash-partitions the table by key so
an upsert rewrites only the buckets it touches. (Production deployments
would use Delta/Iceberg for this; the mechanism here keeps the engine
dependency-free while preserving the semantics.)

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
microseconds but not zero. Appends add files into the CURRENT snapshot
and re-check its version when they republish the record; an append
concurrent with a rewrite raises there, but its files have already landed
in the superseded snapshot, and two concurrent appends can lose one's row
count — serializing concurrent writers for real requires a transactional
catalog (Delta/Iceberg), which is exactly what a production deployment
would swap in here.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aircan_spark import ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN
from aircan_spark import upsert as upsert_mod

_VERSION_FILE = "_VERSION"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a snapshot between this operation's read
    and its commit — the rewrite is based on stale data (see the module
    concurrency contract)."""


def write_observed(
    df: DataFrame, write: Callable[[DataFrame], None], **extra: Column
) -> dict[str, int]:
    """Run ``write`` on ``df`` and return the rows it wrote, their
    COALESCE(MAX(_id), 0) (0 without an ``_id`` column) and any ``extra``
    aggregates, all counted by the write job itself. The observation sits
    directly under the writer, above any repartition: placed below a
    shuffle, AQE's empty-relation propagation drops it when the input
    turns out empty, and its metrics never arrive."""
    metrics = {"rows": F.count(F.lit(1)), **extra}
    if ROW_NUMBER_COLUMN in df.columns:
        metrics["max_id"] = F.coalesce(F.max(ROW_NUMBER_COLUMN), F.lit(0))
    obs = Observation()
    write(df.observe(obs, *[c.alias(k) for k, c in metrics.items()]))
    return {"max_id": 0, **{k: int(v) for k, v in obs.get.items()}}


def widen(old: StructType, df: DataFrame) -> tuple[StructType, DataFrame]:
    """The schema of a table of schema ``old`` once ``df`` is written into
    it — old fields first, then ``df``'s new ones — and ``df`` with its
    columns in that order, so the table's files never disagree on column
    order (``mergeSchema`` orders by whichever file it lists first)."""
    schema = StructType(old.fields + [f for f in df.schema.fields if f.name not in old.names])
    return schema, df.select(*[c for c in schema.names if c in df.columns])


class ParquetTable:
    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.warehouse = warehouse
        self.name = name
        self.path = os.path.join(warehouse, name)

    # ---- snapshot plumbing -------------------------------------------------
    def _version_path(self) -> str:
        return os.path.join(self.path, _VERSION_FILE)

    def record(self) -> dict | None:
        """The commit record ``{version, rows, max_id, schema}``, or None
        when the table does not exist."""
        try:
            with open(self._version_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    def current_version(self) -> int:
        rec = self.record()
        return int(rec["version"]) if rec else 0

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
        **stats,
    ) -> None:
        """Publish the record ``{version, **stats}`` (the snapshot's rows,
        max_id and schema) unless the version moved off ``expected_base``."""
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
            json.dump({"version": version, **stats}, fh)
        os.replace(tmp, self._version_path())
        # GC old snapshots beyond the retention window (shared with
        # vacuum so the retention predicate can never drift between the
        # commit path and explicit maintenance).
        self._gc_snapshots(version, keep_snapshots)

    def _write(self, df: DataFrame, version: int) -> dict:
        """Write ``df`` as snapshot ``version``; return its record stats."""
        stats = write_observed(
            df, lambda d: d.write.mode("overwrite").parquet(self.snapshot_dir(version))
        )
        return {**stats, "schema": df.schema.jsonValue()}

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
        rec = self.record()
        if rec is None:
            raise FileNotFoundError(f"table {self.name} does not exist at {self.path}")
        # the recorded schema spares the footer-inference job, and it
        # carries the columns appends added (file sources read every
        # field nullable, exactly as inference would)
        return self.spark.read.schema(StructType.fromJson(rec["schema"])).parquet(
            self.snapshot_dir(rec["version"])
        )

    @property
    def columns(self) -> list[str]:
        return self.read().columns

    def row_count(self) -> int:
        """Rows in the current snapshot, from the commit record."""
        rec = self.record()
        return int(rec["rows"]) if rec else 0

    def max_id(self, column: str = ROW_NUMBER_COLUMN) -> int:
        """COALESCE(MAX(_id), 0) — next-row-number start (reference A1,
        warehouse.py:13-31). ``_id`` is read from the commit record; other
        columns take a column-pruned scan."""
        rec = self.record()
        if rec is None:
            return 0
        if column == ROW_NUMBER_COLUMN:
            return int(rec["max_id"])
        row = self.read().agg(F.coalesce(F.max(column), F.lit(0)).alias("m")).collect()[0]
        return int(row["m"])

    # ---- writes ----------------------------------------------------------------
    def overwrite(self, df: DataFrame) -> None:
        """WRITE_TRUNCATE analog (reference K2): new snapshot, flip pointer."""
        base = self.current_version()
        v = base + 1
        self._commit(v, expected_base=base, **self._write(df, v))

    def delete(self, keys_df: DataFrame, keys: list[str]) -> int:
        """Targeted key delete (GDPR): rewrite the snapshot without rows
        whose key tuple appears in ``keys_df`` (LEFT ANTI), committed as
        a new version — the previous snapshot stays readable until the
        retention window retires it, and ``_id`` numbering is unaffected
        (MAX over survivors can only shrink; inserts still number above
        any historical max via the snapshot's own MAX+1). This is the
        full-rewrite form; ``BucketedParquetTable.delete`` is the
        bucket-pruned 100 TB path. Returns rows deleted (both counts come
        from the commit records)."""
        current = self.read()
        n_before = self.row_count()
        remaining = current.join(
            keys_df.select(*keys).distinct(), on=keys, how="left_anti"
        )
        self.overwrite(remaining)
        return n_before - self.row_count()

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
        existing data, scales regardless of table size. The record keeps
        its version and gains the batch's rows, max and new columns.
        """
        rec = self.record()
        if rec is None:
            self.overwrite(df)
            return
        schema, df = widen(StructType.fromJson(rec["schema"]), self._align_types(df))
        v = int(rec["version"])
        stats = write_observed(
            df, lambda d: d.write.mode("append").parquet(self.snapshot_dir(v))
        )
        self._commit(
            v,
            expected_base=v,
            rows=int(rec["rows"]) + stats["rows"],
            max_id=max(int(rec["max_id"]), stats["max_id"]),
            schema=schema.jsonValue(),
        )

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
                insert_start=self.max_id() + 1,
                persists=held,
            )
            stats = self._write(merged, v)
        finally:  # a failed merge or write must not leak the stage pin
            for f in held:
                f.unpersist(blocking=False)
        self._commit(v, expected_base=base, **stats)

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
        self._commit(v, expected_base=base, **self._write(df, v))

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def ensure_warehouse(path: str) -> str:
    """CREATE DATABASE IF NOT EXISTS analog (reference D1)."""
    os.makedirs(path, exist_ok=True)
    return path
