"""Parquet-backed managed tables: a versioned manifest over immutable data dirs.

The reference's "warehouse" is BigQuery/Postgres; here it is a directory of
Parquet per table. Every write lands in a NEW data dir and is then
committed by publishing a new version of the table's manifest, so no write
ever reads-and-clobbers the files it is scanning and a reader never sees a
half-written load (the versioned file-list log of Delta Lake, Armbrust et
al., VLDB 2020):

    warehouse/<name>/
        _MANIFEST.json   # {version, rows, max_id, schema, buckets, history}
        data_v1/  part-*.parquet
        data_v2/  ...

``buckets`` maps a bucket id to the data dirs that hold its rows. The flat
``ParquetTable`` is the one-bucket case, ``{"0": ["data_v1", "data_v2"]}``;
``BucketedParquetTable`` (bucketed.py) hash-buckets rows by key. ``rows``,
``max_id`` and ``schema`` are counted by each write job itself
(``write_observed``), so ``read()`` (recorded schema, no footer
inference), ``max_id()`` and ``row_count()`` run no Spark job (reference
A1, warehouse.py:13-31). ``max_id`` is the highest ``_id`` written since
the last overwrite (0 without an ``_id`` column): no later write lowers
it, so an insert never reuses the id of a deleted row. ``history`` keeps
the previous version's ``{version, buckets, schema}``, which
``read_version`` scans the same way; the commit deletes data dirs no
retained version lists.

Each load is one atomic commit, as each is one warehouse job in the
reference (warehouse.py:300-359,430-491): overwrite (K2) writes the table
as a new dir; append (K3/D3) writes the batch as a new dir and adds it to
the dir lists, with the schema widened to the union (old fields, then new
— reference ALLOW_FIELD_ADDITION, warehouse.py:106-172). Upsert (J1),
delete and compact share one path for both kinds: rewrite the buckets a
key set touches and commit, the other buckets keeping their dirs. Each
kind supplies its layout (``_write``) and the buckets a key set touches
(``_touched``): every listed bucket for the flat table, with no job. A
write that fails before its commit leaves an unlisted dir that readers
never see and the next commit removes. (Production deployments would use
Delta/Iceberg; the mechanism here keeps the engine dependency-free while
preserving the semantics.)

Reference analogs: table lifecycle D1/D2/D7 (warehouse.py:61-69,138-151,
445-456), loads K2/K3 (warehouse.py:73-135,300-359), upsert J1
(warehouse.py:430-491).

A load may pass a pre-commit ``check(attempt)``: the commit runs it on a
scan of the dirs this write produced, after the write and before it
publishes, and when it raises, the attempt's data dir is deleted and the
version does not move (Delta checks its CHECK constraints on the rows a
transaction wrote, inside its commit). ``pipeline.run``'s validation gate
is one: it reads the source's row and bad cell counts the write job
observed, and checks the attempt's keys for duplicates.

Concurrency contract (the reference gets this from BigQuery job atomicity;
this engine states it explicitly): ONE writer per table at a time is the
supported mode. Every write bases its commit on the manifest version it
read and commits version + 1; a concurrent commit in between raises
``ConcurrentWriteError`` at the publish (first committer wins), and the
manifest is not replaced. The committed DATA is not protected: two
writers based on the same version write the same data dir name with
``mode("overwrite")``, so a stale writer that writes after the winner's
commit replaces the committed ``data_v{N}`` files before its own commit
is refused, and the committed version then reads the stale writer's rows.
Nor is the check-then-publish atomic across processes (every writer
replaces the manifest through the same tmp file), and a commit deletes
any ``data_v*`` dir no retained version lists, another writer's
in-flight dir included. Concurrent writers need a write-once dir per
attempt and an exclusive put-if-absent commit per version (the Delta
log), or a transactional catalog (Delta/Iceberg), which is what a
production deployment would swap in here.
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

from aircan_spark import ROW_NUMBER_COLUMN
from aircan_spark import upsert as upsert_mod
from aircan_spark.frames import scope

_MANIFEST = "_MANIFEST.json"
Check = Callable[[DataFrame], None]  # a pre-commit check of the attempt's rows


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a version between this operation's read
    and its commit — the write is based on stale data (see the module
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


def _listed(m: dict) -> set[str]:
    """The data dirs that manifest ``m`` or its retained history lists."""
    return {
        d.split("/")[0]
        for snap in [m, *m["history"]]
        for dirs in snap["buckets"].values()
        for d in dirs
    }


class ParquetTable:
    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.warehouse = warehouse
        self.name = name
        self.path = os.path.join(warehouse, name)

    # ---- the commit protocol (shared with BucketedParquetTable) ----------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def manifest(self) -> dict | None:
        """The committed manifest, or None when the table does not exist."""
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    def _require(self) -> dict:
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"table {self.name} does not exist at {self.path}")
        return m

    def current_version(self) -> int:
        m = self.manifest()
        return int(m["version"]) if m else 0

    def exists(self) -> bool:
        return self.manifest() is not None

    def row_count(self) -> int:
        """Rows in the current version, from the manifest."""
        m = self.manifest()
        return int(m["rows"]) if m else 0

    def max_id(self, column: str = ROW_NUMBER_COLUMN) -> int:
        """COALESCE(MAX(_id), 0) — next-row-number start (reference A1,
        warehouse.py:13-31). ``_id`` is read from the manifest; other
        columns take a column-pruned scan."""
        m = self.manifest()
        if m is None:
            return 0
        if column == ROW_NUMBER_COLUMN:
            return int(m["max_id"])
        row = self.read().agg(F.coalesce(F.max(column), F.lit(0)).alias("m")).collect()[0]
        return int(row["m"])

    def _commit(
        self,
        version: int,
        buckets: dict,
        rows: int,
        max_id: int,
        schema: dict,
        check: Check | None = None,
    ) -> None:
        """Publish ``version`` of the manifest unless ``check`` raises or
        another writer committed since this operation read version - 1; the
        previous version moves into the history. ``check`` is passed a scan
        of the dirs this attempt wrote (``data_v{version}``) with ``schema``,
        built with no job. A refused ``check`` deletes the attempt's dir,
        unless a committed version lists it."""
        os.makedirs(self.path, exist_ok=True)
        data_dir = f"data_v{version}"
        if check is not None:
            attempt = {b: [d for d in dirs if d.split("/")[0] == data_dir]
                       for b, dirs in buckets.items()}
            try:
                check(self._scan({"buckets": attempt, "schema": schema}))
            except BaseException:
                m = self.manifest()
                if m is None or data_dir not in _listed(m):
                    shutil.rmtree(os.path.join(self.path, data_dir), ignore_errors=True)
                raise
        prev = self.manifest()
        now = int(prev["version"]) if prev else 0
        if version != now + 1:
            raise ConcurrentWriteError(
                f"table {self.name}: version moved to {now} during this "
                f"operation (attempted commit {version}); refusing to "
                f"clobber the concurrent commit (retry on the new version)"
            )
        history = []
        if prev is not None:
            history = prev["history"] + [{k: prev[k] for k in ("version", "buckets", "schema")}]
        m = {"version": version, "rows": rows, "max_id": max_id, "schema": schema,
             "buckets": buckets, "history": history}
        self._publish(m, keep_versions=2)

    def _publish(self, m: dict, keep_versions: int) -> int:
        """Trim ``m``'s history to the newest ``keep_versions`` versions,
        publish it atomically (tmp write + ``os.replace``, which also works
        on object stores) and delete the data dirs no retained version
        lists. Returns the dirs that actually DISAPPEARED (not attempts):
        callers auditing retirement (GDPR delete flows) must not be told a
        version is gone while an EACCES/busy file keeps its data readable."""
        keep = max(keep_versions, 1) - 1
        m["history"] = m["history"][-keep:] if keep else []
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.replace(tmp, self._manifest_path())
        live = _listed(m)
        removed = 0
        for entry in os.listdir(self.path):
            target = os.path.join(self.path, entry)
            if entry.startswith("data_v") and entry not in live:
                shutil.rmtree(target, ignore_errors=True)
                removed += not os.path.isdir(target)
        return removed

    def vacuum(self, keep_versions: int = 1) -> int:
        """Retire versions older than the newest ``keep_versions``
        (default: current only) and delete the data dirs only they listed.
        The commit's window keeps the previous version for
        ``read_version``; call this when the history is known dead — e.g.
        a delete whose pre-delete data must not linger (GDPR), or a scratch
        warehouse. Returns the number of data dirs removed."""
        m = self.manifest()
        return self._publish(m, keep_versions) if m else 0

    # ---- reads ---------------------------------------------------------------
    def _scan(self, snap: dict, buckets: list[int] | None = None) -> DataFrame:
        """Read the data dirs version ``snap`` lists (of ``buckets`` only,
        if given) with its recorded schema: no footer-inference job, the
        columns appends added are there (file sources read every field
        nullable, exactly as inference would), and an empty dir list reads
        as an empty frame. Each dir is read as its own root, so partition
        discovery never resurrects a bucket column."""
        wanted = snap["buckets"] if buckets is None else [str(b) for b in buckets]
        paths = [
            os.path.join(self.path, d) for b in wanted for d in snap["buckets"].get(b, [])
        ]
        return self.spark.read.schema(StructType.fromJson(snap["schema"])).parquet(*paths)

    def read(self) -> DataFrame:
        return self._scan(self._require())

    def read_version(self, version: int) -> DataFrame:
        """Time travel: the table as of an earlier committed ``version``.
        Only versions the history retains are readable — the commit deletes
        data dirs no retained version lists, like VACUUM horizon semantics
        on a lakehouse table."""
        m = self._require()
        snaps = [m, *m["history"]]
        for snap in snaps:
            if int(snap["version"]) == version:
                return self._scan(snap)
        raise ValueError(
            f"version {version} not retained "
            f"(readable: {sorted(int(s['version']) for s in snaps)})"
        )

    # ---- writes ----------------------------------------------------------------
    def _write(
        self, df: DataFrame, version: int, **extra: Column
    ) -> tuple[dict[str, str], dict]:
        """Write ``df`` as data dir ``version``; return {bucket: dir} for
        what it wrote and the write's observed stats (``write_observed``)."""
        data_dir = f"data_v{version}"
        stats = write_observed(
            df,
            lambda d: d.write.mode("overwrite").parquet(os.path.join(self.path, data_dir)),
            **extra,
        )
        return {"0": data_dir}, stats

    def _align_types(self, df: DataFrame, m: dict) -> DataFrame:
        """Cast columns shared with version ``m`` of the table to the
        types it reads as — the coercion a warehouse load job performs
        implicitly (reference: schema applied at load,
        warehouse.py:99-110). New columns pass through untouched (additive
        evolution)."""
        existing = {f.name: f.dataType for f in self._scan(m).schema.fields}
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

    def overwrite(self, df: DataFrame, check: Check | None = None) -> None:
        """WRITE_TRUNCATE analog (reference K2): the table as a new data
        dir, committed as the next version unless ``check`` refuses it."""
        v = self.current_version() + 1
        written, stats = self._write(df, v)
        buckets = {b: [d] for b, d in written.items()}
        self._commit(v, buckets, stats["rows"], stats["max_id"], df.schema.jsonValue(), check)

    def append(self, df: DataFrame, check: Check | None = None) -> None:
        """WRITE_APPEND with additive schema evolution (reference K3/D3):
        the batch, cast to the table's types, is written as a new data dir
        added to the dir lists it lands in — zero rewrite of existing data
        — and committed as the next version with the rows added, the max
        raised and the schema widened, unless ``check`` refuses it."""
        m = self.manifest()
        if m is None:
            self.overwrite(df, check)
            return
        schema, df = widen(StructType.fromJson(m["schema"]), self._align_types(df, m))
        v = int(m["version"]) + 1
        written, stats = self._write(df, v)
        buckets = dict(m["buckets"])
        for b, d in written.items():
            buckets[b] = buckets.get(b, []) + [d]
        self._commit(
            v,
            buckets,
            int(m["rows"]) + stats["rows"],
            max(int(m["max_id"]), stats["max_id"]),
            schema.jsonValue(),
            check,
        )

    # ---- rewrites: upsert, delete and compact --------------------------------
    def _touched(self, m: dict, keys_df: DataFrame) -> list[str]:
        """The buckets of version ``m`` that the key tuples of ``keys_df``
        can be in: for the flat table, every listed bucket, with no job."""
        return list(m["buckets"])

    def _rewrite_buckets(
        self,
        m: dict,
        touched: list[str],
        target: DataFrame,
        df: DataFrame,
        **extra: Column,
    ) -> int:
        """Write ``df`` as the rows of the buckets ``touched`` of version
        ``m`` (``target`` scans their old rows) and commit it as the next
        version: the other buckets keep their dirs, ``df``'s new columns
        widen the schema, and ``max_id`` never drops. The touched buckets'
        old row count is the write's observed ``kept`` aggregate when
        ``extra`` has one (a rewrite that writes every old row back), the
        manifest's rows when no untouched bucket holds any, and otherwise
        counted. Returns the rows the rewrite took out."""
        v = int(m["version"]) + 1
        schema, df = widen(StructType.fromJson(m["schema"]), df)
        written, stats = self._write(df, v, **extra)
        if "kept" in stats:
            before = stats["kept"]
        elif all(b in touched for b, dirs in m["buckets"].items() if dirs):
            before = int(m["rows"])
        else:
            before = target.count()
        # a touched bucket the rewrite leaves empty lists no dir
        buckets = {**m["buckets"], **{b: [] for b in touched}}
        buckets.update({b: [d] for b, d in written.items()})
        self._commit(
            v,
            buckets,
            int(m["rows"]) - before + stats["rows"],
            max(int(m["max_id"]), stats["max_id"]),
            schema.jsonValue(),
        )
        return before - stats["rows"]

    def upsert(
        self,
        stage: DataFrame,
        keys: list[str],
        *,
        preserve_columns: tuple[str, ...] = (),
        job_ts: dt.datetime | None = None,
    ) -> None:
        """MERGE the stage into this table on ``keys`` (reference J1 flow,
        warehouse.py:430-491): dedup + join-merge of the buckets the
        stage's keys touch, rewritten as a new version; a missing table is
        created from the stage (reference D2) as version 1."""
        self._upsert(stage, keys, preserve_columns, job_ts)

    def _upsert(
        self,
        stage: DataFrame,
        keys: list[str],
        preserve_columns: tuple[str, ...],
        job_ts: dt.datetime | None,
    ) -> None:
        m = self.manifest()
        if m is None:  # merge into an empty target with the stage's columns
            m = {"version": 0, "rows": 0, "max_id": 0, "buckets": {},
                 "schema": StructType().jsonValue()}
            touched, target = [], stage.limit(0)
        else:
            # cast before the probe: a key's bucket depends on its type
            stage = self._align_types(stage, m)
            touched = self._touched(m, stage)
            target = self._scan(m, touched)
        start = int(m["max_id"]) + 1
        # merge writes every old row back with its _id and numbers the
        # inserts from start, unless the table has no _id: then it
        # renumbers the old rows as well, and those are counted instead
        extra = {}
        if ROW_NUMBER_COLUMN in target.columns:
            old = F.col(ROW_NUMBER_COLUMN)
            extra["kept"] = F.count_if(old.isNull() | (old < start))
        with scope():  # merge's stage and insert numbering persists
            merged = upsert_mod.merge(
                target,
                stage,
                keys,
                preserve_columns=preserve_columns,
                job_ts=job_ts,
                insert_start=start,
            )
            self._rewrite_buckets(m, touched, target, merged, **extra)

    def delete(self, keys_df: DataFrame, keys: list[str]) -> int:
        """Targeted key delete (GDPR): rewrite the buckets the key tuples
        of ``keys_df`` touch without the rows that match one (LEFT ANTI),
        committed as a new version — the previous version stays readable
        until the history retires it. Returns the rows deleted."""
        m = self._require()
        keys_df = keys_df.select(*keys).distinct()
        touched = self._touched(m, keys_df)
        if not touched:
            return 0
        target = self._scan(m, touched)
        remaining = target.join(keys_df, on=keys, how="left_anti")
        return self._rewrite_buckets(m, touched, target, remaining)

    def compact(self, min_dirs: int = 2) -> list[int]:
        """Rewrite each bucket whose rows span >= ``min_dirs`` data dirs
        (an append adds a dir per batch; a scan of many small files loses
        locality) as one dir, its rows untouched; the other buckets keep
        their dirs. Returns the compacted bucket ids."""
        m = self.manifest()
        todo = [b for b, dirs in (m["buckets"] if m else {}).items() if len(dirs) >= min_dirs]
        if todo:
            target = self._scan(m, todo)
            self._rewrite_buckets(m, todo, target, target, kept=F.count(F.lit(1)))
        return [int(b) for b in todo]

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def ensure_warehouse(path: str) -> str:
    """CREATE DATABASE IF NOT EXISTS analog (reference D1)."""
    os.makedirs(path, exist_ok=True)
    return path
