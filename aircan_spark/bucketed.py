"""Key-bucketed managed table — partial-rewrite upserts at scale.

``ParquetTable`` (table.py) rewrites the WHOLE table on every upsert — the
correct semantics, but O(table) work per merge, which is the one shape that
does not survive 100 TB. This module keeps the same semantics while making
upsert cost O(affected data):

    warehouse/<name>/
        _MANIFEST.json            # atomic pointer (single-key put)
        data_v3/__bucket=0/...    # immutable bucket data dirs
        data_v7/__bucket=0/...

- rows hash-bucket by the upsert keys: ``pmod(xxhash64(k...), num_buckets)``;
- a snapshot is a MANIFEST mapping bucket id -> list of data dirs (a bucket
  may span several dirs after appends);
- upsert computes the stage's bucket set (small distinct), reads ONLY those
  buckets as the merge target, writes ONLY those buckets as new dirs, and
  publishes a manifest where untouched buckets keep their old pointers —
  zero data movement for untouched buckets, exactly the Iceberg/Delta
  partial-rewrite shape;
- the merge join shuffles the affected subset + stage, never the table;
- table-wide MAX(_id), the row count (``rows``) and the schema are manifest
  metadata, counted by each write job itself (``table.write_observed``) and
  committed with it, so insert numbering, ``row_count()`` and ``read()``
  never scan or infer.

Reference parity: same MERGE semantics as upsert.py (J1/A2/F2 at
/root/reference/aircan/dependencies/cloud/warehouse.py:200-297); the
bucketing itself has no reference analog (BigQuery does the equivalent
internally with partitioned MERGE).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aircan_spark import ROW_NUMBER_COLUMN
from aircan_spark import upsert as upsert_mod
from aircan_spark.table import ConcurrentWriteError, widen, write_observed

_MANIFEST = "_MANIFEST.json"
_BUCKET = "__bucket"


def bucket_expr(keys: list[str], num_buckets: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))


class BucketedParquetTable:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        name: str,
        keys: list[str],
        num_buckets: int = 16,
    ):
        if not keys:
            raise ValueError("bucketed table requires bucket keys")
        self.spark = spark
        self.path = os.path.join(warehouse, name)
        self.name = name
        self.keys = list(keys)
        self.num_buckets = num_buckets

    # ---- manifest plumbing ---------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    def exists(self) -> bool:
        return self.manifest() is not None

    def _commit(self, manifest: dict, keep_versions: int = 2) -> None:
        os.makedirs(self.path, exist_ok=True)
        prev = self.manifest()
        # stale-commit detection (same optimistic contract as ParquetTable):
        # every operation bases its new manifest on the one it read, so a
        # commit must advance the version by exactly 1 — anything else
        # means another writer committed in between
        now_v = prev["version"] if prev else 0
        if manifest["version"] != now_v + 1:
            raise ConcurrentWriteError(
                f"bucketed table {self.name}: manifest moved to v{now_v} "
                f"during this operation (attempted commit "
                f"v{manifest['version']}); refusing to clobber the "
                f"concurrent commit"
            )
        history = (prev or {}).get("history", [])
        if prev is not None:
            history = (history + [{k: prev[k] for k in ("version", "buckets")}])[
                -max(keep_versions - 1, 0) :
            ]
        manifest["history"] = history
        self._publish_manifest(manifest)
        self._gc(manifest)

    def _publish_manifest(self, manifest: dict) -> None:
        """Atomically publish the manifest (tmp write + os.replace) —
        shared by _commit and vacuum so the publish mechanics (atomicity,
        naming, any future fsync) can never drift between the two."""
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._manifest_path())

    def _gc(self, manifest: dict) -> None:
        """Delete data dirs no retained manifest references."""
        live: set[str] = set()
        for snap in [manifest, *manifest.get("history", [])]:
            for dirs in snap["buckets"].values():
                live.update(d.split("/")[0] for d in dirs)
        for entry in os.listdir(self.path):
            if entry.startswith("data_v") and entry not in live:
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)

    def vacuum(self, keep_versions: int = 1) -> int:
        """Retire manifest history beyond the newest ``keep_versions``
        (default: current only) and GC the data dirs only dead history
        referenced. Same contract as ``ParquetTable.vacuum``: the normal
        window keeps the previous version for time-travel; call this when
        the history is known dead (post-delete GDPR hygiene, scratch
        warehouses). Returns the number of data dirs removed."""
        manifest = self.manifest()
        if manifest is None:
            return 0
        keep_hist = max(keep_versions - 1, 0)
        history = manifest.get("history", [])
        manifest["history"] = history[-keep_hist:] if keep_hist else []
        self._publish_manifest(manifest)
        before = {
            e for e in os.listdir(self.path) if e.startswith("data_v")
        }
        self._gc(manifest)
        after = {e for e in os.listdir(self.path) if e.startswith("data_v")}
        return len(before - after)

    # ---- reads -----------------------------------------------------------------
    def read(self, buckets: list[int] | None = None) -> DataFrame:
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"table {self.name} does not exist at {self.path}")
        wanted = (
            m["buckets"].keys() if buckets is None else [str(b) for b in buckets]
        )
        paths = [
            os.path.join(self.path, d)
            for b in wanted
            for d in m["buckets"].get(b, [])
        ]
        # the manifest schema spares footer inference and also serves an
        # empty path list; each leaf dir is read directly, so partition
        # discovery never resurrects __bucket
        return self.spark.read.schema(StructType.fromJson(m["schema"])).parquet(*paths)

    def read_version(self, version: int) -> DataFrame:
        """Time travel: read the table as of an earlier committed
        ``version`` (snapshot isolation over the manifest history). Only
        versions still retained by ``keep_versions`` are readable — the
        GC deletes data dirs no retained snapshot references, exactly
        like VACUUM horizon semantics on a lakehouse table."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"table {self.name} does not exist at {self.path}")
        if int(m["version"]) == version:
            return self.read()
        for snap in m.get("history", []):
            if int(snap["version"]) == version:
                paths = [
                    os.path.join(self.path, d)
                    for dirs in snap["buckets"].values()
                    for d in dirs
                ]
                return self.spark.read.option("mergeSchema", "true").parquet(*paths)
        retained = [int(s["version"]) for s in m.get("history", [])] + [
            int(m["version"])
        ]
        raise ValueError(
            f"version {version} not retained (readable: {sorted(retained)})"
        )

    def diff_versions(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level diff between two retained snapshots: one row per
        changed key with ``change`` in {'inserted', 'deleted', 'updated'}
        — the audit/debug view a lakehouse CDC feed exposes.

        Full-outer join on the bucket keys between the two snapshot
        reads; both sides are bucket-partitioned on the same keys, and
        unchanged rows (every non-key column null-safe-equal) drop out.
        Cost is two snapshot scans + one key-partitioned join — at scale
        restrict to suspect buckets first via ``read(buckets=...)``."""
        cur = (
            self.read()
            if to_version is None or to_version == self.current_version()
            else self.read_version(to_version)
        )
        old = self.read_version(from_version)
        value_cols = [c for c in cur.columns if c not in self.keys]
        o = old.alias("O")
        n = cur.alias("N")
        cond = [o[k].eqNullSafe(n[k]) for k in self.keys]
        joined = o.join(n, cond, "full_outer")
        same = F.lit(True)
        for c in value_cols:
            same = same & o[c].eqNullSafe(n[c])
        change = (
            F.when(o[self.keys[0]].isNull(), F.lit("inserted"))
            .when(n[self.keys[0]].isNull(), F.lit("deleted"))
            .when(~same, F.lit("updated"))
        )
        return (
            joined.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                *[
                    F.coalesce(o[k], n[k]).alias(k)
                    for k in self.keys
                ],
                "change",
            )
        )

    def max_id(self, column: str = ROW_NUMBER_COLUMN) -> int:
        m = self.manifest()
        if m is None:
            return 0
        if column != ROW_NUMBER_COLUMN:
            # only the engine `_id` max is manifest metadata; other columns
            # need a (column-pruned) scan
            row = self.read().agg(F.coalesce(F.max(column), F.lit(0)).alias("m"))
            return int(row.collect()[0]["m"])
        return int(m["max_id"])

    def row_count(self) -> int:
        m = self.manifest()
        return int(m["rows"]) if m else 0

    def current_version(self) -> int:
        m = self.manifest()
        return int(m["version"]) if m else 0

    # ---- writes ----------------------------------------------------------------
    def _write_buckets(
        self, df: DataFrame, version: int, **extra: Column
    ) -> tuple[dict[str, str], dict]:
        """Write ``df`` partitioned by bucket id as data dir ``version``;
        return {bucket: dir} for the buckets that got files, and the
        write's observed stats (``table.write_observed``)."""
        data_dir = f"data_v{version}"
        root = os.path.join(self.path, data_dir)
        stats = write_observed(
            self._with_bucket(df).repartition(F.col(_BUCKET)),
            lambda d: d.write.mode("overwrite").partitionBy(_BUCKET).parquet(root),
            **extra,
        )
        present = sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(root)
            if e.startswith(f"{_BUCKET}=")
        )
        return {str(b): f"{data_dir}/{_BUCKET}={b}" for b in present}, stats

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(_BUCKET, bucket_expr(self.keys, self.num_buckets))

    def _commit_snapshot(
        self, version: int, buckets: dict, rows: int, max_id: int, schema: dict
    ) -> None:
        self._commit(
            {
                "version": version,
                "num_buckets": self.num_buckets,
                "keys": self.keys,
                "rows": rows,
                "max_id": max_id,
                "buckets": buckets,
                "schema": schema,
            }
        )

    def overwrite(self, df: DataFrame) -> None:
        m = self.manifest()
        v = (m["version"] + 1) if m else 1
        written, stats = self._write_buckets(df, v)
        buckets = {b: [d] for b, d in written.items()}
        self._commit_snapshot(
            v, buckets, stats["rows"], stats["max_id"], df.schema.jsonValue()
        )

    def append(self, df: DataFrame) -> None:
        """Additive: new data dirs appended to each landed bucket's dir
        list — existing files untouched (K3 semantics). The manifest
        schema becomes the union of the table's and the batch's columns,
        so a narrower batch never drops a column."""
        m = self.manifest()
        if m is None:
            self.overwrite(df)
            return
        v = m["version"] + 1
        schema, df = widen(StructType.fromJson(m["schema"]), df)
        written, stats = self._write_buckets(df, v)
        buckets = dict(m["buckets"])
        for b, d in written.items():
            buckets[b] = buckets.get(b, []) + [d]
        self._commit_snapshot(
            v,
            buckets,
            int(m["rows"]) + stats["rows"],
            max(int(m["max_id"]), stats["max_id"]),
            schema.jsonValue(),
        )

    def upsert(
        self,
        stage: DataFrame,
        *,
        preserve_columns: tuple[str, ...] = (),
        job_ts: dt.datetime | None = None,
    ) -> None:
        """MERGE touching only the stage's buckets.

        Work ∝ (stage size + size of affected buckets); a 1-row upsert into
        a 100 TB table reads and rewrites one bucket, not the table.
        """
        m = self.manifest()
        held: list[DataFrame] = []  # r13: stage persists, drained in finally
        if m is None:
            # Auto-create (reference D2): empty target with the stage schema.
            target_sub = stage.limit(0)
            m = {"version": 0, "rows": 0, "max_id": 0, "buckets": {},
                 "schema": StructType().jsonValue()}
        else:
            # The bucket-set probe stays on the RAW stage: select(_BUCKET)
            # prunes the scan to the key columns, so this pass is cheap at
            # any scale, and persisting the bucketed stage here was
            # measured SLOWER locally (a second DISK_ONLY fill stacked on
            # merge's deduped-stage persist). merge() persists the deduped
            # stage once (r13) — the form every downstream consumer reads.
            stage_b = self._with_bucket(stage)
            affected = sorted(
                r[_BUCKET] for r in stage_b.select(_BUCKET).distinct().collect()
            )
            target_sub = self.read(buckets=affected)
        v = m["version"] + 1
        insert_start = int(m["max_id"]) + 1
        # merge numbers inserts from insert_start and keeps matched ids —
        # unless the table has no _id, when it renumbers the affected
        # buckets' old rows as well, so those must be taken off again
        renumbered = 0
        if m["rows"] and ROW_NUMBER_COLUMN not in target_sub.columns:
            renumbered = target_sub.count()
        try:
            merged = upsert_mod.merge(
                target_sub,
                stage,
                self.keys,
                preserve_columns=preserve_columns,
                job_ts=job_ts,
                insert_start=insert_start,
                persists=held,
            )
            schema, merged = widen(StructType.fromJson(m["schema"]), merged)
            written, stats = self._write_buckets(
                merged, v, inserted=F.count_if(F.col(ROW_NUMBER_COLUMN) >= insert_start)
            )
        finally:  # a failed merge or write must not leak the stage pin
            for f in held:
                f.unpersist(blocking=False)
        buckets = dict(m["buckets"])
        buckets.update({b: [d] for b, d in written.items()})
        # untouched buckets cannot raise the max: inserts number above it
        self._commit_snapshot(
            v,
            buckets,
            int(m["rows"]) + stats["inserted"] - renumbered,
            max(int(m["max_id"]), stats["max_id"]),
            schema.jsonValue(),
        )

    def delete(self, keys_df: DataFrame) -> int:
        """Targeted key delete (GDPR / right-to-be-forgotten): remove
        every row whose key tuple appears in ``keys_df``, touching ONLY
        the buckets those keys hash to — work ∝ (keys + affected
        buckets), so purging a handful of users from a 100 TB table
        rewrites a few buckets, never the table. Commits a new snapshot
        atomically (the pre-delete version stays time-travel-readable
        until GC retires it — an auditable tombstone window); ``max_id``
        is preserved so future inserts never reuse a deleted row's id.
        Returns the number of rows deleted."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(
                f"table {self.name} does not exist at {self.path}"
            )
        keys_proj = keys_df.select(*self.keys).distinct()
        affected = sorted(
            r[_BUCKET]
            for r in self._with_bucket(keys_proj)
            .select(_BUCKET)
            .distinct()
            .collect()
        )
        if not affected:
            return 0
        target_sub = self.read(buckets=affected)
        n_before = target_sub.count()
        remaining = target_sub.join(keys_proj, on=self.keys, how="left_anti")
        v = m["version"] + 1
        written, stats = self._write_buckets(remaining, v)
        buckets = dict(m["buckets"])
        # affected buckets are wholly replaced by the rewrite — possibly
        # by nothing, when every row of a bucket matched the delete set
        for b in affected:
            buckets[str(b)] = []
        buckets.update({b: [d] for b, d in written.items()})
        n_deleted = n_before - stats["rows"]
        self._commit_snapshot(
            v,
            buckets,
            int(m["rows"]) - n_deleted,
            int(m["max_id"]),
            m["schema"],
        )
        return n_deleted

    def compact(self, min_dirs: int = 2) -> list[int]:
        """Rewrite buckets fragmented across >= ``min_dirs`` data dirs into
        one dir each (the small-file maintenance op — appends accumulate a
        dir per batch; scans over many small files lose locality and
        pressure the file index at scale). Content is untouched; buckets
        below the threshold keep their pointers. Returns compacted ids."""
        m = self.manifest()
        if m is None:
            return []
        todo = [b for b, dirs in m["buckets"].items() if len(dirs) >= min_dirs]
        if not todo:
            return []
        v = m["version"] + 1
        written, _ = self._write_buckets(self.read(buckets=[int(b) for b in todo]), v)
        buckets = dict(m["buckets"])
        buckets.update({b: [d] for b, d in written.items()})
        self._commit_snapshot(v, buckets, int(m["rows"]), int(m["max_id"]), m["schema"])
        return [int(b) for b in todo]

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
