"""Key-bucketed managed table — partial-rewrite upserts at scale.

``ParquetTable`` (table.py) rewrites the WHOLE table on every upsert — the
correct semantics, but O(table) work per merge, which is the one shape that
does not survive 100 TB. This module keeps the same semantics while making
upsert cost O(affected data). It commits the same manifest as the flat
table, through the same core (table.py: one layout, one concurrency
contract), with N buckets where the flat table has one:

    warehouse/<name>/
        _MANIFEST.json            # {version, rows, max_id, schema, buckets, history}
        data_v3/__bucket=0/...    # immutable bucket data dirs
        data_v7/__bucket=0/...

- rows hash-bucket by the upsert keys: ``pmod(xxhash64(k...), num_buckets)``,
  and each write is partitioned by that ``__bucket`` id, so the manifest
  maps bucket id -> list of data dirs (a bucket may span several dirs after
  appends);
- upsert computes the stage's bucket set (small distinct), reads ONLY those
  buckets as the merge target, writes ONLY those buckets as new dirs, and
  commits a manifest where untouched buckets keep their old dirs — zero
  data movement for untouched buckets, exactly the Iceberg/Delta
  partial-rewrite shape; delete and compact rewrite the same way;
- the merge join shuffles the affected subset + stage, never the table.

Reference parity: same MERGE semantics as upsert.py (J1/A2/F2 at
/root/reference/aircan/dependencies/cloud/warehouse.py:200-297); the
bucketing itself has no reference analog (BigQuery does the equivalent
internally with partitioned MERGE).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aircan_spark import ROW_NUMBER_COLUMN
from aircan_spark import upsert as upsert_mod
from aircan_spark.frames import scope
from aircan_spark.table import ParquetTable, widen, write_observed

_BUCKET = "__bucket"


def bucket_expr(keys: list[str], num_buckets: int) -> Column:
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))


class BucketedParquetTable(ParquetTable):
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
        super().__init__(spark, warehouse, name)
        self.keys = list(keys)
        self.num_buckets = num_buckets

    # the core's entry points, bound here so each is in this class's own
    # __dict__, where the benchmark's tracer (perfbench/trace.py) wraps it
    # under the bucketed layer
    overwrite = ParquetTable.overwrite
    append = ParquetTable.append
    max_id = ParquetTable.max_id

    def read(self, buckets: list[int] | None = None) -> DataFrame:
        """The table, or only the rows of ``buckets``."""
        return self._scan(self._require(), buckets)

    def diff_versions(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level diff between two retained versions: one row per
        changed key with ``change`` in {'inserted', 'deleted', 'updated'}
        — the audit/debug view a lakehouse CDC feed exposes.

        Full-outer join on the bucket keys between the two version
        reads; both sides are bucket-partitioned on the same keys, and
        unchanged rows (every non-key column null-safe-equal) drop out.
        Cost is two version scans + one key-partitioned join — at scale
        restrict to suspect buckets first via ``read(buckets=...)``."""
        cur = self.read_version(
            self.current_version() if to_version is None else to_version
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

    # ---- writes ----------------------------------------------------------------
    def _write(
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
        if m is None:
            # Auto-create (reference D2): empty target with the stage schema.
            target_sub = stage.limit(0)
            m = {"version": 0, "rows": 0, "max_id": 0, "buckets": {},
                 "schema": StructType().jsonValue()}
        else:
            # cast before bucketing: a key's hash depends on its type
            stage = self._align_types(stage, m)
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
        with scope():  # merge's stage and insert numbering persists
            merged = upsert_mod.merge(
                target_sub,
                stage,
                self.keys,
                preserve_columns=preserve_columns,
                job_ts=job_ts,
                insert_start=insert_start,
            )
            schema, merged = widen(StructType.fromJson(m["schema"]), merged)
            written, stats = self._write(
                merged, v, inserted=F.count_if(F.col(ROW_NUMBER_COLUMN) >= insert_start)
            )
        buckets = dict(m["buckets"])
        buckets.update({b: [d] for b, d in written.items()})
        # untouched buckets cannot raise the max: inserts number above it
        self._commit(
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
        rewrites a few buckets, never the table. Commits a new version
        atomically (the pre-delete version stays time-travel-readable
        until the history retires it — an auditable tombstone window); ``max_id``
        is preserved so future inserts never reuse a deleted row's id.
        Returns the number of rows deleted."""
        m = self._require()
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
        written, stats = self._write(remaining, v)
        buckets = dict(m["buckets"])
        # affected buckets are wholly replaced by the rewrite — possibly
        # by nothing, when every row of a bucket matched the delete set
        for b in affected:
            buckets[str(b)] = []
        buckets.update({b: [d] for b, d in written.items()})
        n_deleted = n_before - stats["rows"]
        self._commit(v, buckets, int(m["rows"]) - n_deleted, int(m["max_id"]), m["schema"])
        return n_deleted

    def compact(self, min_dirs: int = 2) -> list[int]:
        """Rewrite buckets fragmented across >= ``min_dirs`` data dirs into
        one dir each (the small-file maintenance op — appends accumulate a
        dir per batch; scans over many small files lose locality and
        pressure the file index at scale). Content is untouched; buckets
        below the threshold keep their dirs. Returns compacted ids."""
        m = self.manifest()
        if m is None:
            return []
        todo = [b for b, dirs in m["buckets"].items() if len(dirs) >= min_dirs]
        if not todo:
            return []
        v = m["version"] + 1
        written, _ = self._write(self.read(buckets=[int(b) for b in todo]), v)
        buckets = dict(m["buckets"])
        buckets.update({b: [d] for b, d in written.items()})
        self._commit(v, buckets, int(m["rows"]), int(m["max_id"]), m["schema"])
        return [int(b) for b in todo]

