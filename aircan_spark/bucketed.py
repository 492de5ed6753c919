"""Key-bucketed managed table: upsert and delete rewrite only the buckets
their keys hash to.

The table commits the same manifest through the same core as the flat
table (table.py), with N buckets where the flat table has one; upsert,
delete and compact are the core's. This module supplies the layout and
the probe:

    warehouse/<name>/
        _MANIFEST.json            # {version, rows, max_id, schema, buckets, history}
        data_v3/__bucket=0/...    # immutable bucket data dirs
        data_v7/__bucket=0/...

- layout: rows hash-bucket by the keys, ``pmod(xxhash64(k...),
  num_buckets)``, and each write is partitioned by that ``__bucket`` id,
  so the manifest maps bucket id -> list of data dirs (a bucket may span
  several dirs after appends);
- probe: the buckets a key set touches are the distinct bucket ids of its
  key columns, one small job. Only those buckets are read, merged and
  rewritten; the others keep their dirs, the Iceberg/Delta partial-rewrite
  shape, so the merge join shuffles the touched subset and the stage,
  never the table.

The bucketing has no reference analog (BigQuery does the equivalent
internally with partitioned MERGE).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aircan_spark.table import ParquetTable, write_observed

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

    # the public entry points, bound here so each is in this class's own
    # __dict__, where the benchmark's tracer (perfbench/trace.py) wraps it
    # under the bucketed layer; upsert and delete take the table's keys
    overwrite = ParquetTable.overwrite
    append = ParquetTable.append
    max_id = ParquetTable.max_id

    def upsert(
        self,
        stage: DataFrame,
        *,
        preserve_columns: tuple[str, ...] = (),
        job_ts: dt.datetime | None = None,
    ) -> None:
        """``ParquetTable.upsert`` on the table's keys: a 1-row upsert into
        a 100 TB table reads and rewrites one bucket, not the table."""
        self._upsert(stage, self.keys, preserve_columns, job_ts)

    def delete(self, keys_df: DataFrame) -> int:
        """``ParquetTable.delete`` on the table's keys: purging a handful
        of users rewrites the few buckets their keys hash to."""
        return super().delete(keys_df, self.keys)

    def read(self, buckets: list[int] | None = None) -> DataFrame:
        """The table, or only the rows of ``buckets``."""
        return self._scan(self._require(), buckets)

    def _touched(self, m: dict, keys_df: DataFrame) -> list[str]:
        """The buckets ``keys_df``'s key tuples hash to, from one distinct
        job that reads only its key columns."""
        probe = keys_df.select(bucket_expr(self.keys, self.num_buckets)).distinct()
        return [str(b) for b in sorted(r[0] for r in probe.collect())]

    def _write(
        self, df: DataFrame, version: int, **extra: Column
    ) -> tuple[dict[str, str], dict]:
        """Write ``df`` partitioned by bucket id as data dir ``version``;
        return {bucket: dir} for the buckets that got files, and the
        write's observed stats (``table.write_observed``)."""
        data_dir = f"data_v{version}"
        root = os.path.join(self.path, data_dir)
        stats = write_observed(
            df.withColumn(_BUCKET, bucket_expr(self.keys, self.num_buckets))
            .repartition(F.col(_BUCKET)),
            lambda d: d.write.mode("overwrite").partitionBy(_BUCKET).parquet(root),
            **extra,
        )
        present = sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(root)
            if e.startswith(f"{_BUCKET}=")
        )
        return {str(b): f"{data_dir}/{_BUCKET}={b}" for b in present}, stats
