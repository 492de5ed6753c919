"""Ordered export — table -> csv / ndjson / parquet files, sorted by `_id`.

Reference (K4-K6, /root/reference/aircan/dependencies/cloud/warehouse.py:
368-427 + storage.py:370-569): BigQuery extract can't ORDER BY, so the
reference materializes a sorted temp table, extracts shards, then
recursively composes GCS blobs 32-at-a-time with a header blob prepended
for CSV. On Spark the workaround disappears: ``orderBy("_id").write`` is a
range-partitioned global sort producing shards whose lexicographic part
order IS the sort order (O2 for free). A frame of one partition (a table
written as one file) is sorted within that partition instead: one job,
one shard, no shuffle, and the same bytes once composed.

Two output modes:
- sharded (default, the scale path): part files, CSV shards each carry a
  header; parquet is never concatenated (reference K6 keeps shards too).
- single_file: shards are concatenated driver-side (CSV header written
  once — the compose-with-header-blob trick, storage.py:447-489); parquet
  falls back to a one-shot single-partition write since parquet files
  cannot be byte-concatenated.

Format mapping mirrors bq_destination_format/export_file_ext
(warehouse.py:34-53): csv/tsv -> .csv, json/ndjson/jsonl -> .ndjson,
parquet -> .parquet.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aircan_spark import ROW_NUMBER_COLUMN
from aircan_spark.frames import one_partition

_ISO_TIMESTAMP = "yyyy-MM-dd'T'HH:mm:ss"
EXPORT_EXT = {
    "csv": "csv",
    "tsv": "csv",
    "json": "ndjson",
    "ndjson": "ndjson",
    "jsonl": "ndjson",
    "parquet": "parquet",
    "orc": "orc",
}


def export_ordered(
    df: DataFrame,
    out_dir: str,
    fmt: str = "csv",
    *,
    single_file: bool = False,
) -> str:
    """Write ``df`` ordered by `_id`; returns the output path.

    Serialization quirks preserved from the reference's DatastoreEncoder
    (dependencies_legacy/utils.py:170-177): timestamps exported in ISO
    format; decimals as plain strings (CSV writer default).
    """
    fmt = fmt.lower()
    if fmt not in EXPORT_EXT:
        raise ValueError(f"unsupported export format: {fmt}")
    ext = EXPORT_EXT[fmt]

    if ROW_NUMBER_COLUMN not in df.columns:
        raise ValueError(
            f"order column {ROW_NUMBER_COLUMN!r} not in frame columns {df.columns}; "
            f"an ordered export without its order column would silently "
            f"produce arbitrary order"
        )
    order = F.col(ROW_NUMBER_COLUMN).asc()
    if one_partition(df):  # sorted in its one task, no range shuffle
        ordered = df.coalesce(1).sortWithinPartitions(order)
    else:
        ordered = df.orderBy(order)
    shard_dir = os.path.join(out_dir, f"_shards_{ext}")

    if ext == "csv":
        writer = (
            ordered.write.mode("overwrite")
            .option("header", "true")
            .option("timestampFormat", _ISO_TIMESTAMP)
        )
        writer.csv(shard_dir)
    elif ext == "ndjson":
        ordered.write.mode("overwrite").option("timestampFormat", _ISO_TIMESTAMP).json(shard_dir)
    else:  # parquet / orc — columnar, non-concatenable (reference K6)
        if single_file:
            # single-partition write, accepting the one-task cost the
            # caller opted into.
            ordered = ordered.coalesce(1)
        writer = ordered.write.mode("overwrite")
        (writer.parquet if ext == "parquet" else writer.orc)(shard_dir)

    if not single_file:
        return shard_dir

    target = os.path.join(out_dir, f"export.{ext}")
    parts = sorted(glob.glob(os.path.join(shard_dir, "part-*")))
    if ext in ("parquet", "orc"):
        shutil.move(parts[0], target)
    else:
        # Driver-side compose; the header line is kept from the first CSV
        # shard and stripped from the rest (reference header-blob prepend,
        # storage.py:447-489).
        with open(target, "wb") as out:
            for i, part in enumerate(parts):
                with open(part, "rb") as src:
                    if ext == "csv" and i > 0:
                        src.readline()  # drop shard-local header
                    shutil.copyfileobj(src, out, length=1 << 20)
    shutil.rmtree(shard_dir, ignore_errors=True)
    return target


def export_partitioned(
    df: DataFrame,
    out_dir: str,
    partition_by: list[str],
    fmt: str = "parquet",
    *,
    max_records_per_file: int | None = None,
) -> str:
    """Hive-partitioned columnar export: one directory per distinct value
    combination of ``partition_by`` (``col=value/...``), the layout Spark,
    Hive, Trino, and DuckDB all prune on.

    This is the scale-path sink the reference cannot express (its GCS
    compose is a flat blob list): a downstream reader filtering on a
    partition column touches ONLY the matching directories — the filter
    becomes a PartitionFilter resolved against directory names, no data
    files opened outside the selection. ``max_records_per_file`` caps
    file size so a skewed partition value still splits into parallel
    read units.
    """
    fmt = fmt.lower()
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"partitioned export requires columnar fmt, got: {fmt}")
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns not in frame: {missing}")
    # r13 (guide §6 small files): without clustering, EVERY write task
    # holds rows of EVERY partition value and emits one file per value it
    # sees — measured 1280 files for a 5000-row/20-value export (32 tasks
    # x 20 values x [data+crc]), the "small files hurt twice" shape.
    # REBALANCE by the partition columns routes each value to one
    # AQE-sized task (splitting skewed values, coalescing small ones), so
    # the file count tracks the data, not the task count. Row content is
    # untouched; ``max_records_per_file`` still caps files from hot
    # values.
    df = df.hint("rebalance", *partition_by)
    writer = df.write.mode("overwrite").partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    (writer.parquet if fmt == "parquet" else writer.orc)(out_dir)
    return out_dir
