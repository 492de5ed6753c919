"""Distributed contiguous row numbering — the engine's system `_id` column.

Reference semantics (SURVEY.md §1.4; /root/reference/aircan/dependencies/
cloud/storage.py:69-88,119-125,172-174 and cloud/warehouse.py:13-31):
every ingested table gets a sequential INT64 `_id` as its FIRST column,
numbered 1..N in source order for overwrite, continuing at MAX(_id)+1 for
append, preserved on upsert matches.

The reference streams single-threaded so a counter suffices. On Spark a
``row_number()`` window with no partitioning collapses the whole table
into ONE task. Instead numbering is zipWithIndex's algorithm, expressed as
a narrow projection on the DataFrame API:

1. tag every row with ``monotonically_increasing_id()`` (after
   ``repartitionByRange(...).sortWithinPartitions(...)`` when ``order_by``
   is given). Its layout is ``(partition index << 33) + position``: the
   high 31 bits name the partition, the low 33 bits count rows within it
   from 0, in partition order (file/split order for source scans), so a
   partition may hold at most 2^33 (8.6 billion) rows;
2. count rows per partition, keyed on ``id >> 33`` — one small
   aggregate, one number per non-empty partition comes back to the driver;
3. ``_id = id + delta[id >> 33]`` with ``delta[p] = start + rows_before(p)
   - (p << 33)``, where ``delta`` is a literal map in the plan.

The numbering itself adds no Exchange, no sort and no Window; the only
shuffle is ``order_by``'s range partitioning (plus the tiny count
aggregate). The frame is read twice (counts, then numbering), and both
reads must see the same rows in the same partitions and order.

A frame of one partition needs no count pass: its offsets are ``{0:
start}``. Without ``order_by``, ``with_row_number`` asks
``frames.one_partition``, which answers with no job for a plan without an
exchange (a frame with an exchange keeps the count pass). An unsplittable
gzip source is one partition, so its numbering is one projection, with no
job and no persist, and the same literal-map ``_id`` (and schema) a count
pass gives. ``return_count`` also returns the count pass's total, as
``number_files`` returns its footers' rows.

A parquet file scan needs no count pass either: ``number_files`` takes
the rows of each file from its footer on the driver and numbers
``_id = start + rows_before(file) + _metadata.row_index``, with files in
path order (Delta's row tracking reads ``baseRowId + row_index`` the same
way). It runs 0 Spark jobs and adds nothing to the scan's plan but one
projection. ``pipeline.run`` uses it for every parquet resource, whose
read (``sources.read_parquet``, schema from a footer) runs none either;
other sources (text, and ORC, which has no ``_metadata.row_index``) go
through ``with_row_number``.

Cache rule (count pass only): persist (``cache=True``) only where
re-running the input is expensive (text/gzip parsing, joins) or could
reorder rows (a shuffle read: the range partitioning, whose fetch order
breaks ties arbitrarily). An ORC scan without ``order_by`` is re-read
deterministically, and its count pass reads only footers — pass
``cache=False`` there (pipeline.run does so).
The persist is ``frames.share``d and released by the caller's
``frames.scope()`` or ``@frames.result_scope`` (see ``frames``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aircan_spark import ROW_NUMBER_COLUMN
from aircan_spark.frames import one_partition, share
from aircan_spark.sources import parquet_footer

_ROW = "__aircan_row"
_PART_BITS = 33  # MonotonicallyIncreasingID: partition index << 33


def with_row_number(
    df: DataFrame,
    column: str = ROW_NUMBER_COLUMN,
    start: int = 1,
    order_by: list[str | Column] | None = None,
    cache: bool = True,
    return_count: bool = False,
) -> DataFrame | tuple[DataFrame, int | None]:
    """Prepend a contiguous row-number column starting at ``start``.

    ``order_by``: explicit global ordering columns. When given, the frame is
    range-repartitioned on them first so the numbering is a true global
    order. When omitted, source order is preserved (file/split order), which
    matches the reference's ingest numbering, and a one-partition frame is
    numbered without a count pass (no job, no persist).

    ``cache``: the count pass reads the frame twice (counts, then
    numbering); caching guarantees the two passes see identical rows and
    order. Disable only for deterministic, cheap-to-rescan sources (see the
    module's cache rule).

    ``return_count``: return ``(numbered, rows)``, ``rows`` being the count
    pass's total, or None for a frame numbered without one.
    """
    prepared = df
    if order_by:
        cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
        prepared = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    prepared = prepared.withColumn(_ROW, F.monotonically_increasing_id())

    part = F.shiftright(F.col(_ROW), _PART_BITS)
    rows = None
    if not order_by and one_partition(df):
        counts = [(0, 0)]  # offsets {0: start}, whatever its row count
    else:
        if cache:
            prepared = share(prepared)
        counts = prepared.groupBy(part.alias("p")).count().collect()
        rows = sum(n for _, n in counts)
    entries: list[Column] = []
    acc = start
    # Offsets enter the plan as a literal map, one entry per non-empty
    # partition (partition 0 for an empty frame, so ``_id`` is nullable on
    # every load), shipped with the task closure. No join, no shuffle.
    for p, n in sorted(counts) or [(0, 0)]:
        entries += [F.lit(p).cast("long"), F.lit(acc - (p << _PART_BITS)).cast("long")]
        acc += n
    delta = F.create_map(*entries)[part]
    data_cols = [c for c in df.columns if c != column]
    numbered = prepared.select((F.col(_ROW) + delta).alias(column), *data_cols)
    return (numbered, rows) if return_count else numbered


def footer_rows(spark: SparkSession, files: list[str]) -> list[int]:
    """Rows of each parquet file in ``files`` (URL strings, as
    ``DataFrame.inputFiles()`` gives them), from its footer's row groups,
    read on the driver by ``sources.parquet_footer``: 0 Spark jobs."""
    fs_path, uri = spark._jvm.org.apache.hadoop.fs.Path, spark._jvm.java.net.URI
    footers = (parquet_footer(spark, fs_path(uri(url))) for url in files)
    return [sum(block.getRowCount() for block in f.getBlocks()) for f in footers]


def number_files(df: DataFrame, start: int = 1) -> tuple[DataFrame, int]:
    """Number a parquet file scan in (file path, row) order as its `_id`;
    return ``(numbered, rows)``.

    ``df`` is a ``sources.read_parquet`` scan, optionally under column
    selections and renames. ``_id = base[file] + row_index``, with ``base``
    a literal map from each scanned file to ``start`` plus the rows of the
    files before it in path order. A scanned file missing from ``base``
    fails the job rather than yield a NULL ``_id``.
    """
    uri = df.sparkSession._jvm.java.net.URI

    def file_path(url: str) -> str:
        # inputFiles() spells a local file file:///p where
        # _metadata.file_path spells it file:/p; rebuilding the URI from
        # its parts gives the latter, with the same escaping.
        u = uri(url)
        return uri(
            u.getScheme(), u.getAuthority(), u.getPath(), u.getQuery(), u.getFragment()
        ).toString()

    files = sorted(file_path(url) for url in df.inputFiles())
    entries: list[Column] = []
    acc = start
    for path, n in zip(files, footer_rows(df.sparkSession, files)):
        entries += [F.lit(path), F.lit(acc).cast("long")]
        acc += n
    meta = df.metadataColumn("_metadata")
    scanned = meta.getField("file_path")
    base = F.coalesce(
        F.create_map(*entries)[scanned] if entries else F.lit(None).cast("long"),
        F.raise_error(F.concat(F.lit("row numbering has no base for "), scanned)),
    )
    data_cols = [c for c in df.columns if c != ROW_NUMBER_COLUMN]
    numbered = df.select(
        (base + meta.getField("row_index")).alias(ROW_NUMBER_COLUMN), *data_cols
    )
    return numbered, acc - start
