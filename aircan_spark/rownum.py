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

Cache rule: persist (``cache=True``) only where re-running the input is
expensive (text/gzip parsing, joins) or could reorder rows (a shuffle
read: the range partitioning, whose fetch order breaks ties
arbitrarily). A columnar file scan without ``order_by`` is re-read
deterministically, and its count pass reads only footers — pass
``cache=False`` there (pipeline.run does so for parquet/orc resources).
The persist is ``frames.share``d and released by the caller's
``frames.scope()`` or ``@frames.result_scope`` (see ``frames``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aircan_spark import ROW_NUMBER_COLUMN
from aircan_spark.frames import share

_ROW = "__aircan_row"
_PART_BITS = 33  # MonotonicallyIncreasingID: partition index << 33


def with_row_number(
    df: DataFrame,
    column: str = ROW_NUMBER_COLUMN,
    start: int = 1,
    order_by: list[str | Column] | None = None,
    cache: bool = True,
    return_count: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Prepend a contiguous row-number column starting at ``start``.

    ``order_by``: explicit global ordering columns. When given, the frame is
    range-repartitioned on them first so the numbering is a true global
    order. When omitted, source order is preserved (file/split order), which
    matches the reference's ingest numbering.

    ``cache``: the algorithm reads the frame twice (counts, then numbering);
    caching guarantees the two passes see identical rows and order. Disable
    only for deterministic, cheap-to-rescan sources (see the module's cache
    rule).

    ``return_count``: return ``(numbered, rows)``, counted by the count pass.
    """
    prepared = df
    if order_by:
        cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
        prepared = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    prepared = prepared.withColumn(_ROW, F.monotonically_increasing_id())

    if cache:
        prepared = share(prepared)

    part = F.shiftright(F.col(_ROW), _PART_BITS)
    counts = prepared.groupBy(part.alias("p")).count().collect()
    entries: list[Column] = []
    acc = start
    for p, n in sorted(counts):
        entries += [F.lit(p).cast("long"), F.lit(acc - (p << _PART_BITS)).cast("long")]
        acc += n
    # Offsets enter the plan as a literal map, one entry per non-empty
    # partition, shipped with the task closure. No join, no shuffle.
    delta = F.create_map(*entries)[part] if entries else F.lit(0)
    data_cols = [c for c in df.columns if c != column]
    numbered = prepared.select((F.col(_ROW) + delta).alias(column), *data_cols)
    return (numbered, acc - start) if return_count else numbered
