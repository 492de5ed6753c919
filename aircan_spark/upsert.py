"""Join-based MERGE — upsert semantics on plain Parquet, Spark-first.

Reference semantics (SQL MERGE built at /root/reference/aircan/
dependencies/cloud/warehouse.py:200-297; SURVEY.md J1/A2/F2):

  MERGE target T USING (SELECT k..., ANY_VALUE(c) c... FROM stage GROUP BY k) S
  ON T.k = S.k ...
  WHEN MATCHED AND (T.c IS DISTINCT FROM S.c OR ...) THEN
    UPDATE SET c = S.c ..., _updated_at = @ts     -- _id preserved
  WHEN NOT MATCHED THEN
    INSERT (all cols, _id = next numbers, _updated_at = @ts)

Spark restatement (no Delta in this environment, so the merge is an explicit
full-outer join + projection + table rewrite — the same physical work Delta's
MERGE does on unpartitioned parquet):

1. dedup the stage on its keys. ANY_VALUE is nondeterministic in BigQuery;
   we deliberately pick FIRST-BY-`_id` (documented deviation, SURVEY §7.4.2)
   so reruns are idempotent.
2. full-outer join target vs stage on the keys (null keys never match,
   matching SQL MERGE ON semantics). AQE picks broadcast vs sort-merge;
   skew-join splitting handles hot keys.
3. NULL-safe change detection with ``eqNullSafe`` — exact analog of
   ``IS DISTINCT FROM`` (warehouse.py:236-239).
4. matched rows keep target `_id`; updates touch `_updated_at` ONLY when a
   data column actually changed (warehouse.py:272-276). The two are the
   engine's system columns, always named ``ROW_NUMBER_COLUMN`` /
   ``UPDATED_AT_COLUMN``; every other column is data, taken from the
   stage on a change.
5. inserts get contiguous `_id` continuing at MAX(target._id)+1 via the
   partition-offset numbering (rownum.py) — never a global window.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aircan_spark import ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN
from aircan_spark.frames import share
from aircan_spark.rownum import with_row_number

_S_PRESENT = "__aircan_s_present"


def dedup_stage(stage: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic first-row-per-key dedup (reference A2,
    warehouse.py:256-270, made deterministic per SURVEY §7.4.2).

    Rows are ranked within each key by the stage `_id` when present (i.e.
    source-file order) and the first kept. Falls back to an
    arbitrary-but-stable ``monotonically_increasing_id`` order.
    """
    order = ROW_NUMBER_COLUMN
    if order not in stage.columns:
        order = "__aircan_ord"
        stage = stage.withColumn(order, F.monotonically_increasing_id())
    w = Window.partitionBy(*keys).orderBy(F.col(order).asc())
    out = (
        stage.withColumn("__aircan_rn", F.row_number().over(w))
        .filter(F.col("__aircan_rn") == 1)
        .drop("__aircan_rn")
    )
    return out if order == ROW_NUMBER_COLUMN else out.drop(order)


def changed_predicate(
    data_columns: list[str], t_prefix: str = "T", s_prefix: str = "S"
) -> Column:
    """OR of NULL-safe inequality across data columns — exact analog of
    ``T.c IS DISTINCT FROM S.c OR ...`` (reference F2)."""
    if not data_columns:
        return F.lit(False)
    terms = [
        ~F.col(f"{t_prefix}.{c}").eqNullSafe(F.col(f"{s_prefix}.{c}"))
        for c in data_columns
    ]
    return reduce(lambda a, b: a | b, terms)


def merge(
    target: DataFrame,
    stage: DataFrame,
    keys: list[str],
    *,
    job_ts: dt.datetime | None = None,
    insert_start: int,
) -> DataFrame:
    """Compute the merged table as a DataFrame (caller writes it).

    ``insert_start``: the first `_id` for inserted rows. Both table kinds
    pass their recorded MAX(_id)+1 (commit metadata, no scan); a caller
    merging a SUBSET of the table must pass the table-wide value.

    The DEDUPED stage is ``frames.share``d big: open a ``frames.scope()``
    around the merge and its write. It feeds the update join, the insert
    anti-join and the insert numbering's sample and count passes, each of
    which would otherwise re-run the stage scan and dedup window.

    Column policy (mirrors warehouse.py:222-245):
    - keys: coalesced from both sides.
    - `_id`: kept from target on match; inserts get fresh contiguous
      numbers.
    - other stage columns: stage value when matched-and-changed or insert,
      else target value.
    - target-only columns (schema evolution): kept, NULL for inserts.
    - `_updated_at`: job timestamp on insert and on changed update;
      untouched otherwise.
    """
    if not keys:
        raise ValueError("upsert requires at least one unique key")
    missing = [k for k in keys if k not in stage.columns]
    if missing:
        # Reference guard: resolve_unique_keys_from_stage, warehouse.py:175-197
        raise ValueError(f"unique keys absent from stage: {missing}")
    job_ts = job_ts or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    stage = share(dedup_stage(stage, keys), big=True)

    system_cols = {ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN}
    stage_data_cols = [c for c in stage.columns if c not in keys and c not in system_cols]
    target_only_cols = [
        c for c in target.columns
        if c not in keys and c not in system_cols and c not in stage_data_cols
    ]
    shared_data_cols = [c for c in stage_data_cols if c in target.columns]
    target_types = {f.name: f.dataType for f in target.schema.fields}

    # The MERGE decomposes into two joins instead of one full-outer:
    #   updates   = target LEFT JOIN stage        (per-key-unique stage ->
    #               every target row exactly once)
    #   inserts   = stage  ANTI JOIN target keys
    # A full-outer join can never broadcast in Spark, so it would shuffle
    # the ENTIRE target by key on every upsert. In this shape AQE
    # broadcasts the (deduped, usually small) stage in both joins — target
    # rows never shuffle, and the anti join probes only the key columns.
    t = target.alias("T")
    s = stage.withColumn(_S_PRESENT, F.lit(True)).alias("S")
    cond = reduce(
        lambda a, b: a & b, [F.col(f"T.{k}") == F.col(f"S.{k}") for k in keys]
    )
    joined = t.join(s, cond, "left")

    s_present = F.col(f"S.{_S_PRESENT}").isNotNull()
    changed = s_present & changed_predicate(shared_data_cols)

    projections: list[Column] = []
    # Row-number column first (reference: first column of every table).
    if ROW_NUMBER_COLUMN in target.columns:
        existing_id = F.col(f"T.{ROW_NUMBER_COLUMN}").cast("long")
    else:
        existing_id = F.lit(None).cast("long")
    projections.append(existing_id.alias(ROW_NUMBER_COLUMN))
    for k in keys:
        projections.append(F.col(f"T.{k}").alias(k))
    for c in stage_data_cols:
        if c in target.columns:
            projections.append(
                F.when(changed, F.col(f"S.{c}")).otherwise(F.col(f"T.{c}")).alias(c)
            )
        else:
            # Schema evolution: brand-new column from the stage; existing
            # unmatched target rows get NULL (reference D3 ALTER-add).
            projections.append(
                F.when(s_present, F.col(f"S.{c}")).otherwise(F.lit(None)).alias(c)
            )
    for c in target_only_cols:
        projections.append(F.col(f"T.{c}").alias(c))
    if UPDATED_AT_COLUMN in target.columns:
        old_ts = F.col(f"T.{UPDATED_AT_COLUMN}")
    else:
        old_ts = F.lit(None).cast("timestamp")
    projections.append(
        F.when(changed, F.lit(job_ts)).otherwise(old_ts).alias(UPDATED_AT_COLUMN)
    )
    existing = joined.select(*projections)

    # Inserts: stage keys absent from the target. The probe side is the
    # target's KEY COLUMNS only (column-pruned scan).
    inserts_src = stage.drop(_S_PRESENT, ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN).alias("S")
    anti = inserts_src.join(target.select(*keys).alias("T"), cond, "left_anti")
    insert_cols: list[Column] = []
    for k in keys:
        insert_cols.append(F.col(k))
    for c in stage_data_cols:
        insert_cols.append(F.col(c))
    for c in target_only_cols:
        insert_cols.append(F.lit(None).cast(target_types[c]).alias(c))
    insert_cols.append(F.lit(job_ts).alias(UPDATED_AT_COLUMN))
    inserts = anti.select(*insert_cols)

    # Number the inserts: MAX(existing _id) + 1.. in key order, via the
    # partition-offset numbering (rownum.py) — never a single-task global
    # window over the merged table.
    if ROW_NUMBER_COLUMN not in target.columns:
        # Bootstrap: target has no numbering to preserve — number the whole
        # merged result contiguously in key order.
        all_rows = existing.drop(ROW_NUMBER_COLUMN).unionByName(inserts)
        return with_row_number(all_rows, start=insert_start, order_by=keys)
    numbered_inserts = with_row_number(inserts, start=insert_start, order_by=keys)
    return existing.unionByName(numbered_inserts)
