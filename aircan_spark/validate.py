"""Row-level validation — distributed re-expression of the reference's
frictionless validation (/root/reference/aircan/dependencies/utils/
validation.py:11-102; report handling dags/pipeline_ckan_to_bigquery.py:
287-317).

``conform`` is the one cast: it is the only place a descriptor's declared
types are applied, and it ends in ``descriptor_to_struct``'s Spark types.
``pipeline.run`` loads ``conform`` of the frame the gate checked, so a
cell is either reported or loaded as checked, never silently nulled.

The reference re-reads the source row-by-row through frictionless and
collects type/constraint errors capped at 1000. Here the gate is a Spark
plan over the numbered raw frame (text sources read as strings, columnar
sources in their native types), which it neither caches nor counts: the
caller supplies ``row_count``. ``pipeline.run`` gates an overwrite or
append inside its write: the write job observes the source's rows and
``cell_error_count``, and the table's pre-commit check calls ``validate``
with both and the attempt's written rows, whose key columns the unique
aggregates read. With no bad cell, only those aggregates run; the report
query (below) runs only on a load it refuses. An upsert is gated before
its merge over the source, with the numbering's count or one count of
the source.

- type errors: a non-null raw cell whose ``conform`` cast is NULL is a
  ``type-error``, reported with the cell's source text (same detection
  frictionless does, but vectorized JVM-side, no Python in the loop).
- ``required`` violations: NULL/empty in a required field.
- ``unique`` violations: groupBy(conformed key).count() > 1, listed in
  ascending key order.

The error frame is only ever materialized via ``limit(error_cap)`` — the
scan short-circuits instead of collecting everything.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aircan_spark import ROW_NUMBER_COLUMN
from aircan_spark.frames import one_partition
from aircan_spark.schema import descriptor_to_struct

ERROR_CAP = 1000  # reference default limit_errors (pipeline_ckan_to_bigquery.py:296)


def _cast(col: Column, source: T.DataType, target: T.DataType, day_first: bool) -> Column:
    """Cast one column to its declared Spark type, NULL on failure
    (``try_cast`` — Spark 4 is ANSI by default, a plain CAST would abort the
    job on the first malformed cell). Spark's string-to-boolean cast takes
    t/true/y/yes/1 and f/false/n/no/0 in any case, as to_bool does
    (dependencies_legacy/utils.py:183-197); day-first dates mirror the
    Postgres path's DMY datestyle (postgres_loader.py:113,151)."""
    if day_first and isinstance(target, T.DateType) and isinstance(source, T.StringType):
        return F.coalesce(
            F.try_to_timestamp(col, F.lit("d/M/yyyy")).cast("date"),
            F.try_to_timestamp(col, F.lit("d-M-yyyy")).cast("date"),
            col.try_cast("date"),
        )
    return col.try_cast(target)


def _casts(raw: DataFrame, descriptor: dict[str, Any], day_first: bool) -> dict[str, Column]:
    """Declared field name -> its ``conform`` cast over ``raw``, carrying
    the descriptor's field metadata."""
    source = {f.name: f.dataType for f in raw.schema.fields}
    return {
        f.name: _cast(F.col(f.name), source[f.name], f.dataType, day_first).alias(
            f.name, metadata=f.metadata
        )
        for f in descriptor_to_struct(descriptor).fields
    }


def conform(raw: DataFrame, descriptor: dict[str, Any], day_first: bool = False) -> DataFrame:
    """Apply the descriptor's declared types to ``raw``. Columns the
    descriptor does not declare (the row number) pass through in place."""
    casts = _casts(raw, descriptor, day_first)
    return raw.select(*[casts.get(c, F.col(c)) for c in raw.columns])


def _cell_codes(raw: DataFrame, descriptor: dict[str, Any], day_first: bool) -> dict[str, Column]:
    """Declared field name -> the error code of its cell in ``raw``, NULL
    for a cell that passes: ``type-error`` for a present cell whose
    ``conform`` cast is NULL, ``constraint-error:required`` for a missing
    cell of a required field. The one per-cell predicate: the report lists
    these cells and ``cell_error_count`` counts them."""
    casts = _casts(raw, descriptor, day_first)
    codes = {}
    for f in descriptor.get("fields", []):
        name = f["name"]
        col = F.col(name)
        raw_present = col.isNotNull() & (F.trim(col) != "")
        err = F.when(raw_present & casts[name].isNull(), F.lit("type-error"))
        if (f.get("constraints") or {}).get("required"):
            err = F.when(~raw_present, F.lit("constraint-error:required")).otherwise(err)
        codes[name] = err
    return codes


def cell_error_count(raw: DataFrame, descriptor: dict[str, Any], day_first: bool = False) -> Column:
    """Aggregate over ``raw``: its cells that fail their declared cast or
    ``required``, the cells the report lists. ``pipeline.run`` observes it
    on the write job, so a load with no bad cell runs no cell query."""
    codes = _cell_codes(raw, descriptor, day_first).values()
    return sum((F.count_if(err.isNotNull()) for err in codes), F.lit(0).cast("long"))


def validate(
    numbered: DataFrame,
    descriptor: dict[str, Any],
    row_count: int,
    *,
    cell_errors: int | None = None,
    loaded: DataFrame | None = None,
    first_id: int = 1,
    row_column: str = ROW_NUMBER_COLUMN,
    error_cap: int = ERROR_CAP,
    day_first: bool = False,
    row_start: int = 2,
) -> dict[str, Any]:
    """Validate a numbered raw frame against a descriptor.

    ``numbered`` is the raw frame after ``with_row_number`` or
    ``number_files``: its ``row_column`` numbers the source rows from
    ``first_id``, and ``row_count`` is its row count.

    ``cell_errors``: the frame's ``cell_error_count``, when the caller
    already observed it. At 0 only the unique aggregates run; otherwise
    the report query lists the bad cells as well.

    ``loaded``: the rows written from ``numbered``, its fields conformed.
    When given, the unique aggregates read its key columns, not the
    source's, so the check reads what is loaded. A one-partition frame (a
    one-file attempt, a gzip source) is aggregated in one job, no shuffle.
    Duplicate keys follow the cell errors in ascending key order (the
    smallest, past ``error_cap``), however the frame is partitioned.

    Returns a report dict shaped like the reference's abort payload
    (pipeline_ckan_to_bigquery.py:300-311): ``valid``, ``row_count``,
    ``error_count`` (capped), ``errors`` (list of {row, field, code,
    value}).

    ``row_start``: the row number reported for the FIRST data row.
    Defaults to 2 — frictionless numbers physical file rows, so with a
    header row the first data row is row 2 (matching the reference's
    report rows exactly). Pass 1 for headerless sources.
    """
    fields = descriptor.get("fields", [])
    casts = _casts(numbered, descriptor, day_first)
    error_frames: list[DataFrame] = []

    # Per-cell type + required errors in ONE projection pass.
    bad_cells = [
        F.when(
            err.isNotNull(),
            F.struct(
                F.lit(name).alias("field"),
                err.alias("code"),
                F.col(name).cast("string").alias("value"),
            ),
        )
        for name, err in _cell_codes(numbered, descriptor, day_first).items()
    ]
    if bad_cells and cell_errors != 0:
        # 1-based source row positions (frictionless row numbering), from
        # the load's own numbering.
        row = F.col(row_column) - F.lit(first_id) + F.lit(row_start)
        errs = numbered.select(
            row.alias("row"),
            F.explode(F.filter(F.array(*bad_cells), lambda x: x.isNotNull())).alias("e"),
        ).select("row", "e.field", "e.code", "e.value")
        error_frames.append(errs)

    # unique-constraint violations: conformed keys appearing more than once,
    # in ascending key order (a top-k, so the cap keeps the smallest keys).
    for f in fields:
        if (f.get("constraints") or {}).get("unique"):
            name = f["name"]
            keys = numbered.select(casts[name]) if loaded is None else loaded.select(name)
            if one_partition(keys):
                keys = keys.coalesce(1)  # aggregated in its one task, no shuffle
            # count(name) is 0 for the NULL key: no NULL filter for the scan
            dupes = (
                keys.groupBy(name)
                .agg(F.count(name).alias("n"))
                .filter(F.col("n") > 1)
                .orderBy(name)
                .limit(error_cap)
                .select(
                    F.lit(-1).cast("long").alias("row"),
                    F.lit(name).alias("field"),
                    F.lit("constraint-error:unique").alias("code"),
                    F.col(name).cast("string").alias("value"),
                )
            )
            error_frames.append(dupes)

    collected = []
    if error_frames:
        all_errors = error_frames[0]
        for e in error_frames[1:]:
            all_errors = all_errors.unionByName(e)
        collected = all_errors.limit(error_cap).collect()

    errors = [r.asDict() for r in collected]
    return {
        "valid": not errors,
        "row_count": row_count,
        "error_count": len(errors),
        "error_cap": error_cap,
        "errors": errors,
    }
