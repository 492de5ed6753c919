"""End-to-end resource ingestion pipeline — the §3.1 lifecycle as one
driver function.

Reference: the `pipeline_ckan_to_bigquery` DAG (/root/reference/aircan/
dags/pipeline_ckan_to_bigquery.py:54-89 params, :572-591 wiring). The
Airflow task graph (collect_config >> prepare_and_upload >> branch >>
{append_or_overwrite, upsert} >> export_and_publish >> cleanup) collapses
into sequential stages over ONE lazily-built DataFrame; the staging
table, GCS round-trips, and XCom plumbing disappear because Spark moves
the compute to the data instead of the data through services.

Config keys (names follow the reference's DAG params where they exist):

    resource_path       source file/URL (CSV/TSV/JSON/NDJSON/Parquet, .gz ok)
    resource_format     explicit format, else sniffed from the path
    table_name          target table (reference: resource id)
    warehouse           warehouse directory
    schema_descriptor   frictionless descriptor; inferred when absent
    method              'overwrite' | 'append' | 'upsert' (reference
                        bq_write_method / datastore_append_or_upsert)
    unique_keys         upsert keys; else from descriptor constraints
    validate            bool — row-level validation gate (abort on invalid):
                        an overwrite or append is written, and its commit
                        refused, on the counts its write job observed and
                        the keys it wrote; an upsert is checked before its
                        merge
    row_number_column   default '_id'
    updated_at_column   default '_updated_at'
    export              optional {'path': dir, 'format': fmt,
                        'single_file': bool}
    day_first           DMY date parsing (legacy Postgres path behavior),
                        for the load as well as the validation gate
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aircan_spark import ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN
from aircan_spark.export import export_ordered
from aircan_spark.frames import scope
from aircan_spark.rownum import number_files, with_row_number
from aircan_spark.schema import (
    decide_schema_action,
    descriptor_to_struct,
    sanitize_descriptor,
    struct_to_descriptor,
    unique_keys as descriptor_keys,
)
from aircan_spark.sources import infer_format, read_resource
from aircan_spark.table import ParquetTable, ensure_warehouse
from aircan_spark.validate import cell_error_count, conform, validate as validate_frame


class ValidationFailure(RuntimeError):
    """Pipeline abort on invalid data (reference: pipeline_ckan_to_bigquery
    .py:300-317 raises to fail the DAG run)."""

    def __init__(self, report: dict[str, Any]):
        self.report = report
        super().__init__(
            f"validation failed: {report['error_count']} errors "
            f"in {report['row_count']} rows"
        )


def run(spark: SparkSession, config: dict[str, Any]) -> dict[str, Any]:
    """Execute the ingestion lifecycle; returns a result report."""
    path = config["resource_path"]
    method = config.get("method", "overwrite")
    rn_col = config.get("row_number_column", ROW_NUMBER_COLUMN)
    ts_col = config.get("updated_at_column", UPDATED_AT_COLUMN)
    job_ts = config.get("job_ts") or dt.datetime.now(dt.timezone.utc).replace(
        tzinfo=None
    )
    warehouse = ensure_warehouse(config.get("warehouse", "./warehouse"))

    # --- schema: declared or inferred (reference S6, :271-282) ------------
    descriptor = config.get("schema_descriptor")
    declared = descriptor is not None
    if declared:
        descriptor = sanitize_descriptor(descriptor)
    raw = read_resource(spark, path, config.get("resource_format"), descriptor=descriptor)
    if not declared:
        descriptor = struct_to_descriptor(raw.schema)
    day_first = config.get("day_first", False)

    # --- target table: plain, or hash-bucketed for partial-rewrite merges --
    keys = config.get("unique_keys") or descriptor_keys(descriptor)
    num_buckets = config.get("num_buckets")
    if num_buckets:
        if not keys:
            raise ValueError("num_buckets requires unique_keys (config or descriptor)")
        from aircan_spark.bucketed import BucketedParquetTable

        table: Any = BucketedParquetTable(
            spark, warehouse, config["table_name"], keys=keys, num_buckets=num_buckets
        )
    else:
        table = ParquetTable(spark, warehouse, config["table_name"])

    # --- schema-drift decision (reference D4: compare_schema,
    # api_loader.py:70-150) — consulted on every incremental load of an
    # existing table. Type change on same columns => SchemaDriftError (the
    # append-enabled prohibition). Column-set drift => policy:
    #   on_schema_drift: 'evolve' (default) keeps the engine's additive
    #   append (D3 — removed columns stay, added columns backfill NULL);
    #   'recreate' mirrors the reference datastore (drop + reload).
    recreate_schema = None
    if method in ("append", "upsert") and table.exists():
        decision = decide_schema_action(
            table.read().schema,
            descriptor_to_struct(descriptor) if declared else raw.schema,
            type_overrides=config.get("data_dictionary"),
            append_enabled=True,
        )
        if decision["action"] == "recreate" and (
            config.get("on_schema_drift", "evolve") == "recreate"
        ):
            method = "overwrite"
            recreate_schema = decision["schema"]

    # --- row numbering (reference 2c/2d: MAX+1 offset, stream inject) ------
    start = 1
    if method in ("append", "upsert") and table.exists():
        start = table.max_id(rn_col) + 1

    # A parquet scan is numbered from its files' footers, and a
    # one-partition source (a gzip text file) from offsets {0: start}: no
    # count pass, no job. Other sources take the count pass, which returns
    # its total for the upsert gate; an ORC scan re-reads its files
    # deterministically, so it skips the persist that text re-parses keep
    # (rownum.py cache rule).
    fmt = infer_format(path, config.get("resource_format"))
    report: dict[str, Any] | None = None
    check = None
    with scope():  # a count pass's persist, held until the write
        if fmt == "parquet":
            numbered, rows = number_files(raw, rn_col, start)
        else:
            numbered, rows = with_row_number(
                raw, column=rn_col, start=start, cache=fmt != "orc", return_count=True
            )
        source = numbered

        # --- validation gate (reference 2b, :287-317) -----------------------
        if config.get("validate"):
            def gate(
                row_count: int, cell_errors: int | None = None, loaded: DataFrame | None = None
            ) -> None:
                nonlocal report
                report = validate_frame(
                    numbered, descriptor, row_count, cell_errors=cell_errors,
                    loaded=loaded, first_id=start, row_column=rn_col, day_first=day_first,
                )
                if not report["valid"]:
                    raise ValidationFailure(report)

            if method == "upsert":
                # The merge reads the stage through a dedup and a persist,
                # where an observation never arrives on an empty stage: the
                # gate runs before the merge, counting the source if the
                # numbering did not (a one-partition source, counted in
                # its one task with no shuffle).
                gate(numbered.coalesce(1).count() if rows is None else rows)
            else:
                # The write job counts the source's rows and bad cells, and
                # the commit runs the gate on them before it publishes, with
                # the unique check over the key columns the attempt wrote.
                obs = Observation()
                source = numbered.observe(
                    obs,
                    F.count(F.lit(1)).alias("row_count"),
                    cell_error_count(numbered, descriptor, day_first).alias("cell_errors"),
                )

                def check(attempt: DataFrame) -> None:
                    gate(**obs.get, loaded=attempt)

        typed = conform(source, descriptor, day_first) if declared else source
        if recreate_schema is not None:
            # Persist the curator-declared types on recreate (the reference
            # reloads with the data-dictionary schema, api_loader.py:70-150)
            # — not just use them for the decision. try_cast: a cell that
            # can't take the declared type becomes NULL rather than failing
            # the job mid-rewrite (validation is the abort gate, not this).
            typed = typed.select(rn_col, *[
                F.col(f.name).try_cast(f.dataType).alias(f.name) for f in recreate_schema.fields
            ])

        # --- write branch (reference 3/4a/4b, :360-460) ---------------------
        if method == "upsert":
            if not keys:
                raise ValueError("upsert requires unique_keys (config or descriptor)")
            if num_buckets:
                table.upsert(typed, job_ts=job_ts)
            else:
                table.upsert(typed, keys, job_ts=job_ts)
        elif method == "append":
            table.append(typed.withColumn(ts_col, F.lit(job_ts)), check)
        elif method == "overwrite":
            table.overwrite(typed.withColumn(ts_col, F.lit(job_ts)), check)
        else:
            raise ValueError(f"unknown method: {method!r}")

    # --- export (reference 5, :483-569) --------------------------------------
    export_path = None
    if config.get("export"):
        exp = config["export"]
        export_path = export_ordered(
            table.read(),
            exp["path"],
            exp.get("format", config.get("resource_format") or "csv"),
            order_column=rn_col,
            single_file=exp.get("single_file", False),
        )

    return {
        "table": table.path,
        "version": table.current_version(),
        "rows": table.row_count(),
        "method": method,
        "validation": report,
        "export": export_path,
        "job_ts": job_ts.isoformat(),
    }
