"""Auxiliary sinks — Postgres bulk load, HTTP batch API sink, format convert.

Reference analogs:
- K8 Postgres load: load_csv_to_postgres_via_copy (dependencies_legacy/
  postgres_loader.py:86-212) — 85k-row pandas chunks
  through COPY. Spark-first: the COPY runs per partition via
  foreachPartition (``copy_to_postgres``).
- K9 HTTP API sink: load_resource_via_api (dependencies_legacy/
  api_loader.py:214-265) + chunky (dependencies_legacy/utils.py:158-168) —
  250-row batched POSTs. Spark-first: ``foreachPartition`` so every
  executor posts its own partition concurrently; batch size preserved.
- K10 CSV->JSON convert (dependencies_legacy/file_conversion/
  csv_to_json.py:8-31): a read->write transcode.
- P6 serialization quirks (DatastoreEncoder, dependencies_legacy/
  utils.py:170-177): Decimal -> str, datetime -> isoformat when emitting
  JSON records.

No network calls happen here in tests — the HTTP poster is injectable.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

API_BATCH_SIZE = 250  # reference: aircan_datastore_chunk_insert_rows_size


def chunky(iterable, size: int):
    """Yield lists of up to ``size`` items (reference: chunky,
    dependencies_legacy/utils.py:158-168)."""
    batch: list[Any] = []
    for item in iterable:
        batch.append(item)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch


def _json_safe(value: Any) -> Any:
    """DatastoreEncoder semantics: Decimal -> str, datetime/date ->
    isoformat (reference: dependencies_legacy/utils.py:170-177)."""
    if hasattr(value, "isoformat"):
        return value.isoformat()
    import decimal

    if isinstance(value, decimal.Decimal):
        return str(value)
    if isinstance(value, bytearray):
        return bytes(value).hex()
    return value


def rows_to_records(rows) -> list[dict[str, Any]]:
    return [{k: _json_safe(v) for k, v in row.asDict().items()} for row in rows]


def post_in_batches(
    df: DataFrame,
    poster: Callable[[list[dict[str, Any]]], None],
    batch_size: int = API_BATCH_SIZE,
) -> None:
    """HTTP batch sink (K9): each executor partition streams its rows as
    ``batch_size``-row POST payloads through ``poster`` (a picklable
    callable, e.g. a requests wrapper bound to the datastore_upsert URL).

    Distribution shape matches the reference semantics (250-row payloads)
    but parallelizes across partitions instead of a single driver loop.
    """

    def handle_partition(rows: Iterator) -> None:
        for batch in chunky(rows, batch_size):
            poster(rows_to_records(batch))

    df.foreachPartition(handle_partition)


def convert_csv_to_json(
    spark: SparkSession, src: str, dst: str, multiline_array: bool = False
) -> str:
    """K10: whole-file CSV -> JSON records. ``multiline_array=True``
    produces one JSON array document (the reference's records orientation);
    default is NDJSON (concat-safe, scalable)."""
    df = spark.read.option("header", "true").option("inferSchema", "true").csv(src)
    if multiline_array:
        records = rows_to_records(df.collect())  # driver-side, small files only
        with open(dst, "w") as fh:
            json.dump(records, fh)
        return dst
    df.write.mode("overwrite").json(dst)
    return dst


# --- K8/J2: Postgres COPY fast path ------------------------------------------------


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _copy_sql(table: str, columns: list[str]) -> str:
    cols = ", ".join(_quote_ident(c) for c in columns)
    return (
        f"COPY {_quote_ident(table)} ({cols}) FROM STDIN "
        f"WITH (DELIMITER ',', FORMAT csv, HEADER 1, ENCODING 'UTF8')"
    )


def _upsert_sqls(table: str, columns: list[str], unique_keys: list[str]) -> tuple[str, str, str]:
    """(temp-table DDL, temp COPY, merge INSERT..ON CONFLICT) — the
    reference's three-phase upsert (postgres_loader.py:121-134)."""
    cols = ", ".join(_quote_ident(c) for c in columns)
    tmp = f"temp_{table}"
    keys = ", ".join(_quote_ident(k) for k in unique_keys)
    update_set = ", ".join(
        f"{_quote_ident(c)}=EXCLUDED.{_quote_ident(c)}"
        for c in columns
        if c not in unique_keys
    )
    ddl = (
        f"CREATE TEMPORARY TABLE {_quote_ident(tmp)} "
        f"(LIKE {_quote_ident(table)}) ON COMMIT DROP"
    )
    merge = (
        f"INSERT INTO {_quote_ident(table)} ({cols}) "
        f"SELECT {cols} FROM {_quote_ident(tmp)} "
        f"ON CONFLICT ({keys}) DO UPDATE SET {update_set}"
    )
    return ddl, _copy_sql(tmp, columns), merge


def _pg_index_defs(cur, table: str) -> list[tuple[str, str]]:
    """(indexname, indexdef) rows for ``table`` from ``pg_indexes``
    (reference D6 discovery query, postgres_loader.py:14-19)."""
    safe = table.replace("'", "''")
    cur.execute(
        "SELECT indexname, indexdef FROM pg_indexes "
        f"WHERE schemaname = 'public' AND tablename = '{safe}'"
    )
    fetch = getattr(cur, "fetchall", None)
    rows = fetch() if callable(fetch) else None
    return [tuple(r) for r in rows] if rows else []


def drop_indexes(table: str, connection_factory: Callable[[], Any]) -> list[tuple[str, str]]:
    """D6 pre-load step: drop every index on ``table`` so a bulk COPY
    writes heap pages only (index maintenance per-row is the classic
    bulk-load tax), returning (name, CREATE-statement) pairs for
    :func:`restore_indexes`. Mirrors the reference's ``delete_index``
    (postgres_loader.py:12-41) but keeps the real ``indexdef`` so the
    restore recreates the indexes that actually existed — not a
    re-derivation from the schema dictionary."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        defs = _pg_index_defs(cur, table)
        for name, _ in defs:
            cur.execute(f"DROP INDEX {_quote_ident(name)} CASCADE")
        conn.commit()
        return defs
    finally:
        conn.close()


def restore_indexes(
    table: str,
    saved: list[tuple[str, str]],
    connection_factory: Callable[[], Any],
    *,
    primary_key: list[str] | None = None,
) -> None:
    """D6 post-load step: recreate the indexes captured by
    :func:`drop_indexes` (exact ``indexdef`` replay). If nothing was
    saved and ``primary_key`` is given, create the reference-shaped
    sha1-named UNIQUE index on the key columns (intent of
    ``restore_indexes_and_set_datastore_active`` +
    ``_generate_index_name``, postgres_loader.py:44-87 — the reference
    builds one unique primary-key index; its bug of indexing every
    field into the PK index is not reproduced)."""
    import hashlib

    conn = connection_factory()
    try:
        cur = conn.cursor()
        if saved:
            for _, indexdef in saved:
                cur.execute(indexdef)
        elif primary_key:
            flds = ", ".join(_quote_ident(k) for k in primary_key)
            name = hashlib.sha1((table + flds).encode("utf-8")).hexdigest()
            cur.execute(
                f"CREATE UNIQUE INDEX {_quote_ident(name)} "
                f"ON {_quote_ident(table)} ({flds})"
            )
        conn.commit()
    finally:
        conn.close()


def copy_to_postgres(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    *,
    unique_keys: list[str] | None = None,
    chunk_rows: int = 85_000,
    manage_indexes: bool = False,
    primary_key: list[str] | None = None,
) -> None:
    """Postgres bulk load via COPY FROM STDIN (reference K8/J2 fast path,
    postgres_loader.py:86-212 — the reference picked COPY FROM STDIN over
    superuser COPY; same here).

    Spark-first shape: **each partition opens its own connection and
    streams its rows as CSV chunks** (85k rows per buffer, the reference's
    chunksize) — N partitions COPY in parallel, which is how a 1000-executor
    load saturates a Postgres cluster's ingest nodes; the reference's
    single pandas loop is the 1-partition special case. With
    ``unique_keys``, each partition COPYs into a session-temp table and
    merges with INSERT .. ON CONFLICT DO UPDATE (EXCLUDED columns). Two
    hazards make concurrent per-partition merges unsafe on a raw frame —
    duplicate keys INSIDE one partition fail the merge outright
    ("cannot affect row a second time") and the same key merging from two
    partitions at once can deadlock — so with ``unique_keys`` the frame is
    first deduped per key (deterministic first-by-`_id`, the engine's A2
    rule) and hash-repartitioned on the keys, which confines every key to
    exactly one partition/connection.

    ``connection_factory``: zero-arg picklable callable returning a DBAPI
    connection whose cursor supports ``copy_expert`` (psycopg2-style). The
    driver jar / psycopg2 are absent in this container — injectable by
    design, unit-tested against a recording fake.

    ``manage_indexes=True`` (reference D6, postgres_loader.py:12-87):
    drop every index on ``table`` driver-side BEFORE the distributed
    COPY and recreate them after — bulk loads into an indexed table pay
    per-row B-tree maintenance on every partition's connection; one
    rebuild at the end is O(n log n) once instead. With no pre-existing
    indexes and ``primary_key`` set, the post-step creates the
    reference's sha1-named UNIQUE key index. Skipped on the upsert path
    (``unique_keys``): ON CONFLICT requires the unique index to exist
    DURING the merge, so dropping it would break the load — the
    reference only ever managed indexes around its plain-COPY path.
    """
    columns = list(df.columns)
    keys = list(unique_keys or [])
    missing = [k for k in keys if k not in columns]
    if missing:
        raise ValueError(f"unique keys absent from frame: {missing}")
    if keys:
        from aircan_spark.upsert import dedup_stage

        df = dedup_stage(df, keys).repartition(*[F.col(k) for k in keys])
    saved_indexes: list[tuple[str, str]] = []
    if manage_indexes and not keys:
        saved_indexes = drop_indexes(table, connection_factory)

    def load_partition(rows: Iterator) -> None:
        import csv as _csv
        import io as _io

        conn = connection_factory()
        try:
            cur = conn.cursor()
            cur.execute("SET datestyle = 'DMY'")  # reference day-first parity
            if keys:
                ddl, copy_stmt, merge = _upsert_sqls(table, columns, keys)
                cur.execute(ddl)
            else:
                copy_stmt, merge = _copy_sql(table, columns), None
            for batch in chunky(rows, chunk_rows):
                buf = _io.StringIO()
                w = _csv.writer(buf)
                w.writerow(columns)  # HEADER 1
                for row in batch:
                    w.writerow(["" if v is None else v for v in row])
                buf.seek(0)
                cur.copy_expert(copy_stmt, buf)
            if merge is not None:
                cur.execute(merge)
            conn.commit()
        finally:
            conn.close()

    df.foreachPartition(load_partition)
    if manage_indexes and not keys:
        restore_indexes(
            table, saved_indexes, connection_factory, primary_key=primary_key
        )
