"""Structured Streaming surface — incremental ingest and event-time
analytics.

The reference has NO streaming operators (SURVEY §2.11): its incremental
behavior is batch append-with-offset (A1) and upsert (J1). This module is
the Spark-native extension of exactly those semantics to continuous
sources, using the primitives the reference's design implies:

- ``stream_ingest``: files landing in a directory stream into a managed
  table via ``foreachBatch`` -> the SAME batch upsert/append machinery
  (exactly-once per micro-batch through checkpointing + idempotent merge;
  the `_id` offset continuation is the streaming analog of A1).
- ``windowed_event_counts``: event-time tumbling windows with a watermark
  for late data — the canonical streaming aggregation over the events
  table shape.
- ``running_user_totals``: stateful per-key accumulation via
  ``applyInPandasWithState`` — the custom-stateful-operator template
  (arbitrary state, timeout handling), Arrow-batched.

Scale notes: file-source streaming with ``maxFilesPerTrigger`` bounds
per-batch work; the windowed agg is a streaming partial aggregation
(map-side combine before shuffle); state store partitioning follows
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aircan_spark import UPDATED_AT_COLUMN
from aircan_spark.frames import scope
from aircan_spark.rownum import with_row_number
from aircan_spark.sources import read_parquet
from aircan_spark.table import ParquetTable


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    table: ParquetTable,
    checkpoint_dir: str,
    fmt: str = "json",
    keys: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
):
    """Continuously ingest files from ``source_dir`` into ``table``.

    Each micro-batch runs the batch engine's own write path: row numbers
    continue from MAX(_id)+1 (A1 semantics) and, when ``keys`` are given,
    the batch MERGEs (J1 semantics) — so a replayed batch after failure
    converges to the same table state (idempotent upsert + checkpoint
    offsets = effective exactly-once).

    Returns the StreamingQuery; caller awaits/stops it.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "json":
        stream = reader.json(source_dir)
    elif fmt == "csv":
        stream = reader.option("header", "true").csv(source_dir)
    elif fmt == "parquet":
        stream = reader.parquet(source_dir)
    else:
        raise ValueError(f"unsupported streaming format: {fmt}")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        start = table.max_id() + 1
        ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        with scope():  # the batch's numbering persist dies with the batch
            numbered = with_row_number(batch_df, start=start)
            if keys:
                table.upsert(numbered, keys, job_ts=ts)
            else:
                table.append(numbered.withColumn(UPDATED_AT_COLUMN, F.lit(ts)))

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type with late-data
    tolerance. Works identically on a batch frame (window functions
    degrade gracefully) and a streaming frame (stateful with watermark
    eviction)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window_duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)
_RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user totals across
    micro-batches via applyInPandasWithState. The template for arbitrary
    stateful streaming logic (sessionization, dedup-with-memory, CDC
    folding) the built-in aggregations can't express."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            vals = pdf["value"].dropna()
            total += float(vals.sum())
            n += int(len(pdf))
        state.update((total, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [total], "n_events": [n]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionized_activity(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows per key: a session extends while successive events
    arrive within ``gap``; the window closes ``gap`` after the last event.

    Streaming-native via ``F.session_window`` (state merges adjacent
    windows; watermark required upstream for eviction); identical semantics
    in batch mode, which makes it oracle-checkable against a
    gaps-and-islands SQL rewrite. Aggregation is keyed by (key, session) —
    partition-parallel, no global ordering anywhere."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, gap)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming counterpart of ``ext.dedup.exact_dedup`` for continuous
    ingest (at-least-once sources redeliver; this makes the pipeline
    effectively-once per key).

    State is one entry per key, evicted once the watermark passes ``delay``
    — bounded memory regardless of stream length, which unbounded
    ``dropDuplicates`` on a stream does not give. Batch frames fall back
    to plain ``dropDuplicates`` (same semantics on a bounded input)."""
    if events.isStreaming:
        return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: tuple[str, str],
    dim_cols: list[str] | None = None,
    how: str = "left",
    default: dict[str, str] | None = None,
) -> DataFrame:
    """Stream-static dimension enrichment: each (micro-batch of the)
    stream joins a bounded dimension frame keyed ``on=(stream_key,
    dim_key)``; unmatched rows keep flowing with ``default`` fills
    (left semantics) instead of being dropped.

    Scale shape: the static side is explicitly ``broadcast()`` — a
    stream-static join must NOT shuffle the stream per micro-batch; with
    the dim replicated to executors the stream stays in its source
    partitioning and the join is map-side. Stream-static joins need no
    watermark (no cross-batch state: the static side is re-resolved per
    batch, which also picks up slowly-changing-dimension updates).

    Works identically on a batch frame (same plan minus the micro-batch
    loop), which is what the DuckDB oracle checks."""
    skey, dkey = on
    if dim_cols is None:
        dim_cols = [c for c in dim.columns if c != dkey]
    d = dim.select(F.col(dkey).alias("__dkey"), *dim_cols)
    out = stream.join(F.broadcast(d), stream[skey] == d["__dkey"], how).drop("__dkey")
    for col, val in (default or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(val)))
    return out


def read_sketch_state(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Read the current committed state from a
    ``stream_multi_state_maintenance`` state directory by resolving its
    atomic pointer file. Raises FileNotFoundError when no state has been
    committed yet."""
    import json as _json
    import os as _os

    pointer_path = _os.path.join(sketch_dir, "_current.json")
    if not _os.path.exists(pointer_path):
        raise FileNotFoundError(f"no committed sketch state in {sketch_dir}")
    with open(pointer_path) as fh:
        pointer = _json.load(fh)
    return read_parquet(spark, _os.path.join(sketch_dir, pointer["version"]))


def stream_multi_state_maintenance(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    maintainers: list[dict],
    checkpoint_dir: str,
    available_now: bool = False,
    source_format: str = "json",
    max_files_per_trigger: int | None = None,
):
    """Exactly-once maintenance of small mergeable states over one file
    stream: each micro-batch builds a delta per state and MERGES it into
    the stored one (count addition, register GREATEST, min-k re-take,
    keyed ADD — the merge laws of ext/sketch.py). A stored state stays as
    small as its sketch no matter how much data has streamed through, and
    downstream estimates never rescan history. One stream drives every
    state, so the fixed streaming cost (query startup + per-micro-batch
    scheduling) is paid once however many states ride it.

    Each entry of ``maintainers``: ``{"build_fn", "merge_fn",
    "state_dir", "slice_fn"?}``. ``build_fn(batch_df) -> delta``,
    ``merge_fn(current, delta) -> merged``. ``slice_fn(batch_df) ->
    DataFrame`` carves this state's rows out of a shared backlog (e.g. a
    source-tagged union of two tables); omitted = whole batch. An empty
    slice commits an empty delta, which every merge law treats as the
    identity.

    Commit protocol, per state; crash- and restart-safe:

    - Each committed state is a fully-written versioned directory
      (``v{run_id}-{batch_id}``); a tiny JSON *pointer* file
      ``{run_id, batch_id, version}`` names the current one and is itself
      replaced atomically (tmp + ``os.replace``). The batch id lives
      INSIDE the same atomically-committed pointer that names the state,
      so a crash between "state written" and "pointer replaced" cannot
      double-merge a replayed batch — the pointer still names the
      pre-batch state and the replay recomputes the identical merge.
    - The pointer also records a *run id* minted per checkpoint lineage
      (``_sketch_run_id`` inside the checkpoint dir, shared by every
      state of the stream). Restarting with a FRESH checkpoint but the
      same state dirs restarts batch ids at 0; the run-id mismatch makes
      the replay guard inapplicable and each state REBUILDS from the
      re-streamed source instead of silently skipping every batch (or
      double-counting into dead state).
    - A missing state is the only first-batch condition: a state that a
      committed pointer names must be readable, and any other read
      failure propagates (a transient/corrupt read must not silently
      discard the accumulated state).

    ``source_format`` selects the file source ("json" or "parquet");
    ``max_files_per_trigger`` bounds each micro-batch's file count — with
    availableNow this splits a bounded backlog into several real
    micro-batches, each committing one merge. Returns the StreamingQuery;
    the caller awaits/stops it."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format(source_format).load(source_dir)

    # run identity: one uuid per checkpoint lineage — cleared checkpoint
    # dir => new uuid => stored batch-id guards no longer apply
    _os.makedirs(checkpoint_dir, exist_ok=True)
    run_id_path = _os.path.join(checkpoint_dir, "_sketch_run_id")
    if _os.path.exists(run_id_path):
        with open(run_id_path) as fh:
            run_id = fh.read().strip()
    else:
        run_id = _uuid.uuid4().hex[:12]
        with open(run_id_path, "w") as fh:
            fh.write(run_id)

    def _read_pointer(pointer_path: str) -> dict | None:
        if not _os.path.exists(pointer_path):
            return None
        with open(pointer_path) as fh:
            return _json.load(fh)

    def _update_one(m: dict, batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        state_dir = m["state_dir"]
        pointer_path = _os.path.join(state_dir, "_current.json")
        pointer = _read_pointer(pointer_path)
        same_run = pointer is not None and pointer.get("run_id") == run_id
        if same_run and pointer["batch_id"] >= batch_id:
            return  # replayed batch: committed state already includes it
        part = m.get("slice_fn", lambda df: df)(batch_df)
        delta = m["build_fn"](part)
        if same_run:
            state_path = _os.path.join(state_dir, pointer["version"])
            # state named by a committed pointer must be readable —
            # anything else is a real error, never "start over"
            current = read_parquet(sess, state_path)
            merged = m["merge_fn"](current, delta)
        else:
            # no pointer (true first batch) or foreign run id (fresh
            # checkpoint re-streams the source): (re)build. An empty
            # slice commits an empty (schema-carrying) state — the ADD/
            # MAX/re-take merge laws all treat it as the identity.
            merged = delta
        # tiny frame (bounded by the sketch size), written DIRECTLY to
        # the new version dir in one job (the old collect + recreate +
        # write round-trip was two driver-blocking jobs per update —
        # the dominant fixed cost once N maintainers share a stream);
        # the new dir is not the one `current` reads, so the write
        # never races the read, and the pointer swap below is still
        # the only commit point
        version = f"v{run_id}-{batch_id}"
        merged.coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(state_dir, version)
        )
        tmp = pointer_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(
                {"run_id": run_id, "batch_id": batch_id, "version": version}, fh
            )
        _os.replace(tmp, pointer_path)  # the atomic commit point
        if pointer is not None:  # GC the superseded version, best-effort
            _shutil.rmtree(
                _os.path.join(state_dir, pointer["version"]), ignore_errors=True
            )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if len(maintainers) == 1:
            _update_one(maintainers[0], batch_df, batch_id)
            return
        # N independent state machines over one batch: run them
        # CONCURRENTLY (each is a couple of tiny driver-blocking jobs —
        # serialized they re-create exactly the per-query fixed latency
        # the shared stream exists to remove; the scheduler interleaves
        # concurrent tiny jobs at no cost). Each thread touches only its
        # own state dir/pointer; a failure in any update fails the batch
        # (foreachBatch retries, replay guards make that exactly-once).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(maintainers)) as pool:
            futures = [
                pool.submit(_update_one, m, batch_df, batch_id)
                for m in maintainers
            ]
            for f in futures:
                f.result()  # propagate the first failure

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_quality_gate(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    table,
    checkpoint_dir: str,
    checks: list[dict],
    quarantine_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
):
    """Streaming ingest with a per-batch quality gate and dead-letter
    quarantine: every micro-batch runs the one-scan expectation suite
    (profile.expectations — the X150 gate); batches with any failing
    check are written WHOLE to ``quarantine_dir`` (append, with a
    ``_batch_id`` audit column) instead of the table, so one poisoned
    upstream file never contaminates the warehouse and nothing is ever
    dropped silently. Clean batches append through the batch engine's
    own numbered write path (A1 semantics), giving the same
    idempotent-replay story as ``stream_ingest``.

    This is the DLQ pattern every production ingest runs; at scale the
    gate costs ONE aggregate pass per batch (all checks
    partial-aggregable)."""
    from aircan_spark import profile as _profile

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(source_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        report = _profile.expectations(batch_df, checks)
        failed = report.filter(~F.col("passed")).count() > 0
        if failed:
            (
                batch_df.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(quarantine_dir)
            )
            return
        start = table.max_id() + 1
        with scope():
            table.append(with_row_number(batch_df, start=start))

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
