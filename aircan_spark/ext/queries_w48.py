"""Declared-query wave (round 6): the last two oracle-able e2e-only
streaming/binary ops get driver-checkable records — X197's dead-letter
quality gate and X198's windowed audio RMS — completing the r5 verdict
arc that turned the sketch maintainers into batch-parity queries (w46).

- ext_stream_dlq_gate runs the REAL stream_quality_gate (file stream ->
  one-file micro-batches -> per-batch expectation suite -> quarantine or
  ParquetTable append) with a DATA-DERIVED threshold, so which buckets
  pass is decided by the data and replayed exactly by the oracle.
- ext_audio_rms_windows runs the REAL WAV decode -> fixed-window RMS
  kernel over synthesized PCM16 fixtures whose window sums are exact
  dyadic rationals, so the oracle reproduces every RMS bit-for-bit.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w47 import *  # noqa: F401,F403


# Process-cached DLQ backlog per sf_dir (same staging-reuse rationale as
# queries_w46._STAGE_CACHE): the 4-file ndjson backlog and its
# data-derived threshold are a pure function of sf_dir, and the file
# stream never mutates the source dir (each run has a fresh checkpoint,
# so it re-reads the whole backlog) — staging once per process drops a
# driver-side toPandas + per-row json write from every repeat run.
_DLQ_STAGE_CACHE: dict[str, tuple[str, float]] = {}


def _reclaim_dlq_stage_cache() -> None:  # pragma: no cover — atexit hook
    import shutil

    for src, _thr in _DLQ_STAGE_CACHE.values():
        shutil.rmtree(src, ignore_errors=True)
    _DLQ_STAGE_CACHE.clear()


def _union_gate_outputs(parts):
    """Union the gate's output frames (table + DLQ). Raises a
    descriptive error when BOTH are absent — the ingest wrote nothing,
    which means the threshold/check-list was edited into an
    unreachable configuration (r6 ADVICE #2; unit-tested directly)."""
    if not parts:
        raise RuntimeError(
            "DLQ gate produced neither a table nor a DLQ directory — "
            "the ingest wrote nothing (threshold/check-list edit?)"
        )
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    return allr


def _staged_dlq_backlog(spark, sf_dir: str) -> tuple[str, float]:
    """Stage orders as 4 ndjson files keyed by o_orderkey % 4 and return
    (src_dir, threshold), where threshold is the midpoint of the 2nd and
    3rd largest per-bucket o_totalprice maxima."""
    import atexit
    import json as _json
    import os as _os
    import tempfile

    hit = _DLQ_STAGE_CACHE.get(sf_dir)
    if hit is not None:
        if all(
            _os.path.isfile(_os.path.join(hit[0], f"bucket{k}.json"))
            for k in range(4)
        ):
            # all 4 staged files must survive, not just the dir — a
            # partial backlog would stream fewer micro-batches than the
            # gate's conservation contract assumes
            return hit
        # stale hit: reclaim the abandoned dir before re-staging
        # overwrites the entry (atexit only walks current entries)
        import shutil

        shutil.rmtree(hit[0], ignore_errors=True)
    if not _DLQ_STAGE_CACHE:
        atexit.register(_reclaim_dlq_stage_cache)
    pdf = (
        _load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .toPandas()
    )
    pdf["bucket"] = pdf["o_orderkey"] % 4
    src = tempfile.mkdtemp(prefix="aircan_r6_dlq_src_")
    maxes = []
    for k in range(4):
        sub = pdf[pdf["bucket"] == k]
        maxes.append(float(sub["o_totalprice"].max()))
        with open(_os.path.join(src, f"bucket{k}.json"), "w") as fh:
            for okey, price in zip(sub["o_orderkey"], sub["o_totalprice"]):
                fh.write(
                    _json.dumps(
                        {"o_orderkey": int(okey), "o_totalprice": float(price)}
                    )
                    + "\n"
                )
    ms = sorted(maxes)
    thr = (ms[1] + ms[2]) / 2.0
    _DLQ_STAGE_CACHE[sf_dir] = (src, thr)
    return src, thr


def ext_stream_dlq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X197 as a driver-checkable query: the REAL streaming quality gate
    with dead-letter quarantine. Orders are staged as 4 ndjson files by
    bucket = o_orderkey % 4; the gate streams them availableNow one file
    per micro-batch, runs the one-scan expectation suite per batch
    (max(o_totalprice) <= T), appends passing batches to a fresh
    ParquetTable through the numbered A1 write path and quarantines
    failing batches WHOLE into the DLQ dir. T is the midpoint of the 2nd
    and 3rd largest per-bucket maxima — data-derived, so (barring exact
    ties, where both engines agree too) two buckets pass and two land in
    the DLQ at any SF, and the oracle recomputes the same T and the same
    routing from the corpus. Output: per (bucket, destination) row count
    and exact cents total — conservation-checkable (nothing dropped
    silently is the DLQ contract).

    Scale shape: the gate costs ONE partial-aggregable scan per batch;
    routing is whole-batch, so the table write path and the quarantine
    write are both append-only sequential jobs."""
    import os as _os
    import tempfile

    from pyspark.sql import types as T

    from aircan_spark.streaming import stream_quality_gate
    from aircan_spark.table import ParquetTable

    src, thr = _staged_dlq_backlog(spark, sf_dir)

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    wh = tempfile.mkdtemp(prefix="aircan_r6_dlq_wh_")
    dlq_dir = _os.path.join(wh, "dlq")
    table = ParquetTable(spark, wh, "gated")
    ckpt = tempfile.mkdtemp(prefix="aircan_r6_dlq_ckpt_")
    q = stream_quality_gate(
        spark,
        src,
        schema,
        table,
        checkpoint_dir=ckpt,
        checks=[{"column": "o_totalprice", "kind": "max", "max": thr}],
        quarantine_dir=dlq_dir,
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)
    if q.isActive:  # pragma: no cover — availableNow should terminate
        q.stop()
    # the checkpoint is consumed; the staged backlog is process-cached
    # (reclaimed atexit) and the warehouse (table + DLQ) must SURVIVE —
    # the returned frame reads it lazily
    import shutil as _shutil

    _shutil.rmtree(ckpt, ignore_errors=True)

    parts = []
    if table.exists():
        parts.append(
            table.read()
            .select("o_orderkey", "o_totalprice")
            .withColumn("destination", F.lit("table"))
        )
    if _os.path.isdir(dlq_dir):
        parts.append(
            read_parquet(spark, dlq_dir)
            .select("o_orderkey", "o_totalprice")
            .withColumn("destination", F.lit("dlq"))
        )
    allr = _union_gate_outputs(parts)
    return (
        allr.groupBy(
            (F.col("o_orderkey") % 4).alias("bucket"), "destination"
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias(
                "total_cents"
            ),
        )
        .orderBy("bucket")
    )


EXT_STREAM_DLQ_GATE_SQL = r"""
WITH b AS (
  SELECT o_orderkey % 4 AS bucket, o_totalprice FROM orders
),
g AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents,
         MAX(o_totalprice) AS mx
  FROM b GROUP BY bucket
),
t AS (
  SELECT (
      (SELECT mx FROM g ORDER BY mx LIMIT 1 OFFSET 1)
    + (SELECT mx FROM g ORDER BY mx LIMIT 1 OFFSET 2)
  ) / 2.0 AS thr
)
SELECT bucket,
       CASE WHEN mx <= thr THEN 'table' ELSE 'dlq' END AS destination,
       n_rows, total_cents
FROM g CROSS JOIN t
ORDER BY bucket
"""


EXT_QUERIES.update({"ext_stream_dlq_gate": ext_stream_dlq_gate})
EXT_ORACLES.update({"ext_stream_dlq_gate": EXT_STREAM_DLQ_GATE_SQL})


def ext_audio_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X198 as a driver-checkable query: REAL windowed audio RMS /
    silence segmentation. Per document 96 PCM16 samples at 960 Hz are
    synthesized — a 'voiced' first window (v = (i*13+id)%1024 + 512, RMS
    >= 512/32768 ~ 0.0156) and a near-silent second window (v =
    (i*13+id)%16, RMS <= 15/32768 ~ 4.6e-4) — packed into a real
    RIFF/WAVE file, decoded by the engine's own RIFF parser
    (multimodal.decode_wav) and split into two exact 50 ms windows by
    audio_rms_windows. Every window's mean square is a sum of 48 exact
    dyadic rationals (v^2/2^30, each exact in float64, partial sums <
    2^53), so mean, sqrt and the 0.01 silence compare are single-
    rounding deterministic and the DuckDB oracle replays RMS AND the
    VAD flag bit-for-bit; the silence threshold sits >= 56% away from
    both windows' RMS so no rounding can flip a flag.

    Scale shape: fixture synth + decode + windowing are all
    partition-local Arrow mapInPandas (zero shuffle); output fans out
    2 rows per file."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_wav(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                i = np.arange(96, dtype="int64")
                v = np.where(
                    i < 48,
                    (i * 13 + did) % 1024 + 512,
                    (i * 13 + did) % 16,
                )
                ids.append(did)
                blobs.append(multimodal.encode_wav(v, rate=960, codec="pcm16"))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_wav, "media_id bigint, content binary")
    return multimodal.audio_rms_windows(
        media, window_s=0.05, silence_rms=0.01
    ).orderBy("media_id", "window_idx")


EXT_AUDIO_RMS_WINDOWS_SQL = r"""
WITH g AS (SELECT unnest(range(96)) AS i),
s AS (
  SELECT d.doc_id, g.i,
         CASE WHEN g.i < 48 THEN 0 ELSE 1 END AS wi,
         CASE WHEN g.i < 48 THEN (g.i*13 + d.doc_id) % 1024 + 512
              ELSE (g.i*13 + d.doc_id) % 16 END AS v
  FROM documents d CROSS JOIN g
),
w AS (
  SELECT doc_id, wi,
         SQRT(SUM(v*v) / (48.0 * 32768.0 * 32768.0)) AS rms_raw
  FROM s GROUP BY doc_id, wi
)
SELECT doc_id AS media_id,
       CAST(wi AS BIGINT) AS window_idx,
       ROUND(wi * 48 / 960.0, 6) AS t_start_s,
       ROUND(rms_raw, 6) AS rms,
       rms_raw < 0.01 AS is_silence
FROM w ORDER BY media_id, window_idx
"""


EXT_QUERIES.update({"ext_audio_rms_windows": ext_audio_rms_windows})
EXT_ORACLES.update({"ext_audio_rms_windows": EXT_AUDIO_RMS_WINDOWS_SQL})
