"""Declared-query wave (round 6): streaming sketch maintenance in
batch-parity harness — X131 (count-min), X158 (HLL registers), X177
(bottom-k sample), X296 (grouped KMV minima) each get a DRIVER-CHECKABLE
record by running the REAL streaming maintainer (file source ->
availableNow split into one-file micro-batches -> foreachBatch merge
through the atomic-pointer exactly-once machinery) and returning the
FINAL STORED STATE, which an ANSI oracle replays directly: every sketch
in this family is deterministic integer state built from portable md5
arithmetic, and every merge law (count addition, register GREATEST,
min-k re-take) is associative/commutative/idempotent, so the committed
state is independent of file-to-batch assignment — exactly the property
that makes the sketches maintainable at 100 TB.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w45 import *  # noqa: F401,F403


# Process-cached staging (r6 verdict item #3): the shared stream's
# backlog is a pure function of sf_dir, so it is staged ONCE per process
# and every rebuild of the states (and every repeat run in the same
# session) reuses it. Dirs are reclaimed atexit instead of per-run.
_STAGE_CACHE: dict[str, tuple[str, object]] = {}


def _reclaim_stage_cache() -> None:  # pragma: no cover — atexit hook
    import shutil

    for stage, _schema in _STAGE_CACHE.values():
        shutil.rmtree(stage, ignore_errors=True)
    _STAGE_CACHE.clear()


def _staged_files_intact(stage: str, n: int) -> bool:
    """A cache hit is valid only if all ``n`` staged part files still
    exist — a tmp-reaper can remove files while leaving the dir, and a
    partial backlog would silently produce wrong streaming state (fewer
    micro-batches than the merge-law tests pin)."""
    import glob
    import os

    if not os.path.isdir(stage):
        return False
    return len(glob.glob(os.path.join(stage, "part-*.parquet"))) == n


def _staged_backlog(spark, sf_dir: str):
    """Stage the shared stream's backlog — a source-tagged union of the
    events and orders projections — as 2 parquet files in a
    process-cached temp dir, which the availableNow stream consumes as 2
    one-file micro-batches (maxFilesPerTrigger=1): batch 0 initializes
    each stored state, batch 1 MERGES into it. Which rows land in which
    file is irrelevant: every maintained state is partitioning-invariant
    by its merge law. Returns ``(dir, schema)``."""
    import atexit
    import shutil
    import tempfile

    hit = _STAGE_CACHE.get(sf_dir)
    if hit is not None:
        if _staged_files_intact(hit[0], 2):
            return hit
        # stale hit: reclaim the abandoned dir NOW — re-staging below
        # overwrites the cache entry, and the atexit reclaim only walks
        # current entries, so without this the old dir leaks for the
        # process lifetime
        shutil.rmtree(hit[0], ignore_errors=True)
    if not _STAGE_CACHE:
        atexit.register(_reclaim_stage_cache)
    ev = _load(spark, sf_dir, "events").select(
        F.lit("e").alias("src"),
        "user_id",
        "event_type",
        # the moments maintainer's integer-cent pre-scale (see
        # ext_stream_moments_state's determinism note)
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double").alias("cents"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
    )
    od = _load(spark, sf_dir, "orders").select(
        F.lit("o").alias("src"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("cents"),
        "o_orderkey",
    )
    df = ev.unionByName(od)
    stage = tempfile.mkdtemp(prefix="aircan_r8_shared_src_")
    df.repartition(2).write.mode("overwrite").parquet(stage)
    _STAGE_CACHE[sf_dir] = (stage, df.schema)
    return stage, df.schema


# One shared stream for the five state queries (r7 verdict item #4):
# the per-query cost was ~11-12 s each at sf0.1, almost all of it FIXED
# streaming machinery (query startup + availableNow micro-batch
# scheduling) paid five times over five separate streams. The five
# maintainers now ride ONE staged backlog (source-tagged union of the
# events and orders projections, 2 files = 2 micro-batches) through
# stream_multi_state_maintenance — each still owns its state dir,
# atomic pointer, and per-batch merge, so every merge law is exercised
# end-to-end exactly as before; only the scheduling is shared. Final
# states are process-cached (pointer files re-validated per hit).
_SHARED_STATE_CACHE: dict[str, dict[str, str]] = {}
# sf_dirs whose shared stream ran to COMPLETION. Registration into
# _SHARED_STATE_CACHE happens before the stream runs (so a mid-run death
# still gets atexit reclamation), but reuse must be gated on completion:
# the per-batch pointer commit is atomic, so a stream that dies after its
# first batch leaves every _current.json present — existence checks alone
# would silently serve the committed PREFIX as if it were final state.
_SHARED_STATE_COMPLETE: set[str] = set()


def _reclaim_shared_states() -> None:  # pragma: no cover — atexit hook
    import shutil

    for dirs in _SHARED_STATE_CACHE.values():
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
    _SHARED_STATE_CACHE.clear()
    _SHARED_STATE_COMPLETE.clear()


def _shared_sketch_states(spark, sf_dir: str) -> dict[str, str]:
    """Run (or reuse) the shared five-maintainer stream for ``sf_dir``
    and return {name: state_dir} for cms/hll/bottomk/kmv/moments."""
    import atexit
    import os
    import shutil
    import tempfile

    from aircan_spark.ext import sketch as sk
    from aircan_spark.streaming import stream_multi_state_maintenance

    hit = _SHARED_STATE_CACHE.get(sf_dir)
    if hit is not None:
        if sf_dir in _SHARED_STATE_COMPLETE and all(
            os.path.exists(os.path.join(d, "_current.json")) for d in hit.values()
        ):
            return hit
        # stale OR incomplete (stream died/was stopped after a prefix of
        # its batch commits): reclaim before rebuilding
        for d in hit.values():
            shutil.rmtree(d, ignore_errors=True)
        del _SHARED_STATE_CACHE[sf_dir]
        _SHARED_STATE_COMPLETE.discard(sf_dir)

    src, schema = _staged_backlog(spark, sf_dir)

    if not _SHARED_STATE_CACHE:
        atexit.register(_reclaim_shared_states)
    names = ("cms", "hll", "bottomk", "kmv", "moments")
    dirs = {n: tempfile.mkdtemp(prefix=f"aircan_r8_state_{n}_") for n in names}
    # register BEFORE the stream runs (r9 verdict item #5): if the stream
    # fails mid-run the dirs are pointer-less, so the next call's
    # validation reclaims + rebuilds them, and the atexit hook reclaims
    # them at process exit — registering only on success leaked all five
    # on the failure path
    _SHARED_STATE_CACHE[sf_dir] = dirs

    def _ev(df):
        return df.filter(F.col("src") == "e")

    def _moments_build(df):
        v = F.col("cents").cast("double")
        return df.groupBy(F.col("user_id").alias("key")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
        )

    def _moments_merge(cur, delta):
        return (
            cur.unionByName(delta)
            .groupBy("key")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s1").alias("s1"),
                F.sum("s2").alias("s2"),
            )
        )

    maintainers = [
        {
            "state_dir": dirs["cms"],
            "slice_fn": _ev,
            "build_fn": lambda df: sk.count_min_build(
                df.select("user_id"), "user_id", depth=3, width=256, seed=7
            ),
            "merge_fn": sk.count_min_merge,
        },
        {
            "state_dir": dirs["hll"],
            "slice_fn": _ev,
            "build_fn": lambda df: sk.hll_build(
                df.select("user_id"), "user_id", b=10, seed=42
            ),
            "merge_fn": sk.hll_merge,
        },
        {
            "state_dir": dirs["bottomk"],
            "slice_fn": lambda df: df.filter(F.col("src") == "o").select(
                "o_orderkey"
            ),
            "build_fn": lambda df: sk.bottomk_sample(
                df, ["o_orderkey"], k=100, seed=42
            ),
            "merge_fn": lambda cur, delta: sk.bottomk_merge(cur, delta, k=100),
        },
        {
            "state_dir": dirs["kmv"],
            "slice_fn": _ev,
            "build_fn": lambda df: sk.kmv_minima(
                df.select("event_type", "user_id"),
                "user_id",
                ["event_type"],
                k=64,
            ).select("event_type", "h"),
            "merge_fn": lambda cur, delta: sk.kmv_merge(
                cur, delta, ["event_type"], k=64
            ).select("event_type", "h"),
        },
        {
            "state_dir": dirs["moments"],
            "slice_fn": lambda df: _ev(df).select("user_id", "cents"),
            "build_fn": _moments_build,
            "merge_fn": _moments_merge,
        },
    ]
    ckpt = tempfile.mkdtemp(prefix="aircan_r8_shared_ckpt_")
    try:
        q = stream_multi_state_maintenance(
            spark,
            src,
            schema,
            maintainers,
            ckpt,
            available_now=True,
            source_format="parquet",
            max_files_per_trigger=1,
        )
        q.awaitTermination(300)
        if q.isActive:  # pragma: no cover — availableNow should terminate
            q.stop()
            raise RuntimeError(
                "shared sketch stream did not terminate within 300s — "
                "state dirs hold only a committed prefix and were left "
                "UNPROMOTED (next call rebuilds them)"
            )
        # promote only now: every maintainer's final batch is committed
        _SHARED_STATE_COMPLETE.add(sf_dir)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return dirs


def ext_stream_cms_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131 as a driver-checkable query: REAL streaming count-min
    maintenance over the events table staged as 2 one-file micro-batches
    — each batch builds a 3x256 CMS over user_id and MERGES it into the
    stored sketch by count addition through the atomic-pointer
    exactly-once commit. The returned final state is the full (row,
    bucket, cnt) sketch, which the oracle rebuilds in one pass: batch
    counts sum to corpus counts regardless of how rows split across
    batches (the merge law). Hashing is the portable md5 integer
    arithmetic, so the oracle replays buckets bit-for-bit. Runs on the
    SHARED five-maintainer stream (one startup + 2 micro-batches for all
    five state queries, r7 verdict item #4); the CMS merge itself is
    unchanged."""
    from aircan_spark.streaming import read_sketch_state

    state = read_sketch_state(spark, _shared_sketch_states(spark, sf_dir)["cms"])
    return state.select(
        F.col("row").cast("bigint").alias("row"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("cnt").cast("bigint").alias("cnt"),
    ).orderBy("row", "bucket")


EXT_STREAM_CMS_STATE_SQL = r"""
WITH r AS (SELECT unnest(range(3)) AS rw),
sk AS (
  SELECT rw AS row,
         CAST(('0x' || SUBSTR(md5('7:' || CAST(rw AS VARCHAR) || '-' || CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT
              % 256 AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN r
  WHERE user_id IS NOT NULL
  GROUP BY 1, 2
)
SELECT CAST(row AS BIGINT) AS row, bucket, cnt FROM sk ORDER BY row, bucket
"""


EXT_QUERIES.update({"ext_stream_cms_state": ext_stream_cms_state})
EXT_ORACLES.update({"ext_stream_cms_state": EXT_STREAM_CMS_STATE_SQL})


def ext_stream_hll_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158 as a driver-checkable query: REAL streaming HyperLogLog
    register maintenance (2 one-file micro-batches over events, per-batch
    hll_build merged by per-register GREATEST through the exactly-once
    pointer machinery). Final state = the (reg, max_rho) register table;
    max is order- and partitioning-free, and rho is computed with integer
    bit-length arithmetic (never floating log2), so the oracle rebuilds
    the registers bit-for-bit from the corpus. Runs on the SHARED
    five-maintainer stream (r7 verdict item #4); the register-GREATEST
    merge is unchanged."""
    from aircan_spark.streaming import read_sketch_state

    state = read_sketch_state(spark, _shared_sketch_states(spark, sf_dir)["hll"])
    return state.select(
        F.col("reg").cast("bigint").alias("reg"),
        F.col("max_rho").cast("bigint").alias("max_rho"),
    ).orderBy("reg")


EXT_STREAM_HLL_STATE_SQL = r"""
WITH h AS (
  SELECT CAST(('0x' || SUBSTR(md5('42-' || CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
rr AS (
  SELECT h % 1024 AS reg,
         CASE WHEN (h >> 10) = 0 THEN 51
              ELSE 51 - length(bin(h >> 10)) END AS rho
  FROM h
)
SELECT CAST(reg AS BIGINT) AS reg, CAST(MAX(rho) AS BIGINT) AS max_rho
FROM rr GROUP BY reg ORDER BY reg
"""


EXT_QUERIES.update({"ext_stream_hll_state": ext_stream_hll_state})
EXT_ORACLES.update({"ext_stream_hll_state": EXT_STREAM_HLL_STATE_SQL})


def ext_stream_bottomk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177 as a driver-checkable query: REAL streaming bottom-k (KMV)
    uniform-sample maintenance over orders keys (2 one-file
    micro-batches, per-batch bottom-k merged by union + re-take-k).
    min-k of a union == min-k of the unioned min-k's, so the final
    stored sample is EXACTLY the corpus-wide 100 smallest md5 hashes —
    replayable by ORDER BY hash LIMIT k in any engine (md5 collisions
    make ties impossible). Runs on the SHARED five-maintainer stream
    (orders rows ride the same source-tagged backlog, r7 verdict item
    #4); union + re-take-k is unchanged."""
    from aircan_spark.streaming import read_sketch_state

    state = read_sketch_state(
        spark, _shared_sketch_states(spark, sf_dir)["bottomk"]
    )
    return state.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("__bk").alias("bk_hash"),
    ).orderBy("bk_hash")


EXT_STREAM_BOTTOMK_STATE_SQL = r"""
SELECT o_orderkey, md5('42-' || CAST(o_orderkey AS VARCHAR)) AS bk_hash
FROM orders ORDER BY bk_hash LIMIT 100
"""


EXT_QUERIES.update({"ext_stream_bottomk_state": ext_stream_bottomk_state})
EXT_ORACLES.update({"ext_stream_bottomk_state": EXT_STREAM_BOTTOMK_STATE_SQL})


def ext_stream_kmv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X296 as a driver-checkable query: REAL streaming grouped-KMV
    maintenance (2 one-file micro-batches over events; per-batch
    per-event-type k-minimum 48-bit hashes of distinct user_ids, merged
    by union + dedup + re-take-k). The final stored minima are the exact
    per-group k smallest distinct-item hashes of the whole corpus —
    the state that serves both distinct estimates and cross-group
    resemblance — and 48-bit hashes are exact in BIGINT and DOUBLE, so
    the oracle replays them bit-for-bit. Runs on the SHARED
    five-maintainer stream (r7 verdict item #4); union + dedup +
    re-take-k is unchanged."""
    from aircan_spark.streaming import read_sketch_state

    state = read_sketch_state(spark, _shared_sketch_states(spark, sf_dir)["kmv"])
    return state.select(
        "event_type", F.col("h").cast("bigint").alias("h")
    ).orderBy("event_type", "h")


EXT_STREAM_KMV_STATE_SQL = r"""
WITH hashes AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashes
)
SELECT event_type, h FROM ranked WHERE rn <= 64 ORDER BY event_type, h
"""


EXT_QUERIES.update({"ext_stream_kmv_state": ext_stream_kmv_state})
EXT_ORACLES.update({"ext_stream_kmv_state": EXT_STREAM_KMV_STATE_SQL})
