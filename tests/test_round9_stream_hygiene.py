"""Round-9 verdict items #5 and #6: the shared five-maintainer stream's
temp-dir hygiene and its one-stream plan pin.

#5 — every temp dir the streaming-state queries create must be either
reclaimed inline (checkpoints), process-cached behind an atexit hook
(staged backlogs, shared state dirs), or validated-and-reclaimed on
staleness. The repeated-run test pins the observable contract: running
the five state queries twice creates ZERO additional temp dirs — a
regression that re-stages or re-streams per call shows up as dir growth.

#6 — the five state queries must share ONE staged backlog and ONE
availableNow stream (the r8 rewrite took them from 5x ~12s to one
~7s startup); the pin counts stream_multi_state_maintenance calls so a
refactor cannot silently re-serialize them into five streams.
"""

import glob
import os
import tempfile

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

STATE_QUERIES = [
    "ext_stream_cms_state",
    "ext_stream_hll_state",
    "ext_stream_bottomk_state",
    "ext_stream_kmv_state",
    "ext_stream_moments_state",
]


# prefixes owned by the shared-stream/state machinery under test (other
# stream queries own other aircan_* prefixes with their own lifecycles)
_PREFIXES = (
    "aircan_r6_sketch_src_",
    "aircan_r6_sketch_state_",
    "aircan_r6_sketch_ckpt_",
    "aircan_r6_dlq_src_",
    "aircan_r8_shared_src_",
    "aircan_r8_shared_ckpt_",
    "aircan_r8_state_",
)


def _aircan_tmp_dirs() -> set:
    return {
        d
        for d in glob.glob(os.path.join(tempfile.gettempdir(), "aircan_r*"))
        if os.path.isdir(d) and os.path.basename(d).startswith(_PREFIXES)
    }


def test_repeated_state_queries_create_no_new_temp_dirs(spark):
    """Run all five state queries twice: the second pass must add ZERO
    temp dirs (staging and states are process-cached; checkpoints are
    reclaimed inline on both success and failure paths)."""
    from aircan_spark.queries import QUERIES

    for name in STATE_QUERIES:  # warm the caches (may create dirs)
        QUERIES[name](spark, SF_DIR).count()
    before = _aircan_tmp_dirs()
    for name in STATE_QUERIES:
        assert QUERIES[name](spark, SF_DIR).count() > 0
    after = _aircan_tmp_dirs()
    leaked = after - before
    assert not leaked, f"repeat run leaked temp dirs: {sorted(leaked)}"
    # and nothing the warm pass created was torn down mid-session either
    assert before - after == set(), "cached dirs vanished mid-session"


def test_every_live_temp_dir_is_atexit_tracked(spark):
    """Every aircan temp dir THE STATE QUERIES CREATE must be accounted
    for by one of the atexit-reclaimed caches — an untracked dir would
    survive process exit (the r7 stale-cache-dir leak class). Scoped to
    dirs that appear during THIS test's runs: in a full-suite session,
    other tests legitimately create dirs with these prefixes through
    their own direct-call lifecycles (observed order-dependence, r9)."""
    from aircan_spark.ext.queries_w46 import _SHARED_STATE_CACHE, _STAGE_CACHE
    from aircan_spark.ext.queries_w48 import _DLQ_STAGE_CACHE
    from aircan_spark.queries import QUERIES

    pre_existing = _aircan_tmp_dirs()
    for name in STATE_QUERIES + ["ext_stream_dlq_gate"]:
        QUERIES[name](spark, SF_DIR).count()
    tracked = set()
    for stage, _schema in _STAGE_CACHE.values():
        tracked.add(stage)
    for dirs in _SHARED_STATE_CACHE.values():
        tracked.update(dirs.values())
    for src, _thr in _DLQ_STAGE_CACHE.values():
        tracked.add(src)
    created = {
        d
        for d in _aircan_tmp_dirs() - pre_existing
        # checkpoints are reclaimed inline on both paths (try/finally)
        if not os.path.basename(d).startswith("aircan_r8_shared_ckpt_")
    }
    untracked = created - tracked
    assert not untracked, f"temp dirs not covered by an atexit cache: {sorted(untracked)}"


def test_five_state_queries_share_one_stream(spark, monkeypatch):
    """The one-stream pin (r9 verdict item #6): with cold caches, the
    five state queries together must start EXACTLY ONE
    stream_multi_state_maintenance run and stage EXACTLY ONE shared
    backlog; with warm caches, zero additional streams."""
    import aircan_spark.streaming as streaming
    from aircan_spark.ext import queries_w46 as w46
    from aircan_spark.queries import QUERIES

    # cold caches for this pin (state dirs of a previous pass are
    # reclaimed so the counter really measures a full rebuild)
    import shutil

    for dirs in w46._SHARED_STATE_CACHE.values():
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
    w46._SHARED_STATE_CACHE.clear()
    for stage, _schema in w46._STAGE_CACHE.values():
        shutil.rmtree(stage, ignore_errors=True)
    w46._STAGE_CACHE.clear()

    calls = {"n": 0}
    real = streaming.stream_multi_state_maintenance

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(streaming, "stream_multi_state_maintenance", counting)
    for name in STATE_QUERIES:
        assert QUERIES[name](spark, SF_DIR).count() > 0
    assert calls["n"] == 1, (
        f"the five state queries started {calls['n']} streams — the shared "
        "backlog/stream contract (r8 rewrite, ~55s saved per suite) broke"
    )
    assert len(w46._STAGE_CACHE) == 1  # one shared backlog staged
    # warm pass: no additional stream
    for name in STATE_QUERIES:
        QUERIES[name](spark, SF_DIR).count()
    assert calls["n"] == 1
