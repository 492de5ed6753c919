"""frames.scope / frames.share: the one owner of library persists.

A scope releases what was shared inside it on exit, exceptions included;
scopes nest; each thread sees only its own scopes. The engine paths that
persist (streaming micro-batches, the end-to-end upsert queries, the wave
queries inside a scope) leave no persisted RDD behind.
"""

import contextvars
import json
import os
import re
import threading
from pathlib import Path

import pytest
from pyspark import StorageLevel

PACKAGE = Path(__file__).resolve().parent.parent / "aircan_spark"


def _persisted_ids(spark):
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _cached(df):
    return df.storageLevel != StorageLevel.NONE


def test_scope_releases_on_exit_and_on_exception(spark):
    from aircan_spark.frames import scope, share

    with scope():
        small, big = share(spark.range(10)), share(spark.range(20), big=True)
        assert small.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
        assert big.storageLevel == StorageLevel.DISK_ONLY
        assert small.count() == 10 and big.count() == 20
    assert not _cached(small) and not _cached(big)

    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            df = share(spark.range(30))
            df.count()
            raise RuntimeError("boom")
    assert not _cached(df)


def test_scopes_nest(spark):
    from aircan_spark.frames import scope, share

    with scope():
        a = share(spark.range(5))
        with scope():
            b = share(spark.range(6))
        assert not _cached(b) and _cached(a)
        c = share(spark.range(7))
    assert not _cached(a) and not _cached(c)


def test_outside_a_scope_the_frame_is_the_callers(spark):
    from aircan_spark.frames import scope, share

    df = share(spark.range(8))
    with scope():
        pass
    assert _cached(df)
    df.unpersist()


def test_scope_exit_in_one_thread_keeps_another_threads_frame(spark):
    """This thread shares a frame and holds its scope open while another
    thread opens, fills and exits its own scope: only the other thread's
    frame is released. A thread started inside the open scope, even one
    that runs in a copy of this thread's context (as threads do on
    interpreters that inherit it), does not register with it."""
    from aircan_spark.frames import scope, share

    shared, frames = threading.Event(), {}

    def other():
        shared.wait(60)
        with scope():
            frames["b"] = share(spark.range(50))
            frames["b"].count()
        frames["c"] = share(spark.range(3))

    def started_inside(name, n):
        frames[name] = share(spark.range(n))

    t = threading.Thread(target=other)
    t.start()
    with scope():
        a = share(spark.range(40))
        a.count()
        shared.set()
        t.join(120)
        assert not _cached(frames["b"])
        assert _cached(a)
        inner = [
            threading.Thread(target=started_inside, args=("d", 4)),
            threading.Thread(target=contextvars.copy_context().run,
                             args=(started_inside, "e", 5)),
        ]
        for th in inner:
            th.start()
            th.join(60)
    assert not _cached(a)
    for name in "cde":
        assert _cached(frames[name]), name
        frames[name].unpersist()


def test_result_scope_lives_with_the_returned_frame(spark):
    """A ``@result_scope`` function's shared frames stay cached while its
    result is held, are released when the result is dropped, and at once
    when the function raises."""
    from aircan_spark.frames import result_scope, share

    made = []

    @result_scope
    def build(fail=False):
        made.append(share(spark.range(9)))
        if fail:
            raise RuntimeError("boom")
        return made[-1].filter("id > 2")

    result = build()
    assert result.count() == 6
    assert _cached(made[0])
    del result
    assert not _cached(made[0])

    before = _persisted_ids(spark)
    build().write.format("noop").mode("overwrite").save()
    assert not _cached(made[1])
    assert _persisted_ids(spark) == before

    with pytest.raises(RuntimeError, match="boom"):
        build(fail=True)
    assert not _cached(made[2])


@pytest.mark.parametrize("key", ["q02_row_number", "q04_offset_continuation"])
def test_numbering_queries_release_with_their_result(spark, sf_dir, key):
    """The registry's numbering queries return a lazy plan over a shared
    numbering: it stays pinned while the plan is held, and building and
    running the query again starts from nothing cached."""
    from aircan_spark.queries import QUERIES

    before = _persisted_ids(spark)
    result = QUERIES[key](spark, sf_dir)
    assert len(_persisted_ids(spark) - before) == 1
    rows = result.count()
    del result
    assert _persisted_ids(spark) == before
    assert QUERIES[key](spark, sf_dir).count() == rows
    assert _persisted_ids(spark) == before


def test_one_persist_owner_in_the_package():
    """``.persist(`` / ``.cache()`` appear only in frames.py; the
    numbering-cache list, the persists= lists and the session sweep are
    gone."""
    persist = re.compile(r"\.persist\(|\.cache\(\)")
    gone = re.compile(
        r"release_caches|_ACTIVE_CACHES|persists=|persists: list"
        r"|release_session_caches|clear_cache"
    )
    stray, leftovers = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        text = path.read_text()
        if persist.search(text) and rel != "frames.py":
            stray.append(rel)
        if gone.search(text):
            leftovers.append(rel)
    assert stray == []
    assert leftovers == []


def test_no_test_only_seams_or_code_in_the_package():
    """No package module looks itself up in ``sys.modules`` (the old
    loader seam), the deleted test-only names stay gone from the package,
    scripts and DAGs, and no test swaps a module's ``_t`` loader: a test
    hands a query synthetic data as a table dir (``conftest.table_dir``)."""
    repo = PACKAGE.parent
    seam = re.compile(r"sys\.modules")
    gone = re.compile(
        r"\b(AggTable|aggtable|stream_interval_join|event_stream_from_table"
        r"|stream_(sketch|hll|bottomk|moments|kmv|state)_maintenance"
        r"|write_jdbc|export_dump_to_path|JDBC_BATCH_SIZE"
        r"|_run_maintenance|_staged_split_dir|_T_DELEGATING"
        r"|compare_schemas|_R05_FIRST|_T_PRESENT|preserve_columns"
        r"|include_system_columns|row_number_column|updated_at_column)\b"
    )
    patch_t = re.compile(r"""setattr\([^,]+,\s*["']_t["']|\._t\s*=[^=]""")
    seams, leftovers, patches = [], [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        if seam.search(path.read_text()):
            seams.append(path.relative_to(repo).as_posix())
    for top in ("aircan_spark", "scripts", "dags"):
        for path in sorted((repo / top).rglob("*.py")):
            if gone.search(path.read_text()):
                leftovers.append(path.relative_to(repo).as_posix())
    for path in sorted((repo / "tests").glob("*.py")):
        if patch_t.search(path.read_text()):
            patches.append(path.name)
    assert seams == []
    assert leftovers == []
    assert patches == []


def _write_batches(src, rows_per_file):
    os.makedirs(src)
    for i, rows in enumerate(rows_per_file):
        with open(os.path.join(src, f"b{i}.ndjson"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")


@pytest.mark.parametrize("keys", [None, ["sku"]], ids=["append", "upsert"])
def test_stream_ingest_leaves_no_persisted_rdd(spark, tmp_path, keys):
    from test_streaming import SCHEMA, _await

    from aircan_spark.streaming import stream_ingest
    from aircan_spark.table import ParquetTable

    src = str(tmp_path / "incoming")
    _write_batches(src, [
        [{"sku": 1, "name": "a", "price": 1.0}, {"sku": 2, "name": "b", "price": 2.0}],
        [{"sku": 2, "name": "b2", "price": 2.5}, {"sku": 3, "name": "c", "price": 3.0}],
        [{"sku": 4, "name": "d", "price": 4.0}],
    ])
    table = ParquetTable(spark, str(tmp_path / "wh"), "stream_leak")
    before = _persisted_ids(spark)
    q = stream_ingest(
        spark, src, SCHEMA, table, str(tmp_path / "ckpt"), keys=keys,
        max_files_per_trigger=1, available_now=True,
    )
    _await(q)
    assert table.row_count() == (4 if keys else 5)
    assert _persisted_ids(spark) == before


def test_stream_quality_gate_leaves_no_persisted_rdd(spark, tmp_path):
    from pyspark.sql import types as T

    from aircan_spark.streaming import stream_quality_gate
    from aircan_spark.table import ParquetTable

    src = str(tmp_path / "src")
    _write_batches(src, [[{"k": 1, "val": 1.0}], [{"k": 2, "val": 2.0}], [{"k": 3, "val": 3.0}]])
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("val", T.DoubleType())]
    )
    table = ParquetTable(spark, str(tmp_path / "tbl"), "t")
    before = _persisted_ids(spark)
    q = stream_quality_gate(
        spark, src, schema, table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        checks=[{"column": "val", "kind": "max", "max": 100}],
        quarantine_dir=str(tmp_path / "dlq"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(120)
    assert table.row_count() == 3
    assert _persisted_ids(spark) == before


@pytest.mark.parametrize("key", ["q15_upsert_e2e", "q16_bucketed_upsert"])
def test_upsert_queries_leave_no_persisted_rdd(spark, sf_dir, key):
    """The end-to-end upserts return their 1-row aggregate as a literal
    frame: nothing they persisted or checkpointed outlives them."""
    from aircan_spark import queries

    before = _persisted_ids(spark)
    result = getattr(queries, key)(spark, sf_dir)
    added = _persisted_ids(spark) - before
    assert result.count() == 1
    assert added == set()


def _cache_manager_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persisted_frames(spark):
    """Ids of the persisted RDDs that are not checkpoints."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet() if not rdds.get(k).rdd().isCheckpointed()}


@pytest.mark.parametrize(
    "key",
    ["ext_levene", "ext_gmm_em", "ext_theil_sen", "ext_hits", "ext_tfidf_cosine_pairs"],
)
def test_wave_query_in_a_scope_leaves_nothing_persisted(spark, sf_dir, key):
    """Built and run inside a scope, a wave query's shared frames are
    released at exit, with no clearCache: the CacheManager is empty and no
    persisted frame is added. (ext_hits' round checkpoints are not
    persists; the JVM's ContextCleaner owns them.)"""
    from aircan_spark.frames import scope
    from aircan_spark.queries import QUERIES

    spark.catalog.clearCache()  # earlier tests' queries leave caller-owned pins
    before = _persisted_frames(spark)
    with scope():
        QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert _cache_manager_empty(spark)
    assert _persisted_frames(spark) - before == set()


def test_levene_outside_a_scope_keeps_its_two_pins(spark, sf_dir):
    """With no scope open (how perfbench builds it), ext_levene's two
    shares are the caller's pins: a second build and run reuses them and
    adds no persisted RDD."""
    from aircan_spark.queries import QUERIES

    spark.catalog.clearCache()  # earlier tests' queries leave caller-owned pins
    before = _persisted_ids(spark)
    want = QUERIES["ext_levene"](spark, sf_dir).collect()
    pins = _persisted_ids(spark) - before
    assert len(pins) == 2
    assert QUERIES["ext_levene"](spark, sf_dir).collect() == want
    assert _persisted_ids(spark) - before == pins
    spark.catalog.clearCache()  # this test's own pins
