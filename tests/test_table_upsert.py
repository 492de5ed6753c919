"""Managed table lifecycle: overwrite, append+offset, upsert semantics.

Covers the reference's golden assertions (FIXTURES.md B9):
- _id 1..N on overwrite, MAX+1.. on append, preserved on upsert match,
  fresh numbers on upsert insert
- _updated_at set on insert, touched on update ONLY when data changed
  (NULL-safe), untouched otherwise
- dedup-before-merge; schema evolution on append
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aircan_spark.rownum import with_row_number
from aircan_spark.table import ParquetTable
from aircan_spark.upsert import dedup_stage, merge

TS1 = dt.datetime(2026, 1, 1, 12, 0, 0)
TS2 = dt.datetime(2026, 2, 2, 12, 0, 0)


def make_table(spark, tmp_path, name="t"):
    return ParquetTable(spark, str(tmp_path), name)


def base_df(spark, ts=TS1):
    df = spark.createDataFrame(
        [(10, "alpha", 1.0), (20, "beta", None), (30, "gamma", 3.0)],
        ["sku", "name", "price"],
    )
    df = with_row_number(df, order_by=["sku"])
    return df.withColumn("_updated_at", F.lit(ts))


def test_overwrite_and_read(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    got = t.read()
    assert got.count() == 3
    assert sorted(r["_id"] for r in got.collect()) == [1, 2, 3]
    assert t.max_id() == 3


def test_append_continues_numbering(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    extra = spark.createDataFrame([(40, "delta", 4.0)], ["sku", "name", "price"])
    extra = with_row_number(extra, start=t.max_id() + 1, order_by=["sku"])
    extra = extra.withColumn("_updated_at", F.lit(TS2))
    t.append(extra)
    got = t.read()
    assert got.count() == 4
    assert t.max_id() == 4
    assert got.filter("sku = 40").collect()[0]["_id"] == 4


def test_append_schema_evolution(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    extra = spark.createDataFrame(
        [(50, "eps", 5.0, 99)], ["sku", "name", "price", "supplier_id"]
    )
    extra = with_row_number(extra, start=t.max_id() + 1, order_by=["sku"])
    extra = extra.withColumn("_updated_at", F.lit(TS2))
    t.append(extra)
    got = t.read()
    assert "supplier_id" in got.columns
    assert got.filter("sku = 10").collect()[0]["supplier_id"] is None
    assert got.filter("sku = 50").collect()[0]["supplier_id"] == 99


def test_dedup_stage_first_by_id(spark):
    stage = spark.createDataFrame(
        [(1, 10, "first"), (2, 10, "second"), (3, 20, "only")],
        ["_id", "sku", "name"],
    )
    out = dedup_stage(stage, ["sku"]).collect()
    got = {r["sku"]: r["name"] for r in out}
    assert got == {10: "first", 20: "only"}


def test_upsert_full_semantics(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark, TS1))

    # stage: sku 10 unchanged, 20 changed (NULL -> 2.5), 40+50 new,
    # 50 duplicated in-stage (dedup must keep first by _id)
    stage = spark.createDataFrame(
        [
            (10, "alpha", 1.0),
            (20, "beta", 2.5),
            (50, "epsilon", 5.0),
            (50, "epsilon-dupe", 5.5),
            (40, "delta", 4.0),
        ],
        ["sku", "name", "price"],
    )
    stage = with_row_number(stage)  # source order
    t.upsert(stage, ["sku"], job_ts=TS2)

    rows = {r["sku"]: r for r in t.read().collect()}
    assert set(rows) == {10, 20, 30, 40, 50}
    # matched rows preserve _id
    assert rows[10]["_id"] == 1
    assert rows[20]["_id"] == 2
    assert rows[30]["_id"] == 3
    # inserts numbered MAX+1.. deterministically by key order
    assert {rows[40]["_id"], rows[50]["_id"]} == {4, 5}
    assert rows[40]["_id"] == 4  # key order: 40 < 50
    # unchanged row: _updated_at untouched
    assert rows[10]["_updated_at"] == TS1
    # changed row (NULL-safe NULL->2.5): updated
    assert rows[20]["_updated_at"] == TS2
    assert rows[20]["price"] == 2.5
    # target-only row untouched
    assert rows[30]["_updated_at"] == TS1
    # inserts stamped
    assert rows[40]["_updated_at"] == TS2
    # in-stage dedup kept first occurrence
    assert rows[50]["name"] == "epsilon"
    assert rows[50]["price"] == 5.0


def test_upsert_idempotent(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark, TS1))
    stage = spark.createDataFrame([(20, "beta", 9.9)], ["sku", "name", "price"])
    stage = with_row_number(stage)
    t.upsert(stage, ["sku"], job_ts=TS2)
    first = sorted(map(tuple, t.read().collect()))
    # re-running the same upsert with a LATER ts must be a no-op
    t.upsert(stage, ["sku"], job_ts=dt.datetime(2026, 3, 3))
    second = sorted(map(tuple, t.read().collect()))
    assert first == second


def test_upsert_into_missing_table_autocreates(spark, tmp_path):
    t = make_table(spark, tmp_path, "fresh")
    stage = with_row_number(
        spark.createDataFrame([(1, "a"), (2, "b")], ["sku", "name"])
    )
    t.upsert(stage, ["sku"], job_ts=TS1)
    rows = {r["sku"]: r for r in t.read().collect()}
    assert sorted(rows) == [1, 2]
    assert {rows[1]["_id"], rows[2]["_id"]} == {1, 2}
    assert rows[1]["_updated_at"] == TS1


def test_upsert_requires_keys(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    stage = spark.createDataFrame([(1, "a")], ["sku", "name"])
    with pytest.raises(ValueError):
        merge(t.read(), stage, [])
    with pytest.raises(ValueError, match="absent"):
        merge(t.read(), stage, ["no_such_key"])


def test_backfill_updated_at(spark, tmp_path):
    t = make_table(spark, tmp_path)
    df = base_df(spark).withColumn(
        "_updated_at", F.when(F.col("sku") == 10, F.lit(TS1))
    )
    t.overwrite(df)
    t.backfill_updated_at(TS2)
    rows = {r["sku"]: r["_updated_at"] for r in t.read().collect()}
    assert rows[10] == TS1  # already set: untouched
    assert rows[20] == TS2 and rows[30] == TS2  # NULLs backfilled


def test_merge_preserve_columns_insert_takes_stage_value(spark):
    """Reference MERGE includes all stage columns in the INSERT — preserve
    applies only to the UPDATE SET (warehouse.py merge_upsert_anyvalue_dedup).
    A NOT MATCHED row must take the stage's value for a preserved column;
    NULL only when the stage lacks the column entirely."""
    from aircan_spark.upsert import merge

    target = spark.createDataFrame(
        [(10, "a", "keep-me", 1)], "sku int, name string, note string, _id long"
    )
    # stage HAS the preserved column
    stage = spark.createDataFrame(
        [(10, "a2", "stage-note"), (20, "b", "new-note")],
        "sku int, name string, note string",
    )
    out = {r["sku"]: r for r in merge(target, stage, ["sku"], preserve_columns=("note",)).collect()}
    assert out[10]["note"] == "keep-me"  # matched: preserved from target
    assert out[20]["note"] == "new-note"  # insert: stage value, not NULL
    # stage LACKS the preserved column -> insert gets NULL
    stage2 = spark.createDataFrame([(30, "c")], "sku int, name string")
    out2 = {r["sku"]: r for r in merge(target, stage2, ["sku"], preserve_columns=("note",)).collect()}
    assert out2[30]["note"] is None
    assert out2[10]["note"] == "keep-me"


KINDS = ["flat", "bucketed"]


def make_kind(spark, tmp_path, kind, name="t"):
    """A flat or a bucketed table on the ``sku`` key."""
    from aircan_spark.bucketed import BucketedParquetTable

    if kind == "flat":
        return make_table(spark, tmp_path, name)
    return BucketedParquetTable(spark, str(tmp_path), name, keys=["sku"], num_buckets=4)


def key_args(table):
    """The per-call key list the flat upsert/delete take (the bucketed
    table holds its keys)."""
    return () if hasattr(table, "keys") else (["sku"],)


@pytest.mark.parametrize("kind", KINDS)
def test_concurrent_commit_detected(spark, tmp_path, kind):
    """Optimistic-concurrency contract (table.py docstring): a commit
    based on a version that another writer superseded must raise
    ConcurrentWriteError at the publish and publish nothing, not clobber
    the other commit. Simulated by a second table handle committing
    between the first handle's read and its commit."""
    from aircan_spark.table import ConcurrentWriteError

    df = with_row_number(spark.createDataFrame([(1, "a"), (2, "b")], "sku int, name string"))
    t = make_kind(spark, tmp_path, kind, "race")
    t.overwrite(df)
    stale = t.manifest()
    assert stale["version"] == 1

    # another writer moves the version while our write is in flight
    make_kind(spark, tmp_path, kind, "race").overwrite(df.limit(1))  # v2
    published = t.manifest()
    # our write thought the base was v1; a commit that skips a version is
    # not based on the current manifest either
    for version in (2, 4):
        with pytest.raises(ConcurrentWriteError):
            t._commit(version, stale["buckets"], 2, 2, stale["schema"])
    assert t.manifest() == published  # the concurrent commit survives
    assert t.read().count() == 1


def test_parquet_table_delete_keys(spark, tmp_path):
    """GDPR delete on the plain table: keyed rows vanish, a new snapshot
    version commits (prior version still on disk), survivors keep their
    ids."""
    from aircan_spark.table import ParquetTable
    from aircan_spark.rownum import with_row_number

    t = ParquetTable(spark, str(tmp_path), "t")
    df = with_row_number(
        spark.createDataFrame([(k, k * 10) for k in range(1, 21)], "k long, v long"),
        order_by=["k"],
    )
    t.overwrite(df)
    v_before = t.current_version()

    n = t.delete(spark.createDataFrame([(3,), (7,), (99,)], "k long"), ["k"])
    assert n == 2  # 99 not present
    got = t.read()
    assert got.count() == 18
    assert got.filter(F.col("k").isin(3, 7)).count() == 0
    assert t.current_version() == v_before + 1
    # survivors keep their original _id values
    ids = {r["k"]: r["_id"] for r in got.collect()}
    assert ids[4] == 4 and ids[20] == 20


def _persisted_rdds(spark):
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _fail_table_writes(monkeypatch, table_path):
    """Make every parquet write under ``table_path`` raise after the merge
    plan is built (and its stage persist filled) — a failed write job."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if str(path).startswith(str(table_path)):
            raise RuntimeError("boom: write failed")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_failed_upsert_releases_stage_persist(spark, tmp_path, monkeypatch):
    from aircan_spark.rownum import release_caches

    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    release_caches()
    before, version = _persisted_rdds(spark), t.current_version()
    stage = spark.createDataFrame(
        [(20, "beta2", 2.0), (40, "delta", 4.0)], ["sku", "name", "price"]
    )
    with monkeypatch.context() as m:
        _fail_table_writes(m, t.path)
        with pytest.raises(RuntimeError, match="boom"):
            t.upsert(stage, ["sku"], job_ts=TS2)
    release_caches()  # the insert numbering's persist (pipeline.run does this)
    assert _persisted_rdds(spark) == before
    assert t.current_version() == version
    assert t.read().count() == 3
    t.upsert(stage, ["sku"], job_ts=TS2)
    release_caches()
    assert t.current_version() == version + 1
    assert sorted(r["_id"] for r in t.read().collect()) == [1, 2, 3, 4]
    assert _persisted_rdds(spark) == before


def test_failed_merge_releases_stage_persist(spark, tmp_path):
    # the stage itself raises: the failure surfaces inside merge()
    from aircan_spark.rownum import release_caches

    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    release_caches()
    before, version = _persisted_rdds(spark), t.current_version()
    stage = spark.createDataFrame(
        [(20, "beta2", 2.0), (40, "delta", 4.0)], ["sku", "name", "price"]
    ).withColumn(
        "name",
        F.when(F.col("sku") == 20, F.raise_error(F.lit("boom"))).otherwise(
            F.col("name")
        ),
    )
    with pytest.raises(Exception, match="boom"):
        t.upsert(stage, ["sku"], job_ts=TS2)
    release_caches()
    assert _persisted_rdds(spark) == before
    assert t.current_version() == version


def _persisted_rdd_ids(spark):
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _fail_on(column, value):
    """``column`` through a Python UDF that raises on the row holding
    ``value`` — a task failure in the middle of the write job."""

    @F.udf("string")
    def check(v):
        if v == str(value):
            raise RuntimeError(f"boom: row {v}")
        return v

    return check(F.col(column).cast("string")).cast("long").alias(column)


def _op_batch(spark, op, start):
    """The input of ``op``: 2 numbered rows (overwrite/append), a stage
    with one update and one insert (upsert), or 2 keys (delete)."""
    if op == "delete":
        return spark.createDataFrame([(20,), (30,)], "sku long")
    rows = spark.createDataFrame(
        [(20, "beta2", 2.0), (40, "delta", 4.0)], "sku long, name string, price double"
    )
    if op == "upsert":
        return rows
    return with_row_number(rows, start=start, order_by=["sku"]).withColumn(
        "_updated_at", F.lit(TS2)
    )


def _run_op(table, op, df):
    if op in ("overwrite", "append"):
        getattr(table, op)(df)
    elif op == "upsert":
        table.upsert(df, *key_args(table), job_ts=TS2)
    else:
        table.delete(df, *key_args(table))


@pytest.mark.parametrize("fault", ["commit", "udf"])
@pytest.mark.parametrize("op", ["overwrite", "append", "upsert", "delete"])
@pytest.mark.parametrize("kind", KINDS)
def test_failed_write_leaves_previous_version(spark, tmp_path, monkeypatch, kind, op, fault):
    """A write that fails after its data write (the commit raises) or in
    the middle of its job (a UDF throws on one row) leaves readers on
    exactly the previous version, with its stats and no leaked persist,
    and the next append numbers above every visible row."""
    from aircan_spark.rownum import release_caches

    t = make_kind(spark, tmp_path, kind)
    t.overwrite(base_df(spark))
    release_caches()
    def state():
        return t.read().count(), t.row_count(), t.max_id(), t.current_version()

    before, pinned = state(), _persisted_rdd_ids(spark)
    df = _op_batch(spark, op, start=t.max_id() + 1)
    with monkeypatch.context() as m:
        if fault == "commit":
            def commit(*args, **kwargs):
                raise RuntimeError("boom: crashed before the commit")

            m.setattr(ParquetTable, "_commit", commit)
        else:
            df = df.select(*[_fail_on(c, 20) if c == "sku" else c for c in df.columns])
        with pytest.raises(Exception, match="boom"):
            _run_op(t, op, df)
    release_caches()  # the insert numbering's persist (pipeline.run does this)
    assert state() == before
    assert _persisted_rdd_ids(spark) == pinned

    extra = spark.createDataFrame([(50, "eps", 5.0)], "sku long, name string, price double")
    t.append(
        with_row_number(extra, start=t.max_id() + 1).withColumn("_updated_at", F.lit(TS2))
    )
    ids = [r["_id"] for r in t.read().collect()]
    assert len(ids) == len(set(ids)) == before[0] + 1
    assert t.current_version() == before[3] + 1
    assert_record_invariant(spark, t)


@pytest.mark.parametrize("kind", KINDS)
def test_read_version_uses_recorded_schema(spark, tmp_path, kind):
    """An earlier version is read by the same scan as ``read()``: its
    recorded schema, no footer-inference job, and the rows it held."""
    t = make_kind(spark, tmp_path, kind)
    t.overwrite(base_df(spark))
    prev = t.current_version()
    want = sorted(map(tuple, t.read().collect()))
    extra = spark.createDataFrame(
        [(50, "eps", 5.0, 99)], "sku long, name string, price double, supplier_id long"
    )
    t.append(with_row_number(extra, start=4).withColumn("_updated_at", F.lit(TS2)))
    old, jobs = count_jobs(spark, lambda: t.read_version(prev))
    assert jobs == 0
    assert "supplier_id" not in old.columns
    assert sorted(map(tuple, old.collect())) == want


def test_read_after_append_ignores_dir_mtime(spark, tmp_path):
    import os

    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    stamps = {p: os.stat(p) for p in [t.path, *live_paths(t)]}
    assert t.read().count() == 3
    extra = spark.createDataFrame([(40, "delta", 4.0)], ["sku", "name", "price"])
    extra = with_row_number(extra, start=4).withColumn("_updated_at", F.lit(TS2))
    t.append(extra)
    # a coarse clock or a stale attribute cache leaves the mtimes unmoved
    for p, st in stamps.items():
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert t.read().count() == 4


def count_jobs(spark, fn):
    """Run ``fn`` under its own job group; return (result, Spark jobs run)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def live_paths(table):
    """The parquet dirs the table's current manifest lists."""
    import os

    return [
        os.path.join(table.path, d)
        for dirs in table.manifest()["buckets"].values()
        for d in dirs
    ]


def assert_record_invariant(spark, table, max_id=None):
    """The commit record answers rows, MAX(_id) and schema with no Spark
    job, and each answer equals what a scan of the live files gives.
    ``max_id``: the value the record must keep instead of the scanned one
    (a bucketed delete keeps the pre-delete max so ids are never reused)."""
    (rows, got_max, schema), jobs = count_jobs(
        spark, lambda: (table.row_count(), table.max_id(), table.read().schema)
    )
    assert jobs == 0
    assert rows == table.read().count()
    paths = live_paths(table)
    scanned = spark.read.option("mergeSchema", "true").parquet(*paths)
    assert schema == scanned.schema
    if max_id is None:
        max_id = 0
        if "_id" in scanned.columns:
            max_id = scanned.agg(F.coalesce(F.max("_id"), F.lit(0))).first()[0]
    assert got_max == max_id


def test_commit_record_invariant(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.overwrite(base_df(spark))
    assert_record_invariant(spark, t)
    assert t.row_count() == 3 and t.max_id() == 3

    extra = spark.createDataFrame(
        [(50, "eps", 5.0, 99)], ["sku", "name", "price", "supplier_id"]
    )
    extra = with_row_number(extra, start=4).withColumn("_updated_at", F.lit(TS2))
    t.append(extra)  # adds a column
    assert_record_invariant(spark, t)
    assert t.read().columns[-1] == "supplier_id"

    stage = spark.createDataFrame(
        [(20, "beta2", 2.0), (60, "zeta", 6.0)], ["sku", "name", "price"]
    )
    t.upsert(with_row_number(stage), ["sku"], job_ts=TS2)
    assert_record_invariant(spark, t)
    assert (t.row_count(), t.max_id()) == (5, 5)

    assert t.delete(spark.createDataFrame([(60,), (99,)], "sku int"), ["sku"]) == 1
    assert_record_invariant(spark, t)
    assert (t.row_count(), t.max_id()) == (4, 4)

    t.backfill_updated_at(TS2)
    assert_record_invariant(spark, t)

    empty = make_table(spark, tmp_path, "empty")
    empty.create_empty_like(base_df(spark))
    assert_record_invariant(spark, empty)
    assert (empty.row_count(), empty.max_id()) == (0, 0)


def test_read_sees_append_from_another_object(spark, tmp_path):
    import os

    a = make_table(spark, tmp_path)
    a.overwrite(base_df(spark))
    stamps = {p: os.stat(p) for p in [a.path, *live_paths(a)]}
    assert a.read().count() == 3
    b = make_table(spark, tmp_path)
    extra = spark.createDataFrame([(40, "delta", 4.0)], ["sku", "name", "price"])
    b.append(with_row_number(extra, start=4).withColumn("_updated_at", F.lit(TS2)))
    # a coarse clock or a stale attribute cache leaves the mtimes unmoved
    for p, st in stamps.items():
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert a.read().count() == 4
    assert a.row_count() == 4
