"""Managed table lifecycle: overwrite, append+offset, upsert semantics.

Covers the reference's golden assertions (FIXTURES.md B9):
- _id 1..N on overwrite, MAX+1.. on append, preserved on upsert match,
  fresh numbers on upsert insert
- _updated_at set on insert, touched on update ONLY when data changed
  (NULL-safe), untouched otherwise
- dedup-before-merge; schema evolution on append
"""

import datetime as dt
import os

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from aircan_spark.frames import scope
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
        merge(t.read(), stage, [], insert_start=4)
    with pytest.raises(ValueError, match="absent"):
        merge(t.read(), stage, ["no_such_key"], insert_start=4)


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


@pytest.mark.parametrize("kind", KINDS)
def test_upsert_keeps_column_order(spark, tmp_path, kind):
    """An upsert writes the table's columns in the table's order, also
    when the key is not the first column, and its files agree with the
    commit record (a footer-merged scan orders by whichever file it lists
    first)."""
    t = make_kind(spark, tmp_path, kind)
    df = spark.createDataFrame(
        [("alpha", 10, 1.0), ("beta", 20, 2.0)], "name string, sku long, price double"
    )
    t.overwrite(with_row_number(df, order_by=["sku"]).withColumn("_updated_at", F.lit(TS1)))
    columns = t.read().columns
    assert columns.index("name") < columns.index("sku")
    stage = spark.createDataFrame(
        [("beta2", 20, 2.5), ("gamma", 30, 3.0)], "name string, sku long, price double"
    )
    t.upsert(stage, *key_args(t), job_ts=TS2)
    assert t.read().columns == columns
    assert spark.read.option("mergeSchema", "true").parquet(*live_paths(t)).columns == columns
    assert_record_invariant(spark, t)


@pytest.mark.parametrize("kind", KINDS)
def test_first_upsert_commits_version_one(spark, tmp_path, kind):
    """An upsert into a missing table creates it from the stage in one
    commit: version 1, holding exactly the stage's rows, numbered in key
    order."""
    t = make_kind(spark, tmp_path, kind, "fresh")
    stage = spark.createDataFrame(
        [(20, "beta", 2.0), (10, "alpha", 1.0)], "sku long, name string, price double"
    )
    t.upsert(stage, *key_args(t), job_ts=TS1)
    assert t.current_version() == 1
    assert t.manifest()["history"] == []
    got = sorted((r["_id"], r["sku"], r["name"], r["price"]) for r in t.read().collect())
    assert got == [(1, 10, "alpha", 1.0), (2, 20, "beta", 2.0)]
    assert_record_invariant(spark, t)


@pytest.mark.parametrize("kind", KINDS)
def test_delete_never_frees_an_id(spark, tmp_path, kind):
    """A delete of the row holding MAX(_id) keeps max_id, so the next
    append numbers above the deleted row instead of reusing its id."""
    t = make_kind(spark, tmp_path, kind)
    t.overwrite(base_df(spark))  # sku 10, 20, 30 -> _id 1, 2, 3
    assert t.delete(spark.createDataFrame([(30,)], "sku long"), *key_args(t)) == 1
    assert (t.row_count(), t.max_id()) == (2, 3)
    extra = spark.createDataFrame([(40, "delta", 4.0)], "sku long, name string, price double")
    t.append(with_row_number(extra, start=t.max_id() + 1).withColumn("_updated_at", F.lit(TS2)))
    assert {r["sku"]: r["_id"] for r in t.read().collect()} == {10: 1, 20: 2, 40: 4}


@pytest.mark.parametrize("kind", KINDS)
def test_delete_of_no_row_commits_nothing(spark, tmp_path, kind):
    """A delete that matches no row, of an empty key set or of keys the
    table does not hold, returns 0, commits no version and leaves no
    attempt dir behind."""
    t = make_kind(spark, tmp_path, kind)
    t.overwrite(base_df(spark))
    committed = t.manifest()
    for keys in ([], [(99,)]):
        assert t.delete(spark.createDataFrame(keys, "sku long"), *key_args(t)) == 0
        assert t.manifest() == committed
        assert sorted(os.listdir(t.path)) == ["_MANIFEST.json", "data_v1"]


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
    t = make_table(spark, tmp_path)
    with scope():
        t.overwrite(base_df(spark))
    before, version = _persisted_rdds(spark), t.current_version()
    stage = spark.createDataFrame(
        [(20, "beta2", 2.0), (40, "delta", 4.0)], ["sku", "name", "price"]
    )
    with monkeypatch.context() as m:
        _fail_table_writes(m, t.path)
        with pytest.raises(RuntimeError, match="boom"):
            t.upsert(stage, ["sku"], job_ts=TS2)
    assert _persisted_rdds(spark) == before
    assert t.current_version() == version
    assert t.read().count() == 3
    t.upsert(stage, ["sku"], job_ts=TS2)
    assert t.current_version() == version + 1
    assert sorted(r["_id"] for r in t.read().collect()) == [1, 2, 3, 4]
    assert _persisted_rdds(spark) == before


def test_failed_merge_releases_stage_persist(spark, tmp_path):
    # the stage itself raises: the failure surfaces inside merge()
    t = make_table(spark, tmp_path)
    with scope():
        t.overwrite(base_df(spark))
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
    t = make_kind(spark, tmp_path, kind)
    with scope():
        t.overwrite(base_df(spark))

    def state():
        return t.read().count(), t.row_count(), t.max_id(), t.current_version()

    before, outside = state(), _persisted_rdd_ids(spark)
    # the scope owns only the batch's own numbering: the failing operation
    # must release every persist it made itself
    with scope(), monkeypatch.context() as m:
        df = _op_batch(spark, op, start=t.max_id() + 1)
        pinned = _persisted_rdd_ids(spark)
        if fault == "commit":
            def commit(*args, **kwargs):
                raise RuntimeError("boom: crashed before the commit")

            m.setattr(ParquetTable, "_commit", commit)
        else:
            df = df.select(*[_fail_on(c, 20) if c == "sku" else c for c in df.columns])
        with pytest.raises(Exception, match="boom"):
            _run_op(t, op, df)
        assert _persisted_rdd_ids(spark) == pinned
    assert state() == before
    assert _persisted_rdd_ids(spark) == outside

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
    old, jobs, _ = count_jobs(spark, lambda: t.read_version(prev))
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
    (a delete keeps the pre-delete max so ids are never reused)."""
    (rows, got_max, schema), jobs, _ = count_jobs(
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
    assert_record_invariant(spark, t, max_id=5)  # ids are never reused
    assert (t.row_count(), t.max_id()) == (4, 5)


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
