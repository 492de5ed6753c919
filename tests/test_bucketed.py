"""BucketedParquetTable — partial-rewrite upsert semantics.

Checks both halves of the contract: (a) results are IDENTICAL to the
full-rewrite ParquetTable merge; (b) untouched buckets are physically NOT
rewritten (their manifest pointers survive the commit verbatim).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from aircan_spark import ROW_NUMBER_COLUMN, UPDATED_AT_COLUMN
from aircan_spark.bucketed import BucketedParquetTable
from aircan_spark.frames import scope
from aircan_spark.rownum import with_row_number
from aircan_spark.table import ParquetTable

TS1 = dt.datetime(2026, 1, 1, 12, 0, 0)
TS2 = dt.datetime(2026, 2, 2, 12, 0, 0)


def base_df(spark, n=100):
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("val"),
        F.concat(F.lit("name_"), F.col("id")).alias("name"),
    )
    return with_row_number(df, order_by=["k"]).withColumn(
        UPDATED_AT_COLUMN, F.lit(TS1)
    )


def stage_df(spark):
    # 3 updates (one real change, two no-ops) + 2 inserts
    return spark.createDataFrame(
        [
            (5, 999, "name_5"),     # changed val
            (7, 70, "name_7"),      # unchanged
            (9, 90, "name_9"),      # unchanged
            (1001, 1, "new_a"),     # insert
            (1002, 2, "new_b"),     # insert
        ],
        "k long, val long, name string",
    )


def test_roundtrip_overwrite_read(spark, tmp_path):
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=8)
    df = base_df(spark)
    t.overwrite(df)
    got = t.read()
    assert sorted(got.columns) == sorted(df.columns)
    assert got.count() == 100
    assert t.max_id() == 100


def test_upsert_matches_full_rewrite_table(spark, tmp_path):
    bt = BucketedParquetTable(spark, str(tmp_path / "b"), "t", keys=["k"], num_buckets=8)
    ft = ParquetTable(spark, str(tmp_path / "f"), "t")
    df, st = base_df(spark), stage_df(spark)
    bt.overwrite(df)
    ft.overwrite(df)
    bt.upsert(st, job_ts=TS2)
    ft.upsert(st, ["k"], job_ts=TS2)
    cols = [ROW_NUMBER_COLUMN, "k", "val", "name", UPDATED_AT_COLUMN]
    got = [tuple(r) for r in bt.read().select(cols).orderBy("k").collect()]
    want = [tuple(r) for r in ft.read().select(cols).orderBy("k").collect()]
    assert got == want


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=8)
    t.overwrite(base_df(spark))
    before = t.manifest()["buckets"]
    stage = stage_df(spark).limit(1)  # single key -> single bucket
    t.upsert(stage, job_ts=TS2)
    after = t.manifest()["buckets"]
    changed = [b for b in before if after[b] != before[b]]
    unchanged = [b for b in before if after[b] == before[b]]
    assert len(changed) == 1, f"exactly one bucket should be rewritten: {changed}"
    assert unchanged, "the other buckets keep their original data dirs"


def test_insert_ids_continue_from_global_max(spark, tmp_path):
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=8)
    t.overwrite(base_df(spark, n=50))
    t.upsert(stage_df(spark), job_ts=TS2)
    rows = {r["k"]: r[ROW_NUMBER_COLUMN] for r in t.read().collect()}
    # matched keys keep their _id; inserts number 51.. in key order
    assert rows[5] == 5 and rows[7] == 7
    assert rows[1001] == 51 and rows[1002] == 52
    assert t.max_id() == 52


def test_updated_at_only_on_change(spark, tmp_path):
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=8)
    t.overwrite(base_df(spark))
    t.upsert(stage_df(spark), job_ts=TS2)
    got = {r["k"]: r[UPDATED_AT_COLUMN] for r in t.read().collect()}
    assert got[5] == TS2      # changed
    assert got[7] == TS1      # matched, unchanged
    assert got[1001] == TS2   # insert
    assert got[4] == TS1      # untouched bucket or row


def test_upsert_bootstraps_missing_table(spark, tmp_path):
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)
    t.upsert(stage_df(spark), job_ts=TS2)
    got = t.read()
    assert got.count() == 5
    ids = sorted(r[ROW_NUMBER_COLUMN] for r in got.collect())
    assert ids == [1, 2, 3, 4, 5]


def test_append_adds_dirs_keeps_old_files(spark, tmp_path):
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)
    t.overwrite(base_df(spark, n=20))
    before = {b: list(d) for b, d in t.manifest()["buckets"].items()}
    extra = with_row_number(
        spark.createDataFrame([(500, 1, "x"), (501, 2, "y")], "k long, val long, name string"),
        start=21,
        order_by=["k"],
    ).withColumn(UPDATED_AT_COLUMN, F.lit(TS2))
    t.append(extra)
    after = t.manifest()["buckets"]
    assert t.read().count() == 22
    for b, dirs in before.items():
        assert after[b][: len(dirs)] == dirs, "append never replaces old dirs"
    assert t.max_id() == 22


def test_gc_drops_unreferenced_dirs(spark, tmp_path):
    import os

    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)
    t.overwrite(base_df(spark, n=20))
    for i in range(3):
        t.upsert(stage_df(spark), job_ts=TS2)
    live = set()
    m = t.manifest()
    for snap in [m, *m["history"]]:
        for dirs in snap["buckets"].values():
            live.update(d.split("/")[0] for d in dirs)
    on_disk = {e for e in os.listdir(t.path) if e.startswith("data_v")}
    assert on_disk == live


def make_kind(spark, tmp_path, kind):
    """A flat table (one bucket) or a 4-bucket table on the ``k`` key."""
    if kind == "flat":
        return ParquetTable(spark, str(tmp_path), "t")
    return BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)


@pytest.mark.parametrize("kind", ["flat", "bucketed"])
def test_compact_merges_fragmented_buckets(spark, tmp_path, kind):
    from test_table_upsert import assert_record_invariant

    t = make_kind(spark, tmp_path, kind)
    t.overwrite(base_df(spark, n=40))
    for start in (41, 43):
        extra = with_row_number(
            spark.createDataFrame(
                [(start + 400, 1, "x"), (start + 401, 2, "y")],
                "k long, val long, name string",
            ),
            start=start,
            order_by=["k"],
        ).withColumn(UPDATED_AT_COLUMN, F.lit(TS2))
        t.append(extra)
    before = t.read().orderBy("k").collect()
    fragmented = [b for b, d in t.manifest()["buckets"].items() if len(d) >= 2]
    assert fragmented, "appends should fragment at least one bucket"

    compacted = t.compact(min_dirs=2)
    assert sorted(str(b) for b in compacted) == sorted(fragmented)
    after_m = t.manifest()["buckets"]
    for b in fragmented:
        assert len(after_m[b]) == 1, "compacted bucket is one dir"
    assert t.read().orderBy("k").collect() == before  # content identical
    assert t.max_id() == 44
    assert_record_invariant(spark, t)


@pytest.mark.parametrize("kind", ["flat", "bucketed"])
def test_compact_noop_when_unfragmented(spark, tmp_path, kind):
    t = make_kind(spark, tmp_path, kind)
    t.overwrite(base_df(spark, n=20))
    v = t.manifest()["version"]
    assert t.compact() == []
    assert t.manifest()["version"] == v  # no commit happened


def test_read_version_time_travel(spark, tmp_path):
    """An upsert commits a new version; read_version returns the prior
    snapshot bit-for-bit while current read sees the merge; unretained
    versions raise with the readable list."""
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=8)
    df = base_df(spark)
    t.overwrite(df)
    v1 = t.current_version()
    before = [tuple(r) for r in t.read().select("k", "val").orderBy("k").collect()]

    t.upsert(stage_df(spark), job_ts=TS2)
    v2 = t.current_version()
    assert v2 != v1

    old = [tuple(r) for r in t.read_version(v1).select("k", "val").orderBy("k").collect()]
    assert old == before
    now = [tuple(r) for r in t.read().select("k", "val").orderBy("k").collect()]
    assert now != before
    assert [tuple(r) for r in t.read_version(v2).select("k", "val").orderBy("k").collect()] == now

    with pytest.raises(ValueError, match="not retained"):
        t.read_version(v1 - 1 if v1 > 0 else 999)


def test_delete_partial_rewrite_and_time_travel(spark, tmp_path):
    """Targeted delete: removes exactly the keyed rows, rewrites ONLY
    the affected buckets (untouched pointers survive verbatim), keeps
    max_id (no id reuse), and the pre-delete snapshot stays readable."""
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=8)
    t.overwrite(base_df(spark))
    before = {b: dirs[:] for b, dirs in t.manifest()["buckets"].items()}

    keys = spark.createDataFrame([(5,), (7,), (64,)], "k long")
    from aircan_spark.bucketed import bucket_expr
    affected = {
        r["__b"]
        for r in keys.select(bucket_expr(["k"], 8).alias("__b")).distinct().collect()
    }

    n = t.delete(keys)
    assert n == 3
    got = t.read()
    assert got.count() == 97
    assert got.filter(F.col("k").isin(5, 7, 64)).count() == 0
    # untouched buckets keep their original manifest pointers verbatim
    after = t.manifest()["buckets"]
    for b, dirs in before.items():
        if int(b) not in affected:
            assert after[b] == dirs
    # max_id preserved -> future inserts continue numbering, never reuse
    assert t.max_id() == 100
    # time travel: the pre-delete version still shows the deleted rows
    old = t.read_version(1)
    assert old.filter(F.col("k").isin(5, 7, 64)).count() == 3


def test_delete_empty_keys_and_whole_bucket(spark, tmp_path):
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)
    t.overwrite(base_df(spark, n=20))
    assert t.delete(spark.createDataFrame([], "k long")) == 0
    assert t.manifest()["version"] == 1  # no-op did not commit
    # delete every key of one bucket: bucket entry empties, reads stay fine
    from aircan_spark.bucketed import bucket_expr
    all_rows = t.read().select("k", bucket_expr(["k"], 4).alias("__b"))
    target_b = all_rows.first()["__b"]
    bucket_keys = all_rows.filter(F.col("__b") == target_b).select("k")
    n_bucket = bucket_keys.count()
    assert t.delete(bucket_keys) == n_bucket
    assert t.read().count() == 20 - n_bucket
    assert t.manifest()["buckets"][str(target_b)] == []


def test_failed_upsert_releases_stage_persist(spark, tmp_path, monkeypatch):
    from test_table_upsert import _fail_table_writes, _persisted_rdds

    t = BucketedParquetTable(spark, str(tmp_path), "b", keys=["k"], num_buckets=4)
    with scope():
        t.overwrite(base_df(spark, n=20))
    before, version = _persisted_rdds(spark), t.manifest()["version"]
    with monkeypatch.context() as m:
        _fail_table_writes(m, t.path)
        with pytest.raises(RuntimeError, match="boom"):
            t.upsert(stage_df(spark), job_ts=TS2)
    assert _persisted_rdds(spark) == before
    assert t.manifest()["version"] == version
    assert t.read().count() == 20
    t.upsert(stage_df(spark), job_ts=TS2)
    assert t.manifest()["version"] == version + 1
    assert t.read().count() == 22
    assert _persisted_rdds(spark) == before


def test_commit_record_invariant(spark, tmp_path):
    from test_table_upsert import assert_record_invariant

    from aircan_spark.bucketed import bucket_expr

    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)
    t.overwrite(base_df(spark, n=20))
    assert_record_invariant(spark, t)
    assert (t.row_count(), t.max_id()) == (20, 20)

    extra = with_row_number(
        spark.createDataFrame(
            [(500, 1, "x", 7), (501, 2, "y", 8)], "k long, val long, name string, grp int"
        ),
        start=21,
        order_by=["k"],
    ).withColumn(UPDATED_AT_COLUMN, F.lit(TS2))
    t.append(extra)  # adds a column, fragments buckets
    assert_record_invariant(spark, t)

    t.upsert(stage_df(spark), job_ts=TS2)
    assert_record_invariant(spark, t)
    assert (t.row_count(), t.max_id()) == (24, 24)

    assert t.compact(min_dirs=2)
    assert_record_invariant(spark, t)

    assert t.delete(spark.createDataFrame([(5,), (1002,)], "k long")) == 2
    assert_record_invariant(spark, t, max_id=24)  # ids are never reused
    assert t.row_count() == 22

    # empty one bucket entirely
    rows = t.read().select("k", bucket_expr(["k"], 4).alias("b"))
    target_b = rows.first()["b"]
    doomed = rows.filter(F.col("b") == target_b).select("k")
    n = doomed.count()
    assert t.delete(doomed) == n
    assert t.manifest()["buckets"][str(target_b)] == []
    assert_record_invariant(spark, t, max_id=24)
    assert t.row_count() == 22 - n


def test_narrower_append_keeps_table_columns(spark, tmp_path):
    """An append without one of the table's columns (allowed by additive
    evolution) must not drop it from the table schema — not even for a
    read of a bucket that holds no files."""
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=8)
    t.overwrite(
        with_row_number(
            spark.createDataFrame(
                [(1, "a", 1.0), (2, "b", 2.0)], "k long, name string, price double"
            )
        )
    )
    t.append(
        with_row_number(
            spark.createDataFrame([(3, "c")], "k long, name string"), start=3
        )
    )
    empty = next(b for b in range(8) if not t.manifest()["buckets"].get(str(b)))
    assert t.read(buckets=[empty]).columns == ["_id", "k", "name", "price"]
    assert t.read().columns == ["_id", "k", "name", "price"]
    assert t.read().filter("k = 3").first()["price"] is None


def test_append_and_upsert_cast_to_table_types(spark, tmp_path):
    """A batch whose shared column has another type is cast to the
    table's type, as on the flat table — files of two types in one column
    would make every read fail."""
    t = BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)
    t.overwrite(
        with_row_number(spark.createDataFrame([(1, 10), (2, 20)], "k long, price long"))
    )
    t.append(
        with_row_number(
            spark.createDataFrame([(3, "30")], "k long, price string"), start=3
        )
    )
    t.upsert(spark.createDataFrame([("2", "21"), ("4", "40")], "k string, price string"))
    got = t.read()
    assert dict(got.dtypes)["price"] == "bigint"
    assert sorted((r["k"], r["price"]) for r in got.collect()) == [
        (1, 10), (2, 21), (3, 30), (4, 40)
    ]


@pytest.mark.parametrize("bucketed", [False, True])
def test_check_is_passed_the_attempts_rows(spark, tmp_path, bucketed):
    """A load's pre-commit check gets a scan of the dirs this attempt
    wrote (``data_v{N}``, or ``data_v{N}/__bucket=b`` for a bucketed
    table) under the schema the commit records: the appended batch, not
    the committed rows. A refusal deletes those dirs and leaves the
    version."""
    t = (
        BucketedParquetTable(spark, str(tmp_path), "t", keys=["k"], num_buckets=4)
        if bucketed
        else ParquetTable(spark, str(tmp_path), "t")
    )
    t.overwrite(base_df(spark, 20))
    batch = base_df(spark, 30).filter(F.col("k") > 20)
    seen = {}

    def check(attempt):
        seen["rows"] = sorted(tuple(r) for r in attempt.select(ROW_NUMBER_COLUMN, "k").collect())
        seen["files"] = attempt.inputFiles()
        seen["schema"] = attempt.schema

    t.append(batch, check)
    assert seen["rows"] == [(i, i) for i in range(21, 31)]
    assert seen["schema"] == t.read().schema
    if bucketed:
        dirs = {f.split("/data_v2/")[1].split("/")[0] for f in seen["files"]}
        assert len(dirs) > 1 and all(d.startswith("__bucket=") for d in dirs), dirs
    else:
        assert all("/data_v2/part-" in f for f in seen["files"]), seen["files"]

    def refuse(attempt):
        raise ValueError("refused")

    with pytest.raises(ValueError, match="refused"):
        t.append(base_df(spark, 40).filter(F.col("k") > 30), refuse)
    assert (t.current_version(), t.row_count()) == (2, 30)
    assert not (tmp_path / "t" / "data_v3").exists()
