"""Row-number injection: contiguity, offsets, order preservation, scale shape."""

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from aircan_spark.pipeline import run
from aircan_spark.rownum import number_files, with_row_number
from aircan_spark.table import ParquetTable


def test_contiguous_from_one(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    out = with_row_number(df, order_by=["x"])
    rows = out.orderBy("x").collect()
    assert [r["_id"] for r in rows] == list(range(1, 1001))
    assert out.columns[0] == "_id"


def test_start_offset(spark):
    df = spark.range(10).withColumnRenamed("id", "x")
    out = with_row_number(df, start=501, order_by=["x"])
    ids = sorted(r["_id"] for r in out.collect())
    assert ids == list(range(501, 511))


def test_order_follows_sort_columns(spark):
    df = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b"), (5, "e"), (4, "d")], ["k", "v"]
    )
    out = with_row_number(df, order_by=["k"])
    got = {r["k"]: r["_id"] for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_source_order_without_sort(spark, tmp_path):
    # File order must be reproduced when no order columns are given —
    # the ingest numbering contract (SURVEY §1.4).
    path = str(tmp_path / "src.csv")
    with open(path, "w") as fh:
        fh.write("val\n")
        for i in range(5000):
            fh.write(f"row_{i}\n")
    df = spark.read.option("header", "true").csv(path)
    out = with_row_number(df)
    rows = out.orderBy("_id").collect()
    assert [r["val"] for r in rows[:5]] == [f"row_{i}" for i in range(5)]
    assert rows[-1]["val"] == "row_4999"
    assert [r["_id"] for r in rows] == list(range(1, 5001))


def test_multi_partition_contiguity(spark):
    df = spark.range(0, 100_000).repartition(16).withColumnRenamed("id", "x")
    out = with_row_number(df, order_by=["x"])
    agg = out.agg(
        F.count("*").alias("n"),
        F.min("_id").alias("lo"),
        F.max("_id").alias("hi"),
        F.count_distinct("_id").alias("d"),
    ).collect()[0]
    assert (agg["n"], agg["lo"], agg["hi"], agg["d"]) == (100_000, 1, 100_000, 100_000)


def test_no_global_single_partition_window(spark):
    # The numbering plan must not contain a global (unpartitioned) window —
    # that is the 100 TB anti-pattern this module exists to avoid.
    df = spark.range(0, 10_000).repartition(8).withColumnRenamed("id", "x")
    out = with_row_number(df, order_by=["x"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# --- zipWithIndex numbering: plan shape, equivalence, edge cases -------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_has_no_window_and_no_exchange_without_order(spark):
    df = spark.range(0, 2000, numPartitions=8).withColumnRenamed("id", "x")
    for cache in (True, False):
        plan = _plan(with_row_number(df, cache=cache))
        assert "Window" not in plan
        assert "Exchange" not in plan


def test_plan_has_one_range_exchange_with_order(spark):
    df = spark.range(0, 2000, numPartitions=8).withColumnRenamed("id", "x")
    # uncached: the plan is not yet executed, so AQE prints only the
    # initial plan and every Exchange in it is this numbering's
    plan = _plan(with_row_number(df, order_by=["x"], cache=False))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "rangepartitioning" in exchanges[0], plan
    assert "Window" not in plan
    # cached: the persisted frame's executed plan holds no other exchange
    plan = _plan(with_row_number(df, order_by=["x"]))
    assert "Window" not in plan
    assert all(
        "rangepartitioning" in ln for ln in plan.splitlines() if "Exchange " in ln
    ), plan


def _window_numbering(df, start=1, order_by=None):
    """The previous algorithm (partition id + per-partition row_number
    window + literal offset map), kept here as the equivalence oracle."""
    from pyspark.sql import Window

    if order_by:
        cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
        prepared = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        local = cols
    else:
        prepared = df.withColumn("__local", F.monotonically_increasing_id())
        local = [F.col("__local")]
    prepared = prepared.withColumn("__pid", F.spark_partition_id()).persist()
    counts = dict(prepared.groupBy("__pid").count().collect())
    entries, acc = [], start - 1
    for pid in sorted(counts):
        entries += [F.lit(pid), F.lit(acc)]
        acc += counts[pid]
    offset = F.create_map(*entries)[F.col("__pid")] if entries else F.lit(start - 1)
    w = Window.partitionBy("__pid").orderBy(*local)
    out = prepared.withColumn("_id", F.row_number().over(w).cast("long") + offset)
    got = {tuple(r) for r in out.select("_id", *df.columns).collect()}
    prepared.unpersist()
    return got


def _skewed_16(spark):
    # 16 range splits of 312-313 rows; the filter empties 11 of them and
    # leaves one partial (rows 0..99) beside four full ones
    return (
        spark.range(0, 5000, numPartitions=16)
        .filter((F.col("id") < 100) | (F.col("id") >= 3750))
        .select(F.col("id").alias("x"), (F.col("id") % 7).alias("g"))
    )


def test_matches_window_numbering_on_skewed_partitions(spark):
    from aircan_spark.frames import scope

    df = _skewed_16(spark)
    assert df.rdd.getNumPartitions() == 16
    for kwargs in ({}, {"start": 42}, {"order_by": ["x"]}, {"order_by": ["g", "x"], "start": 7}):
        with scope():
            got = {tuple(r) for r in with_row_number(df, **kwargs).collect()}
        assert got == _window_numbering(df, **kwargs), kwargs


def test_empty_frame_keeps_id_first(spark):
    empty = spark.createDataFrame([], "a int, b string")
    for kwargs in ({}, {"order_by": ["a"]}, {"cache": False, "start": 9}):
        out = with_row_number(empty, **kwargs)
        assert out.columns == ["_id", "a", "b"]
        assert out.schema["_id"].dataType.typeName() == "long"
        assert out.count() == 0


def test_desc_order_keys(spark):
    # the shape ext_segment_rank uses: (segment, value desc, tiebreak)
    data = [(i % 3, (i * 37) % 11, i) for i in range(200)]
    df = spark.createDataFrame(data, "seg int, v int, k int").repartition(5)
    out = with_row_number(
        df, column="_gi", order_by=[F.col("seg"), F.col("v").desc(), F.col("k")]
    )
    got = [(r["seg"], r["v"], r["k"]) for r in out.orderBy("_gi").collect()]
    assert got == sorted(data, key=lambda t: (t[0], -t[1], t[2]))
    assert sorted(r["_gi"] for r in out.collect()) == list(range(1, 201))


def _text_source(spark, tmp_path, n=2000):
    """The same rows as a gzip CSV (one partition: gzip does not split)
    and as a plain CSV read in several splits."""
    import gzip

    text = "val\n" + "".join(f"row_{i}\n" for i in range(n))
    gz = tmp_path / "src.csv.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write(text)
    plain = tmp_path / "src.csv"
    plain.write_text(text)
    reader = spark.read.option("header", "true").schema("val string")
    return reader.csv(str(gz)), reader.csv(str(plain))


def test_one_partition_frame_numbers_without_count_pass(spark, tmp_path):
    """A one-partition frame has the offsets {0: start}: the numbering
    builds with no job and no persist, and gives the ids and the schema
    (``_id`` nullability included) the count pass gives."""
    one, split = _text_source(spark, tmp_path)
    assert one.rdd.getNumPartitions() == 1
    persisted = int(spark.sparkContext._jsc.getPersistentRDDs().size())
    numbered, jobs, _ = count_jobs(spark, lambda: with_row_number(one, start=5))
    assert jobs == 0
    assert int(spark.sparkContext._jsc.getPersistentRDDs().size()) == persisted
    assert "InMemoryRelation" not in _plan(numbered)

    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        assert split.rdd.getNumPartitions() > 1
        from aircan_spark.frames import scope

        with scope():
            counted = with_row_number(split, start=5)
            want = [tuple(r) for r in counted.orderBy("_id").collect()]
    finally:
        spark.conf.set(key, saved)
    assert numbered.schema == counted.schema
    assert [tuple(r) for r in numbered.orderBy("_id").collect()] == want
    assert want[0] == (5, "row_0") and want[-1] == (2004, "row_1999")


def test_frame_with_exchange_runs_no_extra_job(spark):
    """The partition count is asked only of a frame without an exchange:
    AQE would run a shuffle stage to answer. A frame with one keeps the
    count pass and runs no job besides it."""
    from aircan_spark.frames import scope

    def grouped():
        return spark.range(0, 500, numPartitions=3).groupBy((F.col("id") % 7).alias("k")).count()

    def count_pass():
        tagged = grouped().withColumn("m", F.monotonically_increasing_id()).persist()
        try:
            return tagged.groupBy(F.shiftright("m", 33)).count().collect()
        finally:
            tagged.unpersist()

    with scope():
        numbered, jobs, _ = count_jobs(spark, lambda: with_row_number(grouped()))
        assert sorted(r["_id"] for r in numbered.collect()) == list(range(1, 8))
    assert jobs == count_jobs(spark, count_pass)[1]


# --- number_files: parquet scans numbered from their footers -----------------


def _write_files(root, files):
    """Write each {relative path: [vals]} as its own parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for rel, vals in files.items():
        path = root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"v": vals}), str(path))


def test_number_files_builds_with_no_job_exchange_or_cache(spark, tmp_path):
    _write_files(tmp_path / "src", {"a.parquet": list(range(7)), "b.parquet": list(range(5))})
    df = spark.read.parquet(str(tmp_path / "src"))
    (numbered, rows), jobs, _ = count_jobs(spark, lambda: number_files(df, start=11))
    assert (rows, jobs) == (12, 0)
    plan = _plan(numbered)
    assert "Exchange" not in plan and "InMemoryRelation" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert numbered.columns == ["_id", "v"]
    assert sorted(r["_id"] for r in numbered.collect()) == list(range(11, 23))
    (tmp_path / "empty").mkdir()
    numbered, rows = number_files(spark.read.schema("v long").parquet(str(tmp_path / "empty")))
    assert (rows, numbered.collect()) == (0, [])


def test_pipeline_numbers_multi_file_source_in_path_order(spark, tmp_path):
    """part-0 is the smaller file; Spark packs splits largest first, so a
    split-order numbering would give part-1's rows the first ids."""
    small = [f"s{i}" for i in range(3)]
    large = [f"{'x' * 200}{i}" for i in range(400)]
    src = tmp_path / "src.parquet"
    _write_files(src, {"part-0.parquet": small, "part-1.parquet": large})
    assert (src / "part-0.parquet").stat().st_size < (src / "part-1.parquet").stat().st_size
    res = run(spark, {"resource_path": str(src), "table_name": "t",
                      "warehouse": str(tmp_path / "wh")})
    assert res["rows"] == 403
    got = ParquetTable(spark, str(tmp_path / "wh"), "t").read().orderBy("_id")
    assert [(r["_id"], r["v"]) for r in got.collect()] == list(
        enumerate(small + large, start=1)
    )


@pytest.mark.parametrize("layout", ["hive_partitions", "space_and_percent"])
def test_pipeline_numbers_every_file_once(spark, tmp_path, layout):
    """Partition dirs repeat the part-file name, and the source path needs
    URL escaping: every row still gets one of 1..N."""
    if layout == "hive_partitions":
        src = tmp_path / "src.parquet"
        files = {f"k={k}/part-0.parquet": [k * 100 + i for i in range(k + 2)] for k in range(3)}
    else:
        src = tmp_path / "my src 100%.parquet"
        files = {"part-0.parquet": list(range(4)), "part 1%.parquet": list(range(4, 9))}
    _write_files(src, files)
    n = sum(len(v) for v in files.values())
    res = run(spark, {"resource_path": str(src), "resource_format": "parquet",
                      "table_name": "t", "warehouse": str(tmp_path / "wh")})
    ids = [r["_id"] for r in ParquetTable(spark, str(tmp_path / "wh"), "t").read().collect()]
    assert res["rows"] == n
    assert sorted(ids) == list(range(1, n + 1))


def test_pipeline_fails_on_scanned_file_without_base(spark, tmp_path, monkeypatch):
    """A file the scan reads but the numbering did not list fails the load;
    no table version is committed with a NULL _id."""
    src = tmp_path / "src.parquet"
    _write_files(src, {"part-0.parquet": [1, 2], "part-1.parquet": [3]})
    cls = type(spark.range(1))
    listed = cls.inputFiles
    monkeypatch.setattr(cls, "inputFiles", lambda self: sorted(listed(self))[:-1])
    with pytest.raises(Exception, match="row numbering has no base for"):
        run(spark, {"resource_path": str(src), "table_name": "t",
                    "warehouse": str(tmp_path / "wh")})
    assert not ParquetTable(spark, str(tmp_path / "wh"), "t").exists()
