"""``sources.read_parquet``: Spark's inferred parquet schema, taken from one
footer on the driver, with no Spark job."""

import datetime as dt
import decimal
import re
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from aircan_spark.sources import read_parquet
from conftest import count_jobs

PACKAGE = Path(__file__).resolve().parent.parent / "aircan_spark"

CONFS = {
    "default": {},
    "binaryAsString": {"spark.sql.parquet.binaryAsString": "true"},
    "int96AsTimestamp=false": {"spark.sql.parquet.int96AsTimestamp": "false"},
    "inferTimestampNTZ=false": {
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false"
    },
    "nanosAsLong": {"spark.sql.legacy.parquet.nanosAsLong": "true"},
    "caseSensitive": {"spark.sql.caseSensitive": "true"},
}

TS = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), None]


def _arrow(path, table, **kw):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path), **kw)


def _arrow_layouts(root):
    """One pyarrow-written file per type family, named by what it holds."""
    ts_ns = pa.array(TS, pa.timestamp("ns"))
    tables = {
        "ts_ns": (pa.table({"t": ts_ns}), {"version": "2.6"}),
        "ts_us_tz": (pa.table({"t": pa.array(TS, pa.timestamp("us", tz="UTC"))}), {}),
        "ts_ms": (pa.table({"t": pa.array(TS, pa.timestamp("ms"))}), {}),
        "int96": (pa.table({"t": ts_ns}), {"use_deprecated_int96_timestamps": True}),
        "decimals": (
            pa.table({
                "d10": pa.array([decimal.Decimal("12.34")], pa.decimal128(10, 2)),
                "d30": pa.array([decimal.Decimal("1.50")], pa.decimal128(30, 2)),
            }),
            {},
        ),
        "nested": (
            pa.table({
                "s": pa.array([{"a": 1, "B": "x"}]),
                "l": pa.array([[1, 2]], pa.list_(pa.int64())),
                "m": pa.array([[("k", 1.5)]], pa.map_(pa.string(), pa.float64())),
            }),
            {},
        ),
        "unsigned": (
            pa.table({
                f"u{w}": pa.array([1], getattr(pa, f"uint{w}")()) for w in (8, 16, 32, 64)
            }),
            {},
        ),
        "dictionary": (
            pa.table({"c": pa.array(["a", "b", "a"]).dictionary_encode()}),
            {},
        ),
        "not_null": (
            pa.Table.from_arrays(
                [pa.array([1, 2]), pa.array(["x", None])],
                schema=pa.schema([
                    pa.field("k", pa.int64(), nullable=False),
                    pa.field("v", pa.string()),
                ]),
            ),
            {},
        ),
        "kv_metadata": (
            pa.table({"x": [1]}).replace_schema_metadata({"origin": "probe"}),
            {},
        ),
        "binary": (pa.table({"b": pa.array([b"\x00\x01"], pa.binary())}), {}),
        "format_1_0": (
            pa.table({"i": pa.array([1], pa.int32()), "s": ["x"]}),
            {"version": "1.0"},
        ),
        "empty_file": (
            pa.table({"x": pa.array([], pa.int64()), "s": pa.array([], pa.string())}),
            {},
        ),
        "mixed_case": (pa.table({"Ab": [1], "cD": ["x"]}), {}),
    }
    out = {}
    for name, (table, kw) in tables.items():
        _arrow(root / f"{name}.parquet", table, **kw)
        out[f"arrow_{name}"] = str(root / f"{name}.parquet")
    return out


def _spark_layouts(spark, root):
    df = spark.createDataFrame(
        [(i, f"n{i}", i % 3, float(i)) for i in range(12)],
        "id bigint, name string, part int, price double",
    )
    out = {}
    single = root / "spark_single"
    df.coalesce(1).write.parquet(str(single))
    out["spark_dir_one_file"] = str(single)
    out["spark_file"] = str(next(single.glob("part-*.parquet")))
    multi = root / "spark_multi"
    df.repartition(3).write.parquet(str(multi))
    out["spark_dir_multi_file"] = str(multi)
    out["spark_glob"] = str(multi / "part-*")
    parted = root / "spark_partitioned"
    df.write.partitionBy("part").parquet(str(parted))
    out["spark_partition_by"] = str(parted)
    meta = root / "spark_field_metadata"
    df.select(
        F.col("id").alias("id", metadata={"comment": "key"}), "name"
    ).coalesce(1).write.parquet(str(meta))
    out["spark_field_metadata"] = str(meta)
    return out


def _edge_layouts(root):
    out = {}
    narrow = pa.table({"x": pa.array([1], pa.int32())})
    wide = pa.table({"x": pa.array(["s"]), "y": [2.5]})
    for name, (first, second) in {
        "disagree_narrow_first": (narrow, wide),
        "disagree_wide_first": (wide, narrow),
    }.items():
        _arrow(root / name / "a.parquet", first)
        _arrow(root / name / "b.parquet", second)
        out[name] = str(root / name)
    # Spark lists neither `_`- nor `.`-prefixed files, except the two
    # summary files, which inference reads first.
    hidden = root / "hidden_prefixed"
    _arrow(hidden / "_ignored.parquet", wide)
    _arrow(hidden / ".also_ignored.parquet", wide)
    _arrow(hidden / "data.parquet", narrow)
    out["underscore_prefixed_ignored"] = str(hidden)
    out["underscore_prefixed_named"] = str(hidden / "_ignored.parquet")
    out["dot_prefixed_named"] = str(hidden / ".also_ignored.parquet")
    # Spark sorts by the decoded path ("a b" < "a!"), not by the listed
    # URI ("a%20b" > "a!")
    escaped = root / "escaped_names"
    _arrow(escaped / "a b.parquet", narrow)
    _arrow(escaped / "a!.parquet", wide)
    out["escaped_names"] = str(escaped)
    summary = root / "common_metadata"
    _arrow(summary / "data.parquet", narrow)
    pq.write_metadata(
        pa.schema([pa.field("x", pa.int64())]), str(summary / "_common_metadata")
    )
    out["common_metadata_first"] = str(summary)
    (root / "empty_dir").mkdir()
    out["empty_dir"] = str(root / "empty_dir")
    out["missing_path"] = str(root / "no_such.parquet")
    return out


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("read_parquet")
    out = {}
    out.update(_arrow_layouts(root / "arrow"))
    out.update(_spark_layouts(spark, root))
    out.update(_edge_layouts(root / "edge"))
    yield out
    shutil.rmtree(root, ignore_errors=True)


LAYOUTS = [
    "arrow_ts_ns", "arrow_ts_us_tz", "arrow_ts_ms", "arrow_int96", "arrow_decimals",
    "arrow_nested", "arrow_unsigned", "arrow_dictionary", "arrow_not_null",
    "arrow_kv_metadata", "arrow_binary", "arrow_format_1_0", "arrow_empty_file",
    "arrow_mixed_case", "spark_file", "spark_dir_one_file", "spark_dir_multi_file",
    "spark_glob", "spark_partition_by", "spark_field_metadata",
    "disagree_narrow_first", "disagree_wide_first", "underscore_prefixed_ignored",
    "underscore_prefixed_named", "dot_prefixed_named", "escaped_names",
    "common_metadata_first", "empty_dir", "missing_path",
]


def _schema_or_error(read):
    """The schema JSON of ``read()``, or the class and condition of what
    it raised."""
    try:
        return read().schema.json()
    except PySparkException as e:
        return ("error", type(e).__name__, e.getCondition())


@pytest.mark.parametrize("conf", list(CONFS))
@pytest.mark.parametrize("layout", LAYOUTS)
def test_schema_equals_sparks_inference(spark, layouts, layout, conf):
    path = layouts[layout]
    settings = CONFS[conf]
    saved = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        ours = _schema_or_error(lambda: read_parquet(spark, path))
        sparks = _schema_or_error(lambda: spark.read.parquet(path))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert ours == sparks


def test_reads_run_no_job(spark, layouts):
    """Listing, footer and conversion run on the driver: no Spark job for
    a file or a Spark-written directory, partitioned or not, and the rows
    read are Spark's."""
    for layout in ("spark_file", "spark_dir_multi_file", "spark_partition_by"):
        df, jobs, _ = count_jobs(spark, lambda: read_parquet(spark, layouts[layout]))
        assert jobs == 0, layout
        assert sorted(df.collect()) == sorted(spark.read.parquet(layouts[layout]).collect())


def test_merge_schema_keeps_sparks_inference(spark, layouts):
    """Under ``mergeSchema`` every footer is merged, which one footer
    cannot reproduce: the read is Spark's own."""
    path = layouts["spark_partition_by"]
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        df, jobs, _ = count_jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 1
        assert df.schema == spark.read.parquet(path).schema
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_load_table_runs_no_job(spark, sf_dir):
    """A testdata table loaded afresh (its memo cleared) runs no job."""
    from aircan_spark import data

    saved = data._TABLE_CACHE.pop(spark, None)
    try:
        df, jobs, _ = count_jobs(spark, lambda: data.load_table(spark, sf_dir, "orders"))
    finally:
        data._TABLE_CACHE.pop(spark, None)
        if saved is not None:
            data._TABLE_CACHE[spark] = saved
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{sf_dir}/orders.parquet").schema


def test_one_schema_inferring_parquet_read_in_the_package():
    """Every parquet read without a recorded schema goes through
    ``read_parquet``: ``.read.parquet(`` appears only at its fallback.
    Reads that pass a schema (``.read.schema(...).parquet(``, the stream
    readers) do not match."""
    inferring = re.compile(r"\.read\.parquet\(")
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for line in path.read_text().splitlines():
            if inferring.search(line):
                found.append((rel, line.strip()))
    assert found == [("sources.py", "return spark.read.parquet(path)")]
