import contextlib
import os
import sys
import threading
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aircan_spark.session import get_spark  # noqa: E402
from perfbench.trace import group_counters  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        app_name="aircan_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def count_jobs(spark, fn):
    """Run ``fn`` under its own job group; return (its result, the Spark
    jobs it ran, their ``{"input": bytes read, "shuffle": bytes shuffle
    written}``)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive async
    c = group_counters(sc, [group])[group]
    return out, c["jobs"], {"input": int(c["input_bytes"]), "shuffle": int(c["shuffle_write_bytes"])}


@contextlib.contextmanager
def session_conf(spark, key, value):
    """Set the session conf ``key`` to ``value`` for the block."""
    saved = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def within(seconds, fn):
    """Return ``fn()``, or fail the test when it has not returned after
    ``seconds`` (a call that blocks, like an ``Observation.get`` whose
    metrics never arrive, is left behind in a daemon thread)."""
    out = {}

    def call():
        try:
            out["value"] = fn()
        except BaseException as exc:
            out["error"] = exc

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(seconds)
    if t.is_alive():
        pytest.fail(f"did not return within {seconds} s")
    if "error" in out:
        raise out["error"]
    return out["value"]


def load(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def table_dir(tmp_path, base_dir, **tables):
    """A data dir holding each of ``tables`` (name -> DataFrame) as the
    table ``{name}.parquet``, with ``base_dir``'s other tables symlinked
    beside them. Each frame is written by pyarrow as ONE file, so the
    footer count of ``corpus_count`` sees the synthetic rows."""
    import pyarrow.parquet as pq

    out = tmp_path / "tables"
    out.mkdir()
    for name, df in tables.items():
        pq.write_table(df.toArrow(), str(out / f"{name}.parquet"))
    for entry in os.listdir(base_dir):
        if not (out / entry).exists():
            (out / entry).symlink_to(os.path.join(base_dir, entry))
    return str(out)
