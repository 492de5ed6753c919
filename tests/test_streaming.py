"""Structured Streaming tests — availableNow triggers so everything is
deterministic and bounded."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aircan_spark.data import load_table
from aircan_spark.streaming import (
    read_sketch_state,
    running_user_totals,
    stream_ingest,
    stream_multi_state_maintenance,
    windowed_event_counts,
)
from aircan_spark.table import ParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("sku", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def _write_ndjson(path, rows):
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()


def _maintain(spark, src, schema, tmp_path, build_fn, merge_fn, ckpt="ckpt"):
    """Stream ``src`` to completion through ``stream_multi_state_maintenance``
    with one state in ``tmp_path/state``; return the committed state."""
    state = str(tmp_path / "state")
    q = stream_multi_state_maintenance(
        spark, str(src), schema,
        [{"build_fn": build_fn, "merge_fn": merge_fn, "state_dir": state}],
        str(tmp_path / ckpt), available_now=True,
    )
    q.awaitTermination(120)
    return read_sketch_state(spark, state)


def test_stream_ingest_append_two_batches(spark, tmp_path):
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "wh"), "stream_t")
    ckpt = str(tmp_path / "ckpt")

    _write_ndjson(os.path.join(src, "b1.ndjson"),
                  [{"sku": 1, "name": "a", "price": 1.0},
                   {"sku": 2, "name": "b", "price": 2.0}])
    q = stream_ingest(spark, src, SCHEMA, table, ckpt, available_now=True)
    _await(q)
    assert table.read().count() == 2
    assert table.max_id() == 2

    # second file: restart stream (same checkpoint), _id continues
    _write_ndjson(os.path.join(src, "b2.ndjson"),
                  [{"sku": 3, "name": "c", "price": 3.0}])
    q = stream_ingest(spark, src, SCHEMA, table, ckpt, available_now=True)
    _await(q)
    rows = {r["sku"]: r["_id"] for r in table.read().collect()}
    assert rows == {1: 1, 2: 2, 3: 3}


def test_stream_ingest_upsert_idempotent_merge(spark, tmp_path):
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    table = ParquetTable(spark, str(tmp_path / "wh"), "stream_u")
    ckpt = str(tmp_path / "ckpt")

    _write_ndjson(os.path.join(src, "b1.ndjson"),
                  [{"sku": 1, "name": "a", "price": 1.0}])
    q = stream_ingest(spark, src, SCHEMA, table, ckpt, keys=["sku"], available_now=True)
    _await(q)

    _write_ndjson(os.path.join(src, "b2.ndjson"),
                  [{"sku": 1, "name": "a2", "price": 9.0},
                   {"sku": 4, "name": "d", "price": 4.0}])
    q = stream_ingest(spark, src, SCHEMA, table, ckpt, keys=["sku"], available_now=True)
    _await(q)

    rows = {r["sku"]: r for r in table.read().collect()}
    assert set(rows) == {1, 4}
    assert rows[1]["_id"] == 1  # preserved across merge
    assert rows[1]["name"] == "a2"  # updated
    assert rows[4]["_id"] == 2


def test_windowed_counts_batch_equivalence(spark):
    """The windowed agg must produce identical results on a batch frame and
    on a stream of the same data (availableNow + complete output)."""
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    batch_out = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events).collect()
    }
    assert batch_out  # non-trivial

    # totals must add up
    assert sum(n for n, _ in batch_out.values()) == events.count()


def test_windowed_counts_streaming(spark, tmp_path):
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_src")
    events.limit(200).write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = spark.sql("SELECT sum(n_events) AS n FROM win_counts").collect()[0]["n"]
    assert got == 200


def test_running_user_totals_stateful(spark, tmp_path):
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(300)
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    totals = running_user_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        r["user_id"]: (r["total_value"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, max(total_value) total_value, max(n_events) n_events "
            "FROM user_totals GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: (r["t"], r["n"])
        for r in events.groupBy("user_id")
        .agg(F.sum("value").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][1] == want[uid][1]
        if want[uid][0] is not None:
            assert abs(got[uid][0] - want[uid][0]) < 1e-6


def test_sessionized_streaming_equals_batch(spark, tmp_path):
    from aircan_spark.streaming import sessionized_activity

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    src = str(tmp_path / "sess_src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sessionized_activity(spark.read.parquet(src)).collect()
    }

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sessionized_activity(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    streamed = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert streamed == batch


def test_stream_dedup_drops_redelivered_rows(spark, tmp_path):
    """Duplicate key within the watermark horizon -> one surviving row;
    batch mode degrades to plain dropDuplicates."""
    from aircan_spark.streaming import stream_dedup

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    # simulate at-least-once redelivery: every row arrives twice
    doubled = events.union(events)
    src = str(tmp_path / "dup_src")
    doubled.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_dedup(stream, ["event_id"], delay="2 hours")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out"
    ).collect()[0]
    assert out["n"] == 100 and out["d"] == 100

    assert stream_dedup(doubled, ["event_id"]).count() == 100  # batch fallback


def test_stream_enrich_equals_batch(spark, tmp_path):
    """Stream-static enrichment: a parquet-file stream joined to the
    static customer dim produces exactly the batch join's rows, and
    unmatched keys flow through with the default fill."""
    from aircan_spark.streaming import stream_enrich

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    cust = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_mktsegment"
    )
    src = str(tmp_path / "enrich_src")
    # shift half the user_ids out of the dim's key range -> default path
    ev = events.limit(300).withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.col("user_id") + 100000).otherwise(
            F.col("user_id")
        ),
    ).select("event_id", "user_id", "event_type")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def enrich(df):
        return stream_enrich(
            df, cust, on=("user_id", "c_custkey"),
            dim_cols=["c_mktsegment"], default={"c_mktsegment": "unknown"},
        )

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        enrich(stream)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r.event_id, r.c_mktsegment)
        for r in spark.sql("SELECT event_id, c_mktsegment FROM enriched").collect()
    }
    want = {
        (r.event_id, r.c_mktsegment)
        for r in enrich(spark.read.parquet(src)).collect()
    }
    assert got == want and len(got) == 300
    assert any(seg == "unknown" for _, seg in got)


def test_stream_sketch_maintenance_merge_law(spark, tmp_path):
    """Streaming CMS maintenance: after streaming N files, the stored
    sketch equals a batch-built sketch over the union of all files — the
    merge law holds end-to-end through foreachBatch; estimates from the
    maintained sketch never underestimate exact counts."""
    import json as _json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from aircan_spark.ext import sketch as cms

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType([T.StructField("item", T.StringType(), True)])
    all_items = []
    for f in range(3):
        items = [f"w{(i * (f + 1)) % 17}" for i in range(200)]
        all_items += items
        with open(src / f"batch{f}.json", "w") as fh:
            for it in items:
                fh.write(_json.dumps({"item": it}) + "\n")

    stored = _maintain(
        spark, src, schema, tmp_path,
        lambda b: cms.count_min_build(b.select("item"), "item", depth=3, width=128, seed=5),
        cms.count_min_merge,
    )
    direct = cms.count_min_build(
        spark.createDataFrame([(i,) for i in all_items], "item string"),
        "item",
        depth=3,
        width=128,
        seed=5,
    )
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, direct.collect()))

    exact = {}
    for it in all_items:
        exact[it] = exact.get(it, 0) + 1
    queries = spark.createDataFrame([(k,) for k in exact], "item string")
    est = {
        r["item"]: r["cms_estimate"]
        for r in cms.count_min_estimate(
            stored, queries, "item", depth=3, width=128, seed=5
        ).collect()
    }
    for it, ex in exact.items():
        assert est[it] >= ex


def test_stream_sketch_restart_semantics(spark, tmp_path):
    """Restart hazards around the maintained sketch:

    1. same checkpoint, re-run with no new data -> state unchanged (the
       committed batch-id guard skips replays);
    2. FRESH checkpoint, same sketch_dir -> run-id mismatch REBUILDS the
       sketch from the re-streamed source (r2 advice: the stale marker
       must not silently skip every batch of the new lineage);
    3. a pointer naming unreadable state raises instead of silently
       restarting from the current batch."""
    import json as _json
    import os
    import shutil

    from pyspark.sql import types as T

    from aircan_spark.ext import sketch as cms

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType([T.StructField("item", T.StringType(), True)])
    items = [f"w{i % 7}" for i in range(100)]
    with open(src / "a.json", "w") as fh:
        for it in items:
            fh.write(_json.dumps({"item": it}) + "\n")

    def run(ckpt: str) -> None:
        _maintain(
            spark, src, schema, tmp_path,
            lambda b: cms.count_min_build(b.select("item"), "item", depth=3, width=64, seed=7),
            cms.count_min_merge, ckpt=ckpt,
        )

    run("ckpt1")
    first = sorted(map(tuple, read_sketch_state(spark, str(tmp_path / "state")).collect()))

    # 1: same checkpoint again — nothing new to process, state unchanged
    run("ckpt1")
    again = sorted(map(tuple, read_sketch_state(spark, str(tmp_path / "state")).collect()))
    assert again == first

    # 2: fresh checkpoint re-streams the whole source; run-id mismatch
    # must REBUILD (not skip, not double-merge): state == batch-built,
    # i.e. identical to the first run's result
    run("ckpt2")
    rebuilt = sorted(map(tuple, read_sketch_state(spark, str(tmp_path / "state")).collect()))
    direct = cms.count_min_build(
        spark.createDataFrame([(i,) for i in items], "item string"),
        "item", depth=3, width=64, seed=7,
    )
    assert rebuilt == sorted(map(tuple, direct.collect())) == first

    # 3: corrupt the committed state (pointer intact) and stream NEW data
    # under the same checkpoint — the merge must raise, not quietly
    # restart the sketch from the new batch's delta
    pointer = _json.load(open(tmp_path / "state" / "_current.json"))
    shutil.rmtree(os.path.join(str(tmp_path / "state"), pointer["version"]))
    with open(src / "b.json", "w") as fh:
        fh.write(_json.dumps({"item": "w0"}) + "\n")
    import pytest as _pytest

    with _pytest.raises(Exception):
        run("ckpt2")


def test_stream_hll_maintenance_matches_batch(spark, tmp_path):
    """Streaming HLL maintenance: after N files the stored registers
    equal a batch build over the union (merge law through foreachBatch),
    and the running estimate tracks the true distinct count."""
    import json as _json

    from pyspark.sql import types as T

    from aircan_spark.ext import sketch as sk

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType([T.StructField("item", T.StringType(), True)])
    all_items = []
    for f in range(3):
        items = [f"u{(i * 13 + f * 700) % 2000}" for i in range(900)]
        all_items += items
        with open(src / f"b{f}.json", "w") as fh:
            for it in items:
                fh.write(_json.dumps({"item": it}) + "\n")

    stored = _maintain(
        spark, src, schema, tmp_path,
        lambda df: sk.hll_build(df.select("item"), "item", b=10, seed=3),
        sk.hll_merge,
    )
    direct = sk.hll_build(
        spark.createDataFrame([(i,) for i in all_items], "item string"),
        "item", b=10, seed=3,
    )
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, direct.collect()))
    true_distinct = len(set(all_items))
    est = sk.hll_estimate(stored, b=10)
    assert abs(est - true_distinct) / true_distinct < 0.15, (est, true_distinct)


def test_stream_bottomk_maintenance_matches_batch(spark, tmp_path):
    """Streaming bottom-k maintenance: after N files the stored sample
    equals a batch bottom-k over the union (merge law through
    foreachBatch) — the deterministic-selection property that makes the
    KMV sketch replay-safe."""
    import json as _json

    from pyspark.sql import types as T

    from aircan_spark.ext import sketch as sk

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType([T.StructField("item", T.StringType(), True)])
    all_items = []
    for f in range(3):
        items = [f"u{(i * 7 + f * 450) % 1300}" for i in range(600)]
        all_items += items
        with open(src / f"b{f}.json", "w") as fh:
            for it in items:
                fh.write(_json.dumps({"item": it}) + "\n")

    stored = _maintain(
        spark, src, schema, tmp_path,
        lambda df: sk.bottomk_sample(df, ["item"], k=100, seed=5),
        lambda cur, delta: sk.bottomk_merge(cur, delta, k=100),
    )
    direct = sk.bottomk_sample(
        spark.createDataFrame([(i,) for i in all_items], "item string"),
        ["item"], k=100, seed=5,
    )
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, direct.collect()))


def test_stream_quality_gate_quarantines_bad_batches(spark, tmp_path):
    """DLQ pattern: a poisoned file fails the expectation gate and lands
    whole in quarantine; clean batches append with continuing ids; the
    table never sees the bad rows."""
    import json as _json

    from pyspark.sql import types as T

    from aircan_spark.streaming import stream_quality_gate
    from aircan_spark.table import ParquetTable

    src = tmp_path / "src"
    src.mkdir()
    good1 = [{"k": i, "val": float(i % 50)} for i in range(100)]
    bad = [{"k": i, "val": 999.0 if i == 7 else 1.0} for i in range(40)]
    good2 = [{"k": i, "val": 2.0} for i in range(60)]
    for name, rows in (("a_good1", good1), ("b_bad", bad), ("c_good2", good2)):
        with open(src / f"{name}.json", "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("val", T.DoubleType())]
    )
    table = ParquetTable(spark, str(tmp_path / "tbl"), "t")
    q = stream_quality_gate(
        spark, str(src), schema, table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        checks=[{"column": "val", "kind": "max", "max": 100}],
        quarantine_dir=str(tmp_path / "dlq"),
        max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(120)

    got = table.read()
    assert got.count() == 160  # both clean files, no bad rows
    assert got.filter(F.col("val") > 100).count() == 0
    ids = [r["_id"] for r in got.select("_id").collect()]
    assert sorted(ids) == list(range(1, 161))  # numbering continues across batches
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq.count() == 40
    assert "_batch_id" in dlq.columns
    assert dlq.filter(F.col("val") == 999.0).count() == 1


def test_stream_moments_maintenance_matches_batch(spark, tmp_path):
    """Keyed moment partials through the atomic-pointer machinery: after
    N files the stored (n, Σx, Σx²) per key equal a batch aggregation
    over the union — the add-to-merge law for keyed state."""
    import json as _json

    from pyspark.sql import types as T

    src = tmp_path / "src"
    src.mkdir()
    rows_all = []
    for f in range(3):
        rows = [
            {"k": f"g{i % 4}", "v": float((i * 7 + f * 13) % 100)}
            for i in range(300)
        ]
        rows_all += rows
        with open(src / f"b{f}.json", "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    def build(df):
        v = F.col("v").cast("double")
        return df.groupBy(F.col("k").alias("key")).agg(
            F.count(F.lit(1)).alias("n"), F.sum(v).alias("s1"), F.sum(v * v).alias("s2")
        )

    def merge(cur, delta):
        return cur.unionByName(delta).groupBy("key").agg(
            F.sum("n").alias("n"), F.sum("s1").alias("s1"), F.sum("s2").alias("s2")
        )

    stored = {
        r["key"]: (r["n"], r["s1"], r["s2"])
        for r in _maintain(spark, src, schema, tmp_path, build, merge).collect()
    }
    direct = (
        spark.createDataFrame([(r["k"], r["v"]) for r in rows_all], "key string, v double")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s1"),
             F.sum(F.col("v") * F.col("v")).alias("s2"))
    )
    want = {r["key"]: (r["n"], r["s1"], r["s2"]) for r in direct.collect()}
    assert set(stored) == set(want)
    for k in want:
        assert stored[k][0] == want[k][0]
        assert abs(stored[k][1] - want[k][1]) < 1e-6
        assert abs(stored[k][2] - want[k][2]) < 1e-6


def test_stream_kmv_maintenance_matches_batch(spark, tmp_path):
    """Streaming KMV maintenance: after N files the stored per-group
    minima equal a batch kmv_minima over the union (merge law through
    foreachBatch), and the estimates track the true per-group distinct
    counts within the 1/sqrt(k) envelope."""
    import json as _json

    from pyspark.sql import types as T

    from aircan_spark.ext import sketch as sk

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), True),
            T.StructField("item", T.StringType(), True),
        ]
    )
    all_rows = []
    for f in range(3):
        rows = [
            ("g%d" % (i % 2), "u%d" % ((i * 7 + f * 500) % 1500))
            for i in range(800)
        ]
        all_rows += rows
        with open(src / f"b{f}.json", "w") as fh:
            for g, it in rows:
                fh.write(_json.dumps({"g": g, "item": it}) + "\n")

    stored = _maintain(
        spark, src, schema, tmp_path,
        lambda df: sk.kmv_minima(df.select("g", "item"), "item", ["g"], k=128).select("g", "h"),
        lambda cur, delta: sk.kmv_merge(cur, delta, ["g"], k=128).select("g", "h"),
    )
    direct = sk.kmv_minima(
        spark.createDataFrame(all_rows, "g string, item string"),
        "item", ["g"], k=128,
    ).select("g", "h")
    assert sorted(map(tuple, stored.select("g", "h").collect())) == sorted(
        map(tuple, direct.collect())
    )
    est = {
        r["g"]: r["kmv_distinct"]
        for r in sk.kmv_estimates(
            stored.withColumn("rn", F.lit(1)), ["g"], k=128
        ).collect()
    }
    truth = {}
    for g, it in all_rows:
        truth.setdefault(g, set()).add(it)
    for g, s in truth.items():
        assert abs(est[g] - len(s)) / len(s) < 3 / (128 ** 0.5), (g, est[g], len(s))
