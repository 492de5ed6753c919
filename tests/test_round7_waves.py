"""Round-7 pins: ADVICE fixes (sketch NULL exclusion, delete-parity
vacuum), plan-shape regression pins for the next bench tier, and the
non-vacuousness invariant helpers."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


# --- sketch builders drop NULL items in-library (r6 ADVICE #1) ---------------
# concat_ws silently skips a NULL arg, so before the fix a NULL item
# hashed the seed prefix alone into a real bucket/register; parity with
# the NULL-filtering oracles held only because testdata has no NULL
# user_ids — the vacuous-consistency trap class.


def test_count_min_build_drops_null_items(spark):
    from aircan_spark.ext.sketch import count_min_build

    items = spark.createDataFrame(
        [("a",), ("b",), (None,), ("a",)], "item string"
    )
    with_null = count_min_build(items, "item", depth=2, width=64)
    without = count_min_build(items.filter(F.col("item").isNotNull()), "item",
                              depth=2, width=64)
    assert sorted(map(tuple, with_null.collect())) == sorted(
        map(tuple, without.collect())
    )
    # total mass = depth * non-null item count
    total = with_null.agg(F.sum("cnt")).first()[0]
    assert total == 2 * 3


def test_hll_build_drops_null_items(spark):
    from aircan_spark.ext.sketch import hll_build

    items = spark.createDataFrame(
        [("a",), ("b",), (None,), ("a",)], "item string"
    )
    with_null = hll_build(items, "item", b=4)
    without = hll_build(items.filter(F.col("item").isNotNull()), "item", b=4)
    assert sorted(map(tuple, with_null.collect())) == sorted(
        map(tuple, without.collect())
    )


# --- table vacuum retires dead snapshots (r6 ADVICE #3) ----------------------


def data_dirs(table):
    """(data dirs on disk, data dirs the current manifest lists)."""
    on_disk = {e for e in os.listdir(table.path) if e.startswith("data_v")}
    listed = {
        d.split("/")[0] for dirs in table.manifest()["buckets"].values() for d in dirs
    }
    return on_disk, listed


def test_parquet_table_vacuum_retires_pre_delete_snapshot(spark):
    from aircan_spark.table import ParquetTable

    wh = tempfile.mkdtemp(prefix="aircan_r7_vacuum_")
    t = ParquetTable(spark, wh, "t")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.overwrite(df)
    n = t.delete(spark.range(10).select(F.col("id").alias("k")), ["k"])
    assert n == 10
    on_disk, listed = data_dirs(t)
    assert len(on_disk) == 2 and len(listed) == 1  # history holds pre-delete data
    removed = t.vacuum(keep_versions=1)
    assert removed == 1
    on_disk, listed = data_dirs(t)
    assert on_disk == listed and len(on_disk) == 1
    assert t.manifest()["history"] == []
    assert t.read().count() == 90  # current version unharmed


def test_bucketed_table_vacuum_gcs_dead_data_dirs(spark):
    from aircan_spark.bucketed import BucketedParquetTable

    wh = tempfile.mkdtemp(prefix="aircan_r7_bvacuum_")
    t = BucketedParquetTable(spark, wh, "t", keys=["k"], num_buckets=4)
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t.overwrite(df)
    n = t.delete(spark.range(10).select(F.col("id").alias("k")))
    assert n == 10
    on_disk, listed = data_dirs(t)
    assert len(on_disk) >= 2 and on_disk > listed  # history holds pre-delete data
    removed = t.vacuum(keep_versions=1)
    assert removed >= 1
    on_disk, listed = data_dirs(t)
    assert on_disk == listed
    assert t.manifest().get("history") == []
    assert t.read().count() == 90


def test_delete_parity_harness_leaves_single_snapshot(spark, sf_dir):
    # the w49 harness must not accumulate pre-delete data dirs per run
    import glob

    from aircan_spark.ext.queries_w49 import ext_table_delete_parity
    from aircan_spark.table import ParquetTable

    before = set(glob.glob(tempfile.gettempdir() + "/aircan_r6_delete_wh_*"))
    ext_table_delete_parity(spark, sf_dir).collect()
    new = set(glob.glob(tempfile.gettempdir() + "/aircan_r6_delete_wh_*")) - before
    for wh in new:
        on_disk, listed = data_dirs(ParquetTable(spark, wh, "t"))
        assert on_disk == listed and len(on_disk) == 1, (
            f"{wh}: pre-delete version not vacuumed"
        )


# --- DLQ-gate harness refuses an empty ingest (r6 ADVICE #2) -----------------


def test_dlq_gate_empty_parts_raises(spark):
    """Behavioral pin for r6 ADVICE #2: when the gate wrote neither a
    table nor a DLQ dir, the union helper raises a descriptive error
    instead of IndexError; with frames present it unions them."""
    from aircan_spark.ext.queries_w48 import _union_gate_outputs

    with pytest.raises(RuntimeError, match="neither a table nor a DLQ"):
        _union_gate_outputs([])
    a = spark.range(2).withColumn("destination", F.lit("table"))
    b = spark.range(3).withColumn("destination", F.lit("dlq"))
    assert _union_gate_outputs([a, b]).count() == 5
    assert _union_gate_outputs([a]).count() == 2


# --- plan-shape pins for the next bench tier (r6 verdict item #5) ------------
# Same cheap regression-proofing that made the r6 streaming queries
# auditable: assert the physical plan the operator was designed around,
# so a Catalyst or refactor regression to a cartesian / global-sort /
# shuffled-tiny-side plan fails loudly instead of silently costing 10x.


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_theil_sen_pair_join_broadcasts_day_axis(spark, sf_dir):
    """The O(days^2) slope pair frame must come from a BROADCAST
    nested-loop over the tiny collapsed day axis — never a
    CartesianProduct (shuffled all-pairs of the fact table would be the
    scale bug; the day axis is calendar-bounded so broadcast is always
    right)."""
    from aircan_spark.ext.queries_w07 import _t
    from pyspark.sql import functions as F

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))
    )
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"))
    plan = _plan(a.join(b, F.col("d1") < F.col("d2")))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bootstrap_ci_is_one_pass_no_cartesian(spark, sf_dir):
    """The Poisson-weighted bootstrap must stay a single pass: replicate
    expansion row-local (explode), per-replicate sums partial-aggregated
    (map-side HashAggregate), and the point/CI combination a broadcast —
    no CartesianProduct, no per-replicate shuffle of the data."""
    from aircan_spark.queries import QUERIES

    plan = _plan(QUERIES["ext_bootstrap_ci"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # point x CI combine
    assert "HashAggregate" in plan  # partial-aggregable replicate sums


def test_pca_power_no_cartesian_and_broadcast_iterations(spark, sf_dir):
    """r8 rewrite: the returned frame is the driver-side power-iteration
    result (O(dim^2) tail over the collected 2080-cell gram), so its plan
    must be a pure local scan — no joins, no exchanges: the distributed
    work (one corpus scan, one dim^2-group agg) happens inside the two
    bounded collects, not in the returned plan."""
    from aircan_spark.queries import QUERIES

    plan = _plan(QUERIES["ext_pca_power"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # driver-side tail: no cluster round-trips


def test_pca_power_gram_build_is_join_free(spark, sf_dir):
    """The corpus-sized gram build must be ONE scan + row-local
    upper-triangle generation + a partial-aggregable dim^2-group
    HashAggregate — never the old self-join on vec_id (two scans + a
    corpus-sized shuffle)."""
    from aircan_spark.data import load_table
    from aircan_spark.ext._qcommon import _t
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    dim = 64
    mu_arr = F.array(*[F.lit(0.0)] * dim)
    cent = emb.filter(F.col("vec_id").isNotNull()).select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v, i: F.round(v - F.element_at(mu_arr, i + F.lit(1)), 9),
        ).alias("c")
    )
    a_side = cent.select("c", F.posexplode("c").alias("i0", "vi"))
    gram = (
        a_side.select(
            (F.col("i0") + 1).alias("i"),
            F.col("vi").cast("decimal(19,9)").alias("vi"),
            F.posexplode(F.slice(F.col("c"), F.col("i0") + 1, F.lit(dim))).alias(
                "joff", "vj"
            ),
        )
        .groupBy("i", (F.col("i") + F.col("joff")).alias("j"))
        .agg(F.sum(F.col("vi") * F.col("vj").cast("decimal(19,9)")).alias("g"))
    )
    plan = _plan(gram)
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan  # map-side partial agg into dim^2 groups


def test_hits_top10_compiles_to_take_ordered(spark, sf_dir):
    """HITS' top-10 authorities must compile to TakeOrderedAndProject
    (per-task k-heaps), never a global Sort + single-partition Exchange;
    and the per-round max renormalizations must broadcast."""
    from aircan_spark.queries import QUERIES

    plan = _plan(QUERIES["ext_hits"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# --- non-vacuousness rewrites (r6 verdict item #2) ---------------------------
# A declared query returning 0 rows at a checked SF proves nothing; the
# sweep now HARD-FAILS zero-row results (scripts/sweep_sf.py). The two
# structurally-empty-at-small-SF queries were rewritten to fire at every
# SF while keeping their plan shape.


def test_anti_join_fires_at_smallest_sf_and_stays_left_anti(spark, sf_dir):
    from aircan_spark.queries import QUERIES

    df = QUERIES["ext_anti_join"](spark, sf_dir)
    assert "LeftAnti" in _plan(df)
    assert df.count() > 0  # non-vacuous at every SF incl. sf0.001


def test_idle_customers_fires_at_smallest_sf(spark, sf_dir):
    from aircan_spark.queries import QUERIES

    df = QUERIES["ext_idle_customers"](spark, sf_dir)
    assert "LeftAnti" in _plan(df)
    assert df.count() > 0


def _sweep_guard():
    """Import scripts/sweep_sf.py's guard_result by file path (scripts/
    is not a package) so the invariants are tested BEHAVIORALLY — a
    source-grep pin would keep passing even if the raise became
    unreachable (r7 ADVICE #3)."""
    import importlib.util

    import aircan_spark.queries as Q

    path = os.path.join(
        os.path.dirname(Q.__file__), "..", "scripts", "sweep_sf.py"
    )
    spec = importlib.util.spec_from_file_location("sweep_sf_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.guard_result


def test_sweep_hard_fails_zero_row_results():
    """guard_result must RAISE on an empty frame unless the key is in
    ALLOW_EMPTY — and the production ALLOW_EMPTY must stay empty."""
    import pandas as pd
    import pytest

    import aircan_spark.queries as Q

    guard = _sweep_guard()
    empty = pd.DataFrame({"k": pd.Series([], dtype="int64")})
    with pytest.raises(AssertionError, match="vacuous"):
        guard("some_query", empty, {})
    # annotated keys are exempt; non-empty frames pass
    guard("some_query", empty, {"some_query": "documented reason"})
    guard("some_query", pd.DataFrame({"k": [1]}), {})
    assert Q.ALLOW_EMPTY == {}


def test_sweep_hard_fails_raw_decimal_columns():
    """guard_result must RAISE on a raw-DECIMAL output column even when
    the frame has rows (the r6 ext_idle_customers repr-drift class)."""
    import decimal

    import pandas as pd
    import pytest

    guard = _sweep_guard()
    dec = pd.DataFrame({"v": [decimal.Decimal("1.10"), decimal.Decimal("2")]})
    with pytest.raises(AssertionError, match="DECIMAL"):
        guard("some_query", dec, {})
    # plain object-string columns are fine
    guard("some_query", pd.DataFrame({"v": ["a", "b"]}), {})


# --- cap-adaptive co-occurrence thresholds (second vacuous pocket) -----------
# The sf0.001 sweep's hard invariant caught 4 graph queries whose
# ABSOLUTE support thresholds are unreachable on the 15-user fixture.
# The fix is LEAST(cap, GREATEST(2, n_users*k DIV 15)) — these pins
# protect both halves of that contract.


def test_cooc_threshold_hits_cap_at_driver_sf_and_scales_down(spark):
    """150+ engaged users must evaluate to the HISTORICAL caps exactly
    (so every past driver hash stays valid at sf>=0.01); 15 users must
    scale down (so the sf0.001 fixture yields a real graph)."""
    for users, edges_thr, cooc_thr in [(15, 4, 2), (150, 40, 20), (1500, 40, 20)]:
        row = spark.sql(
            f"SELECT LEAST(CAST(40 AS BIGINT), GREATEST(CAST(2 AS BIGINT), "
            f"CAST({users} AS BIGINT) * 4 DIV 15)) AS e, "
            f"LEAST(CAST(20 AS BIGINT), GREATEST(CAST(2 AS BIGINT), "
            f"CAST({users} AS BIGINT) * 2 DIV 15)) AS c"
        ).collect()[0]
        assert (row["e"], row["c"]) == (edges_thr, cooc_thr), (users, row)


def test_cooc_graph_nonempty_at_smallest_sf(spark, sf_dir):
    """The shared graph base must produce a NON-EMPTY edge set on the
    smallest fixture — the condition whose absence made kcore/
    clustering_coeff/pagerank/cooccurrence vacuous for five rounds."""
    from aircan_spark.ext.queries_w03 import _cooc_edges

    assert _cooc_edges(spark, sf_dir).count() > 0
