"""Round-8 pins: ADVICE fixes (stale stage-cache reclaim, theil-sen NULL
exclusion), plan-shape pins for the >=4.5s cold tier, and the
cap-adaptive graph-threshold property (r7 verdict items #5/#6)."""

import os

import pytest
from pyspark.sql import functions as F


# --- stale stage-cache entries are reclaimed before re-staging ---------------
# (r7 ADVICE #1): on a stale hit the old mkdtemp dir must be rmtree'd
# BEFORE the cache entry is overwritten — the atexit reclaim only walks
# current entries, so an overwritten path would leak for the process
# lifetime.


def test_staged_split_dir_reclaims_stale_dir(spark, sf_dir):
    import aircan_spark.ext.queries_w46 as w46

    d1, _ = w46._staged_backlog(spark, sf_dir)
    # corrupt the staged split: drop one part file -> intact check fails
    removed = False
    for f in os.listdir(d1):
        if f.endswith(".parquet"):
            os.remove(os.path.join(d1, f))
            removed = True
            break
    assert removed
    d2, _ = w46._staged_backlog(spark, sf_dir)
    assert d2 != d1
    assert not os.path.exists(d1)  # stale dir reclaimed, not leaked


def test_staged_dlq_backlog_reclaims_stale_dir(spark, sf_dir):
    import aircan_spark.ext.queries_w48 as w48

    s1, thr1 = w48._staged_dlq_backlog(spark, sf_dir)
    os.remove(os.path.join(s1, "bucket0.json"))
    s2, thr2 = w48._staged_dlq_backlog(spark, sf_dir)
    assert s2 != s1
    assert not os.path.exists(s1)
    assert thr2 == thr1  # deterministic re-stage: same data-derived gate


# --- _theil_sen_median excludes NULL slopes (r7 ADVICE #2) --------------------
# A NULL bucket row (sorted first) would desync cum ranks vs the
# non-null n, and int(r['b']) raises TypeError if that bucket is
# selected. The helper now drops NULLs up front; n counts non-nulls.


def test_theil_sen_median_ignores_nulls_on_selection_path(spark):
    from aircan_spark.ext.queries_w07 import _theil_sen_median

    vals = [(float(i),) for i in range(1001)] + [(None,)] * 50
    df = spark.createDataFrame(vals, "s double")
    # budget below bucket occupancy forces the refinement loop (the path
    # whose rank arithmetic the NULL bucket would desync)
    n, med = _theil_sen_median(df, budget=100)
    assert n == 1001
    assert med == 500.0


def test_theil_sen_median_all_null_column(spark):
    from aircan_spark.ext.queries_w07 import _theil_sen_median

    df = spark.createDataFrame([(None,)] * 5, "s double")
    assert _theil_sen_median(df) == (0, None)


# --- cap-adaptive graph-threshold calibration property (r7 verdict #6) -------
# The graph family's support thresholds are LEAST(cap, GREATEST(2,
# n_users * k DIV 15)) with (cap=40, k=4) for edges and (cap=20, k=2)
# for co-occurrence. Two properties protect every past driver hash:
# monotone non-decreasing in n_users, and == cap for ALL n >= 150 (so a
# new fixture SF can never silently change sf>=0.01 outputs).


def _thr(n: int, cap: int, k: int) -> int:
    return min(cap, max(2, n * k // 15))


def test_cap_adaptive_thresholds_monotone_and_capped_property():
    prev_e = prev_c = 0
    for n in range(0, 5001):
        e, c = _thr(n, 40, 4), _thr(n, 20, 2)
        assert e >= prev_e and c >= prev_c, f"non-monotone at n={n}"
        if n >= 150:
            # both formulas saturate at exactly n=150: 150*4//15 = 40,
            # 150*2//15 = 20 — every larger corpus sees the historical caps
            assert (e, c) == (40, 20), f"cap missed at n={n}"
        prev_e, prev_c = e, c
    # scale-down half of the contract: the 15-user fixture yields a real
    # graph (thresholds 4/2), never the unreachable absolute caps
    assert (_thr(15, 40, 4), _thr(15, 20, 2)) == (4, 2)


def test_cap_adaptive_python_model_matches_engine_div(spark):
    """Tie the pure-Python property model to the ENGINE formula: SQL
    `a * k DIV 15` must equal Python `a * k // 15` on a spread of n
    including the saturation boundary and both fixture sizes."""
    ns = [0, 1, 7, 14, 15, 16, 74, 75, 149, 150, 151, 1500, 4999]
    rows = spark.sql(
        "SELECT n, LEAST(CAST(40 AS BIGINT), GREATEST(CAST(2 AS BIGINT), n * 4 DIV 15)) AS e, "
        "LEAST(CAST(20 AS BIGINT), GREATEST(CAST(2 AS BIGINT), n * 2 DIV 15)) AS c "
        "FROM VALUES " + ", ".join(f"({n}L)" for n in ns) + " AS t(n)"
    ).collect()
    for r in rows:
        assert (int(r["e"]), int(r["c"])) == (_thr(int(r["n"]), 40, 4), _thr(int(r["n"]), 20, 2))


# --- plan pins for the rest of the >=4.5s cold tier (r7 verdict #5) ----------


def _plan8(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bipartite_check_plan_no_cartesian(spark, sf_dir):
    """BFS rounds are frontier-sized joins and the parity audit is one
    pass over edges — a CartesianProduct anywhere means a tiny side
    (parity map, scalar combine) stopped broadcasting."""
    from aircan_spark.queries import QUERIES

    plan = _plan8(QUERIES["ext_bipartite_check"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the two scalar frames (edge audit x node count) combine via a
    # broadcast nested-loop, never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan


def test_dedup_embedding_lsh_plan_bucketed_not_allpairs(spark, sf_dir):
    """The LSH path must stay a bucket EQUI-join with the vectorized
    (Arrow) bucket kernel — no CartesianProduct / nested-loop all-pairs,
    which is exactly what LSH exists to avoid at corpus scale."""
    from aircan_spark.queries import QUERIES

    plan = _plan8(QUERIES["ext_dedup_embedding_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan  # pandas-UDF kernel, not row-at-a-time
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan  # equi-join


def test_gini_plan_no_low_cardinality_window(spark, sf_dir):
    """The per-segment rank must come from rownum.py's range-partitioned
    global numbering, NEVER Window.partitionBy(c_mktsegment): ~5 segments
    would sort millions of rows per segment in ONE task at scale. The
    only Window allowed is the O(segments) offset cumsum."""
    from aircan_spark.queries import QUERIES

    plan = _plan8(QUERIES["ext_gini"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # no window PARTITIONED by the segment column: in the plan text a
    # partition key appears as windowspecdefinition(col#N, ...) with no
    # sort direction, while an order key carries ASC/DESC — the segment
    # column may only appear as an order key (the O(segments) offset
    # cumsum and the rownum in-partition ordering)
    import re

    assert not re.search(r"windowspecdefinition\(c_mktsegment#\d+,", plan)
    assert "rangepartitioning" in plan  # rownum.py's parallel numbering


# --- blocked_self_pairs: derived parallelism for pair work (r7 verdict #3) ---
# Partition count alone cannot subdivide ONE block's pair work; the
# triangular split must be row-identical to the plain self-join.


def _plain_pairs(keyed, spark):
    a = keyed.selectExpr("blk", "id AS id_a", "pay AS pay_a")
    b = keyed.selectExpr("blk", "id AS id_b", "pay AS pay_b")
    return (
        a.join(b, "blk")
        .filter("id_a < id_b")
        .selectExpr("id_a", "id_b", "pay_a", "pay_b")
    )


def _pair_fixture(spark):
    # three blocks: a 40-row clone-heavy block (forces s > 1 under a tiny
    # target), a 3-row block, a singleton, plus a NULL block (never pairs)
    rows = [(i, "B1", f"p{i}") for i in range(40)]
    rows += [(100 + i, "B2", f"q{i}") for i in range(3)]
    rows += [(200, "B3", "solo"), (201, None, "nullblk")]
    return spark.createDataFrame(rows, "id bigint, blk string, pay string")


def test_blocked_self_pairs_split_path_row_identical(spark):
    from aircan_spark.skew import blocked_self_pairs

    keyed = _pair_fixture(spark)
    want = sorted(map(tuple, _plain_pairs(keyed, spark).collect()))
    # target 50 pairs/task with a 40-row block (1600 work) forces s > 1
    got_df = blocked_self_pairs(
        keyed, "blk", "id", ("pay",), target_pairs_per_task=50
    )
    got = sorted(
        map(tuple, got_df.select("id_a", "id_b", "pay_a", "pay_b").collect())
    )
    assert got == want
    assert len(got) == 40 * 39 // 2 + 3  # C(40,2) + C(3,2); NULL never pairs


def test_blocked_self_pairs_unsplit_path_is_plain_join(spark):
    """With every block under one task's budget the plan must BE the
    plain equi-join — no explode, no swap projection (zero overhead at
    the driver SFs, where past hashes were recorded)."""
    from aircan_spark.skew import blocked_self_pairs

    keyed = _pair_fixture(spark)
    df = blocked_self_pairs(keyed, "blk", "id", ("pay",))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode: s == 1
    got = sorted(
        map(tuple, df.select("id_a", "id_b", "pay_a", "pay_b").collect())
    )
    want = sorted(map(tuple, _plain_pairs(keyed, spark).collect()))
    assert got == want


def test_blocked_self_pairs_derives_partition_count(spark):
    """When sum(block^2) exceeds target x default partitions, the join
    inputs must repartition to the DERIVED count (the automatic version
    of the r7 30x manual knob)."""
    from aircan_spark.skew import blocked_self_pairs

    # one 400-row block: work=160000; target 100 -> p=1600 capped to 512
    rows = [(i, "B", "x") for i in range(400)]
    keyed = spark.createDataFrame(rows, "id bigint, blk string, pay string")
    df = blocked_self_pairs(
        keyed, "blk", "id", (), target_pairs_per_task=100, max_partitions=512
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan and ", 512)" in plan
    # and the result is still exact: C(400,2) pairs
    assert df.count() == 400 * 399 // 2


def test_fuzzy_self_join_split_parity_on_customers(spark, sf_dir):
    """fuzzy_self_join must return the same (id_a,id_b,dist) set whether
    or not the triangular split engages (forced via a tiny target)."""
    from aircan_spark.ext import entity
    from aircan_spark.data import load_table
    from aircan_spark import skew

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    base = sorted(
        map(
            tuple,
            entity.fuzzy_self_join(cust, "c_custkey", "c_name").select(
                "id_a", "id_b", "dist"
            ).collect(),
        )
    )
    orig = skew.blocked_self_pairs

    def forced(keyed, blk, idc, pay=(), **kw):
        kw["target_pairs_per_task"] = 20
        return orig(keyed, blk, idc, pay, **kw)

    skew.blocked_self_pairs = forced
    try:
        import importlib
        import aircan_spark.ext.entity as entity_mod

        split = sorted(
            map(
                tuple,
                entity_mod.fuzzy_self_join(cust, "c_custkey", "c_name")
                .select("id_a", "id_b", "dist")
                .collect(),
            )
        )
    finally:
        skew.blocked_self_pairs = orig
    assert split == base and len(base) > 0


# --- stream_multi_state_maintenance: N states, one stream (r7 verdict #4) ----


def test_multi_state_maintenance_two_states_one_stream(spark, tmp_path):
    """Two independent maintainers over one 2-file backlog: each commits
    its own pointer at batch_id=1 (a REAL merge happened), final states
    equal the corpus-wide aggregates, and a re-run over the same
    checkpoint lineage replays nothing (exactly-once per maintainer)."""
    import json
    import os

    from aircan_spark.streaming import (
        read_sketch_state,
        stream_multi_state_maintenance,
    )

    src = str(tmp_path / "src")
    rows = [(i, f"k{i % 3}", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, k string, v double")
    df.repartition(2).write.mode("overwrite").parquet(src)

    counts_dir = str(tmp_path / "counts")
    max_dir = str(tmp_path / "mx")
    ckpt = str(tmp_path / "ckpt")
    maintainers = [
        {
            "state_dir": counts_dir,
            "build_fn": lambda d: d.groupBy("k").agg(F.count(F.lit(1)).alias("n")),
            "merge_fn": lambda c, d: c.unionByName(d)
            .groupBy("k")
            .agg(F.sum("n").alias("n")),
        },
        {
            "state_dir": max_dir,
            "slice_fn": lambda d: d.select("v"),
            "build_fn": lambda d: d.agg(F.max("v").alias("mx")),
            "merge_fn": lambda c, d: c.unionByName(d).agg(F.max("mx").alias("mx")),
        },
    ]
    q = stream_multi_state_maintenance(
        spark, src, df.schema, maintainers, ckpt,
        available_now=True, source_format="parquet", max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    for d in (counts_dir, max_dir):
        with open(os.path.join(d, "_current.json")) as fh:
            assert json.load(fh)["batch_id"] == 1  # two real micro-batches
    got_counts = {
        r["k"]: r["n"] for r in read_sketch_state(spark, counts_dir).collect()
    }
    assert got_counts == {"k0": 34, "k1": 33, "k2": 33}
    assert read_sketch_state(spark, max_dir).collect()[0]["mx"] == 99.0

    # replay: same checkpoint => availableNow finds nothing new; and the
    # pointers are untouched (exactly-once held per maintainer)
    before = {
        d: open(os.path.join(d, "_current.json")).read()
        for d in (counts_dir, max_dir)
    }
    q2 = stream_multi_state_maintenance(
        spark, src, df.schema, maintainers, ckpt,
        available_now=True, source_format="parquet", max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    for d in (counts_dir, max_dir):
        assert open(os.path.join(d, "_current.json")).read() == before[d]
        assert read_sketch_state(spark, d).count() > 0


def test_shared_sketch_states_five_pointers_and_cache(spark, sf_dir):
    """The shared five-maintainer run commits all five states at
    batch_id=1 and the process cache returns the same dirs on a second
    call without re-streaming."""
    import json
    import os

    from aircan_spark.ext.queries_w46 import _shared_sketch_states

    dirs = _shared_sketch_states(spark, sf_dir)
    assert set(dirs) == {"cms", "hll", "bottomk", "kmv", "moments"}
    for d in dirs.values():
        with open(os.path.join(d, "_current.json")) as fh:
            assert json.load(fh)["batch_id"] == 1
    assert _shared_sketch_states(spark, sf_dir) == dirs  # cache hit


# --- cap-adaptive panel modulus (the 49.5x-at-10x modularity fix) -------------
# SCALE_CURVE_GRAPH_r08 measured ext_modularity at 49.5x wall for 10x
# data: its "hash-thinned panel" was a fixed %2 fraction — half the
# corpus — so the brute 5-NN grew quadratically. capped_panel_modulus
# derives the thinning modulus from the corpus count (the same
# LEAST(cap, data-derived) calibration pattern as the co-occurrence
# graph thresholds): base modulus at every committed fixture SF
# (outputs bit-identical there), proportional growth beyond so the
# panel never exceeds ~cap rows. Four queries ride it: ext_modularity /
# ext_assortativity (base=2, cap=1000), ext_ndcg (50, 40),
# ext_knn_classify (100, 20), ext_intrinsic_dim / ext_lof (4, 500),
# ext_hard_negatives (50, 40) — all base*cap = 2000, which is the float
# divisor their oracle SQL uses.


def test_capped_panel_modulus_base_at_every_fixture_sf():
    """P must equal the historical base modulus for every committed
    fixture corpus size (embeddings: 20 / 200 / 2000 rows), so all past
    driver hashes and sweep values stay bit-identical."""
    from aircan_spark.ext._qcommon import capped_panel_modulus

    for n in (20, 200, 2000):
        assert capped_panel_modulus(n, base=2, cap=1000) == 2
        assert capped_panel_modulus(n, base=4, cap=500) == 4
        assert capped_panel_modulus(n, base=50, cap=40) == 50
        assert capped_panel_modulus(n, base=100, cap=20) == 100


def test_capped_panel_modulus_bounds_panel_and_is_monotone():
    """For any corpus size the implied panel (n // P, +1 for the id-0
    row) stays within cap, and P is monotone non-decreasing in n —
    a bigger corpus can never get a FINER panel."""
    from aircan_spark.ext._qcommon import capped_panel_modulus

    for base, cap in ((2, 1000), (4, 500), (50, 40), (100, 20)):
        prev = 0
        for n in (1, base, 2000, 2001, 20_000, 60_000, 1_000_000, 10**8):
            p = capped_panel_modulus(n, base=base, cap=cap)
            assert p % base == 0
            assert n // p <= cap + 1
            assert p >= prev
            prev = p


def test_capped_panel_modulus_matches_oracle_sql_derivation():
    """The oracle SQL derives P as
    base * GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)); the
    Spark side computes base * max(1, ceil(n / (base*cap))). The two
    must agree for every n, else the panel (and the whole query result)
    silently diverges the first time a corpus crosses the cap."""
    import duckdb

    from aircan_spark.ext._qcommon import capped_panel_modulus

    con = duckdb.connect()
    for base, cap in ((2, 1000), (4, 500), (50, 40), (100, 20)):
        assert base * cap == 2000  # the SQL float-divisor contract
        for n in (1, 20, 200, 1999, 2000, 2001, 4000, 20_000, 60_000, 123_457):
            sql_p = con.sql(
                f"SELECT {base} * GREATEST(1, CAST(CEIL({n} / 2000.0) AS BIGINT))"
            ).fetchone()[0]
            assert sql_p == capped_panel_modulus(n, base=base, cap=cap), (
                base, cap, n,
            )


def test_partial_correlation_moment_combine_survives_sf1000_magnitudes(spark):
    """The final n*sxx - sx*sx combinations must run in DECIMAL, not raw
    int64: with quantity <= 50, sx*sx crosses 2^63 once a return-flag
    class passes ~6e7 rows (~sf30) — far below the 100 TB design point.
    Feed the expression a moment row at sf1000-like magnitudes
    (n = 2e9 rows, all-constant x=50 y=5 z=4 so every r is exactly
    NULL-variance 0/0 -> NaN is avoided by making y vary) and assert it
    produces the exact correlation a reference computation gives."""
    import math

    from pyspark.sql import functions as F

    n = 2_000_000_000
    # x alternates 40/60 (mean 50), y alternates 4/6 (mean 5), perfectly
    # correlated -> r_xy == 1.0 exactly; closed-form exact moments:
    sx = 50 * n
    sy = 5 * n
    sxx = (40 * 40 + 60 * 60) * (n // 2)
    syy = (4 * 4 + 6 * 6) * (n // 2)
    sxy = (40 * 4 + 60 * 6) * (n // 2)
    assert sx * sx > 2**63  # the raw-int64 trap this test pins
    row = spark.createDataFrame(
        [(n, sx, sy, sxx, syy, sxy)], "n long, sx long, sy long, sxx long, syy long, sxy long"
    )
    got = row.select(
        F.expr(
            "CAST(CAST(n AS DECIMAL(19,0))*sxy - CAST(sx AS DECIMAL(19,0))*sy AS DOUBLE)"
            "/SQRT(CAST(CAST(n AS DECIMAL(19,0))*sxx - CAST(sx AS DECIMAL(19,0))*sx AS DOUBLE)"
            "*CAST(CAST(n AS DECIMAL(19,0))*syy - CAST(sy AS DECIMAL(19,0))*sy AS DOUBLE))"
        ).alias("rxy")
    ).collect()[0]["rxy"]
    assert math.isclose(got, 1.0, rel_tol=1e-12), got
