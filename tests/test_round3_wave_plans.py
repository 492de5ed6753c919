"""Plan-shape + semantic-corner tests for the round-3 continuation waves
(X237-X265): KMV sketches, bitmap distinct, eval metrics, causal
stratification, trend/agreement stats, PCA power iteration. Value-level
equivalence vs DuckDB lives in tests/test_oracle.py; these pin the
physical plans and invariants the docstrings promise."""

import datetime as dt

import pytest
from conftest import table_dir
from pyspark.sql import functions as F

from aircan_spark.data import load_table

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_kmv_minima_is_window_group_limited(spark):
    """kmv_minima's rank filter must compile to WindowGroupLimit
    (Partial+Final): each task forwards only its local k smallest per
    group, so the exchange carries O(groups*k), not the corpus."""
    from aircan_spark.ext import sketch as sk

    df = spark.createDataFrame(
        [("g%d" % (i % 3), i) for i in range(600)], "g string, k long"
    )
    plan = _plan(sk.kmv_minima(df, "k", ["g"], k=16))
    assert "WindowGroupLimit" in plan


def test_bitmap_distinct_monthly_merges_daily_bitmaps(spark):
    """The month path must aggregate the day-level bitmaps (bitmap_or_agg
    present in the plan), not re-scan raw rows with count_distinct; and
    the whole query contains no 'distinct' aggregate at all."""
    from aircan_spark.ext.queries import ext_bitmap_distinct

    plan = _plan(ext_bitmap_distinct(spark, SF))
    assert "bitmap_or_agg" in plan
    assert "bitmapCount" in plan
    assert "distinct" not in plan.lower().replace("bitmap_distinct", "")


def test_spearman_has_no_row_scale_window(spark):
    """Spearman promises window-free row scale: the only Window operators
    run on the collapsed marginal axes, which AQE resolves to tiny
    exchanges. Assert the final plan's Window inputs are aggregates
    (Window appears after HashAggregate stages, never directly over the
    scan)."""
    from aircan_spark.ext.queries import ext_spearman

    df = ext_spearman(spark, SF)
    plan = _plan(df)
    # the row-scale join of rank maps must be broadcast, not shuffled
    assert "BroadcastHashJoin" in plan
    # value sanity: rho in [-1, 1]
    row = df.collect()[0]
    assert -1.0 <= row["spearman_rho"] <= 1.0


def test_stratified_ate_broadcasts_part_dim(spark):
    """The fact-dim join must broadcast the part side (dim ≪ fact)."""
    from aircan_spark.ext.queries import ext_stratified_ate

    assert "BroadcastHashJoin" in _plan(ext_stratified_ate(spark, SF))


def test_theil_decomposition_identity(spark):
    """T_total must equal T_between + T_within to rounding (the exact
    decomposition is the operator's selling point)."""
    from aircan_spark.ext.queries import ext_theil_index

    r = ext_theil_index(spark, SF).collect()[0]
    assert r["theil_total"] == pytest.approx(
        r["theil_between"] + r["theil_within"], abs=2e-6
    )
    assert r["theil_total"] >= 0


def test_bootstrap_ci_brackets_point_mean(spark):
    """The 95% bootstrap interval must contain the point estimate, and
    the replicate spread must be positive (weights actually vary)."""
    from aircan_spark.ext.queries import ext_bootstrap_ci

    r = ext_bootstrap_ci(spark, SF).collect()[0]
    assert r["ci_lo"] < r["point_mean"] < r["ci_hi"]
    assert r["ci_hi"] - r["ci_lo"] > 0


def test_kmeans_step_inertia_not_above_seeding(spark):
    """Reassigning to the NEAREST centroid can only reduce (or keep) the
    summed distance vs staying with the seeding label — check via the
    silhouette companion: every a >= min distance."""
    from aircan_spark.ext.queries import ext_kmeans_step, ext_silhouette

    ks = {r["assigned_label"]: r for r in ext_kmeans_step(spark, SF).collect()}
    assert sum(r["n_assigned"] for r in ks.values()) == 500
    sil = ext_silhouette(spark, SF).collect()
    assert sum(r["n_vectors"] for r in sil) == 500
    for r in sil:
        assert -1.0 <= r["mean_silhouette"] <= 1.0


def test_auc_flipping_labels_complements(spark, tmp_path):
    """AUC(score -> y) + AUC(score -> NOT y) must sum to 1 (rank-sum
    symmetry) — a strong internal consistency check of the tie
    handling."""
    import aircan_spark.ext.queries as Q

    auc = Q.ext_auc(spark, SF).collect()[0]["auc"]

    flipped = load_table(spark, SF, "documents").withColumn(
        "lang",
        F.when(F.col("lang") == "en", F.lit("zz")).otherwise(F.lit("en")),
    )
    sf = table_dir(tmp_path, SF, documents=flipped)
    flipped_auc = Q.ext_auc(spark, sf).collect()[0]["auc"]
    assert auc + flipped_auc == pytest.approx(1.0, abs=2e-6)


def test_pca_power_unit_norm_and_positive_eigenvalue(spark):
    """The returned component must be unit-norm, sign-fixed (first
    nonzero coordinate positive), with a positive Rayleigh eigenvalue
    for a nontrivial corpus."""
    from aircan_spark.ext.queries import ext_pca_power

    rows = ext_pca_power(spark, SF).collect()
    assert len(rows) == 64
    norm = sum(r["component"] ** 2 for r in rows) ** 0.5
    assert norm == pytest.approx(1.0, abs=1e-4)
    assert rows[0]["eigenvalue"] > 0
    first = next(r for r in sorted(rows, key=lambda r: r["pos"]))
    assert first["component"] >= 0


def test_mann_kendall_detects_known_trend(spark, tmp_path):
    """A strictly increasing synthetic series must report 'increasing'
    with S = n(n-1)/2 exactly (every pair concordant)."""
    import aircan_spark.ext.queries as Q

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=i), 100.0 + i) for i in range(40)
    ]
    synth = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )

    r = Q.ext_mann_kendall(spark, table_dir(tmp_path, SF, orders=synth)).collect()[0]
    assert r["trend"] == "increasing"
    assert r["s_stat"] == 40 * 39 // 2


def test_optimal_threshold_maximizes_f1_over_sweep(spark):
    """Brute-force recompute of the F1 sweep in pandas must agree with
    the picked maximum."""
    from aircan_spark.ext.queries import ext_optimal_threshold
    from aircan_spark.ext import text

    picked = ext_optimal_threshold(spark, SF).collect()[0]
    pdf = (
        text.quality_score(load_table(spark, SF, "documents"))
        .select("quality", (F.col("lang") == "en").cast("int").alias("y"))
        .toPandas()
    )
    n_pos = pdf["y"].sum()
    best = 0.0
    for t in sorted(pdf["quality"].unique()):
        sel = pdf[pdf["quality"] >= t]
        tp = sel["y"].sum()
        if len(sel) == 0 or tp == 0:
            continue
        p = tp / len(sel)
        r = tp / n_pos
        best = max(best, 2 * p * r / (p + r))
    assert picked["f1"] == pytest.approx(best, abs=2e-6)


def test_cluster_split_no_leakage(spark):
    """Invariant the operator exists for: no duplicate cluster straddles
    two splits."""
    from aircan_spark.ext.queries import ext_cluster_split

    rows = ext_cluster_split(spark, SF).collect()
    assert all(r["max_splits_per_cluster"] == 1 for r in rows)
    assert {r["split"] for r in rows} == {"train", "val", "test"}


def test_fs_linkage_weight_ordering(spark):
    """Full agreement must carry the highest FS weight and full
    disagreement the lowest (log-likelihood monotonicity)."""
    from aircan_spark.ext.queries import ext_fs_linkage

    rows = ext_fs_linkage(spark, SF).collect()
    w = {(r["g_seg"], r["g_bal"], r["g_ch"]): r["fs_weight"] for r in rows}
    if (1, 1, 1) in w and (0, 0, 0) in w:
        assert w[(1, 1, 1)] == max(w.values())
        assert w[(0, 0, 0)] == min(w.values())


def test_markov_attribution_shares_sum_to_one(spark):
    """Attribution shares are a partition of the removal-effect mass."""
    from aircan_spark.ext.queries import ext_markov_attribution

    rows = ext_markov_attribution(spark, SF).collect()
    assert rows
    total = sum(r["attribution_share"] for r in rows)
    assert abs(total - 1.0) < 1e-4
    for r in rows:
        assert 0.0 <= r["removal_effect"] <= 1.0
        assert r["p_conv_without"] <= r["p_conv_base"] + 1e-9


def test_price_index_fisher_between_extremes(spark):
    """Fisher is the geometric mean of Laspeyres and Paasche — it must
    lie between them."""
    from aircan_spark.ext.queries import ext_price_index

    r = ext_price_index(spark, SF).collect()[0]
    lo, hi = sorted([r["laspeyres"], r["paasche"]])
    assert lo - 1e-9 <= r["fisher"] <= hi + 1e-9


def test_capture_recapture_at_least_observed(spark):
    """The Chapman estimate can undershoot in small samples but the CI
    construction must bracket the point estimate and n1,n2 <= observed."""
    from aircan_spark.ext.queries import ext_capture_recapture

    r = ext_capture_recapture(spark, SF).collect()[0]
    assert r["m"] <= min(r["n1"], r["n2"])
    assert r["n1"] <= r["n_observed"] and r["n2"] <= r["n_observed"]
    assert r["ci_lo"] <= r["n_total_est"] <= r["ci_hi"]


def test_skyline_is_mutually_nondominated(spark):
    """No skyline point may dominate another (strictly better on one
    axis, at-least-equal on the other)."""
    from aircan_spark.ext.queries import ext_skyline

    pts = [(r["price"], r["size"]) for r in ext_skyline(spark, SF).collect()]
    for p1, s1 in pts:
        for p2, s2 in pts:
            if (p1, s1) == (p2, s2):
                continue
            assert not (p2 <= p1 and s2 >= s1 and (p2 < p1 or s2 > s1)), (
                (p1, s1), (p2, s2)
            )


def test_wasserstein_identical_distributions_are_zero(spark, tmp_path):
    """When both segments see the SAME order-value distribution (forced
    by overwriting every total with a constant), W1 must be exactly 0;
    on the real data it must be non-negative."""
    import aircan_spark.ext.queries as Q

    base = Q.ext_wasserstein(spark, SF).collect()[0]["w1_dollars"]
    assert base >= 0

    constant = load_table(spark, SF, "orders").withColumn(
        "o_totalprice", F.lit(1234.56)
    )
    sf = table_dir(tmp_path, SF, orders=constant)
    assert Q.ext_wasserstein(spark, sf).collect()[0]["w1_dollars"] == 0.0


def test_lof_scores_positive_and_outlier_ordering(spark):
    """LOF scores are positive; the head is sorted descending."""
    from aircan_spark.ext.queries import ext_lof

    rows = ext_lof(spark, SF).collect()
    assert len(rows) == 20
    scores = [r["lof"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_runs_test_alternating_series_reports_oscillation(spark, tmp_path):
    """A strictly alternating high/low series has the maximum number of
    runs -> strongly positive z (oscillation)."""
    import aircan_spark.ext.queries as Q

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=i), 100.0 if i % 2 == 0 else 500.0)
        for i in range(40)
    ]
    synth = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )
    r = Q.ext_runs_test(spark, table_dir(tmp_path, SF, orders=synth)).collect()[0]
    assert r["n_runs"] == 40  # every step alternates
    assert r["z"] > 1.96 and r["nonrandom"]


def test_rbo_bounds_and_self_similarity(spark):
    """RBO is in [0,1]; overlap at depth 50 cannot exceed 50."""
    from aircan_spark.ext.queries import ext_rbo

    r = ext_rbo(spark, SF).collect()[0]
    assert 0.0 <= r["rbo_at_50"] <= 1.0
    assert 0 <= r["overlap_at_50"] <= 50


def test_lsh_planner_monotonicity(spark):
    """More bands (shorter rows) must capture weak matches more easily:
    p_capture_at_030 increases with bands; the inflection threshold
    decreases."""
    from aircan_spark.ext.queries import ext_lsh_planner

    rows = ext_lsh_planner(spark, SF).collect()
    p = [r["p_capture_at_030"] for r in rows]
    t = [r["inflection_threshold"] for r in rows]
    assert p == sorted(p)
    assert t == sorted(t, reverse=True)
