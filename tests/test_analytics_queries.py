"""Crafted edge-case + plan-shape tests for the continuation-#2 analytics
queries (sessionize, funnel, argminmax, pricing pushdown, semi join,
group-limit plans). Value-level equivalence vs DuckDB lives in
tests/test_oracle.py; these pin the semantic corners and the physical
plans the docstrings promise."""

import datetime as dt

from conftest import table_dir
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# --- sessionize: gap boundary semantics --------------------------------------


def test_sessionize_gap_boundary(spark, tmp_path):
    """A gap of EXACTLY 30 minutes stays in the same session (the break
    condition is strictly greater-than); 30min + 1us breaks."""
    import aircan_spark.ext.queries as Q

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 100),
        (1, base + dt.timedelta(minutes=30), 101),          # == gap -> same
        (1, base + dt.timedelta(minutes=60, microseconds=1), 102),  # > gap -> new
        (2, base, 200),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    sf = table_dir(tmp_path, SF, events=ev)
    got = {
        (r.user_id, r.session_idx): r.n_events
        for r in Q.ext_sessionize(spark, sf).collect()
    }
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


# --- funnel: attribution window inclusivity ----------------------------------


def test_funnel_window_inclusivity(spark, tmp_path):
    """Click exactly 1h before the purchase IS attributed (closed lower
    bound); click at the purchase instant is NOT (open upper bound)."""
    import aircan_spark.ext.queries as Q

    p = dt.datetime(2024, 1, 5, 12, 0, 0)
    rows = [
        (1, p, 10, "purchase"),
        (1, p - dt.timedelta(hours=1), 11, "click"),   # boundary: attributed
        (2, p, 20, "purchase"),
        (2, p, 21, "click"),                           # same instant: NOT
        (3, p, 30, "purchase"),
        (3, p - dt.timedelta(hours=1, seconds=1), 31, "click"),  # too old: NOT
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = Q.ext_funnel(spark, table_dir(tmp_path, SF, events=ev)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_purchases, r.n_attributed) == (3, 1)


# --- argminmax: deterministic tie-break --------------------------------------


def test_argminmax_tie_break(spark, tmp_path):
    """Equal values resolve to the smallest event_id for MIN and the
    largest for MAX (lexicographic struct ordering)."""
    import aircan_spark.ext.queries as Q

    rows = [
        ("click", 1.0, 5),
        ("click", 1.0, 3),   # tie on min value -> event_id 3 wins MIN
        ("click", 9.0, 7),
        ("click", 9.0, 8),   # tie on max value -> event_id 8 wins MAX
    ]
    ev = spark.createDataFrame(rows, "event_type string, value double, event_id long")
    r = Q.ext_argminmax(spark, table_dir(tmp_path, SF, events=ev)).collect()[0]
    assert (r.min_event_id, r.max_event_id) == (3, 8)


# --- plan shapes --------------------------------------------------------------


def test_pricing_summary_filter_pushed_to_scan(spark):
    from aircan_spark.ext.queries import ext_pricing_summary

    plan = _plan(ext_pricing_summary(spark, SF))
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "l_shipdate" in pushed, f"shipdate cutoff not pushed: {pushed}"


def test_late_orders_is_semi_join(spark):
    from aircan_spark.ext.queries import ext_late_orders

    plan = _plan(ext_late_orders(spark, SF))
    assert "LeftSemi" in plan


def test_group_limits_in_plans(spark):
    """group_sample and mode_by_group promise WindowGroupLimit (rank-limit
    pushdown) — partial mode means the cap applies before the exchange."""
    from aircan_spark.ext.queries import ext_group_sample, ext_mode_by_group

    assert "WindowGroupLimit" in _plan(ext_group_sample(spark, SF))
    assert "WindowGroupLimit" in _plan(ext_mode_by_group(spark, SF))


def test_gap_fill_daily_is_broadcast(spark):
    from aircan_spark.ext.queries import ext_gap_fill

    plan = _plan(ext_gap_fill(spark, SF))
    assert "BroadcastHashJoin" in plan


# --- round-3-continuation plan shapes -----------------------------------------


def test_waiting_suppliers_pushdown_and_reuse(spark):
    """Q21 flavor: the status filter reaches the orders scan, and after
    execution the shared (order,supplier) subtree is deduplicated by
    AQE stage reuse (one fact exchange feeds both branches)."""
    from aircan_spark.ext.queries import ext_waiting_suppliers

    df = ext_waiting_suppliers(spark, SF)
    plan = _plan(df)
    sections = [p.split("]")[0] for p in plan.split("PushedFilters:")[1:]]
    assert any("o_orderstatus" in p for p in sections), sections
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final


def test_excess_share_pushdown_and_broadcast(spark):
    """Q20 flavor: the shipdate range reaches the lineitem scan and the
    prefix-filtered part keys broadcast (the fact table never shuffles
    for the filter)."""
    from aircan_spark.ext.queries import ext_excess_share_suppliers

    plan = _plan(ext_excess_share_suppliers(spark, SF))
    pushed = plan.split("PushedFilters:")
    li_pushed = [p.split("]")[0] for p in pushed[1:]]
    assert any("l_shipdate" in p for p in li_pushed), li_pushed
    assert "BroadcastHashJoin" in plan


def test_balanced_sample_group_limit(spark):
    """Class-balancing promises WindowGroupLimit once the cap literal is
    resolved — it is data-dependent (broadcast), so the row_number
    window itself must appear with a rank filter, not a global sort."""
    from aircan_spark.ext.queries import ext_balanced_sample

    plan = _plan(ext_balanced_sample(spark, SF))
    assert "row_number" in plan.lower()
    # the selection window partitions on the class key (parallel per
    # class), not a single global sort
    assert "hashpartitioning(lang" in plan


def test_churn_labels_filters_pushed(spark):
    from aircan_spark.ext.queries import ext_churn_labels

    plan = _plan(ext_churn_labels(spark, SF))
    # one conditional-agg scan: events parquet appears exactly once
    assert plan.count("Location: InMemoryFileIndex") <= 2  # fan_out may reuse
    assert "HashAggregate" in plan


def test_user_neighbors_group_limit_head(spark):
    from aircan_spark.ext.queries import ext_user_neighbors

    assert "WindowGroupLimit" in _plan(ext_user_neighbors(spark, SF))
