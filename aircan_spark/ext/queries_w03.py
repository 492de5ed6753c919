"""Declared-query waves: round-2 analytics wave: classic warehouse flavors (Q2/Q11/Q16/Q22) +; round-2 wave 2: reshaping, sketches, ranking classics; round-2 wave 3: sketches + exact-k weighted sampling; round-3 wave: TPC-H flavors Q13/Q17/Q19/Q15/Q8; round-3 wave: corpus curation + event hygiene ops; round-3 wave: sketch + join-pruning + linear-algebra infrastructure; round-3 wave: CDC, quality gates, time series, layout; round-3 wave: graph analytics over the co-occurrence graph.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w02 import *  # noqa: F401,F403
from aircan_spark.frames import result_scope


# --- round-2 analytics wave: classic warehouse flavors (Q2/Q11/Q16/Q22) +
# inequality/independence/vocabulary/trending ---------------------------------------


def ext_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest observed supplier per part (TPC-H Q2 flavor without
    partsupp): per (part, supplier) mean unit price from lineitem, then the
    per-part argmin via MIN over a (price, suppkey) struct — engine-neutral
    deterministic tie-break, no window needed.

    Scale shape: the filtered part dim broadcast-joins BEFORE the pair
    aggregate (the dim filter is the fact filter — ~90% of pairs never
    enter the hash agg), then one (partkey, suppkey) exchange for the pair
    agg and one partkey exchange for the argmin, both partial-aggregated
    map-side."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(18,6)").alias("price"),
        F.col("l_quantity").cast("decimal(18,6)").alias("qty"),
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 45).select(
        "p_partkey", "p_brand", "p_size"
    )
    # the selective dim filter acts as the fact filter: broadcast-join it
    # BEFORE the wide (partkey, suppkey) aggregate so ~90% of pairs never
    # enter the hash agg (Catalyst can't infer this pushdown — the
    # predicate lives on the dim, the join is the filter)
    li = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    pair = (
        li.groupBy("l_partkey", "p_brand", "p_size", "l_suppkey")
        .agg(
            F.round(
                (F.sum("price") / F.sum("qty")).cast("decimal(38,6)"), 4
            ).alias("unit_price")
        )
    )
    return (
        pair.groupBy("l_partkey", "p_brand", "p_size")
        .agg(F.min(F.struct("unit_price", "l_suppkey")).alias("b"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "p_size",
            F.col("b.l_suppkey").alias("best_suppkey"),
            F.col("b.unit_price").cast("double").alias("best_unit_price"),
        )
        .orderBy("p_partkey")
    )


EXT_MIN_COST_SUPPLIER_SQL = r"""
WITH pair AS (
  SELECT l_partkey, l_suppkey,
         ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
               / SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)), 4)
           AS unit_price
  FROM lineitem GROUP BY 1, 2
),
best AS (
  SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey,
         CAST(unit_price AS DOUBLE) AS best_unit_price,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY unit_price, l_suppkey) AS rn
  FROM pair
)
SELECT p.p_partkey, p.p_brand, p.p_size, b.best_suppkey, b.best_unit_price
FROM best b JOIN part p USING (p_partkey)
WHERE b.rn = 1 AND p.p_size >= 45
ORDER BY p.p_partkey
"""


def ext_nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation revenue share vs the corpus total, keeping nations
    above a fraction threshold (TPC-H Q11 flavor: GROUP BY + HAVING
    against a global scalar).

    Scale shape: lineitem collapses per-suppkey first (the big exchange),
    then joins the small supplier/nation dims broadcast; the global total
    is a 1-row aggregate joined as a broadcast literal, never a second
    scan of the fact."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum("rev").cast("decimal(38,6)").alias("srev")
    )
    # r13 (guide §5): per_nation feeds the global-total scalar AND
    # the share projection — un-persisted, the lineitem suppkey
    # exchange ran twice. Bounded (O(nations) rows) -> default
    # level.
    per_nation = share(
        per_supp.join(F.broadcast(sup), per_supp["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("srev").cast("decimal(38,6)").alias("value"))
    )
    total = per_nation.agg(F.sum("value").cast("decimal(38,6)").alias("tot"))
    return (
        per_nation.join(F.broadcast(total))
        .withColumn(
            "share", F.round(F.col("value").cast("double") / F.col("tot").cast("double"), 6)
        )
        .filter(F.col("share") > 0.04)
        .select("n_name", F.col("value").cast("double").alias("value"), "share")
        .orderBy("n_name")
    )


EXT_NATION_VALUE_SHARE_SQL = r"""
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
              * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
           AS DECIMAL(38,6)) AS srev
  FROM lineitem GROUP BY 1
),
per_nation AS (
  SELECT n.n_name, CAST(SUM(srev) AS DECIMAL(38,6)) AS value
  FROM per_supp
  JOIN supplier s ON l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(value) AS DECIMAL(38,6)) AS tot FROM per_nation)
SELECT n_name, CAST(value AS DOUBLE) AS value,
       ROUND(CAST(value AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
FROM per_nation CROSS JOIN tot
WHERE ROUND(CAST(value AS DOUBLE) / CAST(tot AS DOUBLE), 6) > 0.04
ORDER BY n_name
"""


def ext_part_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, size-band) excluding a supplier
    denylist (TPC-H Q16 flavor: COUNT(DISTINCT) with a NOT-IN rewritten as
    LEFT ANTI).

    Scale shape: observed (partkey, suppkey) pairs dedup map-side before
    any join; the denylist (negative-balance suppliers) is tiny and
    broadcast for the anti join; the part dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        (F.floor(F.col("p_size") / 10) * 10).cast("int").alias("size_band"),
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "size_band")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy("p_brand", "size_band")
    )


EXT_PART_SUPPLIER_COUNT_SQL = r"""
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
keep AS (
  SELECT * FROM pairs
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p.p_brand, CAST(FLOOR(p.p_size / 10) * 10 AS INTEGER) AS size_band,
       CAST(COUNT(DISTINCT k.l_suppkey) AS BIGINT) AS supplier_cnt
FROM keep k JOIN part p ON k.l_partkey = p.p_partkey
GROUP BY 1, 2 ORDER BY p_brand, size_band
"""


def ext_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-funded customers gone IDLE (TPC-H Q22 flavor): balance above
    the positive-balance average AND no order in the trailing 365 days
    of the corpus (cutoff = max(o_orderdate) - 365d, data-derived) —
    scalar-subquery thresholds + LEFT ANTI existence check, reported per
    nation.

    Non-vacuousness: the original "no order history at all" predicate
    yielded 0 rows at sf<=0.01 (every testdata customer has orders), so
    its r6 DECIMAL repr bug hid behind a vacuous pass until sf0.1 — the
    episode that made zero-row results a hard sweep failure. The
    trailing-window variant keeps the scalar-broadcast + anti-join plan
    and fires at every SF (14/149/1514 customers at sf0.001/0.01/0.1).

    Scale shape: the average and the cutoff are 1-row broadcasts; the
    anti join probes recent orders by custkey only (filter pushed below
    the build-side projection); output is O(nations)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    all_orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cutoff = all_orders.agg(
        F.date_sub(F.to_date(F.max("o_orderdate")), 365).alias("co")
    )
    orders = (
        all_orders.join(F.broadcast(cutoff))
        .filter(F.to_date(F.col("o_orderdate")) >= F.col("co"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("threshold")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(orders, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            # exact decimal SUM, then ONE cast to double for the output:
            # wide-decimal outputs reach pandas as Decimal objects on the
            # Spark side but float64 on the DuckDB side, and Decimal's
            # trailing-zero repr ('7097.20' vs '7097.2') broke the value
            # compare the first time this query produced rows at sf0.1
            # (sf<=0.01 returns 0 rows — a vacuous pass since r1)
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


EXT_IDLE_CUSTOMERS_SQL = r"""
WITH thresh AS (
  SELECT ROUND(AVG(c_acctbal), 4) AS threshold FROM customer WHERE c_acctbal > 0
),
cutoff AS (
  SELECT CAST(MAX(o_orderdate) AS DATE) - INTERVAL 365 DAY AS co FROM orders
)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer CROSS JOIN thresh CROSS JOIN cutoff
WHERE c_acctbal > threshold
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE CAST(o_orderdate AS DATE) >= co
  )
GROUP BY c_nationkey ORDER BY c_nationkey
"""


@result_scope
def ext_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per market segment — the
    standard rank formula G = 2*Σ(i*x_i)/(n*Σx) - (n+1)/n over ascending
    per-customer revenue.

    Scale shape: raw rows collapse to per-customer revenue first. The
    per-segment rank is NOT a ``Window.partitionBy(segment)`` — with ~5
    segments that window sorts millions of rows per segment in ONE task at
    scale (the low-cardinality-window trap). Instead: range-partitioned
    GLOBAL numbering ordered by (segment, crev, custkey) — rownum.py's
    partition-offset scheme, parallel at any size — then the in-segment
    rank is global_i minus the segment's broadcast start offset (exact
    cumulative counts over O(segments) rows). Ties carry identical values
    so rank order among ties cannot change the statistic."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("rev").cast("decimal(38,6)").alias("crev"))
    )
    numbered = with_row_number(
        per_cust, column="_gi", order_by=["c_mktsegment", "crev", "c_custkey"]
    )
    # r12: count segments from `numbered` (a scan of with_row_number's
    # persisted, already-sorted copy) instead of from `per_cust` — the
    # latter re-executed the 3-table join + revenue aggregation a second
    # time just to count rows per segment. Same rows, same counts.
    seg_counts = numbered.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("_n"))
    seg_offsets = seg_counts.select(
        "c_mktsegment",
        (
            F.sum("_n").over(
                Window.orderBy("c_mktsegment").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("_off"),
    ).fillna({"_off": 0})
    ranked = numbered.join(F.broadcast(seg_offsets), "c_mktsegment").withColumn(
        "i", F.col("_gi") - F.col("_off")
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("i") * F.col("crev")).cast("decimal(38,6)").alias("_iws"),
            F.sum("crev").cast("decimal(38,6)").alias("_tot"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            F.round(
                F.lit(2.0) * F.col("_iws").cast("double")
                / (F.col("n_customers") * F.col("_tot").cast("double"))
                - (F.col("n_customers") + F.lit(1.0)) / F.col("n_customers"),
                6,
            ).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


EXT_GINI_SQL = r"""
WITH per_cust AS (
  SELECT c_mktsegment, c_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
              * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
           AS DECIMAL(38,6)) AS crev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_mktsegment, crev,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY crev, c_custkey) AS i
  FROM per_cust
)
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ROUND(2.0 * CAST(SUM(i * crev) AS DOUBLE)
             / (COUNT(*) * CAST(SUM(crev) AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def ext_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment × order-priority independence audit: observed contingency
    counts vs expected-under-independence, with each cell's chi-square
    contribution — the classic pre-modeling association check.

    Scale shape: one (segment, priority) hash agg over the joined fact;
    the margins are tiny aggregates of the cell frame joined back
    broadcast; output is O(segments × priorities)."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # r13 (guide §5, the cramers_v pattern): cells feeds the row/column/
    # grand margins AND the final contribution join — un-persisted, the
    # orders x customer join + contingency exchange ran 4x. Bounded
    # (segments x priorities) -> default level.
    cells = share(
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    row_tot = cells.groupBy("c_mktsegment").agg(F.sum("observed").alias("rt"))
    col_tot = cells.groupBy("o_orderpriority").agg(F.sum("observed").alias("ct"))
    grand = cells.agg(F.sum("observed").alias("gt"))
    return (
        cells.join(F.broadcast(row_tot), "c_mktsegment")
        .join(F.broadcast(col_tot), "o_orderpriority")
        .join(F.broadcast(grand))
        .withColumn("expected", F.round(F.col("rt") * F.col("ct") / F.col("gt"), 4))
        .withColumn(
            "contribution",
            F.round(
                F.pow(F.col("observed") - F.col("rt") * F.col("ct") / F.col("gt"), 2)
                / (F.col("rt") * F.col("ct") / F.col("gt")),
                6,
            ),
        )
        .select("c_mktsegment", "o_orderpriority", "observed", "expected", "contribution")
        .orderBy("c_mktsegment", "o_orderpriority")
    )


EXT_CHI_SQUARE_SQL = r"""
WITH cells AS (
  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS observed
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
rt AS (SELECT c_mktsegment, CAST(SUM(observed) AS BIGINT) AS rt FROM cells GROUP BY 1),
ct AS (SELECT o_orderpriority, CAST(SUM(observed) AS BIGINT) AS ct FROM cells GROUP BY 1),
gt AS (SELECT CAST(SUM(observed) AS BIGINT) AS gt FROM cells)
SELECT c.c_mktsegment, c.o_orderpriority, c.observed,
       ROUND(CAST(rt.rt AS DOUBLE) * ct.ct / gt.gt, 4) AS expected,
       ROUND(POW(c.observed - CAST(rt.rt AS DOUBLE) * ct.ct / gt.gt, 2)
             / (CAST(rt.rt AS DOUBLE) * ct.ct / gt.gt), 6) AS contribution
FROM cells c
JOIN rt USING (c_mktsegment)
JOIN ct USING (o_orderpriority)
CROSS JOIN gt
ORDER BY c.c_mktsegment, c.o_orderpriority
"""


def ext_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary size and hapax-legomena share (words seen
    exactly once) — a corpus-maturity / OCR-noise signal: noisy extractions
    show inflated hapax mass.

    Scale shape: tokens explode once, partial-agg to (lang, word) counts
    (the only big exchange), then collapse to O(languages). No per-row
    Python anywhere."""
    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.lower(F.trim(F.col("text"))).alias("t")
    )
    words = (
        docs.filter(F.length("t") > 0)
        .select("lang", F.explode(F.split("t", r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = words.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("n"))
    return (
        vocab.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            "lang",
            "vocab_size",
            "n_hapax",
            F.round(F.col("n_hapax") / F.col("vocab_size"), 6).alias("hapax_share"),
        )
        .orderBy("lang")
    )


EXT_HAPAX_SQL = r"""
WITH words AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
),
vocab AS (
  SELECT lang, w, COUNT(*) AS n FROM words WHERE w <> '' GROUP BY 1, 2
)
SELECT lang, COUNT(*) AS vocab_size,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS hapax_share
FROM vocab GROUP BY lang ORDER BY lang
"""


def ext_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per ISO week by volume — the trending-topics
    shape: windowed counts then a rank head per window.

    Scale shape: the only fact-table exchange is the (week, type) partial
    agg; the rank window runs over O(weeks × types) rows and compiles to
    WindowGroupLimit pushdown. Deterministic tie-break (count desc, type
    asc)."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"), "event_type"
    )
    counts = ev.groupBy("week", "event_type").agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("week").orderBy(F.col("n_events").desc(), F.col("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("week", "rnk", "event_type", "n_events")
        .orderBy("week", "rnk")
    )


EXT_TRENDING_SQL = r"""
WITH counts AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT week, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY week ORDER BY n_events DESC, event_type) AS rnk
  FROM counts
)
SELECT week, rnk, event_type, n_events FROM ranked
WHERE rnk <= 3 ORDER BY week, rnk
"""


EXT_QUERIES.update(
    {
        "ext_min_cost_supplier": ext_min_cost_supplier,
        "ext_nation_value_share": ext_nation_value_share,
        "ext_part_supplier_count": ext_part_supplier_count,
        "ext_idle_customers": ext_idle_customers,
        "ext_gini": ext_gini,
        "ext_chi_square": ext_chi_square,
        "ext_hapax_ratio": ext_hapax_ratio,
        "ext_trending_topk": ext_trending_topk,
    }
)
EXT_ORACLES.update(
    {
        "ext_min_cost_supplier": EXT_MIN_COST_SUPPLIER_SQL,
        "ext_nation_value_share": EXT_NATION_VALUE_SHARE_SQL,
        "ext_part_supplier_count": EXT_PART_SUPPLIER_COUNT_SQL,
        "ext_idle_customers": EXT_IDLE_CUSTOMERS_SQL,
        "ext_gini": EXT_GINI_SQL,
        "ext_chi_square": EXT_CHI_SQUARE_SQL,
        "ext_hapax_ratio": EXT_HAPAX_SQL,
        "ext_trending_topk": EXT_TRENDING_SQL,
    }
)


# --- round-2 wave 2: reshaping, sketches, ranking classics -------------------------


def ext_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (melt): customer balance/counts as (metric,
    value) rows via the built-in ``unpivot`` — the inverse of the count
    pivot (X44), needed constantly for plotting/export layers.

    Scale shape: unpivot is a row-local Expand (no shuffle); the only
    exchange is the final per-metric aggregate, O(metrics) output."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    long = cust.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "value")
    return (
        long.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .orderBy("metric")
    )


EXT_UNPIVOT_SQL = r"""
WITH long AS (
  SELECT c_custkey, 'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS value FROM customer
  UNION ALL
  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
)
SELECT metric, COUNT(*) AS n_rows, ROUND(SUM(value), 2) AS sum_value,
       ROUND(MIN(value), 2) AS min_value, ROUND(MAX(value), 2) AS max_value
FROM long GROUP BY metric ORDER BY metric
"""


def ext_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped orders by revenue (TPC-H Q3 flavor): segment
    filter on the customer dim, date residuals both sides, revenue agg,
    global top-k.

    Scale shape: both date filters reach the scans (PushedFilters); the
    customer dim broadcasts; the global top-10 compiles to
    TakeOrderedAndProject — no full sort of the aggregate."""
    cutoff = "1995-03-15"
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum("rev").cast("decimal(38,6)"), 4).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


EXT_SHIPPING_PRIORITY_SQL = r"""
SELECT l_orderkey, o_orderdate,
       CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
            * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
            AS DECIMAL(38,6)), 4) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def ext_shipmode_priority_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment priority mix per return flag (TPC-H Q12 flavor):
    CASE-gated conditional counts over one scan — high- vs low-priority
    order shares among late lines.

    Scale shape: single fact exchange on the tiny group key; the orders
    dim join carries only (orderkey, priority); conditional sums are
    map-side partial."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


EXT_SHIPMODE_SQL = r"""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def ext_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer-order graph: how many customers
    placed exactly k orders — the shape check before any graph/dedup-group
    work (heavy right tail = hub keys = skew risk).

    Scale shape: two cheap aggregates (custkey, then degree) — both
    partial-agged; output is O(distinct degrees)."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    deg = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("degree")
    )


EXT_DEGREE_SQL = r"""
WITH deg AS (SELECT o_custkey, COUNT(*) AS degree FROM orders GROUP BY 1)
SELECT degree, COUNT(*) AS n_customers FROM deg GROUP BY degree ORDER BY degree
"""


def ext_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mean character entropy (Shannon, bits) — an OCR-noise
    / gibberish signal: natural text sits ~4-4.5 bits, random base64-ish
    noise pushes toward 6.

    Scale shape: per-doc entropy is ROW-LOCAL (aggregate over the doc's
    own char histogram via HOFs — no explode, no per-char shuffle); the
    only exchange is the per-language mean. Entropy uses exact integer
    char counts; one log2 per distinct char per doc."""
    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.lower(F.trim(F.col("text"))).alias("t")
    ).filter(F.length("t") > 0)
    chars = F.split(F.col("t"), "")
    # distinct chars -> per-char count via size(filter(...)) — all row-local
    per_doc = docs.select(
        "lang",
        F.length("t").alias("n"),
        F.transform(
            F.array_distinct(chars),
            lambda c: F.size(F.filter(chars, lambda x: x == c)),
        ).alias("counts"),
    )
    log2 = lambda col: F.log(col) / F.log(F.lit(2.0))  # noqa: E731
    ent = F.aggregate(
        F.col("counts"),
        F.lit(0.0),
        lambda acc, k: acc - (k / F.col("n")) * log2(k / F.col("n")),
    )
    return (
        per_doc.select("lang", ent.alias("h"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("h"), 6).alias("mean_entropy_bits"),
        )
        .orderBy("lang")
    )


EXT_CHAR_ENTROPY_SQL = r"""
WITH chars AS (
  SELECT lang, doc_id AS doc, unnest(string_split(lower(trim(text)), '')) AS c,
         length(lower(trim(text))) AS n
  FROM documents WHERE length(trim(text)) > 0
),
counts AS (
  SELECT lang, doc, n, COUNT(*) AS k FROM chars GROUP BY 1, 2, 3, c
),
per_doc AS (
  SELECT lang, doc,
         -SUM((CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)) AS h
  FROM counts GROUP BY 1, 2
)
SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(h), 6) AS mean_entropy_bits
FROM per_doc GROUP BY lang ORDER BY lang
"""


EXT_QUERIES.update(
    {
        "ext_unpivot": ext_unpivot,
        "ext_shipping_priority": ext_shipping_priority,
        "ext_shipmode_priority_audit": ext_shipmode_priority_audit,
        "ext_degree_distribution": ext_degree_distribution,
        "ext_char_entropy": ext_char_entropy,
    }
)
EXT_ORACLES.update(
    {
        "ext_unpivot": EXT_UNPIVOT_SQL,
        "ext_shipping_priority": EXT_SHIPPING_PRIORITY_SQL,
        "ext_shipmode_priority_audit": EXT_SHIPMODE_SQL,
        "ext_degree_distribution": EXT_DEGREE_SQL,
        "ext_char_entropy": EXT_CHAR_ENTROPY_SQL,
    }
)


# --- round-2 wave 3: sketches + exact-k weighted sampling ---------------------------


def ext_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: build a 4x2048 CMS over corpus
    tokens, then point-estimate the 20 most frequent words against their
    exact counts (overestimate = CMS error, always >= 0).

    The sketch is a FIXED-SIZE (depth x width) mergeable summary — the
    100 TB telemetry primitive: build per shard/day, merge by count
    addition, estimate without rescanning. Hashing is portable md5
    arithmetic, so the DuckDB oracle reproduces the ESTIMATES bit-for-bit,
    not just the exact counts.

    Scale shape: token explode is the only corpus-sized stage; the sketch
    agg key space is depth*width; estimation broadcast-joins the tiny
    sketch."""
    from aircan_spark.ext import sketch as cms

    docs = _t(spark, sf_dir, "documents").select(
        F.lower(F.trim(F.col("text"))).alias("t")
    ).filter(F.length("t") > 0)
    words = docs.select(F.explode(F.split("t", r"\s+")).alias("w")).filter(
        F.col("w") != ""
    )
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.col("exact_count").desc(), "w").limit(20)
    sk = cms.count_min_build(words, "w", depth=4, width=2048, seed=42)
    est = cms.count_min_estimate(sk, top, "w", depth=4, width=2048, seed=42)
    return (
        top.join(est, top["w"] == est["item"])
        .select(
            F.col("w").alias("word"),
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.col("exact_count").desc(), "word")
    )


EXT_CMS_SQL = r"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
),
w2 AS (SELECT w FROM words WHERE w <> ''),
exact AS (SELECT w, COUNT(*) AS exact_count FROM w2 GROUP BY w),
top AS (SELECT w, exact_count FROM exact ORDER BY exact_count DESC, w LIMIT 20),
r AS (SELECT unnest(range(4)) AS rw),
sketch AS (
  SELECT rw,
         CAST(('0x' || SUBSTR(md5('42:' || CAST(rw AS VARCHAR) || '-' || w), 1, 8))::UBIGINT
              % 2048 AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM w2 CROSS JOIN r GROUP BY 1, 2
),
est AS (
  SELECT t.w, MIN(COALESCE(s.cnt, 0)) AS cms_estimate
  FROM top t CROSS JOIN r
  LEFT JOIN sketch s
    ON s.rw = r.rw
   AND s.bucket = CAST(('0x' || SUBSTR(md5('42:' || CAST(r.rw AS VARCHAR) || '-' || t.w), 1, 8))::UBIGINT
                       % 2048 AS BIGINT)
  GROUP BY t.w
)
SELECT t.w AS word, t.exact_count, e.cms_estimate,
       e.cms_estimate - t.exact_count AS overestimate
FROM top t JOIN est e ON t.w = e.w
ORDER BY t.exact_count DESC, word
"""


def ext_weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sampling without replacement per language
    (Efraimidis–Spirakis A-ES over n_chars weights): the curation pass
    that draws a fixed-size quality-weighted subset per stratum.

    Deterministic (md5-derived uniforms, 12-decimal-rounded keys, id
    tie-break) — the DuckDB oracle replays the identical draw. Per-group
    top-k compiles to WindowGroupLimit."""
    from aircan_spark.ext.sampling import aes_weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return (
        aes_weighted_sample(
            docs, "doc_id", F.col("n_chars"), k=5, group_col="lang", seed=42
        )
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


EXT_WEIGHTED_SAMPLE_K_SQL = r"""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         ROUND(POW(
           ('0x' || SUBSTR(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
             / 4294967296.0 + 1.0 / 4294967296.0,
           1.0 / n_chars), 12) AS k
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rn
  FROM keyed
)
SELECT lang, doc_id, n_chars FROM ranked WHERE rn <= 5 ORDER BY lang, doc_id
"""


EXT_QUERIES.update(
    {
        "ext_cms_heavy_hitters": ext_cms_heavy_hitters,
        "ext_weighted_sample_k": ext_weighted_sample_k,
    }
)
EXT_ORACLES.update(
    {
        "ext_cms_heavy_hitters": EXT_CMS_SQL,
        "ext_weighted_sample_k": EXT_WEIGHTED_SAMPLE_K_SQL,
    }
)


def ext_boilerplate_heads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection per source: the most common 3-token
    document HEAD and its share of the source's docs — crawl pipelines use
    exactly this to spot injected headers/navigation chrome before
    stripping (CCNet-style line dedup collapses to head dedup for
    single-line docs).

    Scale shape: the head is a row-local projection (split + slice — no
    explode); one (source, head) partial agg, then a WindowGroupLimit
    argmax per source; output O(sources)."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", F.lower(F.trim(F.col("text"))).alias("t")
    ).filter(F.length("t") > 0)
    head = F.array_join(F.slice(F.split(F.col("t"), r"\s+"), 1, 3), " ")
    counts = (
        docs.select("source", head.alias("head"))
        .groupBy("source", "head")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = counts.groupBy("source").agg(F.sum("n_docs").alias("total"))
    w = Window.partitionBy("source").orderBy(F.col("n_docs").desc(), F.col("head"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            F.col("head").alias("top_head"),
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("head_share"),
        )
        .orderBy("source")
    )


EXT_BOILERPLATE_SQL = r"""
WITH heads AS (
  SELECT source,
         array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\s+'), 1, 3), ' ') AS head
  FROM documents WHERE length(trim(text)) > 0
),
counts AS (SELECT source, head, COUNT(*) AS n_docs FROM heads GROUP BY 1, 2),
totals AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS total FROM counts GROUP BY 1),
ranked AS (
  SELECT source, head, n_docs,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_docs DESC, head) AS rn
  FROM counts
)
SELECT r.source, r.head AS top_head, r.n_docs,
       ROUND(CAST(r.n_docs AS DOUBLE) / t.total, 6) AS head_share
FROM ranked r JOIN totals t ON r.source = t.source
WHERE r.rn = 1 ORDER BY r.source
"""


EXT_QUERIES.update({"ext_boilerplate_heads": ext_boilerplate_heads})
EXT_ORACLES.update({"ext_boilerplate_heads": EXT_BOILERPLATE_SQL})


def ext_cross_lang_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language duplicate-CANDIDATE audit: normalized 16-char
    PREFIX fingerprints appearing in MORE THAN ONE language — the
    translation-leak / mislabeled-lang signal a multilingual curation
    pass checks before per-lang dedup (within-lang dedup would silently
    keep both copies). Prefix fingerprinting is the standard cheap
    candidate generator (boilerplate openers, templated intros); the
    exact-content variant is X1's dedup fingerprint.

    Non-vacuousness: the original exact-content fingerprint matched
    nothing at sf<=0.01 (testdata has no exact text dups there), so the
    gate passed vacuously — the class the sweep now hard-fails. The
    prefix fingerprint keeps the IDENTICAL exchange + HAVING plan and
    fires at every SF (18/21/334 offending fingerprints at
    sf0.001/0.01/0.1).

    Scale shape: one fingerprint exchange (md5 over the normalized
    prefix — same exchange pattern as X1's exact-dedup, different key),
    HAVING on distinct langs; output rows only for offending
    fingerprints."""
    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.md5(
            F.substring(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                1,
                16,
            )
        ).alias("fp"),
    )
    return (
        docs.groupBy("fp")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        )
        .filter(F.col("n_langs") > 1)
        .orderBy("fp")
    )


EXT_CROSS_LANG_SQL = r"""
SELECT md5(substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 16)) AS fp,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(*) AS n_docs,
       array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs
FROM documents
GROUP BY 1 HAVING COUNT(DISTINCT lang) > 1
ORDER BY fp
"""


def ext_strict_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ordered 3-step funnel (view -> click -> purchase): a user
    converts at step N only with an event strictly AFTER their step-N-1
    completion time (earliest-completion semantics) — the sequence-mining
    flavor the 2-step attribution funnel (X76) doesn't capture.

    Scale shape: three per-user aggregates chained by user_id equi-joins —
    each stage collapses to O(users) before the next join, so the fact
    table is scanned once per step type and never joined to itself
    row-to-row."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # single plan, single action: t3 ⊆ t2 ⊆ t1 by construction, so left
    # joins + conditional counts produce all three stage counts in one job
    merged = t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
    return merged.agg(
        F.count(F.lit(1)).alias("n_viewed"),
        F.count("t2").alias("n_clicked_after"),
        F.count("t3").alias("n_purchased_after"),
        F.round(F.count("t2") / F.count(F.lit(1)), 6).alias("view_to_click"),
        F.round(F.count("t3") / F.count("t2"), 6).alias("click_to_purchase"),
    )


EXT_STRICT_FUNNEL_SQL = r"""
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM t1) AS n_viewed,
       (SELECT COUNT(*) FROM t2) AS n_clicked_after,
       (SELECT COUNT(*) FROM t3) AS n_purchased_after,
       ROUND(CAST((SELECT COUNT(*) FROM t2) AS DOUBLE)
             / (SELECT COUNT(*) FROM t1), 6) AS view_to_click,
       ROUND(CAST((SELECT COUNT(*) FROM t3) AS DOUBLE)
             / (SELECT COUNT(*) FROM t2), 6) AS click_to_purchase
"""


EXT_QUERIES.update(
    {
        "ext_cross_lang_dupes": ext_cross_lang_dupes,
        "ext_strict_funnel": ext_strict_funnel,
    }
)
EXT_ORACLES.update(
    {
        "ext_cross_lang_dupes": EXT_CROSS_LANG_SQL,
        "ext_strict_funnel": EXT_STRICT_FUNNEL_SQL,
    }
)


def ext_sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: cell probe cuts candidates, PQ codes cut bytes, and
    the exact top-50 cosine rerank (refine, r11) removes the quantizer
    from the recall budget — recall@5 vs the brute cosine baseline
    0.24 -> 0.58 at the fixture seeds, which IS the nprobe=4/16 cell-
    probe ceiling (exact rerank of fully-probed cells measures 0.58).
    Rows-only contract; bars pinned in tests/test_round11_ann_recall.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    n_vecs = corpus_count(spark, sf_dir, "embeddings")
    # r12: PQ codebooks and the IVF coarse quantizer train on the SAME
    # canonical sample (identical corpus/vec_col/sample_size/seed) —
    # collect it once and thread it through; both trainers previously ran
    # the content-hash sampler's filter+sort+toPandas jobs independently.
    # Bit-identical by construction (same args -> same matrix;
    # _train_centroids copies before its in-place normalization).
    mat = similarity._sample_matrix(emb, "embedding", 16_384, 42, n_rows=n_vecs)
    books = similarity.pq_train(
        emb, m=16, ksub=256, seed=42, n_rows=n_vecs, sample_mat=mat
    )
    return similarity.ivfpq_topk(
        emb, queries, books, k=5, nlist=16, nprobe=4, seed=42, n_rows=n_vecs,
        refine=50, sample_mat=mat,
    )


def ext_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential revenue increase from discount removal (TPC-H Q6 flavor):
    one scan, all three predicates pushed to parquet, single decimal agg —
    the minimal filter-aggregate every warehouse benchmarks first.

    Scale shape: no join, no wide agg; the scan's PushedFilters carry the
    date/discount/quantity range predicates, so row groups prune on
    statistics."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * F.col("l_discount").cast("decimal(18,6)")
            )
            .cast("decimal(38,6)")
            .cast("double")
            .alias("revenue"),
        )
    )


EXT_REVENUE_FORECAST_SQL = r"""
SELECT COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * CAST(l_discount AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def ext_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with very large orders (TPC-H Q18 flavor): orders whose
    line quantity sum exceeds a threshold, joined back to customer detail.

    Scale shape: the HAVING collapses lineitem per orderkey FIRST (one
    exchange, partial-agged); only qualifying orderkeys — a tiny set —
    join orders/customer, so the expensive tables meet AFTER selection,
    broadcast where small."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy("o_orderkey")
    )


EXT_LARGE_ORDERS_SQL = r"""
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_qty
  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       o_totalprice, CAST(total_qty AS DOUBLE) AS total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
"""


EXT_QUERIES.update(
    {
        "ext_sim_topk_ivfpq": ext_sim_topk_ivfpq,
        "ext_revenue_forecast": ext_revenue_forecast,
        "ext_large_orders": ext_large_orders,
    }
)
EXT_ORACLES.update(
    {
        "ext_revenue_forecast": EXT_REVENUE_FORECAST_SQL,
        "ext_large_orders": EXT_LARGE_ORDERS_SQL,
    }
)


# --- round-3 wave: TPC-H flavors Q13/Q17/Q19/Q15/Q8 -------------------------------


def ext_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-per-customer distribution INCLUDING zero-order customers
    (TPC-H Q13 flavor): LEFT OUTER join so silent customers survive, then
    a two-level aggregation — per-customer counts (shuffle on custkey),
    then the tiny O(distinct counts) histogram.

    Scale shape: the first agg is the only real exchange; the second
    groups O(customers) rows down to O(max orders per customer) — no
    global window anywhere."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


EXT_ORDER_COUNT_DIST_SQL = r"""
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def ext_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost to small-quantity orders for one brand
    (TPC-H Q17 flavor): the correlated subquery `l_quantity <
    0.2*AVG(l_quantity) per part` becomes a per-part aggregate joined
    back — both joins broadcast (parts of one brand are a sliver of the
    part table), so lineitem never shuffles.

    Determinism note: l_quantity is integral, so the per-part AVG (exact
    integer sum / count) and the 0.2x threshold are bit-identical across
    engines — the boundary filter cannot flip."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    brand_li = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).drop("p_partkey")
    thresholds = brand_li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * F.lit(0.2)).alias("qty_cut")
    )
    return (
        brand_li.join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                .cast("decimal(38,6)")
                / F.lit(7.0)
            )
            .cast("double")
            .alias("avg_yearly"),
        )
    )


EXT_SMALL_QTY_SQL = r"""
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
),
cuts AS (
  SELECT l_partkey, AVG(l_quantity) * 0.2 AS qty_cut
  FROM brand_li GROUP BY l_partkey
)
SELECT COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) / 7.0 AS DOUBLE)
         AS avg_yearly
FROM brand_li JOIN cuts USING (l_partkey)
WHERE l_quantity < qty_cut
"""


def ext_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR-of-ANDs predicate (TPC-H Q19 flavor): three
    brand/size/quantity bands OR-ed together. Catalyst keeps the whole
    disjunction as one post-join filter but pushes the common parts
    (quantity range, size lower bound) to the scans; the part side
    broadcasts."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.filter(band).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("revenue"),
    )


EXT_DISJUNCTIVE_SQL = r"""
SELECT COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
            AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


def ext_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue, ties kept (TPC-H
    Q15 flavor). The MAX is a broadcast SCALAR compared against the
    per-supplier aggregate — no global window over the supplier axis (the
    low-cardinality-window trap: O(suppliers) rows in one task at scale).
    Decimal revenue makes the equality comparison exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        )
        .cast("decimal(38,6)")
        .alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("mx"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), rev["total_revenue"] == top["mx"])
        .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
        .select(
            F.col("s_suppkey"),
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


EXT_TOP_SUPPLIER_SQL = r"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
              * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
           AS DECIMAL(38,6)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def ext_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_5 suppliers' share of revenue from ASIA customers per order
    year (TPC-H Q8 flavor): lineitem joins orders (shuffle on orderkey),
    every dimension (customer->nation->region, supplier->nation)
    broadcasts; the share is a CASE-gated decimal numerator over the same
    aggregate — one exchange for the final (year) grouping."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")

    asia_cust = (
        cust.join(
            F.broadcast(
                nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
                .filter(F.col("r_name") == "ASIA")
                .select("n_nationkey")
            ),
            cust["c_nationkey"] == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    sup_nation = sup.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        sup["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")

    vol = F.col("l_extendedprice").cast("decimal(18,6)") * (
        F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(asia_cust), orders["o_custkey"] == asia_cust["c_custkey"])
        .join(F.broadcast(sup_nation), li["l_suppkey"] == sup_nation["s_suppkey"])
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            F.col("supp_nation"),
        )
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(F.lit(0).cast("decimal(18,6)")))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("nation_volume"),
        F.sum("volume").cast("decimal(38,6)").cast("double").alias("total_volume"),
    )
    return agg.select(
        "o_year",
        "nation_volume",
        "total_volume",
        F.round(F.col("nation_volume") / F.col("total_volume"), 6).alias("mkt_share"),
    ).orderBy("o_year")


EXT_MARKET_SHARE_SQL = r"""
WITH asia_cust AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
joined AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,6))
           * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS volume,
         n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN asia_cust ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS DOUBLE) AS nation_volume,
       CAST(CAST(SUM(volume) AS DECIMAL(38,6)) AS DOUBLE) AS total_volume,
       ROUND(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(38,6)) AS DOUBLE)
             / CAST(CAST(SUM(volume) AS DECIMAL(38,6)) AS DOUBLE), 6) AS mkt_share
FROM joined GROUP BY o_year ORDER BY o_year
"""


EXT_QUERIES.update(
    {
        "ext_order_count_distribution": ext_order_count_distribution,
        "ext_small_quantity_revenue": ext_small_quantity_revenue,
        "ext_disjunctive_revenue": ext_disjunctive_revenue,
        "ext_top_revenue_supplier": ext_top_revenue_supplier,
        "ext_market_share": ext_market_share,
    }
)
EXT_ORACLES.update(
    {
        "ext_order_count_distribution": EXT_ORDER_COUNT_DIST_SQL,
        "ext_small_quantity_revenue": EXT_SMALL_QTY_SQL,
        "ext_disjunctive_revenue": EXT_DISJUNCTIVE_SQL,
        "ext_top_revenue_supplier": EXT_TOP_SUPPLIER_SQL,
        "ext_market_share": EXT_MARKET_SHARE_SQL,
    }
)


# --- round-3 wave: corpus curation + event hygiene ops ----------------------------


def ext_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping, oracle-checked end-to-end: each document is
    wrapped in deterministic HTML/markdown/entity chrome (tags, a md
    link, escaped entities), pushed through text.strip_markup, and the
    cleaned text must reduce back to the original words plus the anchor
    text — both engines replay the identical regex chain (no lookaround,
    RE2-safe patterns)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    marked = docs.select(
        "doc_id",
        F.concat(
            F.lit('<div class="post"><p>'),
            F.col("text"),
            F.lit('</p></div> [read more](http://example.com/x?q=1) &amp; <b>fin&#39;</b>'),
        ).alias("text"),
    )
    return (
        text.strip_markup(marked)
        .select("doc_id", F.md5(F.col("text_clean")).alias("clean_digest"))
        .orderBy("doc_id")
    )


EXT_STRIP_MARKUP_SQL = r"""
WITH marked AS (
  SELECT doc_id,
         '<div class="post"><p>' || text ||
         '</p></div> [read more](http://example.com/x?q=1) &amp; <b>fin&#39;</b>' AS t
  FROM documents
),
cleaned AS (
  SELECT doc_id,
         TRIM(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(t, '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
               '<[^>]*>', ' ', 'g'),
             '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'),
             '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
           '\s+', ' ', 'g')) AS text_clean
  FROM marked
)
SELECT doc_id, md5(text_clean) AS clean_digest FROM cleaned ORDER BY doc_id
"""


def ext_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-line removal (CCNet/C4 curation), with planted
    duplicates: every synthetic document is (own text \n successor's
    text), so each line occurs in exactly two documents and only the
    first corpus occurrence survives. Checks the full pipeline — global
    first-occurrence choice (one exchange keyed by line), per-doc
    reconstruction order, drop accounting."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    succ = docs.select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    two = docs.join(
        succ, succ["bid"] == (F.col("doc_id") + 1) % F.lit(n_docs)
    ).select("doc_id", F.concat("text", F.lit("\n"), "btext").alias("text"))
    return (
        dedup.line_dedup(two)
        .select(
            "doc_id",
            F.md5("text_kept").alias("kept_digest"),
            "n_lines_kept",
            "n_lines_dropped",
        )
        .orderBy("doc_id")
    )


EXT_LINE_DEDUP_SQL = r"""
WITH two AS (
  SELECT a.doc_id, a.text || chr(10) || b.text AS text
  FROM documents a
  JOIN documents b ON b.doc_id = (a.doc_id + 1) % (SELECT COUNT(*) FROM documents)
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM two
),
firsts AS (
  SELECT doc_id, pos, line,
         ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lines
),
kept AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_kept,
         COUNT(*) AS n_kept
  FROM firsts WHERE rn = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_tot FROM lines GROUP BY doc_id)
SELECT t.doc_id,
       md5(COALESCE(k.text_kept, '')) AS kept_digest,
       COALESCE(k.n_kept, 0) AS n_lines_kept,
       t.n_tot - COALESCE(k.n_kept, 0) AS n_lines_dropped
FROM tot t LEFT JOIN kept k USING (doc_id) ORDER BY doc_id
"""


def ext_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry-storm suppression: drop events repeating the same (user,
    type) within 24h of the previous one, then count survivors per type.
    The lag window partitions on real keys; the summary agg is O(types)."""
    ev = _t(spark, sf_dir, "events")
    kept = features.debounce_events(ev, gap_seconds=86400)
    return (
        kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("event_type")
    )


EXT_DEBOUNCE_SQL = r"""
WITH lagged AS (
  SELECT event_type,
         epoch(ts) - epoch(LAG(ts) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT event_type, COUNT(*) AS n_kept
FROM lagged WHERE gap IS NULL OR gap >= 86400
GROUP BY event_type ORDER BY event_type
"""


def ext_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list heads for every word in >= 50 documents: df plus the
    first 20 doc ids. The head is rank-capped (WindowGroupLimit) so no
    stop-word posting list ever materializes whole."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.inverted_index(docs, min_df=50, postings_cap=20)
        .orderBy("word")
    )


EXT_INVERTED_INDEX_SQL = r"""
WITH pairs AS (
  SELECT DISTINCT doc_id AS did,
         unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS word
  FROM documents
),
dfreq AS (SELECT word, COUNT(*) AS df FROM pairs WHERE word <> '' GROUP BY word),
ranked AS (
  SELECT word, did, ROW_NUMBER() OVER (PARTITION BY word ORDER BY did) AS rn
  FROM pairs WHERE word <> ''
),
heads AS (
  SELECT word, string_agg(CAST(did AS VARCHAR), ',' ORDER BY did) AS postings_head
  FROM ranked WHERE rn <= 20 GROUP BY word
)
SELECT d.word, d.df, h.postings_head
FROM dfreq d JOIN heads h USING (word)
WHERE d.df >= 50 ORDER BY d.word
"""


EXT_QUERIES.update(
    {
        "ext_strip_markup": ext_strip_markup,
        "ext_line_dedup": ext_line_dedup,
        "ext_debounce": ext_debounce,
        "ext_inverted_index": ext_inverted_index,
    }
)
EXT_ORACLES.update(
    {
        "ext_strip_markup": EXT_STRIP_MARKUP_SQL,
        "ext_line_dedup": EXT_LINE_DEDUP_SQL,
        "ext_debounce": EXT_DEBOUNCE_SQL,
        "ext_inverted_index": EXT_INVERTED_INDEX_SQL,
    }
)


# --- round-3 wave: sketch + join-pruning + linear-algebra infrastructure -----------


def ext_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix over the first 8 embedding dims, exact decimal path —
    the verification face of the one-pass covariance/PCA input
    (vectors.embedding_gram). The pandas-UDF Mᵀ M partial path is the
    scale twin (equivalence proven in tests/test_ext.py); this declared
    query uses the explode+decimal formulation precisely because binary
    floats have no decimal-scale-9 halfway cases, making the sum
    bit-identical across engines."""
    emb = _t(spark, sf_dir, "embeddings")
    return vectors.embedding_gram(emb, dims=8, exact=True)


EXT_EMBEDDING_GRAM_SQL = r"""
WITH comp AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding[1:8], 1) - 1 AS INTEGER) AS i,
         CAST(unnest(embedding[1:8]) AS DOUBLE) AS val
  FROM embeddings
),
pairs AS (
  SELECT a.i AS i, b.i AS j,
         CAST(a.val AS DECIMAL(18,9)) * CAST(b.val AS DECIMAL(18,9)) AS prod
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
)
SELECT i, j, ROUND(CAST(CAST(SUM(prod) AS DECIMAL(38,18)) AS DOUBLE), 12) AS gram
FROM pairs GROUP BY i, j ORDER BY i, j
"""


def ext_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog registers over order keys (m=1024, md5-portable hash):
    the fixed-size distinct sketch whose registers any engine reproduces
    bit-for-bit (integer/string rho, no floating log). Merge law and
    estimate accuracy are property-tested; the estimate itself is driver
    math over these <= m rows."""
    orders = _t(spark, sf_dir, "orders")
    from aircan_spark.ext import sketch as cms

    return cms.hll_build(orders, "o_orderkey", b=10, seed=42).orderBy("reg")


EXT_HLL_SQL = r"""
WITH h AS (
  SELECT CAST(('0x' || SUBSTR(md5('42-' || CAST(o_orderkey AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS hv
  FROM orders
),
rho AS (
  SELECT hv % 1024 AS reg,
         CASE WHEN hv // 1024 = 0 THEN 51
              ELSE 51 - LENGTH(bin(hv // 1024)) END AS rho
  FROM h
)
SELECT reg, MAX(rho) AS max_rho FROM rho GROUP BY reg ORDER BY reg
"""


def ext_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: lineitems of 1997 urgent orders. The
    bloom (64 KiB bitmap from the filtered order keys) pre-filters
    lineitem JVM-side BEFORE the join exchange; the exact LEFT SEMI join
    then removes false positives, so the result — and this oracle — is
    exactly the plain semi join. The sketch moves work off the shuffle;
    it never changes the answer."""
    from aircan_spark.ext import bloom

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    kept = bloom.bloom_semi_join(li, orders, "l_orderkey", "o_orderkey")
    return kept.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        )
        .cast("decimal(38,6)")
        .cast("double")
        .alias("revenue"),
    )


EXT_BLOOM_SEMI_SQL = r"""
SELECT COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
            AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
)
"""


EXT_QUERIES.update(
    {
        "ext_embedding_gram": ext_embedding_gram,
        "ext_hll_registers": ext_hll_registers,
        "ext_bloom_semi_join": ext_bloom_semi_join,
    }
)
EXT_ORACLES.update(
    {
        "ext_embedding_gram": EXT_EMBEDDING_GRAM_SQL,
        "ext_hll_registers": EXT_HLL_SQL,
        "ext_bloom_semi_join": EXT_BLOOM_SEMI_SQL,
    }
)


# --- round-3 wave: CDC, quality gates, time series, layout -------------------------


def ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two synthetic snapshots of orders: v2 deletes every
    97th key, rewrites the price of every 31st, inserts shifted copies of
    every 113rd. The diff must classify every key exactly and name the
    changed columns — one FULL OUTER exchange, both sides co-partitioned
    on the key."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    v2 = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 31 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 113 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
                "o_orderpriority",
            )
        )
    )
    return (
        relational.snapshot_diff(orders, v2, keys=["o_orderkey"])
        .orderBy("o_orderkey")
    )


EXT_SNAPSHOT_DIFF_SQL = r"""
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders
),
v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 31 = 0 THEN ROUND(o_totalprice * 1.1, 2)
              ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 113 = 0
),
j AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         a.o_orderkey IS NOT NULL AS in_old,
         b.o_orderkey IS NOT NULL AS in_new,
         CASE WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus THEN 'o_orderstatus' END AS c1,
         CASE WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'o_totalprice' END AS c2,
         CASE WHEN a.o_orderpriority IS DISTINCT FROM b.o_orderpriority THEN 'o_orderpriority' END AS c3
  FROM v1 a FULL OUTER JOIN v2 b USING (o_orderkey)
),
classified AS (
  SELECT o_orderkey,
         CASE WHEN NOT in_old THEN 'insert'
              WHEN NOT in_new THEN 'delete'
              WHEN c1 IS NOT NULL OR c2 IS NOT NULL OR c3 IS NOT NULL THEN 'update'
         END AS change_type,
         array_to_string(list_sort(list_filter([c1, c2, c3], x -> x IS NOT NULL)), ',') AS chg
  FROM j
)
SELECT o_orderkey, change_type,
       CASE WHEN change_type = 'update' THEN chg END AS changed_cols
FROM classified WHERE change_type IS NOT NULL ORDER BY o_orderkey
"""


def ext_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan declarative quality gate over orders: null-rate, range,
    set-membership, cardinality and uniqueness checks evaluated as a
    single aggregate (partial-aggregable expressions only) — the
    ingest-time contract check at warehouse scale."""
    from aircan_spark.profile import expectations

    orders = _t(spark, sf_dir, "orders")
    checks = [
        {"id": "key_unique", "column": "o_orderkey", "kind": "unique"},
        {"id": "key_not_null", "column": "o_orderkey", "kind": "not_null_rate", "min": 1.0},
        {"id": "price_floor", "column": "o_totalprice", "kind": "min", "min": 0.0},
        {"id": "price_ceiling", "column": "o_totalprice", "kind": "max", "max": 1e7},
        {"id": "status_domain", "column": "o_orderstatus", "kind": "in_set_rate",
         "values": ["F", "O", "P"], "min": 1.0},
        {"id": "priority_card", "column": "o_orderpriority", "kind": "distinct_max", "max": 5},
    ]
    return expectations(orders, checks).orderBy("check_id")


EXT_EXPECTATIONS_SQL = r"""
WITH agg AS (
  SELECT COUNT(*) AS n,
         COUNT(DISTINCT o_orderkey) AS key_nd,
         SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS key_nn,
         CAST(MIN(o_totalprice) AS DOUBLE) AS price_min,
         CAST(MAX(o_totalprice) AS DOUBLE) AS price_max,
         SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END) AS status_in,
         SUM(CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END) AS status_nn,
         COUNT(DISTINCT o_orderpriority) AS prio_nd
  FROM orders
)
SELECT * FROM (
  SELECT 'key_unique' AS check_id, 'o_orderkey' AS "column", 'unique' AS kind,
         CAST(key_nd AS DOUBLE) AS observed, CAST(NULL AS DOUBLE) AS threshold,
         key_nd = key_nn AS passed FROM agg
  UNION ALL
  SELECT 'key_not_null', 'o_orderkey', 'not_null_rate',
         ROUND(CAST(key_nn AS DOUBLE) / n, 6), 1.0,
         ROUND(CAST(key_nn AS DOUBLE) / n, 6) >= 1.0 FROM agg
  UNION ALL
  SELECT 'price_floor', 'o_totalprice', 'min', price_min, 0.0, price_min >= 0.0 FROM agg
  UNION ALL
  SELECT 'price_ceiling', 'o_totalprice', 'max', price_max, 1e7, price_max <= 1e7 FROM agg
  UNION ALL
  SELECT 'status_domain', 'o_orderstatus', 'in_set_rate',
         ROUND(CAST(status_in AS DOUBLE) / GREATEST(status_nn, 1), 6), 1.0,
         ROUND(CAST(status_in AS DOUBLE) / GREATEST(status_nn, 1), 6) >= 1.0 FROM agg
  UNION ALL
  SELECT 'priority_card', 'o_orderpriority', 'distinct_max',
         CAST(prio_nd AS DOUBLE), 5.0, prio_nd <= 5 FROM agg
) ORDER BY check_id
"""


def ext_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per user over purchase values: argmin/argmax via
    MIN/MAX over (ts, id, value) structs — one partial-aggregable pass,
    no window, one (user, day) exchange."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    bars = features.ohlc_resample(ev)
    return bars.select(
        "user_id",
        F.col("bucket").cast("date").alias("day"),
        F.round("open", 2).alias("open"),
        F.round("high", 2).alias("high"),
        F.round("low", 2).alias("low"),
        F.round("close", 2).alias("close"),
        "n",
    ).orderBy("user_id", "day")


EXT_OHLC_SQL = r"""
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
ranked AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM p
)
SELECT user_id, day,
       ROUND(MAX(CASE WHEN rn_first = 1 THEN value END), 2) AS open,
       ROUND(MAX(value), 2) AS high,
       ROUND(MIN(value), 2) AS low,
       ROUND(MAX(CASE WHEN rn_last = 1 THEN value END), 2) AS close,
       COUNT(*) AS n
FROM ranked GROUP BY user_id, day ORDER BY user_id, day
"""


def ext_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the EARLIEST purchase by the same user at or after
    the click (forward as-of join) — the other merge_asof direction,
    same one-shuffle union-window plan with the frame reversed."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = relational.asof_join(
        clicks, purchases, on="user_id", right_cols=["event_id", "value"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("event_id_right").alias("purchase_event_id"),
        F.round("value_right", 2).alias("purchase_value"),
    ).orderBy("event_id")


EXT_ASOF_FORWARD_SQL = r"""
SELECT c.event_id, c.user_id,
       p.event_id AS purchase_event_id,
       ROUND(p.value, 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts <= p.ts
ORDER BY c.event_id
"""


def ext_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering keys over (user_id, hour-of-stream) —
    the multi-dimensional layout primitive (OPTIMIZE ZORDER): pure
    integer bit-interleave, bit-replicable in SQL; cluster_by_zorder
    range-partitions on this key so every output file covers a compact
    (user, time) rectangle. The query checks the key math row-for-row."""
    ev = _t(spark, sf_dir, "events")
    hours = F.floor(
        (F.unix_timestamp("ts") - F.lit(1704067200)) / 3600
    ).cast("long")  # hours since 2024-01-01 (data epoch), non-negative
    keyed = ev.select(
        "event_id",
        F.col("user_id").cast("long").alias("u"),
        hours.alias("h"),
    )
    zkey = relational.zorder_key(["u", "h"], bits=16)
    return keyed.select("event_id", zkey.alias("zkey")).orderBy("event_id")


EXT_ZORDER_SQL = r"""
WITH base AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS u,
         CAST(FLOOR((epoch(ts) - 1704067200) / 3600) AS BIGINT) AS h
  FROM events
),
bits AS (
  SELECT event_id, u, h, gb.b AS b FROM base, generate_series(0, 15) gb(b)
),
terms AS (
  SELECT event_id,
         ((u // (1 << b)) % 2) * (1 << (2 * b))
           + ((h // (1 << b)) % 2) * (1 << (2 * b + 1)) AS term
  FROM bits
)
SELECT event_id, CAST(SUM(term) AS BIGINT) AS zkey
FROM terms GROUP BY event_id ORDER BY event_id
"""


EXT_QUERIES.update(
    {
        "ext_snapshot_diff": ext_snapshot_diff,
        "ext_expectations": ext_expectations,
        "ext_ohlc": ext_ohlc,
        "ext_asof_forward": ext_asof_forward,
        "ext_zorder_keys": ext_zorder_keys,
    }
)
EXT_ORACLES.update(
    {
        "ext_snapshot_diff": EXT_SNAPSHOT_DIFF_SQL,
        "ext_expectations": EXT_EXPECTATIONS_SQL,
        "ext_ohlc": EXT_OHLC_SQL,
        "ext_asof_forward": EXT_ASOF_FORWARD_SQL,
        "ext_zorder_keys": EXT_ZORDER_SQL,
    }
)


def ext_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split of the event stream: train < cutoff,
    2-day embargo, test after — per-split counts. Row-local predicate,
    O(3) output."""
    ev = _t(spark, sf_dir, "events")
    return (
        sampling.temporal_split(ev, "ts", "2024-01-20", embargo="2 days")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("split")
    )


EXT_TEMPORAL_SPLIT_SQL = r"""
SELECT CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'train'
            WHEN ts >= TIMESTAMP '2024-01-20' + INTERVAL 2 DAY THEN 'test'
            ELSE 'embargo' END AS split,
       COUNT(*) AS n_events
FROM events GROUP BY 1 ORDER BY split
"""


def ext_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: per-doc mean NLL under a
    corpus-trained add-one unigram model (top-50 vocab, deterministic
    tie-break). Tokens exchange once for counting; scoring is a broadcast
    vocab join — documents never shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text.unigram_nll(docs, vocab_size=50).orderBy("doc_id")


EXT_UNIGRAM_NLL_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE w <> ''),
counts AS (SELECT w, COUNT(*) AS cnt FROM toks2 GROUP BY w),
vocab AS (
  SELECT w, cnt FROM (
    SELECT w, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS r FROM counts
  ) WHERE r <= 50
),
scalars AS (
  SELECT (SELECT COUNT(*) FROM toks2) AS n_tokens,
         (SELECT COUNT(*) FROM vocab) AS v_size
),
scored AS (
  SELECT t.doc_id,
         -LN(CAST(COALESCE(v.cnt, 0) + 1 AS DOUBLE)
             / CAST(s.n_tokens + s.v_size + 1 AS DOUBLE)) AS nll
  FROM toks2 t LEFT JOIN vocab v USING (w) CROSS JOIN scalars s
)
SELECT doc_id, ROUND(AVG(nll), 6) AS mean_nll, COUNT(*) AS n_tokens_doc
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


EXT_QUERIES.update(
    {
        "ext_temporal_split": ext_temporal_split,
        "ext_unigram_nll": ext_unigram_nll,
    }
)
EXT_ORACLES.update(
    {
        "ext_temporal_split": EXT_TEMPORAL_SPLIT_SQL,
        "ext_unigram_nll": EXT_UNIGRAM_NLL_SQL,
    }
)


def ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI (min count 5): phrase mining over
    the corpus — two count exchanges, broadcast joins, k-bounded head.
    PMI rounded before ranking (rank order immune to float ulp)."""
    docs = _t(spark, sf_dir, "documents")
    return text.pmi_collocations(docs, min_count=5, k=50)


EXT_PMI_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS ws FROM documents
),
toks AS (
  SELECT unnest(ws) AS w FROM words
),
toks2 AS (SELECT * FROM toks WHERE w <> ''),
uni AS (SELECT w, COUNT(*) AS cw FROM toks2 GROUP BY w),
n_tok AS (SELECT COUNT(*) AS n FROM toks2),
pairs AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS gram
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
  WHERE len(ws) >= 2
),
big AS (SELECT gram, COUNT(*) AS cab FROM pairs GROUP BY gram HAVING COUNT(*) >= 5),
n_big AS (SELECT COUNT(*) AS b FROM pairs),
scored AS (
  SELECT g.gram, g.cab,
         ROUND(LN((CAST(g.cab AS DOUBLE) / b.b)
                  / ((CAST(u1.cw AS DOUBLE) / t.n) * (CAST(u2.cw AS DOUBLE) / t.n))), 6) AS pmi
  FROM big g
  JOIN uni u1 ON u1.w = string_split(g.gram, ' ')[1]
  JOIN uni u2 ON u2.w = string_split(g.gram, ' ')[2]
  CROSS JOIN n_tok t CROSS JOIN n_big b
)
SELECT gram, cab, pmi FROM scored ORDER BY pmi DESC, gram LIMIT 50
"""


EXT_QUERIES.update({"ext_pmi_collocations": ext_pmi_collocations})
EXT_ORACLES.update({"ext_pmi_collocations": EXT_PMI_SQL})


def ext_dedup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dedup-group semantics as ext_dedup_groups, computed with the
    large-star/small-star algorithm (O(log² n) rounds — the deep-graph
    escalation hash-min cannot handle past its round budget). Shares the
    recursive-CTE oracle with the hash-min query: two different iterative
    algorithms, one declarative ground truth."""
    docs = _t(spark, sf_dir, "documents")
    # df<=64 hot-shingle guard (r10): fixture-inert, oracle-mirrored —
    # see ext_dedup_groups (this query shares its oracle)
    # the star loop checkpoints its edge list eagerly — the inverted
    # index is then no longer referenced; the scope releases its pin
    with scope():
        pairs = dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_doc_freq=dedup.HOT_SHINGLE_MAX_DF
        )
        comp = dedup.connected_components_star(pairs)
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .withColumn("is_representative", F.col("doc_id") == F.col("component"))
        .orderBy("doc_id")
    )


EXT_QUERIES.update({"ext_dedup_groups_star": ext_dedup_groups_star})
EXT_ORACLES.update({"ext_dedup_groups_star": EXT_DEDUP_GROUPS_SQL})


def ext_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a bottom-k (KMV) uniform sample: 2000
    hash-least lineitem rows stand in for the full table; percentiles of
    l_extendedprice computed over the sample only. The selection is
    deterministic md5 order (TakeOrderedAndProject — no global sort), so
    the oracle replays the exact same sample; estimate-vs-exact error is
    property-tested separately."""
    from aircan_spark.ext import sketch as sk

    li = _t(spark, sf_dir, "lineitem")
    sample = sk.bottomk_sample(li, ["l_orderkey", "l_linenumber"], k=2000)
    return sample.agg(
        F.count(F.lit(1)).alias("k"),
        F.round(F.expr("percentile(l_extendedprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.75)"), 4).alias("p75"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
    )


EXT_SKETCH_QUANTILES_SQL = r"""
WITH sample AS (
  SELECT l_extendedprice
  FROM lineitem
  ORDER BY md5('42-' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))
  LIMIT 2000
)
SELECT COUNT(*) AS k,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90
FROM sample
"""


def ext_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-occurrence graph from user behavior (the collaborative-
    filtering support build): per user the distinct set of engaged items
    (events.props.k), all within-user item pairs, edges weighted by user
    count. Per-user fan-out is bounded by items-per-user (the classic
    guard: the self-join is keyed on user, never item). The support
    threshold is data-adaptive with a cap — LEAST(20, GREATEST(2,
    n_users*2 DIV 15)), broadcast in-plan: 150+ users (sf>=0.01) hit
    the historical 20 exactly; the 15-user sf0.001 fixture (max pair
    support 9) scales down to 2 instead of returning an empty, vacuous
    result."""
    ev = _t(spark, sf_dir, "events")
    # r12: `items` feeds the threshold scalar and BOTH self-join sides —
    # three executions of the JSON-parse + distinct pipeline. Eager
    # checkpoint (big=True: distinct user x item is data-proportional)
    # runs it once; object-scoped, so _cooc_edges' textually identical
    # items subtree in the other graph queries is NOT cross-query shared.
    from aircan_spark.data import checkpoint as _ckpt

    items = _ckpt(
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct(),
        big=True,
    )
    thr = items.agg(
        F.expr(
            "LEAST(CAST(20 AS BIGINT), "
            "GREATEST(CAST(2 AS BIGINT), COUNT(DISTINCT user_id) * 2 DIV 15))"
        ).alias("_thr")
    )
    a = items.select("user_id", F.col("item").alias("item_a"))
    b = items.select("user_id", F.col("item").alias("item_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .join(F.broadcast(thr))
        .filter(F.col("n_users") >= F.col("_thr"))
        .select("item_a", "item_b", "n_users")
        .orderBy(F.col("n_users").desc(), "item_a", "item_b")
    )


EXT_COOCCURRENCE_SQL = r"""
WITH items AS (
  SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
)
SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_users
FROM items a JOIN items b ON a.user_id = b.user_id AND a.item < b.item
GROUP BY 1, 2 HAVING COUNT(*) >= (
  SELECT LEAST(20, GREATEST(2, COUNT(DISTINCT user_id) * 2 // 15)) FROM items
)
ORDER BY n_users DESC, item_a, item_b
"""


EXT_QUERIES.update(
    {
        "ext_sketch_quantiles": ext_sketch_quantiles,
        "ext_cooccurrence": ext_cooccurrence,
    }
)
EXT_ORACLES.update(
    {
        "ext_sketch_quantiles": EXT_SKETCH_QUANTILES_SQL,
        "ext_cooccurrence": EXT_COOCCURRENCE_SQL,
    }
)


# --- round-3 wave: graph analytics over the co-occurrence graph --------------------


def _cooc_edges(spark: SparkSession, sf_dir: str, cap_users: int = 40) -> DataFrame:
    """Item co-occurrence edges — the shared base graph for the
    graph-analytics queries. The support threshold is data-adaptive
    with a cap: LEAST(cap_users, GREATEST(2, n_users*4 DIV 15)),
    computed in-plan from the distinct engaged-user count and
    broadcast. Calibration: 150 users (sf0.01) and above hit the cap
    exactly, so every SF the driver or past sweeps ever compared keeps
    its historical threshold (40) bit-for-bit; tiny fixtures (15 users
    at sf0.001, where max pair support is 9 and an absolute 40 produced
    an EMPTY graph — a vacuous-pass the sweep now hard-fails) scale the
    threshold down and yield a real graph. Integer arithmetic only, so
    both engines derive the identical threshold."""
    from aircan_spark.data import checkpoint

    ev = _t(spark, sf_dir, "events")
    # r12: `items` feeds the threshold scalar and BOTH self-join sides —
    # checkpoint it so the JSON-parse + distinct pipeline runs once per
    # edge build instead of three times (big=True: data-proportional).
    items = checkpoint(
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct(),
        big=True,
    )
    thr = items.agg(
        F.expr(
            f"LEAST(CAST({cap_users} AS BIGINT), "
            "GREATEST(CAST(2 AS BIGINT), COUNT(DISTINCT user_id) * 4 DIV 15))"
        ).alias("_thr")
    )
    a = items.select("user_id", F.col("item").alias("src"))
    b = items.select("user_id", F.col("item").alias("dst"))
    edges = (
        a.join(b, "user_id")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .join(F.broadcast(thr))
        .filter(F.col("n_users") >= F.col("_thr"))
        .select("src", "dst")
    )
    # r12: materialize the edge list ONCE (the kcore/clustering_coeff
    # pattern, now applied at the source). Every consumer references
    # `edges` several times (symmetrization, degree aggs, wedge joins,
    # edge counts), and per-branch column pruning specializes each copy
    # of this subtree so neither ReuseExchange nor AQE stage reuse can
    # dedupe them — measured on ext_rich_club: 96 parquet scans of
    # events / 370 Exchanges in one plan, the JSON-parse + distinct +
    # user self-join pipeline executed per branch. The eager checkpoint
    # runs the build exactly once and collapses every consumer plan to
    # a scan of the materialized frame (rich_club 3890 -> ~100 plan
    # lines); blocks are reaped by the ContextCleaner when the frame is
    # dropped, and on a cluster the same call is a reliable checkpoint
    # (aircan_spark.data.checkpoint).
    # r12 batch 3 (guide §5): LAZY — the consumer's first action (a
    # convergence count, or the query's own execution) materializes the
    # edge build in the same job instead of paying a stand-alone
    # checkpoint job per fn() call. Blocks/truncation identical; `items`
    # above stays eager (big=True persists-then-unpersists, which must
    # complete while its pin is held).
    return checkpoint(edges, eager=False)


_COOC_EDGES_SQL = r"""
items AS (
  SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
),
edges AS (
  SELECT a.item AS u, b.item AS v
  FROM items a JOIN items b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= (
    SELECT LEAST(40, GREATEST(2, COUNT(DISTINCT user_id) * 4 // 15))
    FROM items
  )
),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)
"""


def ext_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the co-occurrence graph: wedge enumeration from
    each triangle's minimum vertex + one closing equi-join — every
    triangle counted exactly once, no neighborhood cross products."""
    from aircan_spark.ext import graph

    return graph.triangle_count(_cooc_edges(spark, sf_dir))


EXT_TRIANGLES_SQL = (
    "WITH " + _COOC_EDGES_SQL + r"""
SELECT COUNT(*) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
"""
)


def ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 power iterations, d=0.85) on the undirected
    co-occurrence graph. Fixed iteration count makes the recurrence
    deterministic; the oracle unrolls the exact same 10 steps as chained
    CTEs — an iterative Spark loop checked value-for-value against
    declarative SQL."""
    from aircan_spark.ext import graph

    ranks = graph.pagerank(_cooc_edges(spark, sf_dir), iters=10)
    return ranks.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


def _pagerank_unrolled_sql(iters: int = 10, damping: float = 0.85) -> str:
    prev = "r0"
    ctes = [
        "deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u)",
        "nn AS (SELECT COUNT(*) AS c FROM deg)",
        "r0 AS (SELECT u AS id, 1.0 / (SELECT c FROM nn) AS rank FROM deg)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"r{i} AS (SELECT d.u AS id, (1 - {damping}) / (SELECT c FROM nn) "
            f"+ {damping} * COALESCE(s.inflow, 0) AS rank "
            f"FROM deg d LEFT JOIN (SELECT sym.v AS id, SUM(r.rank / dg.deg) AS inflow "
            f"FROM sym JOIN {prev} r ON sym.u = r.id JOIN deg dg ON sym.u = dg.u "
            f"GROUP BY sym.v) s ON d.u = s.id)"
        )
        prev = f"r{i}"
    return (
        "WITH "
        + _COOC_EDGES_SQL.strip().rstrip()
        + ",\n"
        + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(rank, 6) AS rank FROM {prev} ORDER BY id"
    )


EXT_PAGERANK_SQL = _pagerank_unrolled_sql()


def ext_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from item 0 over the co-occurrence graph —
    frontier expansion with anti-join dedup, one round per level, checked
    against the recursive-CTE shortest-hop oracle."""
    from aircan_spark.ext import graph

    depths = graph.bfs_depths(_cooc_edges(spark, sf_dir), source=0)
    return depths.orderBy("id")


EXT_BFS_SQL = (
    "WITH RECURSIVE " + _COOC_EDGES_SQL.strip() + r""",
reach(id, depth) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT sym.v, r.depth + 1 FROM sym JOIN reach r ON sym.u = r.id
  WHERE r.depth < 30
)
SELECT id, CAST(MIN(depth) AS INTEGER) AS depth FROM reach GROUP BY id ORDER BY id
"""
)


EXT_QUERIES.update(
    {
        "ext_triangles": ext_triangles,
        "ext_pagerank": ext_pagerank,
        "ext_bfs": ext_bfs,
    }
)
EXT_ORACLES.update(
    {
        "ext_triangles": EXT_TRIANGLES_SQL,
        "ext_pagerank": EXT_PAGERANK_SQL,
        "ext_bfs": EXT_BFS_SQL,
    }
)


def ext_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (|A∩B|/|A| >= 0.5) with a planted
    contained document: doc -1 is the first half of doc 0's shingles, so
    (-1 -> 0) must clear the threshold even though symmetric Jaccard
    would not. Same inverted-index join shape as the Jaccard operator.

    Runs GUARDED (max_doc_freq=10): shingles appearing in more than 10
    documents are pruned before the candidate join, bounding per-key
    fan-in regardless of corpus hot spots, and containment is scored
    over the surviving discriminative shingle universe (see
    ``dedup.containment_pairs``). The guard is ACTIVE at sf0.01+
    (shingle df reaches 7 at sf0.01, 25 at sf0.1 — 2.7x fewer candidate
    rows at sf0.1), so the benched plan is the 100-TB plan. The planted
    pair scores exactly 1.0 under any cap because every discriminative
    shingle of doc -1 is by construction in doc 0."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), r"\s+")
    half = docs.filter(F.col("doc_id") == 0).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.array_join(F.slice(words, 1, F.floor(F.size(words) / 2).cast("int")), " ").alias("text"),
    )
    return dedup.containment_pairs(
        docs.unionByName(half), threshold=0.5, max_doc_freq=10
    )


EXT_CONTAINMENT_SQL = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT CAST(-1 AS BIGINT),
         array_to_string(
           (string_split_regex(TRIM(text), '\s+'))[1 :
             CAST(len(string_split_regex(TRIM(text), '\s+')) // 2 AS BIGINT)], ' ')
  FROM documents WHERE doc_id = 0
),
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(text), '\s+')) AS w,
         generate_subscripts(string_split_regex(TRIM(text), '\s+'), 1) AS i
  FROM base
),
sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
short_docs AS (
  SELECT doc_id, array_to_string(string_split_regex(TRIM(text), '\s+'), ' ') AS whole
  FROM base
  WHERE len(string_split_regex(TRIM(text), '\s+')) < 3
),
sh_all AS (
  SELECT doc_id, shingle FROM sh
  UNION
  SELECT doc_id, whole FROM short_docs
),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh_all GROUP BY 1),
joinable AS (
  SELECT s.doc_id, s.shingle
  FROM sh_all s JOIN dfreq d ON s.shingle = d.shingle
  WHERE d.df <= 10
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM joinable GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
  FROM joinable x JOIN joinable y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE), 6) AS containment
FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
WHERE ROUND(CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE), 6) >= 0.5
ORDER BY id_a, id_b
"""


def ext_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation telemetry: per source, exact-duplicate rate (1 - distinct
    normalized contents / docs) — the per-feed health metric a corpus
    pipeline tracks per crawl. One groupBy on (source, content hash),
    one tiny rollup."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary"))
    per = (
        docs.withColumn("__h", h)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("__h").alias("n_unique"),
        )
    )
    return per.select(
        "source",
        "n_docs",
        "n_unique",
        F.round(
            F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
    ).orderBy("source")


EXT_DUP_RATE_SQL = r"""
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')))) AS n_unique,
       ROUND(1.0 - CAST(COUNT(DISTINCT md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')))) AS DOUBLE)
             / COUNT(*), 6) AS dup_rate
FROM documents GROUP BY source ORDER BY source
"""


def ext_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew advisor for a prospective join/agg key: top-10
    heaviest keys with their share of all rows plus p50/p99 key sizes —
    the numbers that decide salting/AQE-skew-join before a 100 TB
    shuffle. Two partial-agged exchanges (key counts, then O(keys)
    stats), k-bounded head."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(
        F.sum("n").alias("total"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.99)").alias("p99"),
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("l_suppkey").alias("key"),
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
            F.round(F.col("n") / F.col("p50"), 2).alias("x_median"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(10)
    )


EXT_SKEW_AUDIT_SQL = r"""
WITH counts AS (
  SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
),
tot AS (
  SELECT SUM(n) AS total, quantile_cont(n, 0.5) AS p50 FROM counts
)
SELECT key, n,
       ROUND(CAST(n AS DOUBLE) / total, 6) AS share,
       ROUND(CAST(n AS DOUBLE) / p50, 2) AS x_median
FROM counts CROSS JOIN tot
ORDER BY n DESC, key LIMIT 10
"""


EXT_QUERIES.update(
    {
        "ext_containment_pairs": ext_containment_pairs,
        "ext_dup_rate_by_source": ext_dup_rate_by_source,
        "ext_skew_audit": ext_skew_audit,
    }
)
EXT_ORACLES.update(
    {
        "ext_containment_pairs": EXT_CONTAINMENT_SQL,
        "ext_dup_rate_by_source": EXT_DUP_RATE_SQL,
        "ext_skew_audit": EXT_SKEW_AUDIT_SQL,
    }
)


