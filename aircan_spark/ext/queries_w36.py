"""Declared-query waves: round-5 wave: hierarchical forecast
reconciliation; round-5 wave: SNIPS off-policy evaluation; round-5
wave: order basket diversity.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Determinism: trend fits reduce to exact BIGINT month-axis moments per
node; SNIPS weights are per-stratum constants times exact counts;
per-order entropies quantize to integer micro-units before averaging.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w35 import *  # noqa: F401,F403


# --- round-5 wave: hierarchical forecast reconciliation -----------------------------


def ext_forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast coherence audit: a linear-trend forecast of
    next month's revenue fitted DIRECTLY at the region level vs the
    BOTTOM-UP sum of per-nation fits — for plain OLS on a shared time
    axis these must agree exactly (regression is linear in the
    response), so the reported gap measures nothing but numerical
    honesty, and any future nonlinear model's gap reads against this
    zero baseline. The hierarchical-coherence check every rollup
    forecast needs.

    The nation x month grid is ZERO-FILLED (a nation with no orders in
    a month contributes an exact 0) so every node shares the same time
    axis — without the fill, unbalanced month coverage breaks the
    linearity identity and the gap stops being a correctness pin.

    Scale shape: fact-to-(nation, month) rollup, a broadcast spine
    fill, trend fits from exact moments on the O(nations x months)
    axis, O(regions) output."""
    # r13 (guide §5): mo_raw feeds the spine distinct, the nations
    # distinct AND the zero-fill left join — un-persisted, the
    # 3-table join + rollup ran 3x (the before plan carried 60
    # parquet scans / 150 Exchanges). Bounded (nations x months) ->
    # default level.
    mo_raw = share(
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
                )
            ),
            "c_nationkey",
        )
        .groupBy(
            "n_regionkey",
            "c_nationkey",
            F.expr(
                "(YEAR(o_orderdate) - 1995)*12 + MONTH(o_orderdate) - 1"
            ).alias("mo"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) DIV 100"
                " AS BIGINT)"
            ).alias("y")
        )
    )
    spine = mo_raw.select("mo").distinct()
    nations = mo_raw.select("n_regionkey", "c_nationkey").distinct()
    # r13: the zero-filled grid feeds the horizon scalar and BOTH
    # trend fits (nation-level + region-direct) — same bounded size
    # as mo_raw, same persist rationale.
    mo = share(
        nations.crossJoin(F.broadcast(spine))
        .join(mo_raw, ["n_regionkey", "c_nationkey", "mo"], "left")
        .select(
            "n_regionkey",
            "c_nationkey",
            "mo",
            F.expr("COALESCE(y, 0L)").alias("y"),
        )
    )
    horizon = mo.agg(F.max("mo").alias("mmax"))

    def _fit(df, keys):
        g = df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("mo").alias("st"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("mo*mo")).alias("stt"),
            F.sum(F.expr("mo*y")).alias("sty"),
        )
        return g.crossJoin(F.broadcast(horizon)).select(
            *keys,
            F.expr(
                "CAST(sy AS DOUBLE)/n"
                " + (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)*sy/n)"
                "   /(CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*st/n)"
                "   *((mmax + 1) - CAST(st AS DOUBLE)/n)"
            ).alias("fc"),
        )

    nation_fc = _fit(mo, ["n_regionkey", "c_nationkey"])
    region_direct = _fit(
        mo.groupBy("n_regionkey", "mo").agg(F.sum("y").alias("y")),
        ["n_regionkey"],
    ).select("n_regionkey", F.col("fc").alias("direct_fc"))
    bottom_up = nation_fc.groupBy("n_regionkey").agg(
        F.sum("fc").alias("bu_fc"), F.count(F.lit(1)).alias("n_nations")
    )
    return (
        region_direct.join(bottom_up, "n_regionkey")
        .select(
            F.col("n_regionkey").alias("region"),
            "n_nations",
            F.expr("ROUND(direct_fc/1e0, 2)").alias("direct_forecast"),
            F.expr("ROUND(bu_fc/1e0, 2)").alias("bottom_up_forecast"),
            F.expr("ROUND(ABS(direct_fc - bu_fc), 2)").alias("abs_gap"),
            F.expr(
                "ROUND(ABS(direct_fc - bu_fc)/ABS(direct_fc), 6)"
            ).alias("rel_gap"),
        )
        .orderBy("region")
    )


EXT_FORECAST_RECONCILIATION_SQL = r"""
WITH mo_raw AS (
  SELECT n.n_regionkey, c.c_nationkey,
         (YEAR(o_orderdate) - 1995)*12 + MONTH(o_orderdate) - 1 AS mo,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) // 100 AS BIGINT) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2, 3
),
mo AS (
  SELECT na.n_regionkey, na.c_nationkey, sp.mo, COALESCE(r.y, 0) AS y
  FROM (SELECT DISTINCT n_regionkey, c_nationkey FROM mo_raw) na
  CROSS JOIN (SELECT DISTINCT mo FROM mo_raw) sp
  LEFT JOIN mo_raw r ON r.n_regionkey = na.n_regionkey
    AND r.c_nationkey = na.c_nationkey AND r.mo = sp.mo
),
horizon AS (SELECT MAX(mo) AS mmax FROM mo),
nation_fit AS (
  SELECT n_regionkey, c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mo) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(mo*mo) AS BIGINT) AS stt, CAST(SUM(mo*y) AS BIGINT) AS sty
  FROM mo GROUP BY 1, 2
),
nation_fc AS (
  SELECT n_regionkey, c_nationkey,
         CAST(sy AS DOUBLE)/n
         + (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)*sy/n)
           /(CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*st/n)
           *((h.mmax + 1) - CAST(st AS DOUBLE)/n) AS fc
  FROM nation_fit CROSS JOIN horizon h
),
region_mo AS (
  SELECT n_regionkey, mo, CAST(SUM(y) AS BIGINT) AS y
  FROM mo GROUP BY 1, 2
),
region_fit AS (
  SELECT n_regionkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mo) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(mo*mo) AS BIGINT) AS stt, CAST(SUM(mo*y) AS BIGINT) AS sty
  FROM region_mo GROUP BY 1
),
region_direct AS (
  SELECT n_regionkey,
         CAST(sy AS DOUBLE)/n
         + (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)*sy/n)
           /(CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*st/n)
           *((h.mmax + 1) - CAST(st AS DOUBLE)/n) AS direct_fc
  FROM region_fit CROSS JOIN horizon h
),
bottom_up AS (
  SELECT n_regionkey, SUM(fc) AS bu_fc, COUNT(*) AS n_nations
  FROM nation_fc GROUP BY 1
)
SELECT d.n_regionkey AS region,
       CAST(b.n_nations AS BIGINT) AS n_nations,
       ROUND(d.direct_fc/1e0, 2) AS direct_forecast,
       ROUND(b.bu_fc/1e0, 2) AS bottom_up_forecast,
       ROUND(ABS(d.direct_fc - b.bu_fc), 2) AS abs_gap,
       ROUND(ABS(d.direct_fc - b.bu_fc)/ABS(d.direct_fc), 6) AS rel_gap
FROM region_direct d JOIN bottom_up b ON b.n_regionkey = d.n_regionkey
ORDER BY region
"""


EXT_QUERIES.update({"ext_forecast_reconciliation": ext_forecast_reconciliation})
EXT_ORACLES.update(
    {"ext_forecast_reconciliation": EXT_FORECAST_RECONCILIATION_SQL}
)


# --- round-5 wave: SNIPS off-policy evaluation --------------------------------------


def ext_snips_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-normalized IPS (SNIPS) off-policy evaluation: what revenue
    per lineitem would the targeting policy 'discount exactly the
    large-size parts (p_size > 25)' have produced, estimated from the
    logged discount decisions re-weighted by the per-brand logging
    propensities — the counterfactual policy readout (X279 estimates
    an average EFFECT; this evaluates a specific POLICY). The
    self-normalization makes it invariant to propensity scaling.
    Weights are per-(brand, action) constants times exact sums.

    Scale shape: one joined pass to O(brand x 2 x 2) exact cells; the
    SNIPS ratio combines on that tiny axis."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_discount") >= 0.05).cast("int").alias("a"),
        F.expr(
            "CAST(ROUND(l_extendedprice*(1 - l_discount)*100) AS BIGINT)"
        ).alias("rc"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        "p_brand",
        (F.col("p_size") > 25).cast("int").alias("pi_a"),
    )
    cells = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand", "a", "pi_a")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rc").alias("sr"))
    )
    prop = cells.groupBy("p_brand").agg(
        F.expr(
            "LEAST(GREATEST(CAST(SUM(CASE WHEN a = 1 THEN n ELSE 0 END)"
            " AS DOUBLE)/SUM(n), 0.05), 0.95)"
        ).alias("e")
    )
    scored = cells.join(F.broadcast(prop), "p_brand").select(
        "n",
        "sr",
        F.expr("CAST(a = pi_a AS INT)").alias("match"),
        F.expr("CASE WHEN a = 1 THEN 1.0/e ELSE 1.0/(1.0 - e) END").alias("w"),
    )
    return scored.agg(
        F.sum("n").alias("n_rows"),
        F.expr("ROUND(SUM(CAST(sr AS DOUBLE))/SUM(n)/1e2, 4)").alias(
            "logged_value"
        ),
        F.expr(
            "ROUND(SUM(match*w*CAST(sr AS DOUBLE))/SUM(match*w*n)/1e2, 4)"
        ).alias("snips_policy_value"),
        F.expr(
            "ROUND(SUM(match*w*CAST(sr AS DOUBLE))/SUM(match*w*n)"
            "/(SUM(CAST(sr AS DOUBLE))/SUM(n)) - 1, 6)"
        ).alias("policy_lift"),
    )


EXT_SNIPS_POLICY_VALUE_SQL = r"""
WITH li AS (
  SELECT p.p_brand,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS a,
         CASE WHEN p.p_size > 25 THEN 1 ELSE 0 END AS pi_a,
         CAST(ROUND(l_extendedprice*(1 - l_discount)*100) AS BIGINT) AS rc
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
cells AS (
  SELECT p_brand, a, pi_a,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rc) AS BIGINT) AS sr
  FROM li GROUP BY 1, 2, 3
),
prop AS (
  SELECT p_brand,
         LEAST(GREATEST(CAST(SUM(CASE WHEN a = 1 THEN n ELSE 0 END)
               AS DOUBLE)/SUM(n), 0.05), 0.95) AS e
  FROM cells GROUP BY 1
),
scored AS (
  SELECT c.n, c.sr,
         CAST(c.a = c.pi_a AS INTEGER) AS match,
         CASE WHEN c.a = 1 THEN 1.0/p.e ELSE 1.0/(1.0 - p.e) END AS w
  FROM cells c JOIN prop p ON p.p_brand = c.p_brand
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       ROUND(SUM(CAST(sr AS DOUBLE))/SUM(n)/1e2, 4) AS logged_value,
       ROUND(SUM(match*w*CAST(sr AS DOUBLE))/SUM(match*w*n)/1e2, 4)
         AS snips_policy_value,
       ROUND(SUM(match*w*CAST(sr AS DOUBLE))/SUM(match*w*n)
             /(SUM(CAST(sr AS DOUBLE))/SUM(n)) - 1, 6) AS policy_lift
FROM scored
"""


EXT_QUERIES.update({"ext_snips_policy_value": ext_snips_policy_value})
EXT_ORACLES.update({"ext_snips_policy_value": EXT_SNIPS_POLICY_VALUE_SQL})


# --- round-5 wave: order basket diversity -------------------------------------------


def ext_basket_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket diversity of multi-line orders: average effective number
    of brands per order (exp of the within-order brand entropy,
    quantized to micro-units before averaging), the single-brand
    share, and exact nearest-rank p50/p90 basket sizes off the
    collapsed size axis — the assortment view of purchasing behavior
    that X181's association rules (pair-level) cannot summarize.

    Scale shape: one order-brand rollup, one per-order entropy agg,
    collapsed-axis quantiles; no cross-order explosion."""
    ob = (
        _t(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "part").select(
                    F.col("p_partkey").alias("l_partkey"), "p_brand"
                )
            ),
            "l_partkey",
        )
        .groupBy("l_orderkey", "p_brand")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wob = Window.partitionBy("l_orderkey")
    ob2 = ob.withColumn("tot", F.sum("c").over(wob))
    orders = ob2.groupBy("l_orderkey").agg(
        F.max("tot").alias("sz"),
        F.count(F.lit(1)).alias("nb"),
        F.expr(
            "CAST(ROUND(EXP(-SUM((CAST(c AS DOUBLE)/tot)"
            "*LN(CAST(c AS DOUBLE)/tot)))*1e6) AS BIGINT)"
        ).alias("eff_q"),
    )
    szs = orders.groupBy("sz").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy("sz").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = szs.withColumn("cc", F.sum("cnt").over(wv)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    p50 = cum.filter("2*cc >= n").agg(F.min("sz").alias("p50"))
    p90 = cum.filter("10*cc >= 9*n").agg(F.min("sz").alias("p90"))
    base = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("ROUND(AVG(CAST(sz AS DOUBLE)), 4)").alias("avg_basket_size"),
        F.expr("ROUND(AVG(CAST(nb = 1 AS DOUBLE)), 6)").alias(
            "single_brand_share"
        ),
        F.expr("ROUND(CAST(SUM(eff_q) AS DOUBLE)/COUNT(*)/1e6, 4)").alias(
            "avg_effective_brands"
        ),
    )
    return (
        base.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p90))
        .select(
            "n_orders",
            "avg_basket_size",
            "single_brand_share",
            "avg_effective_brands",
            F.col("p50").alias("p50_basket"),
            F.col("p90").alias("p90_basket"),
        )
    )


EXT_BASKET_DIVERSITY_SQL = r"""
WITH ob AS (
  SELECT l_orderkey, p.p_brand, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
ob2 AS (
  SELECT l_orderkey, c,
         SUM(c) OVER (PARTITION BY l_orderkey) AS tot
  FROM ob
),
orders AS (
  SELECT l_orderkey,
         CAST(MAX(tot) AS BIGINT) AS sz,
         CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(ROUND(EXP(-SUM((CAST(c AS DOUBLE)/tot)
              *LN(CAST(c AS DOUBLE)/tot)))*1e6) AS BIGINT) AS eff_q
  FROM ob2 GROUP BY l_orderkey
),
szs AS (SELECT sz, COUNT(*) AS cnt FROM orders GROUP BY sz),
cum AS (
  SELECT sz,
         SUM(cnt) OVER (ORDER BY sz
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(cnt) OVER () AS n
  FROM szs
),
p50 AS (SELECT MIN(sz) AS p50 FROM cum WHERE 2*cc >= n),
p90 AS (SELECT MIN(sz) AS p90 FROM cum WHERE 10*cc >= 9*n)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(AVG(CAST(sz AS DOUBLE)), 4) AS avg_basket_size,
       ROUND(AVG(CAST(nb = 1 AS DOUBLE)), 6) AS single_brand_share,
       ROUND(CAST(SUM(eff_q) AS DOUBLE)/COUNT(*)/1e6, 4) AS avg_effective_brands,
       MAX(p.p50) AS p50_basket,
       MAX(q.p90) AS p90_basket
FROM orders CROSS JOIN p50 p CROSS JOIN p90 q
"""


EXT_QUERIES.update({"ext_basket_diversity": ext_basket_diversity})
EXT_ORACLES.update({"ext_basket_diversity": EXT_BASKET_DIVERSITY_SQL})
