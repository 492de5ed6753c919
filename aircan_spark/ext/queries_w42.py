"""Declared-query waves: round-5 wave: two-component Poisson mixture
EM; round-5 wave: Western Electric control rules; round-5 wave:
Wilcoxon signed-rank test.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Determinism: the EM runs entirely on the collapsed O(distinct counts)
axis with responsibilities and lambdas quantized to exact integers
every round; control-rule flags are exact window counts of identically-
computed z thresholds; signed-rank statistics use half-unit integer
average ranks so ties are exact.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w41 import *  # noqa: F401,F403


# --- round-5 wave: two-component Poisson mixture EM ----------------------------------


def ext_poisson_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Poisson mixture fit to per-user purchase counts by
    5 unrolled EM rounds — the model-based version of X419's
    zero-inflation question: are there casual and power purchasers,
    and with what rates and mix? The entire EM runs on the COLLAPSED
    count histogram (responsibilities depend only on k), factorials
    cancel in the responsibility ratio, and lambdas/pi re-quantize to
    integer micro-units every round so both engines iterate on
    identical numbers. Deterministic moment-based init
    (lambda = mean/2 and mean*2, pi = 1/2).

    Scale shape: one per-user count pass, then 5 EM rounds of O(60)
    arithmetic on the histogram axis."""
    # r13 (guide §5): hist feeds the init scalars AND all five EM
    # cross-joins — un-persisted, the per-user count pass over
    # events ran 6x per execution. Bounded (O(distinct k) rows) ->
    # default level.
    hist = share(
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum(F.expr("CAST(event_type = 'purchase' AS LONG)")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    init = hist.agg(
        F.expr(
            "CAST(ROUND(CAST(SUM(k*c) AS DOUBLE)/SUM(c)/2*1e6) AS BIGINT)"
        ).alias("l1q"),
        F.expr(
            "CAST(ROUND(CAST(SUM(k*c) AS DOUBLE)/SUM(c)*2*1e6) AS BIGINT)"
        ).alias("l2q"),
        F.lit(500000).cast("long").alias("pq"),
        F.sum("c").alias("n"),
    )
    params = init
    for _ in range(5):
        j = hist.crossJoin(F.broadcast(params))
        resp = j.select(
            "k",
            "c",
            "n",
            F.expr(
                "CAST(ROUND(1e9/(1.0 + (1e6 - pq)/CAST(pq AS DOUBLE)"
                "*EXP(k*(LN(l2q/1e6) - LN(l1q/1e6))"
                "     + l1q/1e6 - l2q/1e6))) AS BIGINT)"
            ).alias("rq"),
        )
        params = resp.agg(
            F.expr(
                "CAST(ROUND(CAST(SUM(rq*c*k) AS DOUBLE)/SUM(rq*c)*1e6)"
                " AS BIGINT)"
            ).alias("l1q"),
            F.expr(
                "CAST(ROUND(CAST(SUM((1000000000 - rq)*c*k) AS DOUBLE)"
                "/SUM((1000000000 - rq)*c)*1e6) AS BIGINT)"
            ).alias("l2q"),
            F.expr(
                "CAST(ROUND(CAST(SUM(rq*c) AS DOUBLE)/SUM(c)/1e3) AS BIGINT)"
            ).alias("pq"),
            F.max("n").alias("n"),
        )
    return params.select(
        F.col("n").alias("n_users"),
        F.expr("ROUND(l1q/1e6, 4)").alias("lambda_low"),
        F.expr("ROUND(l2q/1e6, 4)").alias("lambda_high"),
        F.expr("ROUND(pq/1e6, 6)").alias("pi_low"),
    )


def _pm_sql() -> str:
    rounds = []
    prev = "p0"
    for i in range(1, 6):
        rounds.append(f"""
r{i} AS (
  SELECT h.k, h.c, p.n,
         CAST(ROUND(1e9/(1.0 + (1e6 - p.pq)/CAST(p.pq AS DOUBLE)
              *EXP(h.k*(LN(p.l2q/1e6) - LN(p.l1q/1e6))
                   + p.l1q/1e6 - p.l2q/1e6))) AS BIGINT) AS rq
  FROM hist h CROSS JOIN {prev} p
),
p{i} AS (
  SELECT CAST(ROUND(CAST(SUM(rq*c*k) AS DOUBLE)/SUM(rq*c)*1e6) AS BIGINT)
           AS l1q,
         CAST(ROUND(CAST(SUM((1000000000 - rq)*c*k) AS DOUBLE)
              /SUM((1000000000 - rq)*c)*1e6) AS BIGINT) AS l2q,
         CAST(ROUND(CAST(SUM(rq*c) AS DOUBLE)/SUM(c)/1e3) AS BIGINT) AS pq,
         MAX(n) AS n
  FROM r{i}
)""")
        prev = f"p{i}"
    return (
        """
WITH hist AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT user_id,
           CAST(SUM(CAST(event_type = 'purchase' AS BIGINT)) AS BIGINT) AS k
    FROM events GROUP BY user_id
  ) GROUP BY k
),
p0 AS (
  SELECT CAST(ROUND(CAST(SUM(k*c) AS DOUBLE)/SUM(c)/2*1e6) AS BIGINT) AS l1q,
         CAST(ROUND(CAST(SUM(k*c) AS DOUBLE)/SUM(c)*2*1e6) AS BIGINT) AS l2q,
         CAST(500000 AS BIGINT) AS pq,
         CAST(SUM(c) AS BIGINT) AS n
  FROM hist
),"""
        + ",".join(rounds)
        + """
SELECT n AS n_users,
       ROUND(l1q/1e6, 4) AS lambda_low,
       ROUND(l2q/1e6, 4) AS lambda_high,
       ROUND(pq/1e6, 6) AS pi_low
FROM p5
"""
    )


EXT_QUERIES.update({"ext_poisson_mixture": ext_poisson_mixture})
EXT_ORACLES.update({"ext_poisson_mixture": _pm_sql()})


# --- round-5 wave: Western Electric control rules ------------------------------------


def ext_western_electric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric run rules on the daily-revenue control chart:
    days violating R1 (one beyond 3 sigma), R2 (2 of 3 consecutive
    beyond 2 sigma, same side), R3 (4 of 5 beyond 1 sigma, same side),
    R4 (8 consecutive on one side of center) — the full SPC rulebook
    where X252's EWMA watches only drift; the run rules catch
    oscillation and stratification too. z-scores from exact BIGINT
    moments; every rule is an exact window count.

    Scale shape: collapse to O(days), one moment row, four trailing
    windows on the day axis."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).alias("y"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        # DECIMAL moment: y is the daily cent sum (~1.7e8*SF); int64
        # SUM(y*y) crosses 2^63 at ~sf3.3 (the ext_bullwhip pattern)
        F.sum(F.expr("CAST(y AS DECIMAL(19,0))*CAST(y AS DECIMAL(19,0))")).alias("q"),
    )
    z = daily.crossJoin(F.broadcast(mom)).select(
        "day",
        F.expr(
            "(CAST(y AS DOUBLE) - CAST(s AS DOUBLE)/n)"
            "/SQRT(CAST(q AS DOUBLE)/n - POW(CAST(s AS DOUBLE)/n, 2))"
        ).alias("z"),
    )
    w3 = Window.orderBy("day").rowsBetween(-2, 0)
    w5 = Window.orderBy("day").rowsBetween(-4, 0)
    w8 = Window.orderBy("day").rowsBetween(-7, 0)
    flags = (
        z.withColumn("r1", F.expr("CAST(ABS(z) > 3.0 AS INT)"))
        .withColumn("hi2", F.sum(F.expr("CAST(z > 2.0 AS INT)")).over(w3))
        .withColumn("lo2", F.sum(F.expr("CAST(z < -2.0 AS INT)")).over(w3))
        .withColumn("n3", F.count(F.lit(1)).over(w3))
        .withColumn("hi1", F.sum(F.expr("CAST(z > 1.0 AS INT)")).over(w5))
        .withColumn("lo1", F.sum(F.expr("CAST(z < -1.0 AS INT)")).over(w5))
        .withColumn("n5", F.count(F.lit(1)).over(w5))
        .withColumn("hi0", F.sum(F.expr("CAST(z > 0.0 AS INT)")).over(w8))
        .withColumn("lo0", F.sum(F.expr("CAST(z < 0.0 AS INT)")).over(w8))
        .withColumn("n8", F.count(F.lit(1)).over(w8))
        .select(
            "r1",
            F.expr(
                "CAST(n3 = 3 AND (hi2 >= 2 OR lo2 >= 2) AS INT)"
            ).alias("r2"),
            F.expr(
                "CAST(n5 = 5 AND (hi1 >= 4 OR lo1 >= 4) AS INT)"
            ).alias("r3"),
            F.expr(
                "CAST(n8 = 8 AND (hi0 = 8 OR lo0 = 8) AS INT)"
            ).alias("r4"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("r1").alias("r1_days"),
        F.sum("r2").alias("r2_days"),
        F.sum("r3").alias("r3_days"),
        F.sum("r4").alias("r4_days"),
        F.sum(
            F.expr("CAST(r1 = 1 OR r2 = 1 OR r3 = 1 OR r4 = 1 AS LONG)")
        ).alias("any_violation_days"),
    )


EXT_WESTERN_ELECTRIC_SQL = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s,
         SUM(CAST(y AS HUGEINT)*CAST(y AS HUGEINT)) AS q
  FROM daily
),
z AS (
  SELECT day,
         (CAST(y AS DOUBLE) - CAST(s AS DOUBLE)/n)
           /SQRT(CAST(q AS DOUBLE)/n - POW(CAST(s AS DOUBLE)/n, 2)) AS z
  FROM daily CROSS JOIN mom
),
flags AS (
  SELECT CAST(ABS(z) > 3.0 AS INTEGER) AS r1,
         CAST(COUNT(*) OVER w3 = 3 AND
              (SUM(CAST(z > 2.0 AS INTEGER)) OVER w3 >= 2
               OR SUM(CAST(z < -2.0 AS INTEGER)) OVER w3 >= 2) AS INTEGER) AS r2,
         CAST(COUNT(*) OVER w5 = 5 AND
              (SUM(CAST(z > 1.0 AS INTEGER)) OVER w5 >= 4
               OR SUM(CAST(z < -1.0 AS INTEGER)) OVER w5 >= 4) AS INTEGER) AS r3,
         CAST(COUNT(*) OVER w8 = 8 AND
              (SUM(CAST(z > 0.0 AS INTEGER)) OVER w8 = 8
               OR SUM(CAST(z < 0.0 AS INTEGER)) OVER w8 = 8) AS INTEGER) AS r4
  FROM z
  WINDOW w3 AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w5 AS (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w8 AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(r1) AS BIGINT) AS r1_days,
       CAST(SUM(r2) AS BIGINT) AS r2_days,
       CAST(SUM(r3) AS BIGINT) AS r3_days,
       CAST(SUM(r4) AS BIGINT) AS r4_days,
       CAST(SUM(CAST(r1 = 1 OR r2 = 1 OR r3 = 1 OR r4 = 1 AS BIGINT)) AS BIGINT)
         AS any_violation_days
FROM flags
"""


EXT_QUERIES.update({"ext_western_electric": ext_western_electric})
EXT_ORACLES.update({"ext_western_electric": EXT_WESTERN_ELECTRIC_SQL})


# --- round-5 wave: Wilcoxon signed-rank test -----------------------------------------


def ext_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of second-half vs first-half spend for
    the SAME users — the nonparametric paired test the survivorship
    audit (X393) motivates (means move with outliers; signed ranks do
    not). Zero differences drop (standard practice); average ranks
    over the collapsed |d| axis are exact HALF-UNIT integers
    (2*rank_avg = 2*cum_prev + cnt + 1), so ties cost nothing; the
    normal approximation carries the exact tie-correction term.

    Overflow margins (r10 window-moment audit): the over-margin
    operation is the CUBIC tie term SUM(cnt^3 - cnt) — cnt is the
    number of users sharing one |d| value, and a peaked difference
    distribution can concentrate users on few values (worst case
    n^3 = 3.4e21 at sf1000's 1.5e7 users, past 2^63 at cnt ~ 2.1e6),
    so the cube runs in DECIMAL(38)/HUGEINT (same exact integers,
    same final double conversion). The rank sum SUM(rank2*npos) is
    bounded by n*(n+1) ~ 2.3e14 at sf1000 (4e4x margin) and stays
    int64.

    Scale shape: one per-user conditional agg, an O(distinct |d|)
    cumulative sweep, one scalar combine."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN CAST(ts AS DATE) >= DATE'2024-01-16'"
                    " THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0L END"
                )
            ).alias("y2"),
            F.sum(
                F.expr(
                    "CASE WHEN CAST(ts AS DATE) < DATE'2024-01-16'"
                    " THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0L END"
                )
            ).alias("y1"),
        )
        .select(F.expr("y2 - y1").alias("d"))
        .filter("d <> 0")
    )
    g = d.groupBy(F.expr("ABS(d)").alias("ad")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.expr("CAST(d > 0 AS LONG)")).alias("npos"),
    )
    wall = Window.partitionBy()
    ranked = (
        g.withColumn("cum_prev", F.expr("COALESCE(SUM(cnt) OVER "
                                        "(ORDER BY ad ROWS BETWEEN UNBOUNDED"
                                        " PRECEDING AND 1 PRECEDING), 0L)"))
        .withColumn("n", F.sum("cnt").over(wall))
        .select(
            "n",
            "cnt",
            "npos",
            F.expr("(2*cum_prev + cnt + 1)").alias("rank2"),
        )
    )
    m = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.expr("rank2*npos")).alias("t2plus"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(19,0))*cnt*cnt - cnt")).alias(
            "tie_term"
        ),
    )
    return m.select(
        F.col("n").alias("n_pairs"),
        F.expr("ROUND(CAST(t2plus AS DOUBLE)/2, 1)").alias("t_plus"),
        F.expr(
            "ROUND((CAST(t2plus AS DOUBLE)/2 - CAST(n AS DOUBLE)*(n + 1)/4)"
            "/SQRT(CAST(n AS DOUBLE)*(n + 1)*(2*n + 1)/24"
            "      - CAST(tie_term AS DOUBLE)/48), 4)"
        ).alias("z"),
    )


EXT_WILCOXON_SIGNED_RANK_SQL = r"""
WITH d AS (
  SELECT y2 - y1 AS d
  FROM (
    SELECT user_id,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                         THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS y2,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                         THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS y1
    FROM events GROUP BY user_id
  )
  WHERE y2 - y1 <> 0
),
g AS (
  SELECT ABS(d) AS ad, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(d > 0 AS BIGINT)) AS BIGINT) AS npos
  FROM d GROUP BY ABS(d)
),
ranked AS (
  SELECT cnt, npos,
         CAST(2*COALESCE(SUM(cnt) OVER (ORDER BY ad
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + cnt + 1 AS BIGINT) AS rank2,
         SUM(cnt) OVER () AS n
  FROM g
),
m AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM(rank2*npos) AS BIGINT) AS t2plus,
         SUM(CAST(cnt AS HUGEINT)*cnt*cnt - cnt) AS tie_term
  FROM ranked
)
SELECT n AS n_pairs,
       ROUND(CAST(t2plus AS DOUBLE)/2, 1) AS t_plus,
       ROUND((CAST(t2plus AS DOUBLE)/2 - CAST(n AS DOUBLE)*(n + 1)/4)
             /SQRT(CAST(n AS DOUBLE)*(n + 1)*(2*n + 1)/24
                   - CAST(tie_term AS DOUBLE)/48), 4) AS z
FROM m
"""


EXT_QUERIES.update({"ext_wilcoxon_signed_rank": ext_wilcoxon_signed_rank})
EXT_ORACLES.update({"ext_wilcoxon_signed_rank": EXT_WILCOXON_SIGNED_RANK_SQL})
