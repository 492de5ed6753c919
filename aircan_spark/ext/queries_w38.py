"""Declared-query waves: round-5 wave: Pearson residual matrix; round-5
wave: events-to-conversion path length; round-5 wave: log-odds keyness
with a Dirichlet prior.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Determinism: contingency cells are exact integers; path lengths count
exact (us, event_id) struct comparisons; keyness scores are identical
closed forms of exact counts with shared prior literals.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w37 import *  # noqa: F401,F403


# --- round-5 wave: Pearson residual matrix -------------------------------------------


def ext_pearson_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized Pearson residuals of the event_type x weekday
    contingency table: (observed - expected)/sqrt(expected) per cell —
    X118's chi-square says WHETHER the table deviates; this says
    WHICH cells drive it and in which direction (the follow-up every
    chi-square reading needs). Top-10 cells by absolute residual.

    Scale shape: one pass to the O(types x weekdays) grid; margins
    and residuals on that tiny axis."""
    cells = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("CAST(WEEKDAY(CAST(ts AS DATE)) AS INT)").alias("wd"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("wd")
    wall = Window.partitionBy()
    scored = (
        cells.withColumn("rt", F.sum("n").over(wr))
        .withColumn("ct", F.sum("n").over(wc))
        .withColumn("gt", F.sum("n").over(wall))
        .withColumn(
            "resid",
            F.expr(
                "(n - CAST(rt AS DOUBLE)*ct/gt)"
                "/SQRT(CAST(rt AS DOUBLE)*ct/gt)"
            ),
        )
    )
    return (
        scored.select(
            "event_type",
            "wd",
            "n",
            F.expr("ROUND(CAST(rt AS DOUBLE)*ct/gt, 2)").alias("expected"),
            F.expr("ROUND(resid, 4)").alias("pearson_resid"),
        )
        .orderBy(F.abs(F.col("pearson_resid")).desc(), "event_type", "wd")
        .limit(10)
    )


EXT_PEARSON_RESIDUALS_SQL = r"""
WITH cells AS (
  SELECT event_type,
         CAST(ISODOW(CAST(ts AS DATE)) - 1 AS INTEGER) AS wd,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, wd, n,
         SUM(n) OVER (PARTITION BY event_type) AS rt,
         SUM(n) OVER (PARTITION BY wd) AS ct,
         SUM(n) OVER () AS gt
  FROM cells
)
, final AS (
  SELECT event_type, wd, n,
         ROUND(CAST(rt AS DOUBLE)*ct/gt, 2) AS expected,
         ROUND((n - CAST(rt AS DOUBLE)*ct/gt)/SQRT(CAST(rt AS DOUBLE)*ct/gt), 4)
           AS pearson_resid
  FROM scored
)
SELECT * FROM final
ORDER BY ABS(pearson_resid) DESC, event_type, wd
LIMIT 10
"""


EXT_QUERIES.update({"ext_pearson_residuals": ext_pearson_residuals})
EXT_ORACLES.update({"ext_pearson_residuals": EXT_PEARSON_RESIDUALS_SQL})


# --- round-5 wave: events-to-conversion path length ----------------------------------


def ext_events_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many events does a user generate BEFORE their first
    purchase? Exact pre-conversion path length per converting user
    ((us, event_id) struct comparison against the first purchase
    moment), with mean and exact nearest-rank p50/p90 off the
    collapsed length axis — the activation-effort number that sizes
    onboarding funnels (X250 measures the TIME to convert; this
    measures the WORK).

    Scale shape: one per-user conditional-min agg, a key join back,
    one count pass, collapsed-axis quantiles."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("unix_micros(ts)").alias("us"), "event_type"
    )
    firstp = (
        ev.filter("event_type = 'purchase'")
        .groupBy("user_id")
        .agg(F.min(F.struct("us", "event_id")).alias("fp"))
    )
    # r13 (guide §5): k feeds the length-axis histogram (-> both
    # quantile filters) AND the mean/instant base aggregate —
    # un-persisted, the events x first-purchase join + per-user count
    # ran 3x. Data-proportional (one row per converter) -> DISK_ONLY.
    k = share(
        ev.join(firstp, "user_id")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr("CAST(STRUCT(us, event_id) < fp AS LONG)")
            ).alias("k")
        ),
        big=True,
    )
    ks = k.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = ks.withColumn("cc", F.sum("cnt").over(wv)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    p50 = cum.filter("2*cc >= n").agg(F.min("k").alias("p50"))
    p90 = cum.filter("10*cc >= 9*n").agg(F.min("k").alias("p90"))
    base = k.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.expr("ROUND(AVG(CAST(k AS DOUBLE)), 4)").alias("mean_events_before"),
        F.sum(F.expr("CAST(k = 0 AS LONG)")).alias("n_instant"),
    )
    return (
        base.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p90))
        .select(
            "n_converters",
            "mean_events_before",
            F.expr(
                "ROUND(CAST(n_instant AS DOUBLE)/n_converters, 6)"
            ).alias("instant_share"),
            F.col("p50").alias("p50_events"),
            F.col("p90").alias("p90_events"),
        )
    )


EXT_EVENTS_TO_CONVERT_SQL = r"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
),
firstp AS (
  SELECT user_id, MIN(ROW(us, event_id)) AS fp
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id
),
k AS (
  SELECT e.user_id,
         CAST(SUM(CAST(ROW(e.us, e.event_id) < f.fp AS BIGINT)) AS BIGINT) AS k
  FROM ev e JOIN firstp f ON f.user_id = e.user_id
  GROUP BY e.user_id
),
ks AS (SELECT k, COUNT(*) AS cnt FROM k GROUP BY k),
cum AS (
  SELECT k,
         SUM(cnt) OVER (ORDER BY k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(cnt) OVER () AS n
  FROM ks
),
p50 AS (SELECT MIN(k) AS p50 FROM cum WHERE 2*cc >= n),
p90 AS (SELECT MIN(k) AS p90 FROM cum WHERE 10*cc >= 9*n)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
       ROUND(AVG(CAST(k.k AS DOUBLE)), 4) AS mean_events_before,
       ROUND(CAST(SUM(CAST(k.k = 0 AS BIGINT)) AS DOUBLE)/COUNT(*), 6)
         AS instant_share,
       MAX(p.p50) AS p50_events,
       MAX(q.p90) AS p90_events
FROM k CROSS JOIN p50 p CROSS JOIN p90 q
"""


EXT_QUERIES.update({"ext_events_to_convert": ext_events_to_convert})
EXT_ORACLES.update({"ext_events_to_convert": EXT_EVENTS_TO_CONVERT_SQL})


# --- round-5 wave: log-odds keyness with Dirichlet prior -----------------------------


def ext_log_odds_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness by z-scored log-odds with an informative Dirichlet prior
    (Monroe-Colaresi-Quinn): which words most distinguish the LARGEST
    source from the rest of the corpus — the statistically calibrated
    alternative to X229's tf-idf ranking (raw log-odds overweights
    rare words; the prior and the variance term fix exactly that).
    Prior alpha0 = 0.01 per word; all counts exact integers, identical
    closed forms both engines; top-10 by z.

    Scale shape: one tokenize pass to (side, word) counts, vocab and
    totals as broadcast scalars, scoring on the O(vocab) axis."""
    docs = _t(spark, sf_dir, "documents").select("source", "text")
    top_src = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("nd"))
        .orderBy(F.col("nd").desc(), "source")
        .limit(1)
        .select(F.col("source").alias("top_source"))
    )
    tok = (
        docs.crossJoin(F.broadcast(top_src))
        .select(
            (F.col("source") == F.col("top_source")).cast("int").alias("side"),
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .groupBy("w")
        .agg(
            F.sum(F.expr("CAST(side = 1 AS LONG)")).alias("ya"),
            F.sum(F.expr("CAST(side = 0 AS LONG)")).alias("yb"),
        )
    )
    tots = tok.agg(
        F.count(F.lit(1)).alias("V"),
        F.sum("ya").alias("na"),
        F.sum("yb").alias("nb"),
    )
    scored = tok.crossJoin(F.broadcast(tots)).select(
        "w",
        "ya",
        "yb",
        F.expr(
            "LN((ya + 0.01)/(na + 0.01*V - ya - 0.01))"
            " - LN((yb + 0.01)/(nb + 0.01*V - yb - 0.01))"
        ).alias("delta"),
        F.expr("1.0/(ya + 0.01) + 1.0/(yb + 0.01)").alias("vard"),
    )
    return (
        scored.select(
            "w",
            "ya",
            "yb",
            F.expr("ROUND(delta, 4)").alias("log_odds"),
            F.expr("ROUND(delta/SQRT(vard), 4)").alias("z"),
        )
        .orderBy(F.col("z").desc(), "w")
        .limit(10)
    )


EXT_LOG_ODDS_TERMS_SQL = r"""
WITH top_src AS (
  SELECT source AS top_source FROM documents
  GROUP BY source ORDER BY COUNT(*) DESC, source LIMIT 1
),
tok AS (
  SELECT CAST(SUM(CAST(side = 1 AS BIGINT)) AS BIGINT) AS ya,
         CAST(SUM(CAST(side = 0 AS BIGINT)) AS BIGINT) AS yb,
         w
  FROM (
    SELECT CASE WHEN d.source = t.top_source THEN 1 ELSE 0 END AS side,
           unnest(string_split_regex(TRIM(LOWER(d.text)), '\s+')) AS w
    FROM documents d CROSS JOIN top_src t
  )
  GROUP BY w
),
tots AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS V,
         CAST(SUM(ya) AS BIGINT) AS na,
         CAST(SUM(yb) AS BIGINT) AS nb
  FROM tok
),
scored AS (
  SELECT w, ya, yb,
         LN((ya + 0.01)/(na + 0.01*V - ya - 0.01))
           - LN((yb + 0.01)/(nb + 0.01*V - yb - 0.01)) AS delta,
         1.0/(ya + 0.01) + 1.0/(yb + 0.01) AS vard
  FROM tok CROSS JOIN tots
)
SELECT w, ya, yb,
       ROUND(delta, 4) AS log_odds,
       ROUND(delta/SQRT(vard), 4) AS z
FROM scored ORDER BY z DESC, w LIMIT 10
"""


EXT_QUERIES.update({"ext_log_odds_terms": ext_log_odds_terms})
EXT_ORACLES.update({"ext_log_odds_terms": EXT_LOG_ODDS_TERMS_SQL})
