"""Declared-query waves: round-5 wave: distribution-shape and association
statistics (Jarque-Bera, Cramér's V, partial correlation, Cramér distance);
round-5 wave: reliability and agreement (Cronbach's alpha, Fleiss' kappa,
Wilson intervals, Brier decomposition); round-5 wave: sequence entropy and
distributed model math (Markov entropy rate, logistic gradient step).

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Cross-engine determinism notes for this wave (extends the module-level
rules in aircan_spark/queries.py):
- every statistic is computed from EXACT integer sums (BIGINT moments)
  pushed through an IDENTICAL double expression tree on both engines —
  no order-dependent float aggregation anywhere;
- where a cross-group float SUM is unavoidable (chi-square cells, entropy
  terms, CDF distance terms, Brier bins), each term is ROUND()ed to a
  fixed decimal scale and summed as DECIMAL — exact and order-free; the
  operator's contract documents the term rounding;
- SQRT/LN are correctly-rounded (or engine-stable per the green
  entropy-family precedents: ext_char_entropy, ext_activity_entropy);
  POW is avoided in favor of explicit multiplication.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w09 import *  # noqa: F401,F403


# --- round-5 wave: Jarque-Bera normality audit --------------------------------


def ext_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic per return-flag class over order
    quantities — the one-pass distribution-shape gate (skewness/kurtosis
    screening before parametric modeling). All four raw moments are EXACT
    BIGINT sums from a single hash aggregate (quantity <= 50 so even the
    4th-power sums stay far below 2^63 at any SF); central moments, g1,
    g2 and the JB statistic are row-local double arithmetic on the
    O(groups) frame with the identical expression tree both engines.

    Scale shape: one map-side-combinable agg over the fact; no second
    pass, no shuffle beyond the 3-group exchange."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("y")
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s1"),
        F.sum(F.expr("y*y")).alias("s2"),
        F.sum(F.expr("y*y*y")).alias("s3"),
        F.sum(F.expr("y*y*y*y")).alias("s4"),
    )
    c = m.select(
        "l_returnflag",
        "n",
        "s2",
        "s3",
        "s4",
        F.expr("CAST(s1 AS DOUBLE)/n").alias("mu"),
    )
    cm = c.select(
        "l_returnflag",
        "n",
        F.expr("CAST(s2 AS DOUBLE)/n - mu*mu").alias("m2"),
        F.expr(
            "CAST(s3 AS DOUBLE)/n - 3*mu*(CAST(s2 AS DOUBLE)/n) + 2*mu*mu*mu"
        ).alias("m3"),
        F.expr(
            "CAST(s4 AS DOUBLE)/n - 4*mu*(CAST(s3 AS DOUBLE)/n)"
            " + 6*mu*mu*(CAST(s2 AS DOUBLE)/n) - 3*mu*mu*mu*mu"
        ).alias("m4"),
    )
    return (
        cm.select(
            "l_returnflag",
            "n",
            F.expr("ROUND(m3/(m2*SQRT(m2)), 6)").alias("skewness"),
            F.expr("ROUND(m4/(m2*m2), 6)").alias("kurtosis"),
            F.expr(
                "ROUND(n/6e0*((m3*m3)/(m2*m2*m2)"
                " + (m4/(m2*m2) - 3)*(m4/(m2*m2) - 3)/4), 4)"
            ).alias("jb_stat"),
        )
        .orderBy("l_returnflag")
    )


EXT_JARQUE_BERA_SQL = r"""
WITH m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
         CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
         CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS BIGINT) AS s4
  FROM lineitem GROUP BY l_returnflag
),
c AS (
  SELECT l_returnflag, n, s2, s3, s4, CAST(s1 AS DOUBLE)/n AS mu FROM m
),
cm AS (
  SELECT l_returnflag, n,
         CAST(s2 AS DOUBLE)/n - mu*mu AS m2,
         CAST(s3 AS DOUBLE)/n - 3*mu*(CAST(s2 AS DOUBLE)/n) + 2*mu*mu*mu AS m3,
         CAST(s4 AS DOUBLE)/n - 4*mu*(CAST(s3 AS DOUBLE)/n) + 6*mu*mu*(CAST(s2 AS DOUBLE)/n) - 3*mu*mu*mu*mu AS m4
  FROM c
)
SELECT l_returnflag, n,
       ROUND(m3/(m2*SQRT(m2)), 6) AS skewness,
       ROUND(m4/(m2*m2), 6) AS kurtosis,
       ROUND(n/6e0*((m3*m3)/(m2*m2*m2) + (m4/(m2*m2) - 3)*(m4/(m2*m2) - 3)/4), 4) AS jb_stat
FROM cm ORDER BY l_returnflag
"""


EXT_QUERIES.update({"ext_jarque_bera": ext_jarque_bera})
EXT_ORACLES.update({"ext_jarque_bera": EXT_JARQUE_BERA_SQL})


# --- round-5 wave: Cramér's V association matrix ------------------------------


def _cramers_pair(df: DataFrame, a: str, b: str, label: str) -> DataFrame:
    """One Cramér's V row for a categorical column pair: contingency cells
    from one hash agg, margins as tiny broadcast-joined re-aggregates;
    chi-square as the exact DECIMAL(28,6) sum of per-cell contributions
    each rounded to 6 decimals (the documented order-free contract)."""
    # r12: the O(r*c) contingency frame feeds FOUR branches (rt/ct/gt
    # margins + the joined cell pass); per-branch column pruning
    # specializes each copy of the scan+agg subtree, so the fact table
    # was scanned once per branch (24 parquet scans across the three
    # pairs in the measured plan). A lazy persist of the bounded cell
    # frame computes the contingency ONCE per pair; the margins are
    # sub-millisecond re-aggregates of the cached cells.
    cells = share(
        df.groupBy(F.col(a).alias("ka"), F.col(b).alias("kb"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = cells.groupBy("ka").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("kb").agg(F.sum("o").alias("ct"))
    gt = cells.agg(
        F.sum("o").alias("gt"),
        F.countDistinct("ka").alias("r"),
        F.countDistinct("kb").alias("c"),
    )
    joined = (
        cells.join(F.broadcast(rt), "ka")
        .join(F.broadcast(ct), "kb")
        .join(F.broadcast(gt))
        .select(
            "r",
            "c",
            "gt",
            F.expr("CAST(rt AS DOUBLE)*ct/gt").alias("e"),
            "o",
        )
    )
    return (
        joined.groupBy("r", "c", "gt")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND((o - e)*(o - e)/e, 6) AS DECIMAL(28,6)))"
                " AS DOUBLE)"
            ).alias("chi2")
        )
        .select(
            F.lit(label).alias("pair"),
            F.col("gt").alias("n"),
            F.expr("CAST((r - 1)*(c - 1) AS INT)").alias("dof"),
            F.expr("ROUND(chi2, 4)").alias("chi2"),
            F.expr("ROUND(SQRT(chi2/(gt*LEAST(r - 1, c - 1))), 6)").alias(
                "cramers_v"
            ),
        )
    )


def ext_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength for three categorical column pairs
    across three tables (order status x priority, return flag x line
    status, document lang x source) — the normalized chi-square screen a
    profiler runs to find redundant/dependent dimensions. Chi-square per
    pair is the exact decimal sum of 6-decimal-rounded cell contributions
    (order-free; see _cramers_pair); V = sqrt(chi2/(n*min(r-1,c-1))).

    Scale shape: one contingency hash agg per pair (map-side combinable),
    margins joined broadcast on the O(r*c) cell frames."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    docs = _t(spark, sf_dir, "documents")
    out = (
        _cramers_pair(orders, "o_orderstatus", "o_orderpriority", "status_x_priority")
        .unionByName(
            _cramers_pair(li, "l_returnflag", "l_linestatus", "returnflag_x_linestatus")
        )
        .unionByName(_cramers_pair(docs, "lang", "source", "lang_x_source"))
    )
    return out.orderBy("pair")


def _cramers_pair_sql(table: str, a: str, b: str, label: str) -> str:
    return f"""
SELECT '{label}' AS pair, gt.gt AS n,
       CAST((gt.r - 1)*(gt.c - 1) AS INTEGER) AS dof,
       ROUND(x.chi2, 4) AS chi2,
       ROUND(SQRT(x.chi2/(gt.gt*LEAST(gt.r - 1, gt.c - 1))), 6) AS cramers_v
FROM (
  SELECT CAST(SUM(CAST(ROUND((o - e)*(o - e)/e, 6) AS DECIMAL(28,6))) AS DOUBLE) AS chi2
  FROM (
    SELECT cl.o, CAST(rt.rt AS DOUBLE)*ct.ct/gt.gt AS e
    FROM (SELECT {a} AS ka, {b} AS kb, COUNT(*) AS o FROM {table} GROUP BY 1, 2) cl
    JOIN (SELECT {a} AS ka, COUNT(*) AS rt FROM {table} GROUP BY 1) rt USING (ka)
    JOIN (SELECT {b} AS kb, COUNT(*) AS ct FROM {table} GROUP BY 1) ct USING (kb)
    CROSS JOIN (SELECT COUNT(*) AS gt FROM {table}) gt
  )
) x
CROSS JOIN (
  SELECT COUNT(*) AS gt, COUNT(DISTINCT {a}) AS r, COUNT(DISTINCT {b}) AS c
  FROM {table}
) gt
"""


EXT_CRAMERS_V_SQL = (
    _cramers_pair_sql("orders", "o_orderstatus", "o_orderpriority", "status_x_priority")
    + "\nUNION ALL\n"
    + _cramers_pair_sql(
        "lineitem", "l_returnflag", "l_linestatus", "returnflag_x_linestatus"
    )
    + "\nUNION ALL\n"
    + _cramers_pair_sql("documents", "lang", "source", "lang_x_source")
    + "\nORDER BY pair"
)


EXT_QUERIES.update({"ext_cramers_v": ext_cramers_v})
EXT_ORACLES.update({"ext_cramers_v": EXT_CRAMERS_V_SQL})


# --- round-5 wave: partial correlation ----------------------------------------


def ext_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and discount CONTROLLING for tax,
    per return-flag class — the confounder-adjusted association check
    (raw r_xy can be an artifact of both sides tracking z). All ten
    pairwise moments are exact BIGINT sums from ONE hash aggregate
    (values <= 50/10/8, so per-row products AND the sums are int64-safe
    to sf1e5); the final n*sxx - sx*sx combinations run in DECIMAL(38)
    (HUGEINT in the oracle) because raw int64 overflows there once a
    return-flag class passes ~6e7 rows (~sf30 — sx <= 50n, so sx*sx hits
    2^63 long before the sums do; the ext_bullwhip pattern, same exact
    integers, same double conversion). The three Pearson r's and the
    partial r stay row-local double arithmetic with identical
    expression trees both engines.

    Scale shape: single map-side-combinable agg; output O(groups)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
        F.round(F.col("l_tax") * 100).cast("long").alias("z"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.expr("x*y")).alias("sxy"),
        F.sum(F.expr("x*z")).alias("sxz"),
        F.sum(F.expr("y*z")).alias("syz"),
        F.sum(F.expr("x*x")).alias("sxx"),
        F.sum(F.expr("y*y")).alias("syy"),
        F.sum(F.expr("z*z")).alias("szz"),
    )
    r = m.select(
        "l_returnflag",
        "n",
        F.expr(
            "CAST(CAST(n AS DECIMAL(19,0))*sxy - CAST(sx AS DECIMAL(19,0))*sy AS DOUBLE)"
            "/SQRT(CAST(CAST(n AS DECIMAL(19,0))*sxx - CAST(sx AS DECIMAL(19,0))*sx AS DOUBLE)"
            "*CAST(CAST(n AS DECIMAL(19,0))*syy - CAST(sy AS DECIMAL(19,0))*sy AS DOUBLE))"
        ).alias("rxy"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(19,0))*sxz - CAST(sx AS DECIMAL(19,0))*sz AS DOUBLE)"
            "/SQRT(CAST(CAST(n AS DECIMAL(19,0))*sxx - CAST(sx AS DECIMAL(19,0))*sx AS DOUBLE)"
            "*CAST(CAST(n AS DECIMAL(19,0))*szz - CAST(sz AS DECIMAL(19,0))*sz AS DOUBLE))"
        ).alias("rxz"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(19,0))*syz - CAST(sy AS DECIMAL(19,0))*sz AS DOUBLE)"
            "/SQRT(CAST(CAST(n AS DECIMAL(19,0))*syy - CAST(sy AS DECIMAL(19,0))*sy AS DOUBLE)"
            "*CAST(CAST(n AS DECIMAL(19,0))*szz - CAST(sz AS DECIMAL(19,0))*sz AS DOUBLE))"
        ).alias("ryz"),
    )
    return (
        r.select(
            "l_returnflag",
            "n",
            F.expr("ROUND(rxy, 6)").alias("r_xy"),
            F.expr("ROUND(rxz, 6)").alias("r_xz"),
            F.expr("ROUND(ryz, 6)").alias("r_yz"),
            F.expr(
                "ROUND((rxy - rxz*ryz)/SQRT((1 - rxz*rxz)*(1 - ryz*ryz)), 6)"
            ).alias("partial_r_xy_z"),
        )
        .orderBy("l_returnflag")
    )


EXT_PARTIAL_CORRELATION_SQL = r"""
WITH v AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_discount*100) AS BIGINT) AS y,
         CAST(ROUND(l_tax*100) AS BIGINT) AS z
  FROM lineitem
),
m AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*z) AS BIGINT) AS sxz,
         CAST(SUM(y*z) AS BIGINT) AS syz,
         CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
         CAST(SUM(z*z) AS BIGINT) AS szz
  FROM v GROUP BY l_returnflag
),
r AS (
  SELECT l_returnflag, n,
         CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)/SQRT(CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE)*CAST(CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy AS DOUBLE)) AS rxy,
         CAST(CAST(n AS HUGEINT)*sxz - CAST(sx AS HUGEINT)*sz AS DOUBLE)/SQRT(CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE)*CAST(CAST(n AS HUGEINT)*szz - CAST(sz AS HUGEINT)*sz AS DOUBLE)) AS rxz,
         CAST(CAST(n AS HUGEINT)*syz - CAST(sy AS HUGEINT)*sz AS DOUBLE)/SQRT(CAST(CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy AS DOUBLE)*CAST(CAST(n AS HUGEINT)*szz - CAST(sz AS HUGEINT)*sz AS DOUBLE)) AS ryz
  FROM m
)
SELECT l_returnflag, n,
       ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz, ROUND(ryz, 6) AS r_yz,
       ROUND((rxy - rxz*ryz)/SQRT((1 - rxz*rxz)*(1 - ryz*ryz)), 6) AS partial_r_xy_z
FROM r ORDER BY l_returnflag
"""


EXT_QUERIES.update({"ext_partial_correlation": ext_partial_correlation})
EXT_ORACLES.update({"ext_partial_correlation": EXT_PARTIAL_CORRELATION_SQL})


# --- round-5 wave: Cronbach's alpha -------------------------------------------


def ext_cronbach_alpha_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient treating the 7
    weekdays as items and users as subjects (score = event count) — do
    the per-weekday activity signals measure one underlying engagement
    trait? Zero cells need no materialized user x weekday grid: with
    zero-fill, per-item sum(s) is the column total and sum(s^2) over
    present cells is already exact, and every variance divides by the
    GLOBAL user count u — so the variance RATIO is the exact integer
    rational (u*sum(ss) - sum(s^2)) / (u*sst - st^2) and alpha needs
    exactly ONE double division (no float aggregation, permutation-
    proof against any weekday-numbering convention).

    Scale shape: one (user, dow) hash agg, re-aggregated twice (per dow,
    per user) — all map-side combinable; final math on one row."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("dayofweek(ts) - 1").alias("dow")
    )
    cell = ev.groupBy("user_id", "dow").agg(F.count(F.lit(1)).alias("cnt"))
    u = cell.select("user_id").distinct().agg(F.count(F.lit(1)).alias("u"))
    item = (
        cell.groupBy("dow")
        .agg(F.sum("cnt").alias("s"), F.sum(F.expr("cnt*cnt")).alias("ss"))
        # DECIMAL moment: per-dow totals s scale with SF (~1.4e8 at
        # sf1000), so int64 SUM(s*s) clears 2^63 only ~8x past the design
        # point; the u*sst/st*st combinations below are ~1e18 at sf1000
        # (9x margin) — all moved to DECIMAL/HUGEINT per the r9 margin
        # audit (the ext_bullwhip pattern, bit-identical at fixture SFs)
        .agg(
            F.sum(F.expr("CAST(s AS DECIMAL(19,0))*s")).alias("s2"),
            F.sum("ss").alias("ssall"),
        )
    )
    user_tot = cell.groupBy("user_id").agg(F.sum("cnt").alias("t"))
    tot = user_tot.agg(
        F.sum("t").alias("st"), F.sum(F.expr("t*t")).alias("sst")
    )
    return (
        item.join(tot)
        .join(u)
        .select(
            F.col("u").alias("n_subjects"),
            F.col("st").alias("n_events"),
            F.expr(
                "ROUND(CAST(CAST(u AS DECIMAL(19,0))*ssall - s2 AS DOUBLE)"
                "/(CAST(u AS DOUBLE)*u), 6)"
            ).alias("sum_item_var"),
            F.expr(
                "ROUND(CAST(CAST(u AS DECIMAL(19,0))*sst"
                " - CAST(st AS DECIMAL(19,0))*st AS DOUBLE)"
                "/(CAST(u AS DOUBLE)*u), 6)"
            ).alias("total_var"),
            F.expr(
                "ROUND(7e0/6e0*(1 - "
                "CAST(CAST(u AS DECIMAL(19,0))*ssall - s2 AS DOUBLE)"
                "/CAST(CAST(u AS DECIMAL(19,0))*sst"
                " - CAST(st AS DECIMAL(19,0))*st AS DOUBLE)), 6)"
            ).alias("alpha"),
        )
    )


EXT_CRONBACH_ALPHA_SQL = r"""
WITH cell AS (
  SELECT user_id, dayofweek(ts) AS dow, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
uu AS (SELECT COUNT(DISTINCT user_id) AS u FROM cell),
item AS (
  SELECT SUM(CAST(s AS HUGEINT)*s) AS s2, CAST(SUM(ss) AS BIGINT) AS ssall
  FROM (
    SELECT dow, CAST(SUM(cnt) AS BIGINT) AS s, CAST(SUM(cnt*cnt) AS BIGINT) AS ss
    FROM cell GROUP BY dow
  )
),
ut AS (SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS t FROM cell GROUP BY 1),
tot AS (SELECT CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(t*t) AS BIGINT) AS sst FROM ut)
SELECT u AS n_subjects, st AS n_events,
       ROUND(CAST(CAST(u AS HUGEINT)*ssall - s2 AS DOUBLE)/(CAST(u AS DOUBLE)*u), 6) AS sum_item_var,
       ROUND(CAST(CAST(u AS HUGEINT)*sst - CAST(st AS HUGEINT)*st AS DOUBLE)/(CAST(u AS DOUBLE)*u), 6) AS total_var,
       ROUND(7e0/6e0*(1 - CAST(CAST(u AS HUGEINT)*ssall - s2 AS DOUBLE)
         /CAST(CAST(u AS HUGEINT)*sst - CAST(st AS HUGEINT)*st AS DOUBLE)), 6) AS alpha
FROM item CROSS JOIN tot CROSS JOIN uu
"""


EXT_QUERIES.update({"ext_cronbach_alpha_weekday": ext_cronbach_alpha_weekday})
EXT_ORACLES.update({"ext_cronbach_alpha_weekday": EXT_CRONBACH_ALPHA_SQL})


# --- round-5 wave: Markov entropy rate ----------------------------------------


def ext_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the empirical event-type Markov chain vs the
    marginal (order-0) entropy — how much does knowing the previous
    action reduce surprise about the next one? Transitions come from a
    per-user LAG over the deterministic (ts, event_id) order; both
    entropies are exact DECIMAL(28,12) sums of per-cell terms each
    rounded to 12 decimals (the order-free contract for ln-based sums,
    per the green entropy-family precedent).

    Scale shape: the only heavy op is the per-user window (high-
    cardinality partition key — parallel); the transition matrix is an
    O(types^2) aggregate."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    trans = (
        seq.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("cur"))
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    row = trans.groupBy("prev").agg(F.sum("nij").alias("ni"))
    tot = trans.agg(F.sum("nij").alias("nn"))
    hrate = (
        trans.join(F.broadcast(row), "prev")
        .join(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND((CAST(nij AS DOUBLE)/nn)"
                "*LN(CAST(nij AS DOUBLE)/ni), 12) AS DECIMAL(28,12))) AS DOUBLE)"
            ).alias("hr"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )
    hmarg = (
        row.join(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND((CAST(ni AS DOUBLE)/nn)"
                "*LN(CAST(ni AS DOUBLE)/nn), 12) AS DECIMAL(28,12))) AS DOUBLE)"
            ).alias("hm"),
            F.count(F.lit(1)).alias("n_states"),
        )
    )
    return (
        tot.join(hrate)
        .join(hmarg)
        .select(
            F.col("nn").alias("n_transitions"),
            "n_states",
            "n_cells",
            F.expr("ROUND(-hr, 6)").alias("entropy_rate"),
            F.expr("ROUND(-hm, 6)").alias("marginal_entropy"),
            F.expr("ROUND(hr/hm, 6)").alias("predictability_ratio"),
        )
    )


EXT_MARKOV_ENTROPY_SQL = r"""
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
trans AS (
  SELECT prev, event_type AS cur, COUNT(*) AS nij
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
r AS (SELECT prev, CAST(SUM(nij) AS BIGINT) AS ni FROM trans GROUP BY prev),
tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS nn FROM trans),
hr AS (
  SELECT CAST(SUM(CAST(ROUND((CAST(nij AS DOUBLE)/nn)*LN(CAST(nij AS DOUBLE)/ni), 12) AS DECIMAL(28,12))) AS DOUBLE) AS hr,
         COUNT(*) AS n_cells
  FROM trans JOIN r USING (prev) CROSS JOIN tot
),
hm AS (
  SELECT CAST(SUM(CAST(ROUND((CAST(ni AS DOUBLE)/nn)*LN(CAST(ni AS DOUBLE)/nn), 12) AS DECIMAL(28,12))) AS DOUBLE) AS hm,
         COUNT(*) AS n_states
  FROM r CROSS JOIN tot
)
SELECT nn AS n_transitions, n_states, n_cells,
       ROUND(-hr, 6) AS entropy_rate,
       ROUND(-hm, 6) AS marginal_entropy,
       ROUND(hr/hm, 6) AS predictability_ratio
FROM tot CROSS JOIN hr CROSS JOIN hm
"""


EXT_QUERIES.update({"ext_markov_entropy": ext_markov_entropy})
EXT_ORACLES.update({"ext_markov_entropy": EXT_MARKOV_ENTROPY_SQL})


# --- round-5 wave: distributed logistic gradient step -------------------------


def ext_logistic_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact distributed gradient step of logistic regression at w=0
    (predicting returned lineitems from discount/tax/quantity) — the
    data-parallel model-math primitive: at w=0 every sigmoid is exactly
    1/2, so grad_j = (sum x_j - 2*sum(y*x_j))/(2n) is INTEGER arithmetic
    until the final division, and the updated weights w1 = -lr*grad are
    bit-deterministic. The same single-pass sufficient-statistics shape
    scales to any batch gradient (just substitute sigmoid(w.x) residuals
    via a pandas UDF once w != 0).

    Scale shape: one map-side-combinable agg over the fact; no Python."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_returnflag = 'R' AS LONG)").alias("yy"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_tax") * 100).cast("long").alias("x3"),
    )
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yy").alias("sy"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum(F.expr("yy*x1")).alias("sy1"),
        F.sum(F.expr("yy*x2")).alias("sy2"),
        F.sum(F.expr("yy*x3")).alias("sy3"),
    )
    return m.select(
        "n",
        F.col("sy").alias("n_positive"),
        F.expr("ROUND(CAST(n - 2*sy AS DOUBLE)/(2*n), 8)").alias("grad_intercept"),
        F.expr("ROUND(CAST(s1 - 2*sy1 AS DOUBLE)/(2*n), 8)").alias("grad_quantity"),
        F.expr("ROUND(CAST(s2 - 2*sy2 AS DOUBLE)/(2*n), 8)").alias("grad_discount"),
        F.expr("ROUND(CAST(s3 - 2*sy3 AS DOUBLE)/(2*n), 8)").alias("grad_tax"),
        F.expr("ROUND(-0.1e0*(CAST(n - 2*sy AS DOUBLE)/(2*n)), 8)").alias("w1_intercept"),
        F.expr("ROUND(-0.1e0*(CAST(s1 - 2*sy1 AS DOUBLE)/(2*n)), 8)").alias("w1_quantity"),
        F.expr("ROUND(-0.1e0*(CAST(s2 - 2*sy2 AS DOUBLE)/(2*n)), 8)").alias("w1_discount"),
        F.expr("ROUND(-0.1e0*(CAST(s3 - 2*sy3 AS DOUBLE)/(2*n)), 8)").alias("w1_tax"),
    )


EXT_LOGISTIC_GRADIENT_SQL = r"""
WITH v AS (
  SELECT CAST(l_returnflag = 'R' AS BIGINT) AS yy,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(ROUND(l_discount*100) AS BIGINT) AS x2,
         CAST(ROUND(l_tax*100) AS BIGINT) AS x3
  FROM lineitem
),
m AS (
  SELECT COUNT(*) AS n, CAST(SUM(yy) AS BIGINT) AS sy,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x3) AS BIGINT) AS s3,
         CAST(SUM(yy*x1) AS BIGINT) AS sy1, CAST(SUM(yy*x2) AS BIGINT) AS sy2,
         CAST(SUM(yy*x3) AS BIGINT) AS sy3
  FROM v
)
SELECT n, sy AS n_positive,
       ROUND(CAST(n - 2*sy AS DOUBLE)/(2*n), 8) AS grad_intercept,
       ROUND(CAST(s1 - 2*sy1 AS DOUBLE)/(2*n), 8) AS grad_quantity,
       ROUND(CAST(s2 - 2*sy2 AS DOUBLE)/(2*n), 8) AS grad_discount,
       ROUND(CAST(s3 - 2*sy3 AS DOUBLE)/(2*n), 8) AS grad_tax,
       ROUND(-0.1e0*(CAST(n - 2*sy AS DOUBLE)/(2*n)), 8) AS w1_intercept,
       ROUND(-0.1e0*(CAST(s1 - 2*sy1 AS DOUBLE)/(2*n)), 8) AS w1_quantity,
       ROUND(-0.1e0*(CAST(s2 - 2*sy2 AS DOUBLE)/(2*n)), 8) AS w1_discount,
       ROUND(-0.1e0*(CAST(s3 - 2*sy3 AS DOUBLE)/(2*n)), 8) AS w1_tax
FROM m
"""


EXT_QUERIES.update({"ext_logistic_gradient": ext_logistic_gradient})
EXT_ORACLES.update({"ext_logistic_gradient": EXT_LOGISTIC_GRADIENT_SQL})


# --- round-5 wave: Wilson confidence intervals --------------------------------


def ext_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence interval for the return rate per part
    brand — the small-sample-safe proportion interval (never escapes
    [0,1], unlike the Wald interval) used to rank noisy rates. One hash
    agg produces (n, r); the interval is row-local arithmetic from exact
    integers with z=1.96 as an identical literal both engines.

    Scale shape: broadcast part-dim join + one agg; output O(brands)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.expr("CAST(l_returnflag = 'R' AS LONG)").alias("ret")
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    m = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ret").alias("r"))
    )
    return (
        m.select(
            "p_brand",
            "n",
            "r",
            F.expr("ROUND(CAST(r AS DOUBLE)/n, 6)").alias("p_hat"),
            F.expr(
                "ROUND(((CAST(r AS DOUBLE)/n + 1.96e0*1.96e0/(2*n))"
                " - 1.96e0*SQRT((CAST(r AS DOUBLE)/n)*(1 - CAST(r AS DOUBLE)/n)/n"
                " + 1.96e0*1.96e0/(4e0*n*n)))/(1 + 1.96e0*1.96e0/n), 6)"
            ).alias("wilson_lo"),
            F.expr(
                "ROUND(((CAST(r AS DOUBLE)/n + 1.96e0*1.96e0/(2*n))"
                " + 1.96e0*SQRT((CAST(r AS DOUBLE)/n)*(1 - CAST(r AS DOUBLE)/n)/n"
                " + 1.96e0*1.96e0/(4e0*n*n)))/(1 + 1.96e0*1.96e0/n), 6)"
            ).alias("wilson_hi"),
        )
        .orderBy("p_brand")
    )


EXT_WILSON_CI_SQL = r"""
WITH m AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(CAST(l_returnflag = 'R' AS BIGINT)) AS BIGINT) AS r
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, n, r,
       ROUND(CAST(r AS DOUBLE)/n, 6) AS p_hat,
       ROUND(((CAST(r AS DOUBLE)/n + 1.96e0*1.96e0/(2*n))
          - 1.96e0*SQRT((CAST(r AS DOUBLE)/n)*(1 - CAST(r AS DOUBLE)/n)/n
          + 1.96e0*1.96e0/(4e0*n*n)))/(1 + 1.96e0*1.96e0/n), 6) AS wilson_lo,
       ROUND(((CAST(r AS DOUBLE)/n + 1.96e0*1.96e0/(2*n))
          + 1.96e0*SQRT((CAST(r AS DOUBLE)/n)*(1 - CAST(r AS DOUBLE)/n)/n
          + 1.96e0*1.96e0/(4e0*n*n)))/(1 + 1.96e0*1.96e0/n), 6) AS wilson_hi
FROM m ORDER BY p_brand
"""


EXT_QUERIES.update({"ext_wilson_ci": ext_wilson_ci})
EXT_ORACLES.update({"ext_wilson_ci": EXT_WILSON_CI_SQL})


# --- round-5 wave: Fleiss' kappa ----------------------------------------------


def ext_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa inter-rater agreement for 3 deterministic pseudo-
    raters assigning each document one of 3 categories (rater r's label =
    md5(r||doc_id) mod 3 — replayable on both engines, the established
    hash-parity pattern) — the multi-rater labeling-quality gate for
    annotation pipelines. Every quantity (sum of squared per-item
    category counts, per-category totals) is an exact integer sum;
    P_bar, P_e and kappa are closed-form doubles.

    Scale shape: rater labels explode 3x then hash-agg to (doc, cat)
    counts; two tiny re-aggregates; output is one row."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    labels = docs.select(
        "doc_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("rater")
    ).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(rater AS STRING), '-',"
            " CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 3"
        ).alias("cat"),
    )
    cell = labels.groupBy("doc_id", "cat").agg(F.count(F.lit(1)).alias("nic"))
    per_item = cell.agg(
        F.sum(F.expr("nic*nic")).alias("sum_sq"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    per_cat = cell.groupBy("cat").agg(F.sum("nic").alias("cc"))
    cat_sq = per_cat.agg(F.sum(F.expr("cc*cc")).alias("sum_c2"))
    return (
        per_item.join(cat_sq)
        .select(
            "n_docs",
            F.expr(
                "ROUND(CAST(sum_sq - n_docs*3 AS DOUBLE)/(n_docs*3*2), 6)"
            ).alias("p_bar"),
            F.expr(
                "ROUND(CAST(sum_c2 AS DOUBLE)/(CAST(n_docs*3 AS DOUBLE)*(n_docs*3)), 6)"
            ).alias("p_e"),
            F.expr(
                "ROUND((CAST(sum_sq - n_docs*3 AS DOUBLE)/(n_docs*3*2)"
                " - CAST(sum_c2 AS DOUBLE)/(CAST(n_docs*3 AS DOUBLE)*(n_docs*3)))"
                "/(1 - CAST(sum_c2 AS DOUBLE)/(CAST(n_docs*3 AS DOUBLE)*(n_docs*3))), 6)"
            ).alias("kappa"),
        )
    )


EXT_FLEISS_KAPPA_SQL = r"""
WITH labels AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(md5(CAST(r.rater AS VARCHAR) || '-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 3 AS BIGINT) AS cat
  FROM documents CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS rater) r
),
cell AS (SELECT doc_id, cat, COUNT(*) AS nic FROM labels GROUP BY 1, 2),
pi AS (
  SELECT CAST(SUM(nic*nic) AS BIGINT) AS sum_sq, COUNT(DISTINCT doc_id) AS n_docs
  FROM cell
),
pc AS (SELECT cat, CAST(SUM(nic) AS BIGINT) AS cc FROM cell GROUP BY cat),
cs AS (SELECT CAST(SUM(cc*cc) AS BIGINT) AS sum_c2 FROM pc)
SELECT n_docs,
       ROUND(CAST(sum_sq - n_docs*3 AS DOUBLE)/(n_docs*3*2), 6) AS p_bar,
       ROUND(CAST(sum_c2 AS DOUBLE)/(CAST(n_docs*3 AS DOUBLE)*(n_docs*3)), 6) AS p_e,
       ROUND((CAST(sum_sq - n_docs*3 AS DOUBLE)/(n_docs*3*2)
          - CAST(sum_c2 AS DOUBLE)/(CAST(n_docs*3 AS DOUBLE)*(n_docs*3)))
          /(1 - CAST(sum_c2 AS DOUBLE)/(CAST(n_docs*3 AS DOUBLE)*(n_docs*3))), 6) AS kappa
FROM pi CROSS JOIN cs
"""


EXT_QUERIES.update({"ext_fleiss_kappa": ext_fleiss_kappa})
EXT_ORACLES.update({"ext_fleiss_kappa": EXT_FLEISS_KAPPA_SQL})


# --- round-5 wave: Cramér (integrated-CDF) two-sample distance ----------------


def ext_cramer_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér distance (integrated squared CDF gap) + KS sup between the
    quantity distributions of discounted vs undiscounted lineitems — the
    distribution-drift metric that, unlike KS, weights the whole CDF.
    The support comes from the data (distinct quantities); both empirical
    CDFs are exact rationals from cumulative integer counts; each step's
    (F_A-F_B)^2 * width term is rounded to 12 decimals and summed as
    DECIMAL (order-free), and the KS sup is an order-free MAX.

    Scale shape: one hash agg to O(support) rows, a single tiny window
    over the 50-value axis — never over the fact table."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("v"),
        F.expr("CAST(ROUND(l_discount*100) = 0 AS LONG)").alias("is_a"),
    )
    counts = li.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.sum(F.expr("1 - is_a")).alias("cb")
    )
    w = Window.orderBy("v")
    cum = counts.select(
        "v",
        F.sum("ca").over(w).alias("cca"),
        F.sum("cb").over(w).alias("ccb"),
        F.lead("v").over(w).alias("nv"),
    )
    tot = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    return (
        cum.join(F.broadcast(tot))
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.expr(
                "CAST(SUM(CAST(ROUND((CAST(cca AS DOUBLE)/na - CAST(ccb AS DOUBLE)/nb)"
                "*(CAST(cca AS DOUBLE)/na - CAST(ccb AS DOUBLE)/nb)"
                "*COALESCE(nv - v, 0), 12) AS DECIMAL(28,12))) AS DOUBLE)"
            ).alias("cd"),
            F.expr(
                "MAX(ROUND(ABS(CAST(cca AS DOUBLE)/na - CAST(ccb AS DOUBLE)/nb), 12))"
            ).alias("ks"),
        )
        .select(
            "n_a",
            "n_b",
            F.expr("ROUND(cd, 8)").alias("cramer_distance"),
            F.expr("ROUND(ks, 6)").alias("ks_sup"),
        )
    )


EXT_CRAMER_DISTANCE_SQL = r"""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         CAST(CAST(ROUND(l_discount*100) AS BIGINT) = 0 AS BIGINT) AS is_a
  FROM lineitem
),
counts AS (
  SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca, CAST(SUM(1 - is_a) AS BIGINT) AS cb
  FROM v GROUP BY v
),
cum AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cca,
         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS ccb,
         LEAD(v) OVER (ORDER BY v) AS nv
  FROM counts
),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM counts)
SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
       ROUND(CAST(SUM(CAST(ROUND((CAST(cca AS DOUBLE)/na - CAST(ccb AS DOUBLE)/nb)
          *(CAST(cca AS DOUBLE)/na - CAST(ccb AS DOUBLE)/nb)
          *COALESCE(nv - v, 0), 12) AS DECIMAL(28,12))) AS DOUBLE), 8) AS cramer_distance,
       ROUND(MAX(ROUND(ABS(CAST(cca AS DOUBLE)/na - CAST(ccb AS DOUBLE)/nb), 12)), 6) AS ks_sup
FROM cum CROSS JOIN tot
"""


EXT_QUERIES.update({"ext_cramer_distance": ext_cramer_distance})
EXT_ORACLES.update({"ext_cramer_distance": EXT_CRAMER_DISTANCE_SQL})


# --- round-5 wave: Brier-score Murphy decomposition ---------------------------


def ext_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score (reliability - resolution
    + uncertainty) for a binned deterministic forecaster of lang='en'
    (forecast bin = md5(doc_id) mod 10, forecast value = bin center) —
    the calibration diagnostic that separates miscalibration from lack of
    sharpness. Per-bin means are exact rationals from integer counts;
    each bin's REL/RES/Brier contribution is rounded to 12 decimals and
    summed as DECIMAL (order-free); UNC is a closed-form expression.

    Scale shape: one hash agg to 10 bins; scalar ybar joined broadcast."""
    docs = _t(spark, sf_dir, "documents").select(
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % 10"
        ).alias("bin"),
        F.expr("CAST(lang = 'en' AS LONG)").alias("yy"),
    )
    bins = docs.groupBy("bin").agg(
        F.count(F.lit(1)).alias("nk"), F.sum("yy").alias("yk")
    )
    tot = bins.agg(F.sum("nk").alias("n"), F.sum("yk").alias("sy"))
    return (
        bins.join(F.broadcast(tot))
        .agg(
            F.max("n").alias("n"),
            F.expr(
                "CAST(SUM(CAST(ROUND(nk*((bin + 0.5e0)/10 - CAST(yk AS DOUBLE)/nk)"
                "*((bin + 0.5e0)/10 - CAST(yk AS DOUBLE)/nk)/n, 12)"
                " AS DECIMAL(28,12))) AS DOUBLE)"
            ).alias("rel"),
            F.expr(
                "CAST(SUM(CAST(ROUND(nk*(CAST(yk AS DOUBLE)/nk - CAST(sy AS DOUBLE)/n)"
                "*(CAST(yk AS DOUBLE)/nk - CAST(sy AS DOUBLE)/n)/n, 12)"
                " AS DECIMAL(28,12))) AS DOUBLE)"
            ).alias("res"),
            F.expr(
                "CAST(SUM(CAST(ROUND((nk*((bin + 0.5e0)/10)*((bin + 0.5e0)/10)"
                " - 2*((bin + 0.5e0)/10)*yk + yk)/CAST(n AS DOUBLE), 12)"
                " AS DECIMAL(28,12))) AS DOUBLE)"
            ).alias("brier"),
            F.expr(
                "MAX((CAST(sy AS DOUBLE)/n)*(1 - CAST(sy AS DOUBLE)/n))"
            ).alias("unc"),
        )
        .select(
            "n",
            F.expr("ROUND(rel, 8)").alias("reliability"),
            F.expr("ROUND(res, 8)").alias("resolution"),
            F.expr("ROUND(unc, 8)").alias("uncertainty"),
            F.expr("ROUND(brier, 8)").alias("brier_score"),
            F.expr("ROUND(rel - res + unc, 8)").alias("brier_decomposed"),
        )
    )


EXT_BRIER_DECOMPOSITION_SQL = r"""
WITH d AS (
  SELECT CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10 AS BIGINT) AS bin,
         CAST(lang = 'en' AS BIGINT) AS yy
  FROM documents
),
bins AS (
  SELECT bin, COUNT(*) AS nk, CAST(SUM(yy) AS BIGINT) AS yk FROM d GROUP BY bin
),
tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(yk) AS BIGINT) AS sy FROM bins)
SELECT MAX(n) AS n,
       ROUND(CAST(SUM(CAST(ROUND(nk*((bin + 0.5e0)/10 - CAST(yk AS DOUBLE)/nk)
          *((bin + 0.5e0)/10 - CAST(yk AS DOUBLE)/nk)/n, 12) AS DECIMAL(28,12))) AS DOUBLE), 8) AS reliability,
       ROUND(CAST(SUM(CAST(ROUND(nk*(CAST(yk AS DOUBLE)/nk - CAST(sy AS DOUBLE)/n)
          *(CAST(yk AS DOUBLE)/nk - CAST(sy AS DOUBLE)/n)/n, 12) AS DECIMAL(28,12))) AS DOUBLE), 8) AS resolution,
       ROUND(MAX((CAST(sy AS DOUBLE)/n)*(1 - CAST(sy AS DOUBLE)/n)), 8) AS uncertainty,
       ROUND(CAST(SUM(CAST(ROUND((nk*((bin + 0.5e0)/10)*((bin + 0.5e0)/10)
          - 2*((bin + 0.5e0)/10)*yk + yk)/CAST(n AS DOUBLE), 12) AS DECIMAL(28,12))) AS DOUBLE), 8) AS brier_score,
       ROUND(CAST(SUM(CAST(ROUND(nk*((bin + 0.5e0)/10 - CAST(yk AS DOUBLE)/nk)
          *((bin + 0.5e0)/10 - CAST(yk AS DOUBLE)/nk)/n, 12) AS DECIMAL(28,12))) AS DOUBLE)
          - CAST(SUM(CAST(ROUND(nk*(CAST(yk AS DOUBLE)/nk - CAST(sy AS DOUBLE)/n)
          *(CAST(yk AS DOUBLE)/nk - CAST(sy AS DOUBLE)/n)/n, 12) AS DECIMAL(28,12))) AS DOUBLE)
          + MAX((CAST(sy AS DOUBLE)/n)*(1 - CAST(sy AS DOUBLE)/n)), 8) AS brier_decomposed
FROM bins CROSS JOIN tot
"""


EXT_QUERIES.update({"ext_brier_decomposition": ext_brier_decomposition})
EXT_ORACLES.update({"ext_brier_decomposition": EXT_BRIER_DECOMPOSITION_SQL})
