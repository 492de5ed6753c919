"""Declared-query waves: round-3 wave: cohort LTV, concurrency sweep, HHI, intrinsic dimension; round-3 wave: SLA lag, dedup threshold curve, raking, salting plan; round-3 wave: CUPED, lead-lag xcorr, FD audit, dedup storage gain; round-3 wave: Markov attribution, IPS, Wasserstein, SRM; round-3 wave: Ljung-Box, capture-recapture, skyline, Mahalanobis; round-3 wave: assortativity, RBO, numeric audit, runs test; round-3 wave: Theil-Sen, 2-D histogram, UNK rate, McNemar; round-3 wave: LOF outliers, LSH parameter planner.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.data import checkpoint  # noqa: F401
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w06 import *  # noqa: F401,F403


# --- round-3 wave: cohort LTV, concurrency sweep, HHI, intrinsic dimension ----


def ext_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative purchase value per first-seen weekly cohort by account
    age (weeks since first event) — the REVENUE companion to the X77
    activity-retention triangle: cohort quality comparisons need the
    money curve, not just the active-user curve. Exact cents throughout;
    the running total is a window over the O(weeks) age axis per cohort.

    Scale shape: one per-user collapse for first-seen, one broadcast-
    joined purchase pass, one (cohort x age) hash agg; the cumsum runs
    on the tiny cohort-age grid."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    cohort = first.select(
        "user_id", F.date_trunc("week", F.col("d0")).cast("date").alias("cw"), "d0"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
        .join(cohort, "user_id")
        .select(
            "cw",
            F.floor(F.datediff("d", "d0") / 7).cast("long").alias("age_w"),
            "vc",
        )
    )
    grid = purch.groupBy("cw", "age_w").agg(
        F.count(F.lit(1)).alias("n_purchases"), F.sum("vc").alias("v")
    )
    wc = (
        Window.partitionBy("cw")
        .orderBy("age_w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.withColumn("cum", F.sum("v").over(wc))
        .select(
            F.col("cw").cast("string").alias("cohort_week"),
            "age_w",
            "n_purchases",
            F.round(F.col("cum") / 100.0, 2).alias("cum_value"),
        )
        .orderBy("cohort_week", "age_w")
    )


EXT_COHORT_LTV_SQL = r"""
WITH first AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
),
cohort AS (
  SELECT user_id, CAST(date_trunc('week', d0) AS DATE) AS cw, d0 FROM first
),
purch AS (
  SELECT c.cw,
         CAST(FLOOR(date_diff('day', c.d0, CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
           AS age_w,
         CAST(ROUND(e.value * 100) AS BIGINT) AS vc
  FROM events e JOIN cohort c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
),
grid AS (
  SELECT cw, age_w, CAST(COUNT(*) AS BIGINT) AS n_purchases,
         CAST(SUM(vc) AS BIGINT) AS v
  FROM purch GROUP BY 1, 2
)
SELECT CAST(cw AS VARCHAR) AS cohort_week, age_w, n_purchases,
       ROUND(CAST(SUM(v) OVER (PARTITION BY cw ORDER BY age_w
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100.0, 2) AS cum_value
FROM grid ORDER BY cohort_week, age_w
"""


def ext_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day by the sweep-line method:
    sessionize (30-min gap, X78's rule), emit +1/-1 at session
    boundaries, running-sum within the day ordered (ts, starts-first) —
    max overlap is the capacity number a per-hour distinct count (X102)
    structurally underestimates. Sessions are day-local here (the gap
    rule plus the data's intraday sessions); cross-midnight carry is
    documented out of scope.

    Scale shape: per-user windows for session breaks (high-cardinality
    key), then the sweep runs in per-DAY partitions — bounded windows
    only, no global sort."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev", F.lag("ts").over(wu))
        .withColumn(
            "brk",
            (
                F.col("prev").isNull()
                | (F.unix_micros("ts") - F.unix_micros("prev") > 1800 * 1000000)
            ).cast("long"),
        )
        .withColumn("sid", F.sum("brk").over(wu))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    bounds = sess.select(
        F.col("s").alias("ts"), F.lit(1).alias("delta")
    ).unionByName(sess.select(F.col("e").alias("ts"), F.lit(-1).alias("delta")))
    wd = (
        Window.partitionBy(F.to_date("ts"))
        .orderBy(F.col("ts"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = bounds.withColumn("running", F.sum("delta").over(wd))
    return (
        swept.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            # count session STARTS in the day (a boundary-pair halving would
            # go fractional when a session crosses midnight — and DuckDB
            # rounds double->bigint casts while Spark truncates)
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
                "n_sessions_started"
            ),
            F.max("running").alias("peak_concurrency"),
        )
        .orderBy("day")
    )


EXT_PEAK_CONCURRENCY_SQL = r"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e FROM (
    SELECT user_id, ts,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marked
  ) GROUP BY 1, 2
),
bounds AS (
  SELECT s AS ts, 1 AS delta FROM sess
  UNION ALL
  SELECT e AS ts, -1 AS delta FROM sess
),
swept AS (
  SELECT ts, delta,
         SUM(delta) OVER (PARTITION BY CAST(ts AS DATE)
           ORDER BY ts, delta DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
  FROM bounds
)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions_started,
       CAST(MAX(running) AS BIGINT) AS peak_concurrency
FROM swept GROUP BY 1 ORDER BY day
"""


def ext_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per part type:
    HHI = 10000 * sum of squared revenue shares across suppliers within
    the type — the antitrust-style single-source-risk number (X110's
    top-decile share and X117's Gini rank customers; HHI is the
    squared-share market-structure view). Exact cents; >2500 flags
    'highly concentrated'.

    Scale shape: one (type, supplier) collapse, one O(cells) regroup."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("ec"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_type"
    )
    cells = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum("ec").alias("rev"))
    )
    hhi = (
        cells.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (
                10000.0
                * F.sum(F.col("rev").cast("double") * F.col("rev"))
                / (F.sum("rev").cast("double") * F.sum("rev").cast("double"))
            ).alias("h"),
        )
    )
    return hhi.select(
        "p_type",
        "n_suppliers",
        F.round("h", 2).alias("hhi"),
        (F.col("h") > 2500).alias("highly_concentrated"),
    ).orderBy("p_type")


EXT_HHI_SQL = r"""
WITH cells AS (
  SELECT p.p_type, li.l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
  GROUP BY 1, 2
),
hhi AS (
  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         10000.0 * SUM(CAST(rev AS DOUBLE) * rev)
           / (CAST(SUM(rev) AS DOUBLE) * SUM(rev)) AS h
  FROM cells GROUP BY 1
)
SELECT p_type, n_suppliers, ROUND(h, 2) AS hhi, h > 2500 AS highly_concentrated
FROM hhi ORDER BY p_type
"""


def ext_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al.) of the
    embedding manifold: ID = n / sum ln(r2/r1) over each point's two
    nearest euclidean neighbors — says how many effective degrees of
    freedom the 64-dim vectors actually use (guides PQ subspaces, ANN
    recall expectations, and whether dimension reduction is safe).
    Zero-distance duplicates are excluded (their ratio is undefined).

    Scale shape: exact 2-NN on a CAP-ADAPTIVE thinned panel (~500 rows
    at any corpus size via capped_panel_modulus — a fixed %4 fraction
    would make the broadcast pair scan quadratic; modulus 4 at every
    committed fixture SF, outputs bit-identical there) via the
    broadcast pair scan (swap in ANN candidates at corpus scale); the
    MLE is one O(panel) aggregate."""
    emb_all = _t(spark, sf_dir, "embeddings")
    p = capped_panel_modulus(corpus_count(spark, sf_dir, "embeddings"), base=4, cap=500)
    emb = emb_all.filter(F.col("vec_id") % p == 0)
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    pairs = (
        F.broadcast(e.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")))
        .crossJoin(e.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")))
        .filter(F.col("qid") != F.col("cid"))
    )
    d = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        9,
    )
    scored = pairs.select("qid", "cid", d.alias("d")).filter(F.col("d") > 0)
    wq = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("cid").asc())
    nn2 = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .groupBy("qid")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("r1"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("r2"),
        )
        .filter(F.col("r1") > 0)
    )
    # try_divide: a duplicate-heavy corpus can make EVERY point's two
    # nearest nonzero neighbors equidistant (copies of one vector), so
    # sum(log(r2/r1)) == 0 — the estimator is undefined there (NULL),
    # not a crash (ANSI divide-by-zero; found by the 10x verbatim-
    # replica scale run). The oracle mirrors via NULLIF.
    return nn2.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(
            F.try_divide(
                F.count(F.lit(1)), F.sum(F.log(F.col("r2") / F.col("r1")))
            ),
            4,
        ).alias("intrinsic_dim"),
    )


EXT_INTRINSIC_DIM_SQL = r"""
WITH p AS (
  SELECT 4 * GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS p
  FROM embeddings
),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % (SELECT p FROM p) = 0
),
scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         ROUND(list_distance(q.v, c.v), 9) AS d
  FROM e q CROSS JOIN e c
  WHERE q.vec_id <> c.vec_id AND ROUND(list_distance(q.v, c.v), 9) > 0
),
nn2 AS (
  SELECT qid,
         MIN(CASE WHEN rn = 1 THEN d END) AS r1,
         MIN(CASE WHEN rn = 2 THEN d END) AS r2
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d ASC, cid ASC) AS rn
    FROM scored
  ) WHERE rn <= 2 GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(COUNT(*) / NULLIF(SUM(LN(r2 / r1)), 0), 4) AS intrinsic_dim
FROM nn2 WHERE r1 > 0
"""


EXT_QUERIES.update(
    {
        "ext_cohort_ltv": ext_cohort_ltv,
        "ext_peak_concurrency": ext_peak_concurrency,
        "ext_hhi": ext_hhi,
        "ext_intrinsic_dim": ext_intrinsic_dim,
    }
)
EXT_ORACLES.update(
    {
        "ext_cohort_ltv": EXT_COHORT_LTV_SQL,
        "ext_peak_concurrency": EXT_PEAK_CONCURRENCY_SQL,
        "ext_hhi": EXT_HHI_SQL,
        "ext_intrinsic_dim": EXT_INTRINSIC_DIM_SQL,
    }
)


# --- round-3 wave: SLA lag, dedup threshold curve, raking, salting plan -------


def ext_sla_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship fulfillment lag distribution per order priority:
    exact p50/p90/p99 (days), max, and the share beyond a 90-day SLA —
    the operations-facing latency audit (X250 measures user conversion
    lag; this measures the supply side, keyed to the priority the
    customer paid for).

    Scale shape: one keyed fact-fact join (both sides hashed on
    orderkey), collapse to integer day lags, exact percentiles per
    O(priorities) group."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"
    )
    lags = li.join(orders, "l_orderkey").select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "lag_d"
        ),
    )
    return (
        lags.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.expr("percentile(lag_d, 0.5)"), 2).alias("p50_d"),
            F.round(F.expr("percentile(lag_d, 0.9)"), 2).alias("p90_d"),
            F.round(F.expr("percentile(lag_d, 0.99)"), 2).alias("p99_d"),
            F.max("lag_d").alias("max_d"),
            F.round(
                F.sum((F.col("lag_d") > 90).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("sla_breach_rate"),
        )
        .orderBy("o_orderpriority")
    )


EXT_SLA_SHIP_LAG_SQL = r"""
WITH lags AS (
  SELECT o.o_orderpriority,
         date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
           AS lag_d
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(quantile_cont(lag_d, 0.5), 2) AS p50_d,
       ROUND(quantile_cont(lag_d, 0.9), 2) AS p90_d,
       ROUND(quantile_cont(lag_d, 0.99), 2) AS p99_d,
       CAST(MAX(lag_d) AS BIGINT) AS max_d,
       ROUND(CAST(SUM(CASE WHEN lag_d > 90 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS sla_breach_rate
FROM lags GROUP BY 1 ORDER BY o_orderpriority
"""


def ext_dup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sensitivity curve: candidate-pair counts per
    0.05-wide Jaccard band (trigram shingles, pairs with sim >= 0.05)
    plus the cumulative pairs at-or-above each band — the evidence a
    dedup owner needs to CHOOSE the X2 threshold instead of cargo-
    culting 0.8 (a cliff in the curve = a natural cutoff; a fat tail =
    template contamination). Bands are exact integer arithmetic
    ((20*i) div u), immune to float binning at band edges.

    Scale shape: one inverted-index shingle join (X2's shape) with X2's
    hot-shingle guard APPLIED (r10): shingles in more than 64 documents
    are pruned from the join (sizes stay full-set, so the union in the
    Jaccard denominator is exact). The cap never binds at any committed
    fixture (max shingle doc-freq 25 at sf0.1) but kills the quadratic
    mid-frequency band at scale — measured at salted-30x, sum(df^2)
    candidate work is 1.1e9 uncapped vs 1.0e7 at df<=64 (the 81x wall
    this query posted in the r9 smoke). The pair join itself rides
    skew.blocked_self_pairs (partitions derived from sum(df^2),
    oversized shingles triangular-split). Then an O(bands) collapse;
    the cumulative runs on the 20-row band axis."""
    from aircan_spark.skew import blocked_self_pairs

    docs = _t(spark, sf_dir, "documents")
    # r12: the shingle index feeds sizes / rare / the pair join, and
    # blocked_self_pairs runs an EAGER stats pass over it at
    # construction — un-persisted, the tokenize+explode+distinct
    # pipeline re-ran per consumer (the same fix as the collapsed
    # sibling). Data-proportional -> DISK_ONLY.
    sh = share(dedup.shingles(docs, n=3), big=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # r12 batch 4: whitelist + blocked sizing scalars from ONE persisted
    # df-counts pass (dedup.guarded_stats) — the eager stats pass no
    # longer re-executes the guard join. Shared like the index itself.
    rare, stats = dedup.guarded_stats(sh, dedup.HOT_SHINGLE_MAX_DF)
    inter = (
        blocked_self_pairs(sh.join(rare, "shingle"), "shingle", "doc_id", stats=stats)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ju = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .select(
            "i", (F.col("na") + F.col("nb") - F.col("i")).alias("u")
        )
        .filter(F.col("i") * 20 >= F.col("u"))
    )
    binned = ju.select(
        F.expr("(20 * i) div u").cast("long").alias("band")
    ).groupBy("band").agg(F.count(F.lit(1)).alias("n_pairs"))
    wc = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        binned.withColumn("cum_pairs_at_or_above", F.sum("n_pairs").over(wc))
        .select(
            "band",
            F.round(F.col("band") * 0.05, 2).alias("thr_lo"),
            "n_pairs",
            "cum_pairs_at_or_above",
        )
        .orderBy("band")
    )


EXT_DUP_THRESHOLD_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(text), '\s+')) AS w,
         generate_subscripts(string_split_regex(TRIM(text), '\s+'), 1) AS i
  FROM documents
),
sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {dedup.HOT_SHINGLE_MAX_DF}),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM sh x JOIN rare rx ON x.shingle = rx.shingle
  JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
ju AS (
  SELECT i.i, sa.n + sb.n - i.i AS u
  FROM inter i
  JOIN sizes sa ON i.id_a = sa.doc_id
  JOIN sizes sb ON i.id_b = sb.doc_id
  WHERE i.i * 20 >= sa.n + sb.n - i.i
),
binned AS (
  SELECT CAST((20 * i) // u AS BIGINT) AS band, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM ju GROUP BY 1
)
SELECT band, ROUND(band * 0.05, 2) AS thr_lo, n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY band DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_pairs_at_or_above
FROM binned ORDER BY band
"""


def ext_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratification (raking) weights that rebalance the corpus to
    a uniform language target: w_lang = target_share / actual_share,
    with the effective sample size ESS = (Σw)²/Σw² and the efficiency
    ratio ESS/n — the survey-statistics answer to 'what does reweighting
    my skewed corpus actually cost in statistical power' (the weighting
    alternative to X186's balanced downsampling, which pays in rows
    instead).

    Scale shape: one O(langs) marginal; every output number derives from
    that tiny frame (per-doc weights never materialize)."""
    docs = _t(spark, sf_dir, "documents")
    marg = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = marg.agg(
        F.sum("n_docs").alias("n"), F.count(F.lit(1)).alias("n_langs")
    )
    j = marg.crossJoin(F.broadcast(tot))
    w = F.col("n").cast("double") / (F.col("n_langs") * F.col("n_docs"))
    ess_den = j.select(
        (F.col("n_docs") * w * w).alias("nw2"), "n"
    ).agg(F.sum("nw2").alias("den"), F.max("n").alias("n"))
    out = j.select(
        "lang",
        "n_docs",
        F.round(w, 6).alias("weight"),
    )
    ess = ess_den.select(
        (F.col("n").cast("double") * F.col("n") / F.col("den")).alias("ess"),
        "n",
    )
    return (
        out.crossJoin(F.broadcast(ess))
        .select(
            "lang",
            "n_docs",
            "weight",
            F.round("ess", 2).alias("ess"),
            F.round(F.col("ess") / F.col("n"), 6).alias("ess_ratio"),
        )
        .orderBy("lang")
    )


EXT_RAKING_SQL = r"""
WITH marg AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_langs FROM marg),
j AS (
  SELECT m.lang, m.n_docs, t.n, t.n_langs,
         CAST(t.n AS DOUBLE) / (t.n_langs * m.n_docs) AS w
  FROM marg m CROSS JOIN tot t
),
ess AS (
  SELECT CAST(MAX(n) AS DOUBLE) * MAX(n) / SUM(n_docs * w * w) AS ess,
         MAX(n) AS n
  FROM j
)
SELECT j.lang, j.n_docs, ROUND(j.w, 6) AS weight,
       ROUND(e.ess, 2) AS ess, ROUND(e.ess / e.n, 6) AS ess_ratio
FROM j CROSS JOIN ess e
ORDER BY j.lang
"""


def ext_salting_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salting plan for the event-type key: rows per key, the key's
    share of the table, and the salt fan-out ceil(n/target) (target
    2000 rows/task, capped at 32) a salted aggregation (X18) or
    replicate join (X19) should use — turns X124's degree audit into an
    actionable plan artifact the pipeline can feed straight into
    skew.salted_agg.

    Scale shape: one hash agg to O(keys); the plan math is row-local on
    that tiny frame."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = counts.agg(F.sum("n_rows").alias("n"))
    n_salts = F.least(
        F.ceil(F.col("n_rows") / F.lit(2000.0)).cast("long"), F.lit(32)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_rows",
            F.round(F.col("n_rows") / F.col("n").cast("double"), 6).alias(
                "share"
            ),
            n_salts.alias("n_salts"),
            (n_salts > 1).alias("needs_salting"),
        )
        .orderBy(F.col("n_rows").desc(), "event_type")
    )


EXT_SALTING_PLAN_SQL = r"""
WITH counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n FROM counts)
SELECT event_type, n_rows,
       ROUND(CAST(n_rows AS DOUBLE) / n, 6) AS share,
       LEAST(CAST(CEIL(n_rows / 2000.0) AS BIGINT), 32) AS n_salts,
       LEAST(CAST(CEIL(n_rows / 2000.0) AS BIGINT), 32) > 1 AS needs_salting
FROM counts CROSS JOIN tot
ORDER BY n_rows DESC, event_type
"""


EXT_QUERIES.update(
    {
        "ext_sla_ship_lag": ext_sla_ship_lag,
        "ext_dup_threshold_curve": ext_dup_threshold_curve,
        "ext_raking_weights": ext_raking_weights,
        "ext_salting_plan": ext_salting_plan,
    }
)
EXT_ORACLES.update(
    {
        "ext_sla_ship_lag": EXT_SLA_SHIP_LAG_SQL,
        "ext_dup_threshold_curve": EXT_DUP_THRESHOLD_SQL,
        "ext_raking_weights": EXT_RAKING_SQL,
        "ext_salting_plan": EXT_SALTING_PLAN_SQL,
    }
)


# --- round-3 wave: CUPED, lead-lag xcorr, FD audit, dedup storage gain --------


def ext_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout: per-user post-period purchase
    value (days 15+) adjusted by the pre-period covariate (days < 15),
    theta = cov(pre, post)/var(pre) from exact-cent moments; reports the
    raw and adjusted treatment effects (deterministic hash arms) and the
    variance-reduction share rho² — the standard trick that makes
    experiments readable weeks earlier. Users absent in a period count
    zero (fixed-panel convention, stated).

    Scale shape: one per-user collapse in exact cents; moments and
    theta are O(1) broadcast scalars; arms aggregate the panel once."""
    ev = _t(spark, sf_dir, "events")
    start = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    per = (
        ev.crossJoin(F.broadcast(start))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.when(
                F.datediff(F.to_date("ts"), F.col("d0")) < 15,
                F.round(F.col("value") * 100).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("pre_c"),
            F.when(
                F.datediff(F.to_date("ts"), F.col("d0")) >= 15,
                F.round(F.col("value") * 100).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("post_c"),
        )
        .groupBy("user_id")
        .agg(F.sum("pre_c").alias("x"), F.sum("post_c").alias("y"))
        .withColumn("arm", (F.col("user_id") % 2 == 0).cast("int"))
    )
    mom = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / n
    cov = F.col("sxy").cast("double") / n - mx * (F.col("sy").cast("double") / n)
    var = F.col("sxx").cast("double") / n - mx * mx
    theta_f = mom.select((cov / var).alias("theta"), mx.alias("mx"))
    adj = per.crossJoin(F.broadcast(theta_f)).select(
        "arm",
        (F.col("y").cast("double") / 100.0).alias("yv"),
        (
            (F.col("y").cast("double") - F.col("theta") * (F.col("x") - F.col("mx")))
            / 100.0
        ).alias("ycuped"),
    )
    arms = adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("yv").alias("my"),
        F.avg("ycuped").alias("mc"),
        F.variance("yv").alias("vy"),
        F.variance("ycuped").alias("vc"),
    )
    out = arms.agg(
        F.sum("n").alias("n_users"),
        F.round(
            F.max(F.when(F.col("arm") == 1, F.col("my")))
            - F.max(F.when(F.col("arm") == 0, F.col("my"))),
            4,
        ).alias("effect_raw"),
        F.round(
            F.max(F.when(F.col("arm") == 1, F.col("mc")))
            - F.max(F.when(F.col("arm") == 0, F.col("mc"))),
            4,
        ).alias("effect_cuped"),
        F.round(
            1.0 - F.sum(F.col("vc") * (F.col("n") - 1)) / F.sum(F.col("vy") * (F.col("n") - 1)),
            4,
        ).alias("variance_reduction"),
    )
    return out


EXT_CUPED_SQL = r"""
WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
per AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN date_diff('day', d0.d0, CAST(ts AS DATE)) < 15
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN date_diff('day', d0.d0, CAST(ts AS DATE)) >= 15
                       THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events CROSS JOIN d0
  WHERE event_type = 'purchase'
  GROUP BY 1
),
panel AS (SELECT user_id, x, y, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm FROM per),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy
  FROM panel
),
theta AS (
  SELECT (CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
         / (CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
           AS theta,
         CAST(sx AS DOUBLE) / n AS mx
  FROM mom
),
adj AS (
  SELECT arm, CAST(y AS DOUBLE) / 100.0 AS yv,
         (CAST(y AS DOUBLE) - t.theta * (x - t.mx)) / 100.0 AS ycuped
  FROM panel CROSS JOIN theta t
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, AVG(yv) AS my, AVG(ycuped) AS mc,
         VAR_SAMP(yv) AS vy, VAR_SAMP(ycuped) AS vc
  FROM adj GROUP BY 1
)
SELECT CAST(SUM(n) AS BIGINT) AS n_users,
       ROUND(MAX(CASE WHEN arm = 1 THEN my END)
             - MAX(CASE WHEN arm = 0 THEN my END), 4) AS effect_raw,
       ROUND(MAX(CASE WHEN arm = 1 THEN mc END)
             - MAX(CASE WHEN arm = 0 THEN mc END), 4) AS effect_cuped,
       ROUND(1.0 - SUM(vc * (n - 1)) / SUM(vy * (n - 1)), 4) AS variance_reduction
FROM arms
"""


def ext_xcorr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily click and purchase
    counts at offsets -7..+7 (positive lag = clicks LEAD purchases by
    that many days): the argmax offset is the empirical marketing-
    response delay — the cross-series companion to X241's ACF and the
    evidence behind X251's attribution window choice.

    Scale shape: both series collapse to the O(days) axis first; every
    lag is an equi-join on the shifted tiny axis; moments are broadcast
    scalars."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    clicks = daily.filter(F.col("event_type") == "click").select(
        "day", F.col("n").alias("c")
    )
    purch = daily.filter(F.col("event_type") == "purchase").select(
        "day", F.col("n").alias("p")
    )
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(-7), F.lit(7))).alias("lag")
    )
    # join purchases at day + lag; per-lag Pearson over the matched pairs
    pairs = (
        F.broadcast(lags)
        .crossJoin(clicks.select(F.col("day").alias("cd"), "c"))
        .join(
            purch.select(F.col("day").alias("pd"), "p"),
            F.expr("pd = date_add(cd, lag)"),
        )
    )
    num = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("c").cast("double") * F.col("p")).alias("scp"),
        F.sum(F.col("c").cast("double")).alias("sc1"),
        F.sum(F.col("p").cast("double")).alias("sp1"),
        F.sum(F.col("c").cast("double") * F.col("c")).alias("scc"),
        F.sum(F.col("p").cast("double") * F.col("p")).alias("spp"),
    )
    n = F.col("n_pairs").cast("double")
    r = (n * F.col("scp") - F.col("sc1") * F.col("sp1")) / F.sqrt(
        (n * F.col("scc") - F.col("sc1") * F.col("sc1"))
        * (n * F.col("spp") - F.col("sp1") * F.col("sp1"))
    )
    return num.select(
        "lag", "n_pairs", F.round(r, 6).alias("xcorr")
    ).orderBy("lag")


EXT_XCORR_SQL = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
),
clicks AS (SELECT day AS cd, n AS c FROM daily WHERE event_type = 'click'),
purch AS (SELECT day AS pd, n AS p FROM daily WHERE event_type = 'purchase'),
lags AS (SELECT UNNEST(range(-7, 8)) AS lag),
pairs AS (
  SELECT l.lag, c.c, p.p
  FROM lags l
  JOIN clicks c ON TRUE
  JOIN purch p ON p.pd = c.cd + CAST(l.lag AS INTEGER)
),
num AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(c AS DOUBLE) * p) AS scp,
         SUM(CAST(c AS DOUBLE)) AS sc1, SUM(CAST(p AS DOUBLE)) AS sp1,
         SUM(CAST(c AS DOUBLE) * c) AS scc, SUM(CAST(p AS DOUBLE) * p) AS spp
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       ROUND((n_pairs * scp - sc1 * sp1)
             / SQRT((n_pairs * scc - sc1 * sc1) * (n_pairs * spp - sp1 * sp1)),
             6) AS xcorr
FROM num ORDER BY lag
"""


def ext_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over declared candidate FDs
    (nation->region, part->brand, part->type, customer->nation,
    order->customer): for each, the number of determinant values mapping
    to more than one dependent value (violations; 0 = FD holds) and the
    implied compression ratio distinct(det)/rows — the data-quality
    check that catches silently broken dimension hierarchies before a
    join fans out (X104 audits join keys; this audits attribute
    hierarchies).

    Scale shape: one (det, dep) distinct collapse per FD, then an
    O(determinants) regroup; long-form output, one union of tiny
    frames."""
    fds = [
        ("nation.n_nationkey->n_regionkey", _t(spark, sf_dir, "nation"),
         "n_nationkey", "n_regionkey"),
        ("part.p_partkey->p_brand", _t(spark, sf_dir, "part"),
         "p_partkey", "p_brand"),
        ("part.p_partkey->p_type", _t(spark, sf_dir, "part"),
         "p_partkey", "p_type"),
        ("customer.c_custkey->c_nationkey", _t(spark, sf_dir, "customer"),
         "c_custkey", "c_nationkey"),
        ("orders.o_orderkey->o_custkey", _t(spark, sf_dir, "orders"),
         "o_orderkey", "o_custkey"),
    ]
    outs = []
    for fd_name, df, det, dep in fds:
        per_det = (
            df.select(F.col(det).alias("d"), F.col(dep).alias("v"))
            .distinct()
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("n_vals"))
        )
        outs.append(
            per_det.agg(
                F.lit(fd_name).alias("fd"),
                F.count(F.lit(1)).alias("n_determinants"),
                F.sum((F.col("n_vals") > 1).cast("long")).alias("n_violations"),
                (F.sum((F.col("n_vals") > 1).cast("long")) == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


EXT_FD_AUDIT_SQL = r"""
WITH checks AS (
  SELECT 'nation.n_nationkey->n_regionkey' AS fd, CAST(COUNT(*) AS BIGINT) AS n_determinants,
         CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM (SELECT n_nationkey AS d, COUNT(DISTINCT n_regionkey) AS n_vals FROM nation GROUP BY 1)
  UNION ALL
  SELECT 'part.p_partkey->p_brand', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT p_partkey AS d, COUNT(DISTINCT p_brand) AS n_vals FROM part GROUP BY 1)
  UNION ALL
  SELECT 'part.p_partkey->p_type', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT p_partkey AS d, COUNT(DISTINCT p_type) AS n_vals FROM part GROUP BY 1)
  UNION ALL
  SELECT 'customer.c_custkey->c_nationkey', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT c_custkey AS d, COUNT(DISTINCT c_nationkey) AS n_vals FROM customer GROUP BY 1)
  UNION ALL
  SELECT 'orders.o_orderkey->o_custkey', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT o_orderkey AS d, COUNT(DISTINCT o_custkey) AS n_vals FROM orders GROUP BY 1)
)
SELECT fd, n_determinants, n_violations, n_violations = 0 AS holds
FROM checks ORDER BY fd
"""


def ext_dedup_storage_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected storage savings from exact dedup, per source: bytes
    (n_chars) held by non-representative duplicate-cluster members vs
    total bytes — the capacity-planning number that justifies running
    X1 at all (and per source, WHERE the waste lives). Representative =
    min doc_id per normalized-content fingerprint (X1's rule).

    Scale shape: one fingerprint collapse carrying sum/min aggregates,
    one source regroup; no row-level rejoin needed for the byte math."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    clusters = (
        docs.select("source", fp.alias("fp"), "doc_id", "n_chars")
        .groupBy("source", "fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bytes_all"),
            F.min(F.struct("doc_id", "n_chars")).alias("rep"),
        )
    )
    return (
        clusters.groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("bytes_all").alias("bytes_total"),
            F.sum(F.col("bytes_all") - F.col("rep.n_chars")).alias(
                "bytes_removable"
            ),
            F.round(
                F.sum(F.col("bytes_all") - F.col("rep.n_chars"))
                / F.sum("bytes_all").cast("double"),
                6,
            ).alias("savings_ratio"),
        )
        .orderBy("source")
    )


EXT_DEDUP_STORAGE_SQL = r"""
WITH clusters AS (
  SELECT source, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fp,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS bytes_all,
         MIN({'doc_id': doc_id, 'n_chars': n_chars}) AS rep
  FROM documents GROUP BY 1, 2
)
SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(bytes_all) AS BIGINT) AS bytes_total,
       CAST(SUM(bytes_all - rep.n_chars) AS BIGINT) AS bytes_removable,
       ROUND(CAST(SUM(bytes_all - rep.n_chars) AS DOUBLE) / SUM(bytes_all), 6)
         AS savings_ratio
FROM clusters GROUP BY 1 ORDER BY source
"""


EXT_QUERIES.update(
    {
        "ext_cuped": ext_cuped,
        "ext_xcorr_lead_lag": ext_xcorr_lead_lag,
        "ext_fd_audit": ext_fd_audit,
        "ext_dedup_storage_gain": ext_dedup_storage_gain,
    }
)
EXT_ORACLES.update(
    {
        "ext_cuped": EXT_CUPED_SQL,
        "ext_xcorr_lead_lag": EXT_XCORR_SQL,
        "ext_fd_audit": EXT_FD_AUDIT_SQL,
        "ext_dedup_storage_gain": EXT_DEDUP_STORAGE_SQL,
    }
)


# --- round-3 wave: Markov attribution, IPS, Wasserstein, SRM ------------------


def ext_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: first-order journey chain from
    per-user event sequences (START -> ... -> purchase absorbing, last
    event -> NULL), conversion probability solved by 12 fixed value-
    iteration steps, re-solved with each channel knocked out
    (transitions INTO it redirected to NULL); a channel's credit is its
    normalized conversion drop. The data-driven complement to X251's
    position-based rule — it credits channels by counterfactual, not
    position. Transitions out of the absorbing purchase state are
    dropped (stated model).

    Scale shape: ONE pass over events builds the O(types²) transition
    counts; the value iteration then runs driver-side on the collected
    O(chains × types²) probability table (aggregate-sized, same class
    as the HLL register collect — 12 DataFrame-join iterations cost
    ~16 s of pure scheduling for microseconds of math), and the 4-row
    result is re-emitted as a DataFrame with in-plan rounding."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "nxt", F.lead("event_type").over(wu)
    ).withColumn("prv", F.lag("event_type").over(wu))
    bigrams = seq.filter(F.col("event_type") != "purchase").select(
        F.col("event_type").alias("i"),
        F.coalesce(F.col("nxt"), F.lit("NULL")).alias("j"),
    )
    starts = seq.filter(F.col("prv").isNull()).select(
        F.lit("START").alias("i"), F.col("event_type").alias("j")
    )
    trans = bigrams.unionByName(starts).groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n")
    )
    chans = (
        ev.select(F.col("event_type").alias("removed"))
        .filter(F.col("removed") != "purchase")
        .distinct()
        .unionByName(spark.range(1).select(F.lit("NONE").alias("removed")))
    )
    mod = (
        F.broadcast(chans)
        .crossJoin(trans)
        .filter(F.col("i") != F.col("removed"))
        .select(
            "removed",
            "i",
            F.when(F.col("j") == F.col("removed"), F.lit("NULL"))
            .otherwise(F.col("j"))
            .alias("j"),
            "n",
        )
        .groupBy("removed", "i", "j")
        .agg(F.sum("n").alias("n"))
    )
    tot = mod.groupBy("removed", "i").agg(F.sum("n").alias("tot"))
    probs = mod.join(tot, ["removed", "i"]).select(
        "removed", "i", "j", (F.col("n") / F.col("tot").cast("double")).alias("p")
    )
    rows = probs.collect()  # O(chains * types²) aggregate rows, never data-sized
    chains: dict[str, dict[str, list]] = {}
    for r in rows:
        chains.setdefault(r["removed"], {}).setdefault(r["i"], []).append(
            (r["j"], r["p"])
        )
    p_conv: dict[str, float] = {}
    for removed, outs in chains.items():
        v = {"purchase": 1.0}
        for _ in range(12):
            nxt = {}
            for i, edges in outs.items():
                # sorted target order -> deterministic float summation
                nxt[i] = sum(
                    p * v.get(j, 0.0) for j, p in sorted(edges)
                )
            nxt["purchase"] = 1.0
            v = nxt
        p_conv[removed] = v.get("START", 0.0)
    p_base = p_conv.get("NONE", 0.0)
    schema = (
        "channel string, p_conv_base double, p_conv_without double, "
        "removal_effect double, attribution_share double"
    )
    # zero-conversion corpus: removal effects are undefined (0/0) — emit
    # an empty frame rather than raising driver-side; the oracle's
    # `WHERE p_base > 0` guard mirrors this exactly
    if p_base == 0.0:
        return spark.createDataFrame([], schema)
    effs = {
        ch: max(0.0, 1.0 - p / p_base)
        for ch, p in p_conv.items()
        if ch != "NONE"
    }
    te = sum(effs[ch] for ch in sorted(effs))
    # te == 0 (conversions exist but no channel's removal moves them):
    # credit nothing instead of dividing 0/0 — mirrored in the oracle
    out = spark.createDataFrame(
        [
            (
                ch,
                p_base,
                p_conv[ch],
                effs[ch],
                effs[ch] / te if te > 0.0 else 0.0,
            )
            for ch in sorted(effs)
        ],
        schema,
    )
    return out.select(
        "channel",
        F.round("p_conv_base", 6).alias("p_conv_base"),
        F.round("p_conv_without", 6).alias("p_conv_without"),
        F.round("removal_effect", 6).alias("removal_effect"),
        F.round("attribution_share", 6).alias("attribution_share"),
    ).orderBy("channel")


def _markov_oracle_sql() -> str:
    head = r"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER w AS nxt,
         LAG(event_type) OVER w AS prv
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
trans AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT event_type AS i, COALESCE(nxt, 'NULL') AS j
    FROM seq WHERE event_type <> 'purchase'
    UNION ALL
    SELECT 'START' AS i, event_type AS j FROM seq WHERE prv IS NULL
  ) GROUP BY 1, 2
),
chans AS (
  SELECT DISTINCT event_type AS removed FROM events WHERE event_type <> 'purchase'
  UNION ALL SELECT 'NONE'
),
mod AS (
  SELECT removed, i, CASE WHEN j = removed THEN 'NULL' ELSE j END AS j,
         CAST(SUM(n) AS BIGINT) AS n
  FROM chans CROSS JOIN trans
  WHERE i <> removed
  GROUP BY 1, 2, 3
),
probs AS (
  SELECT removed, i, j, CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY removed, i) AS p
  FROM mod
),
v0 AS (SELECT removed, 'purchase' AS state, 1.0 AS v FROM chans)"""
    steps = []
    for k in range(1, 13):
        steps.append(
            f""",
v{k} AS (
  SELECT p.removed, p.i AS state, SUM(p.p * v.v) AS v
  FROM probs p JOIN v{k - 1} v ON v.removed = p.removed AND v.state = p.j
  GROUP BY 1, 2
  UNION ALL
  SELECT removed, 'purchase' AS state, 1.0 AS v FROM chans
)"""
        )
    tail = r""",
pconv AS (SELECT removed, v AS p_conv FROM v12 WHERE state = 'START'),
base AS (SELECT p_conv AS p_base FROM pconv WHERE removed = 'NONE'),
effects AS (
  SELECT removed AS channel, p_conv, b.p_base,
         GREATEST(0.0, 1.0 - p_conv / b.p_base) AS eff
  FROM pconv CROSS JOIN base b
  WHERE removed <> 'NONE' AND b.p_base > 0
),
te AS (SELECT SUM(eff) AS te FROM effects)
SELECT channel, ROUND(p_base, 6) AS p_conv_base,
       ROUND(p_conv, 6) AS p_conv_without,
       ROUND(eff, 6) AS removal_effect,
       CASE WHEN te.te > 0 THEN ROUND(eff / te.te, 6) ELSE 0.0 END
         AS attribution_share
FROM effects CROSS JOIN te
ORDER BY channel"""
    return head + "".join(steps) + tail


EXT_MARKOV_SQL = _markov_oracle_sql()


def ext_ips_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-score treatment effect for the deep-discount
    question (X254's setting): propensities estimated per brand stratum
    from the data, clipped to [0.05, 0.95], IPS-weighted outcome means
    for treated vs control — the weighting-based causal estimator that
    generalizes to continuous covariates where stratification cannot
    follow; comparing it against X254's answer is the standard
    robustness check.

    Scale shape: propensities are an O(strata) broadcast map; the
    estimate is one weighted pass over the fact table."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_discount") >= 0.05).cast("int").alias("t"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    tagged = li.join(F.broadcast(part), "l_partkey")
    prop = tagged.groupBy("p_brand").agg(
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("e_raw")
    ).select(
        "p_brand",
        F.least(F.greatest(F.col("e_raw"), F.lit(0.05)), F.lit(0.95)).alias("e"),
    )
    j = tagged.join(F.broadcast(prop), "p_brand")
    est = j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.col("t") * F.col("qc").cast("double") / F.col("e"))
            / F.sum(F.col("t") / F.col("e"))
            - F.sum((1 - F.col("t")) * F.col("qc").cast("double") / (1.0 - F.col("e")))
            / F.sum((1 - F.col("t")) / (1.0 - F.col("e")))
        ).alias("ate"),
        F.avg("e").alias("mean_prop"),
    )
    return est.select(
        "n_rows",
        F.round(F.col("ate") / 100.0, 4).alias("ate_ips"),
        F.round("mean_prop", 6).alias("mean_propensity"),
    )


EXT_IPS_SQL = r"""
WITH tagged AS (
  SELECT p.p_brand,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS t,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
  FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
),
prop AS (
  SELECT p_brand,
         LEAST(GREATEST(CAST(SUM(t) AS DOUBLE) / COUNT(*), 0.05), 0.95) AS e
  FROM tagged GROUP BY 1
),
j AS (SELECT t.t, t.qc, p.e FROM tagged t JOIN prop p ON p.p_brand = t.p_brand)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND((SUM(t * CAST(qc AS DOUBLE) / e) / SUM(t / e)
              - SUM((1 - t) * CAST(qc AS DOUBLE) / (1.0 - e))
                / SUM((1 - t) / (1.0 - e))) / 100.0, 4) AS ate_ips,
       ROUND(AVG(e), 6) AS mean_propensity
FROM j
"""


def ext_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the order-value
    distributions of BUILDING vs MACHINERY customers, on a $100 grid:
    W1 = sum |F_a - F_b| * bin_width over the binned support — the
    magnitude-aware distribution distance (X213's KS sees the worst gap;
    W1 integrates ALL of it in dollars, which is what a revenue-mix
    shift is actually worth).

    Scale shape: both distributions collapse to the O(bins) axis; the
    CDF sweep is a window over that tiny axis."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    seg = (
        orders.join(cust, "o_custkey")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            (F.col("c_mktsegment") == "BUILDING").cast("int").alias("is_a"),
            F.floor(F.round(F.col("o_totalprice") * 100).cast("long") / 10000).alias(
                "bin"
            ),
        )
    )
    counts = seg.groupBy("bin").agg(
        F.sum("is_a").alias("na"), F.sum(F.lit(1) - F.col("is_a")).alias("nb")
    )
    tots = counts.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cdf = (
        counts.withColumn("ca", F.sum("na").over(wc))
        .withColumn("cb", F.sum("nb").over(wc))
        .crossJoin(F.broadcast(tots))
    )
    return cdf.agg(
        F.max("ta").alias("n_building"),
        F.max("tb").alias("n_machinery"),
        F.round(
            F.sum(
                F.abs(
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
            )
            * 100.0,
            4,
        ).alias("w1_dollars"),
    )


EXT_WASSERSTEIN_SQL = r"""
WITH seg AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_a,
         CAST(FLOOR(CAST(ROUND(o_totalprice * 100) AS BIGINT) / 10000.0) AS BIGINT)
           AS bin
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
counts AS (
  SELECT bin, CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb
  FROM seg GROUP BY 1
),
tots AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM counts),
cdf AS (
  SELECT bin, SUM(na) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(nb) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM counts
)
SELECT MAX(ta) AS n_building, MAX(tb) AS n_machinery,
       ROUND(SUM(ABS(CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)) * 100.0, 4)
         AS w1_dollars
FROM cdf CROSS JOIN tots
"""


def ext_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch health check for the X274 experiment
    assignment: distinct users per hash arm vs the designed 50/50,
    1-df chi-square statistic and the 3.84 (p=0.05) alarm — the first
    thing a broken randomizer shows, and the check every experiment
    readout must pass BEFORE its effect numbers mean anything.

    Scale shape: one distinct-user collapse, O(1) arithmetic."""
    ev = _t(spark, sf_dir, "events")
    arms = (
        ev.select("user_id")
        .distinct()
        .groupBy((F.col("user_id") % 2 == 0).cast("int").alias("arm"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = arms.agg(
        F.sum("n").alias("n_users"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_c"),
    )
    exp = F.col("n_users").cast("double") / 2.0
    chi = (
        (F.col("n_t") - exp) * (F.col("n_t") - exp) / exp
        + (F.col("n_c") - exp) * (F.col("n_c") - exp) / exp
    )
    return agg.select(
        "n_users",
        "n_t",
        "n_c",
        F.round(chi, 4).alias("chi_square"),
        (chi > 3.841).alias("srm_alarm"),
    )


EXT_SRM_SQL = r"""
WITH arms AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT DISTINCT user_id FROM events) GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_users,
         MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
         MAX(CASE WHEN arm = 0 THEN n END) AS n_c
  FROM arms
)
SELECT n_users, n_t, n_c,
       ROUND((n_t - n_users / 2.0) * (n_t - n_users / 2.0) / (n_users / 2.0)
             + (n_c - n_users / 2.0) * (n_c - n_users / 2.0) / (n_users / 2.0), 4)
         AS chi_square,
       ((n_t - n_users / 2.0) * (n_t - n_users / 2.0) / (n_users / 2.0)
        + (n_c - n_users / 2.0) * (n_c - n_users / 2.0) / (n_users / 2.0)) > 3.841
         AS srm_alarm
FROM agg
"""


EXT_QUERIES.update(
    {
        "ext_markov_attribution": ext_markov_attribution,
        "ext_ips_ate": ext_ips_ate,
        "ext_wasserstein": ext_wasserstein,
        "ext_srm_check": ext_srm_check,
    }
)
EXT_ORACLES.update(
    {
        "ext_markov_attribution": EXT_MARKOV_SQL,
        "ext_ips_ate": EXT_IPS_SQL,
        "ext_wasserstein": EXT_WASSERSTEIN_SQL,
        "ext_srm_check": EXT_SRM_SQL,
    }
)


# --- round-3 wave: Ljung-Box, capture-recapture, skyline, Mahalanobis ---------


def ext_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily order revenue: Q = n(n+2)
    sum_{k=1..10} r_k²/(n-k) over the first ten autocorrelations — the
    'is there ANY serial structure' gate that turns X241's per-lag ACF
    into one decision number (Q > 18.31 rejects whiteness at p=0.05,
    10 df). Pairwise-complete r_k on the calendar grid, as in X241.

    Scale shape: day-axis collapse, ten tiny shifted self-joins, O(1)
    arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    # r13 (guide §5): daily feeds the mean scalar, the denominator pass
    # and BOTH lag-join sides — un-persisted, the orders scan + day
    # exchange ran 4x (the ext_acf shape). Bounded (O(days) rows) ->
    # default level.
    daily = share(
        orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("xc")
        )
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("nd"),
        (F.sum("xc").cast("double") / F.count(F.lit(1))).alias("mu"),
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "day", (F.col("xc").cast("double") - F.col("mu")).alias("d"), "nd"
    )
    denom = dev.agg(F.sum(F.col("d") * F.col("d")).alias("ss"), F.max("nd").alias("n"))
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("lag")
    )
    pairs = (
        F.broadcast(lags)
        .crossJoin(dev.select(F.col("day").alias("d0"), F.col("d").alias("da")))
        .join(
            dev.select(F.col("day").alias("d1"), F.col("d").alias("db")),
            F.expr("d1 = date_add(d0, lag)"),
        )
    )
    rks = (
        pairs.groupBy("lag")
        .agg(F.sum(F.col("da") * F.col("db")).alias("num"))
        .crossJoin(F.broadcast(denom))
        .select(
            "lag",
            "n",
            ((F.col("num") / F.col("ss")) * (F.col("num") / F.col("ss"))).alias("rk2"),
        )
    )
    q = rks.agg(
        F.max("n").alias("n_days"),
        F.sum(F.col("rk2") / (F.col("n") - F.col("lag"))).alias("inner"),
    )
    stat = F.col("n_days") * (F.col("n_days") + 2) * F.col("inner")
    return q.select(
        "n_days",
        F.round(stat, 4).alias("ljung_box_q"),
        (stat > 18.307).alias("reject_whiteness"),
    )


EXT_LJUNG_BOX_SQL = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS xc
  FROM orders GROUP BY 1
),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                 CAST(SUM(xc) AS DOUBLE) / COUNT(*) AS mu FROM daily),
dev AS (SELECT day, CAST(xc AS DOUBLE) - mu AS d, nd FROM daily CROSS JOIN stats),
denom AS (SELECT SUM(d * d) AS ss, MAX(nd) AS n FROM dev),
lags AS (SELECT UNNEST(range(1, 11)) AS lag),
rks AS (
  SELECT l.lag, dn.n,
         (SUM(a.d * b.d) / MAX(dn.ss)) * (SUM(a.d * b.d) / MAX(dn.ss)) AS rk2
  FROM lags l
  JOIN dev a ON TRUE
  JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
  CROSS JOIN denom dn
  GROUP BY l.lag, dn.n
),
q AS (
  SELECT MAX(n) AS n_days, SUM(rk2 / (n - lag)) AS inner_sum FROM rks
)
SELECT n_days,
       ROUND(n_days * (n_days + 2) * inner_sum, 4) AS ljung_box_q,
       n_days * (n_days + 2) * inner_sum > 18.307 AS reject_whiteness
FROM q
"""


def ext_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL user population
    (including never-seen users) from two independent 'captures' —
    users active in the first vs second half of the window:
    N = (n1+1)(n2+1)/(m+1) - 1 with a binomial-variance CI — the
    ecology estimator that answers 'how many users exist that my logs
    have not seen yet', which no distinct-count can.

    Scale shape: two conditional distinct collapses in ONE per-user
    aggregation; the estimator is O(1) arithmetic."""
    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.to_date(
            F.from_unixtime(
                (F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts"))) / 2
            )
        ).alias("mid")
    )
    per = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max((F.to_date("ts") < F.col("mid")).cast("int")).alias("in1"),
            F.max((F.to_date("ts") >= F.col("mid")).cast("int")).alias("in2"),
        )
    )
    agg = per.agg(
        F.sum("in1").alias("n1"),
        F.sum("in2").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).alias("m"),
        F.count(F.lit(1)).alias("n_observed"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m = F.col("m").cast("double")
    nhat = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    var = (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m) / (
        (m + 1) * (m + 1) * (m + 2)
    )
    return agg.select(
        "n1",
        "n2",
        "m",
        "n_observed",
        F.round(nhat, 2).alias("n_total_est"),
        F.round(nhat - 1.96 * F.sqrt(var), 2).alias("ci_lo"),
        F.round(nhat + 1.96 * F.sqrt(var), 2).alias("ci_hi"),
    )


EXT_CAPTURE_RECAPTURE_SQL = r"""
WITH mid AS (
  SELECT CAST(to_timestamp((epoch(MIN(ts)) + epoch(MAX(ts))) / 2) AS DATE) AS mid
  FROM events
),
per AS (
  SELECT user_id,
         MAX(CASE WHEN CAST(ts AS DATE) < mid THEN 1 ELSE 0 END) AS in1,
         MAX(CASE WHEN CAST(ts AS DATE) >= mid THEN 1 ELSE 0 END) AS in2
  FROM events CROSS JOIN mid GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(in1) AS BIGINT) AS n1, CAST(SUM(in2) AS BIGINT) AS n2,
         CAST(SUM(in1 * in2) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_observed
  FROM per
)
SELECT n1, n2, m, n_observed,
       ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1, 2) AS n_total_est,
       ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1
             - 1.96 * SQRT((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
                           / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 2) AS ci_lo,
       ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1
             + 1.96 * SQRT((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
                           / ((m + 1.0) * (m + 1.0) * (m + 2.0))), 2) AS ci_hi
FROM agg
"""


def ext_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: cheapest-price vs
    largest-size — parts no other part beats on BOTH axes. The classic
    multi-criteria shortlist operator relational engines lack: computed
    by the sort-scan formulation (order by price asc, size desc; keep
    rows whose size strictly exceeds the running max), with min-price
    tie groups handled by keeping only dominating representatives.

    Scale shape: collapse to distinct (price, size) pairs first (the
    frontier only depends on the collapsed set), sweep with a window
    over that axis, re-attach part ids by equi-join. The dimension
    table is O(catalog) — bounded — and the sweep axis is its distinct
    projection."""
    part = _t(spark, sf_dir, "part")
    pts = part.select(
        F.round(F.col("p_retailprice") * 100).cast("long").alias("pc"),
        F.col("p_size").cast("long").alias("sz"),
    ).distinct()
    # keep max size per price level (others are dominated at equal price)
    lvl = pts.groupBy("pc").agg(F.max("sz").alias("sz"))
    wsweep = Window.orderBy("pc").rowsBetween(Window.unboundedPreceding, -1)
    sky = (
        lvl.withColumn("prev_max", F.max("sz").over(wsweep))
        .filter(F.col("prev_max").isNull() | (F.col("sz") > F.col("prev_max")))
        .select("pc", "sz")
    )
    out = part.join(
        sky,
        (F.round(F.col("p_retailprice") * 100).cast("long") == F.col("pc"))
        & (F.col("p_size").cast("long") == F.col("sz")),
    )
    return (
        out.select(
            "p_partkey",
            "p_brand",
            F.round(F.col("pc") / 100.0, 2).alias("price"),
            F.col("sz").alias("size"),
        )
        .orderBy("price", "p_partkey")
    )


EXT_SKYLINE_SQL = r"""
WITH pts AS (
  SELECT DISTINCT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS pc,
         CAST(p_size AS BIGINT) AS sz
  FROM part
),
lvl AS (SELECT pc, MAX(sz) AS sz FROM pts GROUP BY 1),
sky AS (
  SELECT pc, sz FROM (
    SELECT pc, sz,
           MAX(sz) OVER (ORDER BY pc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
    FROM lvl
  ) WHERE prev_max IS NULL OR sz > prev_max
)
SELECT p.p_partkey, p.p_brand,
       ROUND(s.pc / 100.0, 2) AS price, s.sz AS size
FROM part p
JOIN sky s ON CAST(ROUND(p.p_retailprice * 100) AS BIGINT) = s.pc
          AND CAST(p.p_size AS BIGINT) = s.sz
ORDER BY price, p.p_partkey
"""


def ext_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis multivariate outlier audit of customers over
    (order count, total spend, avg order gap is omitted — two exact
    features plus account balance): D² = sum of squared z-scores with
    population moments from exact sums; flags D² above the chi-square
    (3 df, p=0.01) cutoff 11.345 — catches jointly-extreme customers
    that every single-feature fence (X107) passes.

    Scale shape: one per-customer collapse, broadcast moment scalars,
    row-local scoring; output only the flagged rows (k-bounded head)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_c"),
        )
        .join(cust, "o_custkey")
    )
    mom = per.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            expr
            for c in ["n_orders", "spend_c", "bal_c"]
            for expr in (
                F.sum(c).alias(f"s_{c}"),
                F.sum(F.col(c).cast("decimal(19,0)") * F.col(c)).alias(f"ss_{c}"),
            )
        ],
    )
    j = per.crossJoin(F.broadcast(mom))
    n = F.col("n").cast("double")

    def z(c):
        mu = F.col(f"s_{c}").cast("double") / n
        sd = F.sqrt(F.col(f"ss_{c}").cast("double") / n - mu * mu)
        return (F.col(c).cast("double") - mu) / sd

    d2 = (
        z("n_orders") * z("n_orders")
        + z("spend_c") * z("spend_c")
        + z("bal_c") * z("bal_c")
    )
    return (
        j.select("o_custkey", F.round(d2, 4).alias("d2"))
        .filter(F.col("d2") > 11.345)
        .orderBy(F.col("d2").desc(), "o_custkey")
        .limit(100)
    )


EXT_MAHALANOBIS_SQL = r"""
WITH per AS (
  SELECT o.o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_c,
         CAST(ROUND(MAX(c.c_acctbal) * 100) AS BIGINT) AS bal_c
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_orders) AS BIGINT) AS s_n,
         CAST(SUM(CAST(n_orders AS HUGEINT) * n_orders) AS DECIMAL(38,0)) AS ss_n,
         CAST(SUM(spend_c) AS BIGINT) AS s_sp,
         CAST(SUM(CAST(spend_c AS HUGEINT) * spend_c) AS DECIMAL(38,0)) AS ss_sp,
         CAST(SUM(bal_c) AS BIGINT) AS s_b,
         CAST(SUM(CAST(bal_c AS HUGEINT) * bal_c) AS DECIMAL(38,0)) AS ss_b
  FROM per
),
scored AS (
  SELECT o_custkey,
         ROUND(
           POWER((n_orders - CAST(s_n AS DOUBLE) / n)
                 / SQRT(CAST(ss_n AS DOUBLE) / n - POWER(CAST(s_n AS DOUBLE) / n, 2)), 2)
           + POWER((spend_c - CAST(s_sp AS DOUBLE) / n)
                 / SQRT(CAST(ss_sp AS DOUBLE) / n - POWER(CAST(s_sp AS DOUBLE) / n, 2)), 2)
           + POWER((bal_c - CAST(s_b AS DOUBLE) / n)
                 / SQRT(CAST(ss_b AS DOUBLE) / n - POWER(CAST(s_b AS DOUBLE) / n, 2)), 2),
           4) AS d2
  FROM per CROSS JOIN mom
)
SELECT o_custkey, d2 FROM scored WHERE d2 > 11.345
ORDER BY d2 DESC, o_custkey LIMIT 100
"""


EXT_QUERIES.update(
    {
        "ext_ljung_box": ext_ljung_box,
        "ext_capture_recapture": ext_capture_recapture,
        "ext_skyline": ext_skyline,
        "ext_mahalanobis_outliers": ext_mahalanobis_outliers,
    }
)
EXT_ORACLES.update(
    {
        "ext_ljung_box": EXT_LJUNG_BOX_SQL,
        "ext_capture_recapture": EXT_CAPTURE_RECAPTURE_SQL,
        "ext_skyline": EXT_SKYLINE_SQL,
        "ext_mahalanobis_outliers": EXT_MAHALANOBIS_SQL,
    }
)


# --- round-3 wave: assortativity, RBO, numeric audit, runs test ---------------


def ext_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the 5-NN cosine graph (X258's edges):
    Pearson correlation of endpoint degrees over undirected edges —
    positive = hubs link to hubs (skew compounds at query time),
    negative = hub-and-spoke (the usual ANN-graph shape). Exact integer
    degree sums; both endpoint orientations counted (the standard
    undirected estimator).

    Scale shape: edges from a CAP-ADAPTIVE thinned vertex panel (~1000
    vertices at any corpus size via capped_panel_modulus — a fixed %2
    panel is half the corpus, quadratic under the brute scorer; modulus
    2 at every committed fixture SF, outputs bit-identical there; ANN
    candidates at corpus scale); degrees are one O(nodes) collapse
    broadcast back; the correlation is one O(edges) aggregate."""
    emb_all = _t(spark, sf_dir, "embeddings")
    p = capped_panel_modulus(corpus_count(spark, sf_dir, "embeddings"), base=2, cap=1000)
    emb = emb_all.filter(F.col("vec_id") % p == 0)
    hits = similarity.brute_topk(emb, emb, k=5)
    # r12: the kNN edge list feeds four branches (degree union + both
    # endpoint joins); un-materialized, each branch re-ran the panel
    # brute scorer (40 parquet scans in the measured plan — pruning
    # specializes the copies, so exchange reuse cannot dedupe them).
    # Eager checkpoint = one scorer pass, object-scoped (no cross-query
    # cache leakage; ext_modularity builds the identical kNN plan).
    from aircan_spark.data import checkpoint as _ckpt

    edges = _ckpt(
        hits.select(
            F.least("query_id", "neighbor_id").alias("u"),
            F.greatest("query_id", "neighbor_id").alias("v"),
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tagged = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))),
            "v",
        )
    )
    # both orientations: (du,dv) and (dv,du)
    ends = tagged.select(
        F.col("du").alias("x"), F.col("dv").alias("y")
    ).unionByName(tagged.select(F.col("dv").alias("x"), F.col("du").alias("y")))
    agg = ends.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("long") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("long") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("long") * F.col("y")).alias("syy"),
    )
    n = F.col("m2").cast("double")
    r = (n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return agg.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        F.round(r, 6).alias("assortativity"),
    )


EXT_ASSORTATIVITY_SQL = r"""
WITH p AS (
  SELECT 2 * GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS p
  FROM embeddings
),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % (SELECT p FROM p) = 0
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM e q CROSS JOIN e c
  WHERE q.vec_id <> c.vec_id
),
hits AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank FROM scored
  ) WHERE rank <= 5
),
edges AS (
  SELECT DISTINCT LEAST(query_id, neighbor_id) AS u,
         GREATEST(query_id, neighbor_id) AS v
  FROM hits
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY 1
),
ends AS (
  SELECT du.d AS x, dv.d AS y
  FROM edges ed JOIN deg du ON du.node = ed.u JOIN deg dv ON dv.node = ed.v
  UNION ALL
  SELECT dv.d AS x, du.d AS y
  FROM edges ed JOIN deg du ON du.node = ed.u JOIN deg dv ON dv.node = ed.v
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy
  FROM ends
)
SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
       ROUND((m2 * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((m2 * sxx - CAST(sx AS DOUBLE) * sx)
                    * (m2 * syy - CAST(sy AS DOUBLE) * sy)), 6) AS assortativity
FROM agg
"""


def ext_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p=0.9, depth 50) between the BM25 ranking
    and the quality-prior ranking over the shared candidate set —
    the top-weighted ranking-similarity number behind X251's fusion
    decision: RBO near 1 means the signals agree and fusion adds
    nothing; near 0 means they rank different documents up top.
    RBO@50 = (1-p)/(1-p^50-ish truncation) ... reported as the
    truncated sum (1-p) * sum_{d<=50} p^(d-1) * overlap(d)/d.

    Scale shape: both rankings run over the candidate set (X251's
    bound); overlap(d) comes from each shared item's max rank — one
    O(candidates) collapse, then the weighted sum on the 50-row depth
    axis."""
    docs = _t(spark, sf_dir, "documents")
    cand = text.bm25_scores(docs, BM25_QUERY_TERMS).select("doc_id", "score")
    q = text.quality_score(docs).select("doc_id", "quality")
    j = cand.join(q, "doc_id")
    wb = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    wq = Window.orderBy(F.col("quality").desc(), F.col("doc_id"))
    ranked = j.withColumn("r1", F.row_number().over(wb)).withColumn(
        "r2", F.row_number().over(wq)
    )
    mx = ranked.select(
        F.greatest("r1", "r2").alias("m")
    ).filter(F.col("m") <= 50)
    per_m = mx.groupBy("m").agg(F.count(F.lit(1)).alias("c"))
    depths = spark.range(1).select(
        F.explode(F.sequence(F.lit(1), F.lit(50))).alias("d")
    )
    ov = (
        F.broadcast(depths)
        .join(per_m, F.col("m") <= F.col("d"))
        .groupBy("d")
        .agg(F.sum("c").alias("overlap"))
    )
    term = F.pow(F.lit(0.9), F.col("d") - 1) * F.col("overlap") / F.col("d")
    return ov.agg(
        F.round(F.lit(0.1) * F.sum(term), 6).alias("rbo_at_50"),
        F.max(F.when(F.col("d") == 50, F.col("overlap"))).alias("overlap_at_50"),
    )


EXT_RBO_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
),
lens AS (SELECT doc_id, len(w) AS dl, w FROM toks),
scalars AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM lens),
words AS (SELECT doc_id, dl, UNNEST(w) AS word FROM lens),
tf AS (
  SELECT doc_id, dl, word, COUNT(*) AS tf
  FROM words WHERE word IN ('join', 'merge', 'window')
  GROUP BY doc_id, dl, word
),
dfreq AS (SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY word),
comp AS (
  SELECT tf.doc_id,
         CAST(
           LN(1.0 + (CAST(s.n AS DOUBLE) - CAST(d.doc_freq AS DOUBLE) + 0.5)
                    / (CAST(d.doc_freq AS DOUBLE) + 0.5))
           * CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)
           / (CAST(tf.tf AS DOUBLE)
              + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE)
                                     / (CAST(s.total_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))
           AS DECIMAL(27,12)) AS comp
  FROM tf JOIN dfreq d ON tf.word = d.word CROSS JOIN scalars s
),
cand AS (
  SELECT doc_id, ROUND(CAST(SUM(comp) AS DOUBLE), 6) AS score
  FROM comp GROUP BY doc_id
),
qual AS (
  SELECT doc_id,
         ROUND(
           LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)),
           4) AS quality
  FROM documents
),
ranked AS (
  SELECT c.doc_id,
         ROW_NUMBER() OVER (ORDER BY c.score DESC, c.doc_id) AS r1,
         ROW_NUMBER() OVER (ORDER BY q.quality DESC, c.doc_id) AS r2
  FROM cand c JOIN qual q ON q.doc_id = c.doc_id
),
per_m AS (
  SELECT GREATEST(r1, r2) AS m, CAST(COUNT(*) AS BIGINT) AS c
  FROM ranked WHERE GREATEST(r1, r2) <= 50 GROUP BY 1
),
depths AS (SELECT UNNEST(range(1, 51)) AS d),
ov AS (
  SELECT d, CAST(SUM(c) AS BIGINT) AS overlap
  FROM depths JOIN per_m ON m <= d GROUP BY 1
)
SELECT ROUND(0.1 * SUM(POWER(0.9, d - 1) * overlap / d), 6) AS rbo_at_50,
       MAX(CASE WHEN d = 50 THEN overlap END) AS overlap_at_50
FROM ov
"""


def ext_numeric_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-precision audit of the lineitem measures: decimals
    actually used (max observed scale), sign/zero mix, and the value
    span in log10 — the schema-tightening advisor that says whether a
    DOUBLE column is really a DECIMAL(m, 2) in disguise (storage,
    exactness, and pushdown all improve when it is). Long-form output,
    one row per audited column.

    Scale shape: one pass per column collapsed to O(1) audit rows; the
    decimal-scale probe is row-local integer arithmetic (value*10^k
    roundtrip), unioned across columns."""
    li = _t(spark, sf_dir, "lineitem")
    outs = []
    for col in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]:
        c = F.col(col)
        # max decimal scale actually used among {0,1,2}: value*10^k is integral
        k = (
            F.when(c * 1 == F.round(c * 1), 0)
            .when(c * 10 == F.round(c * 10), 1)
            .when(c * 100 == F.round(c * 100), 2)
            .otherwise(3)
        )
        outs.append(
            li.agg(
                F.lit(col).alias("column_name"),
                F.max(k).alias("max_scale_used"),
                F.sum((c < 0).cast("long")).alias("n_negative"),
                F.sum((c == 0).cast("long")).alias("n_zero"),
                F.round(
                    F.log10(F.max(F.abs(c)) / F.greatest(F.min(F.abs(F.nullif(c, F.lit(0.0)))), F.lit(1e-12))),
                    2,
                ).alias("span_log10"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("column_name")


EXT_NUMERIC_AUDIT_SQL = r"""
WITH cols AS (
  SELECT 'l_quantity' AS column_name, l_quantity AS v FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT column_name,
       CAST(MAX(CASE WHEN v * 1 = ROUND(v * 1) THEN 0
                WHEN v * 10 = ROUND(v * 10) THEN 1
                WHEN v * 100 = ROUND(v * 100) THEN 2
                ELSE 3 END) AS INTEGER) AS max_scale_used,
       CAST(SUM(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
       CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       ROUND(LOG10(MAX(ABS(v)) / GREATEST(MIN(CASE WHEN v <> 0 THEN ABS(v) END), 1e-12)), 2)
         AS span_log10
FROM cols GROUP BY 1 ORDER BY column_name
"""


def ext_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue vs its median: the
    number of above/below runs against the randomness expectation
    (too few runs = sticky regimes/trend, too many = oscillation) —
    the order-sensitive randomness check that complements X283's
    monotone-trend test (a square wave fools Mann-Kendall; it lights
    this up). Median days are excluded (standard treatment).

    Scale shape: day-axis collapse, broadcast median, one lag over the
    tiny ordered axis, O(1) statistic."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
    )
    med = daily.agg(F.expr("percentile(x, 0.5)").alias("md"))
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("x") != F.col("md"))
        .select("day", (F.col("x") > F.col("md")).cast("int").alias("s"))
    )
    wd = Window.orderBy("day")
    runs = signed.withColumn("prev", F.lag("s").over(wd)).agg(
        F.sum("s").alias("n_above"),
        F.sum(F.lit(1) - F.col("s")).alias("n_below"),
        (
            F.sum(
                (F.col("prev").isNull() | (F.col("s") != F.col("prev"))).cast(
                    "long"
                )
            )
        ).alias("n_runs"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    z = (F.col("n_runs").cast("double") - mu) / F.sqrt(var)
    return runs.select(
        "n_above",
        "n_below",
        "n_runs",
        F.round(mu, 4).alias("expected_runs"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("nonrandom"),
    )


EXT_RUNS_TEST_SQL = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
med AS (SELECT quantile_cont(x, 0.5) AS md FROM daily),
signed AS (
  SELECT day, CASE WHEN x > md THEN 1 ELSE 0 END AS s
  FROM daily CROSS JOIN med WHERE x <> md
),
runs AS (
  SELECT CAST(SUM(s) AS BIGINT) AS n_above,
         CAST(SUM(1 - s) AS BIGINT) AS n_below,
         CAST(SUM(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_runs
  FROM (SELECT day, s, LAG(s) OVER (ORDER BY day) AS prev FROM signed)
)
SELECT n_above, n_below, n_runs,
       ROUND(2.0 * n_above * n_below / (n_above + n_below) + 1.0, 4) AS expected_runs,
       ROUND((n_runs - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
             / SQRT(2.0 * n_above * n_below * (2.0 * n_above * n_below - n_above - n_below)
                    / ((n_above + n_below) * (n_above + n_below)
                       * (n_above + n_below - 1.0))), 4) AS z,
       ABS((n_runs - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
           / SQRT(2.0 * n_above * n_below * (2.0 * n_above * n_below - n_above - n_below)
                  / ((n_above + n_below) * (n_above + n_below)
                     * (n_above + n_below - 1.0)))) > 1.96 AS nonrandom
FROM runs
"""


EXT_QUERIES.update(
    {
        "ext_assortativity": ext_assortativity,
        "ext_rbo": ext_rbo,
        "ext_numeric_audit": ext_numeric_audit,
        "ext_runs_test": ext_runs_test,
    }
)
EXT_ORACLES.update(
    {
        "ext_assortativity": EXT_ASSORTATIVITY_SQL,
        "ext_rbo": EXT_RBO_SQL,
        "ext_numeric_audit": EXT_NUMERIC_AUDIT_SQL,
        "ext_runs_test": EXT_RUNS_TEST_SQL,
    }
)


# --- round-3 wave: Theil-Sen, 2-D histogram, UNK rate, McNemar ----------------


def _theil_sen_median(slopes: DataFrame, budget: int = 200_000, max_refine: int = 4):
    """Exact median of the double column ``s`` by ITERATIVE distributed
    selection: a 10k-bucket histogram locates the two middle order
    statistics; if their buckets hold more than ``budget`` rows the
    selection RE-HISTOGRAMS inside those buckets (narrowed bounds, fresh
    10k buckets — each round multiplies resolution by ~10^4) instead of
    giving up, and only the final sub-budget bucket is collected and
    sorted exactly. Bit-identical to percentile()/quantile_cont (same
    lo + frac*(hi-lo) interpolation at p=(n-1)/2, candidates are the
    exact stored doubles) at any refinement depth.

    The refinement matters in the heavy-center regime this corpus
    actually has: day-gap-1 outlier slopes stretch the range ~1e9x
    wider than the mass around the median, so ONE histogram level puts
    ~20% of all pairs in the median's bucket (590k rows at sf0.1 —
    over budget) and the old single-level code fell back to the
    single-buffer percentile() aggregate: measured 11.3s of the
    query's 13.9s. Two levels isolate the order statistics in <1k
    rows: measured ~4s end-to-end, same value to the last bit.

    Guards (asserted not assumed):
    - n == 0 (or NULL bounds from an all-NULL column) -> (0, None);
    - window collapses to a single value (mn == mx) -> that value;
    - ``max_refine`` rounds without reaching ``budget`` (pathological
      duplicate-heavy distributions where the window cannot shrink) ->
      the single-buffer exact percentile() fallback. Same value,
      bounded driver memory on every path.
    Returns (n, median)."""
    # NULL s rows would land in a NULL histogram bucket (sorted first),
    # desyncing cum vs the non-null n (count/min/max/percentile all skip
    # NULLs) and raising on int(r['b']) if selected — drop them up front
    slopes = slopes.filter(F.col("s").isNotNull())
    rng = slopes.agg(
        F.count("s").alias("n"), F.min("s").alias("mn"), F.max("s").alias("mx")
    ).collect()[0]
    n = int(rng["n"])
    if n == 0 or rng["mn"] is None:
        return 0, None
    mn, mx = float(rng["mn"]), float(rng["mx"])
    if mn == mx:
        return n, mn
    lo_idx = (n - 1) // 2
    hi_idx = (n - 1) - (n - 1) // 2
    frame, before = slopes, 0  # current window; rows strictly below it
    for _ in range(max_refine):
        inv_w = 1.0 / max((mx - mn) / 10000.0, 1e-12)
        bucket = F.floor((F.col("s") - mn) * inv_w)
        hist = (
            frame.groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy("b")
            .collect()
        )
        cum, need, need_rows = before, [], 0
        for r in hist:
            if cum <= hi_idx and cum + r["c"] > lo_idx:
                need.append(int(r["b"]))
                need_rows += int(r["c"])
            cum += r["c"]
        below = before + sum(
            int(r["c"]) for r in hist if int(r["b"]) < need[0]
        )
        narrowed = frame.filter(bucket.isin(need))
        if need_rows <= budget:
            cand = sorted(v["s"] for v in narrowed.collect())
            lo = cand[lo_idx - below]
            hi = cand[hi_idx - below]
            frac = (n - 1) * 0.5 - lo_idx
            return n, lo + frac * (hi - lo)
        sub = narrowed.agg(
            F.min("s").alias("mn"), F.max("s").alias("mx")
        ).collect()[0]
        mn, mx = float(sub["mn"]), float(sub["mx"])
        if mn == mx:
            # every remaining candidate is the same value -> both order
            # statistics equal it, interpolation is the identity
            return n, mn
        frame, before = narrowed, below
    med = slopes.agg(F.expr("percentile(s, 0.5)").alias("m")).collect()[0]["m"]
    return n, float(med)


def ext_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope of daily revenue: the median of all
    pairwise day-to-day slopes — 29% outlier breakdown where OLS
    (X205's elasticity machinery) has zero; the ESTIMATE companion to
    X283's Mann-Kendall TEST (same pair sweep, median instead of sign
    sum). Slopes are exact-int differences divided once.

    Scale shape: day-axis collapse first (checkpointed once), then the
    O(days²) slope frame is materialized once (SF-independent,
    calendar-bounded — a few MB) so the selection scans it instead of
    re-running the pair join; the exact median comes from ITERATIVE
    distributed selection (10k-bucket histogram, re-histogrammed inside
    the hot bucket when it exceeds the driver-collect budget) with a
    percentile() fallback — see ``_theil_sen_median`` (13.9 s -> 8.5 s
    cold / 3.2 s warm at sf0.1; the value is bit-identical to
    percentile()/quantile_cont on every path)."""
    orders = _t(spark, sf_dir, "orders")
    # persist (not checkpoint): this query's RESULT is a literal frame
    # built from the eagerly computed median, so the scope releases both
    # intermediates before returning — the r10 endurance smoke found the
    # checkpointed slope frame (~220 MB at 10x) outliving the query for
    # the whole session
    with scope():
        # materialize the O(days) axis once: the selection below runs
        # three jobs over the pair frame, and without materialization
        # each re-scans the fact table
        daily = share(
            orders.groupBy(F.to_date("o_orderdate").alias("day"))
            .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))
        )
        a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"))
        b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"))
        # try_divide: the histogram-filter predicate below gets pushed into
        # the join and may be evaluated BEFORE the d1<d2 conjunct; on a
        # same-day pair datediff is 0 and Spark-4 ANSI throws even for
        # double division. try_divide yields NULL there, and those pairs
        # are excluded by the join condition anyway — values on surviving
        # pairs are identical.
        slopes = a.join(b, F.col("d1") < F.col("d2")).select(
            F.try_divide(
                (F.col("x2") - F.col("x1")).cast("double"),
                F.datediff("d2", "d1").cast("double"),
            ).alias("s")
        )
        # materialize the O(days^2) slope frame ONCE (a few MB of
        # doubles): the selection below runs three jobs (bounds,
        # histogram, bucket collect) and without materialization each
        # re-executes the pair nested-loop join — measured 13.9s -> ~7s
        # cold at sf0.1
        slopes = share(slopes)
        n, med = _theil_sen_median(slopes)
    out = spark.createDataFrame(
        [(n, med)], "n_pairs long, med double"
    )
    return out.select(
        "n_pairs",
        F.round(F.col("med") / 100.0, 4).alias("slope_dollars_per_day"),
    )


EXT_THEIL_SEN_SQL = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
slopes AS (
  SELECT CAST(b.x - a.x AS DOUBLE) / date_diff('day', a.day, b.day) AS s
  FROM daily a JOIN daily b ON a.day < b.day
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(quantile_cont(s, 0.5) / 100.0, 4) AS slope_dollars_per_day
FROM slopes
"""


def ext_hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D density grid of (quantity band x discount level) with each
    cell's revenue share — the joint-distribution heatmap behind
    pricing questions that two 1-D histograms (X52) cannot answer
    (quantity and discount are dependent: that IS the finding). Exact
    integer binning (quantities band by 5s, discounts are exact cent
    levels), revenue in exact cents.

    Scale shape: one row-local binning pass, one O(cells) hash agg,
    broadcast total for the share."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor((F.round(F.col("l_quantity")).cast("long") - 1) / 5).alias("q_band"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("ec"),
    )
    # r13 (guide §5): cells feeds the broadcast total AND the share
    # projection — un-persisted, the lineitem binning pass ran twice per
    # execution. Bounded frame (bands x cent-levels) -> default level.
    cells = share(
        li.groupBy("q_band", "disc_pct").agg(
            F.count(F.lit(1)).alias("n_lines"), F.sum("ec").alias("rev_c")
        )
    )
    tot = cells.agg(F.sum("rev_c").alias("t"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "q_band",
            "disc_pct",
            "n_lines",
            F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
            F.round(F.col("rev_c") / F.col("t").cast("double"), 6).alias(
                "rev_share"
            ),
        )
        .orderBy("q_band", "disc_pct")
    )


EXT_HIST2D_SQL = r"""
WITH li AS (
  SELECT CAST(FLOOR((CAST(ROUND(l_quantity) AS BIGINT) - 1) / 5.0) AS BIGINT)
           AS q_band,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ec
  FROM lineitem
),
cells AS (
  SELECT q_band, disc_pct, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(ec) AS BIGINT) AS rev_c
  FROM li GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS t FROM cells)
SELECT q_band, disc_pct, n_lines,
       ROUND(rev_c / 100.0, 2) AS revenue,
       ROUND(CAST(rev_c AS DOUBLE) / t, 6) AS rev_share
FROM cells CROSS JOIN tot
ORDER BY q_band, disc_pct
"""


def ext_unk_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-truncation impact per source: with the corpus vocab
    capped at min_count >= 3, the share of running tokens that become
    '<unk>' and the share of kept (distinct) types — the tokenizer-
    budget tradeoff every vocab-capped model makes, broken out by
    source (template-heavy feeds keep more mass with fewer types).

    Scale shape: one corpus token-count exchange builds the kept-vocab
    set; per-source rates come from a second count pass joined against
    the broadcast-sized kept set (vocab ≪ corpus)."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("kept", (F.col("c") >= 3).cast("int"))
    )
    per = (
        toks.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(vocab.select("w", "kept"), "w")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("n") * (1 - F.col("kept"))).alias("n_unk_tokens"),
            F.sum(F.lit(1) - F.col("kept")).alias("n_unk_types"),
        )
    )
    return per.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(F.col("n_unk_tokens") / F.col("n_tokens").cast("double"), 6).alias(
            "unk_token_rate"
        ),
        F.round(F.col("n_unk_types") / F.col("n_types").cast("double"), 6).alias(
            "unk_type_rate"
        ),
    ).orderBy("source")


EXT_UNK_RATE_SQL = r"""
WITH tok AS (
  SELECT source, w FROM (
    SELECT source, UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> ''
),
vocab AS (
  SELECT w, CASE WHEN COUNT(*) >= 3 THEN 1 ELSE 0 END AS kept
  FROM tok GROUP BY 1
),
per AS (
  SELECT t.source, t.w, CAST(COUNT(*) AS BIGINT) AS n, MAX(v.kept) AS kept
  FROM tok t JOIN vocab v ON v.w = t.w
  GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(CAST(SUM(n * (1 - kept)) AS DOUBLE) / SUM(n), 6) AS unk_token_rate,
       ROUND(CAST(SUM(1 - kept) AS DOUBLE) / COUNT(*), 6) AS unk_type_rate
FROM per GROUP BY 1 ORDER BY source
"""


def ext_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired test between two English detectors on the SAME
    documents — the marker-based lang-id (X11) vs a stopword-ratio
    threshold — counting only the discordant documents (b: only A
    right, c: only B right), continuity-corrected chi-square — the
    correct way to compare two classifiers evaluated on one corpus
    (two independent accuracy CIs overlap-test is wrong; X243/X265
    score one model, this decides between two).

    Scale shape: row-local predictions, one O(1) discordance collapse."""
    docs = text.lang_id(_t(spark, sf_dir, "documents"))
    stops = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != ""
    )
    scored = docs.select(
        (F.col("lang") == "en").alias("y"),
        (F.col("pred_lang") == "en").alias("pa"),
        (
            (
                F.size(F.filter(toks, lambda w: w.isin(stops)))
                / F.greatest(F.size(toks), F.lit(1))
            )
            > 0.08
        ).alias("pb"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y"))).cast("long")).alias("b"),
        F.sum(((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y"))).cast("long")).alias("c"),
    )
    chi = (
        (F.abs(F.col("b") - F.col("c")) - 1)
        * (F.abs(F.col("b") - F.col("c")) - 1)
        / (F.col("b") + F.col("c")).cast("double")
    )
    return agg.select(
        "n_docs",
        "b",
        "c",
        F.round(chi, 4).alias("mcnemar_chi2"),
        (chi > 3.841).alias("detectors_differ"),
    )


EXT_MCNEMAR_SQL = r"""
WITH scored AS (
  SELECT lang = 'en' AS y,
         (CASE
            WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
            WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
            WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
            WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
            ELSE 'fr'
          END) = 'en' AS pa,
         (CAST(len(list_filter(toks, w -> list_contains(
               ['the','a','an','and','or','of','to','in','is','it'], w)))
           AS DOUBLE) / GREATEST(len(toks), 1)) > 0.08 AS pb
  FROM (
    SELECT lang,
           LEN(regexp_extract_all(LOWER(text), '\b(der|und|das|nicht)\b')) AS score_de,
           LEN(regexp_extract_all(LOWER(text), '\b(the|and|of|is)\b')) AS score_en,
           LEN(regexp_extract_all(LOWER(text), '\b(el|los|una|que)\b')) AS score_es,
           LEN(regexp_extract_all(LOWER(text), '\b(le|la|les|des)\b')) AS score_fr,
           list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                       w -> w <> '') AS toks
    FROM documents
  )
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM scored
)
SELECT n_docs, b, c,
       ROUND((ABS(b - c) - 1) * (ABS(b - c) - 1) / CAST(b + c AS DOUBLE), 4)
         AS mcnemar_chi2,
       (ABS(b - c) - 1) * (ABS(b - c) - 1) / CAST(b + c AS DOUBLE) > 3.841
         AS detectors_differ
FROM agg
"""


EXT_QUERIES.update(
    {
        "ext_theil_sen": ext_theil_sen,
        "ext_hist2d": ext_hist2d,
        "ext_unk_rate": ext_unk_rate,
        "ext_mcnemar": ext_mcnemar,
    }
)
EXT_ORACLES.update(
    {
        "ext_theil_sen": EXT_THEIL_SEN_SQL,
        "ext_hist2d": EXT_HIST2D_SQL,
        "ext_unk_rate": EXT_UNK_RATE_SQL,
        "ext_mcnemar": EXT_MCNEMAR_SQL,
    }
)


# --- round-3 wave: LOF outliers, LSH parameter planner ------------------------


def ext_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor (k=5, euclidean) on the hash-thinned
    embedding panel: reach-dist smoothed density ratio vs each point's
    neighborhood — the DENSITY-based outlier detector that catches
    points stranded between clusters, which both the centroid audit
    (X190) and the Mahalanobis fence (X285) miss by construction.
    Top-20 by LOF.

    Scale shape: exact k-NN from the broadcast pair scan on a
    CAP-ADAPTIVE thinned panel (~500 rows at any corpus size via
    capped_panel_modulus — a fixed %4 fraction would make the pair scan
    quadratic; modulus 4 at every committed fixture SF, outputs
    bit-identical there; ANN candidates at corpus scale); k-dist/lrd/
    LOF are three O(n*k) regroupings — no step touches more than the
    neighbor lists."""
    emb_all = _t(spark, sf_dir, "embeddings")
    p = capped_panel_modulus(corpus_count(spark, sf_dir, "embeddings"), base=4, cap=500)
    emb = emb_all.filter(F.col("vec_id") % p == 0)
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    pairs = (
        F.broadcast(e.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")))
        .crossJoin(e.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")))
        .filter(F.col("qid") != F.col("cid"))
    )
    d = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        9,
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("cid").asc())
    nn = (
        pairs.select("qid", "cid", d.alias("d"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 5)
        .transform(checkpoint)
    )
    kdist = nn.groupBy("qid").agg(F.max("d").alias("kd"))
    reach = nn.join(
        kdist.select(F.col("qid").alias("cid"), F.col("kd").alias("kd_o")), "cid"
    ).select("qid", "cid", F.greatest("d", "kd_o").alias("rd"))
    # try_divide: a duplicate-heavy corpus makes a point's whole 5-NN
    # exact copies (reach-dist 0), so avg(rd) == 0 and the local
    # reachability density is the classic LOF duplicate degeneracy —
    # undefined (NULL) here, not an ANSI divide-by-zero crash (found by
    # the 10x verbatim-replica scale run). Oracle mirrors via NULLIF.
    # r13 note: lrd feeds two branches, but persisting it was measured
    # SLOWER (first 0.98->1.48s, second 0.62->1.13s, 3-round A/B) — both
    # branches re-derive from the CHECKPOINTED nn, so the duplicated
    # subtree is two cheap regroupings, and the persist fill costs more
    # than it saves (the ext_waiting_suppliers lesson). Left unpersisted
    # on purpose.
    lrd = reach.groupBy("qid").agg(
        F.try_divide(F.lit(1.0), F.avg("rd")).alias("lrd")
    )
    lof = (
        nn.join(lrd.select(F.col("qid").alias("cid"), F.col("lrd").alias("lrd_o")), "cid")
        .groupBy("qid")
        .agg(F.avg("lrd_o").alias("avg_lrd_o"))
        .join(lrd, "qid")
        .select("qid", (F.col("avg_lrd_o") / F.col("lrd")).alias("lof"))
    )
    return (
        lof.select(F.col("qid").alias("vec_id"), F.round("lof", 4).alias("lof"))
        .orderBy(F.col("lof").desc(), "vec_id")
        .limit(20)
    )


EXT_LOF_SQL = r"""
WITH p AS (
  SELECT 4 * GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS p
  FROM embeddings
),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % (SELECT p FROM p) = 0
),
scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         ROUND(list_distance(q.v, c.v), 9) AS d
  FROM e q CROSS JOIN e c WHERE q.vec_id <> c.vec_id
),
nn AS (
  SELECT qid, cid, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d ASC, cid ASC) AS rn
    FROM scored
  ) WHERE rn <= 5
),
kdist AS (SELECT qid, MAX(d) AS kd FROM nn GROUP BY 1),
reach AS (
  SELECT n.qid, n.cid, GREATEST(n.d, ko.kd) AS rd
  FROM nn n JOIN kdist ko ON ko.qid = n.cid
),
lrd AS (SELECT qid, 1.0 / NULLIF(AVG(rd), 0) AS lrd FROM reach GROUP BY 1),
lof AS (
  SELECT n.qid, AVG(lo.lrd) / MAX(ls.lrd) AS lof
  FROM nn n
  JOIN lrd lo ON lo.qid = n.cid
  JOIN lrd ls ON ls.qid = n.qid
  GROUP BY n.qid
)
SELECT qid AS vec_id, ROUND(lof, 4) AS lof
FROM lof ORDER BY lof DESC, vec_id LIMIT 20
"""


def ext_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner: for each (bands, rows) layout of a
    128-hash signature budget, the S-curve capture probability
    1-(1-t^r)^b at the X3 operating threshold (t=0.3) and at a clear-
    duplicate point (t=0.8), plus the curve's inflection threshold
    (1/b)^(1/r) — the planning artifact that turns 'pick bands=32'
    folklore into a table the dedup owner can read (compare X273's
    salting plan: same philosophy, different knob).

    Scale shape: pure O(layouts) arithmetic on a literal frame — the
    point is the artifact, not the scan."""
    layouts = [(b, 128 // b) for b in [4, 8, 16, 32, 64]]
    base = spark.createDataFrame(
        [(b, r) for b, r in layouts], "bands int, rows_per_band int"
    )
    p_at = lambda t: 1.0 - F.pow(
        1.0 - F.pow(F.lit(t), F.col("rows_per_band")), F.col("bands")
    )
    return base.select(
        "bands",
        "rows_per_band",
        F.round(F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 4).alias(
            "inflection_threshold"
        ),
        F.round(p_at(0.3), 6).alias("p_capture_at_030"),
        F.round(p_at(0.8), 6).alias("p_capture_at_080"),
    ).orderBy("bands")


EXT_LSH_PLANNER_SQL = r"""
WITH layouts AS (
  SELECT UNNEST([4, 8, 16, 32, 64]) AS bands
),
base AS (SELECT bands, 128 // bands AS rows_per_band FROM layouts)
SELECT CAST(bands AS INTEGER) AS bands,
       CAST(rows_per_band AS INTEGER) AS rows_per_band,
       ROUND(POWER(1.0 / bands, 1.0 / rows_per_band), 4) AS inflection_threshold,
       ROUND(1.0 - POWER(1.0 - POWER(0.3, rows_per_band), bands), 6)
         AS p_capture_at_030,
       ROUND(1.0 - POWER(1.0 - POWER(0.8, rows_per_band), bands), 6)
         AS p_capture_at_080
FROM base ORDER BY bands
"""


EXT_QUERIES.update(
    {
        "ext_lof": ext_lof,
        "ext_lsh_planner": ext_lsh_planner,
    }
)
EXT_ORACLES.update(
    {
        "ext_lof": EXT_LOF_SQL,
        "ext_lsh_planner": EXT_LSH_PLANNER_SQL,
    }
)


