"""Declared-query waves: round-3 wave: fairness audits; round-3 wave: grouped OLS, GMM EM, permutation test; round-3 wave: Friedman, Kendall tau-b, Brown-Forsythe; round-3 wave: log-rank survival comparison.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w07 import *  # noqa: F401,F403


# --- round-3 wave: fairness audits --------------------------------------------


def ext_exposure_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure fairness of the BM25 ranking: each source's share of
    position-discounted exposure (1/log2(rank+1)) in the top-50 vs its
    share of the candidate pool — the ranking-fairness audit that
    catches a feed monopolizing the head even when per-item scoring is
    'fair' (skew ratio > 1 = over-exposed).

    Scale shape: ranking over the retrieval-bounded candidate set
    (X251's bound); exposure and pool shares are two O(sources)
    collapses against broadcast totals."""
    docs = _t(spark, sf_dir, "documents")
    # r13 (guide §5): cand feeds the exposure ranking AND the pool
    # counts — un-persisted, the whole BM25 scoring pipeline ran twice.
    # Data-proportional (candidate set) -> DISK_ONLY.
    cand = share(
        text.bm25_scores(docs, BM25_QUERY_TERMS)
        .select("doc_id", "score")
        .join(docs.select("doc_id", "source"), "doc_id"),
        big=True,
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    ranked = cand.withColumn("rank", F.row_number().over(wr))
    exp = ranked.filter(F.col("rank") <= 50).select(
        "source", (1.0 / F.log2(F.col("rank") + 1)).alias("e")
    )
    per_exp = exp.groupBy("source").agg(F.sum("e").alias("exposure"))
    tot_exp = per_exp.agg(F.sum("exposure").alias("te"))
    pool = cand.groupBy("source").agg(F.count(F.lit(1)).alias("n_pool"))
    tot_pool = pool.agg(F.sum("n_pool").alias("tp"))
    return (
        pool.join(per_exp, "source", "left")
        .na.fill({"exposure": 0.0})
        .crossJoin(F.broadcast(tot_exp))
        .crossJoin(F.broadcast(tot_pool))
        .select(
            "source",
            "n_pool",
            F.round(F.col("exposure"), 4).alias("exposure"),
            F.round(F.col("exposure") / F.col("te"), 6).alias("exposure_share"),
            F.round(F.col("n_pool") / F.col("tp").cast("double"), 6).alias(
                "pool_share"
            ),
            F.round(
                (F.col("exposure") / F.col("te"))
                / (F.col("n_pool") / F.col("tp").cast("double")),
                4,
            ).alias("skew_ratio"),
        )
        .orderBy("source")
    )


EXT_EXPOSURE_FAIRNESS_SQL = r"""
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
  SELECT c.doc_id, ROUND(CAST(SUM(comp) AS DOUBLE), 6) AS score, dd.source
  FROM comp c JOIN documents dd ON dd.doc_id = c.doc_id
  GROUP BY c.doc_id, dd.source
),
ranked AS (
  SELECT source, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM cand
),
per_exp AS (
  SELECT source, SUM(1.0 / log2(rank + 1)) AS exposure
  FROM ranked WHERE rank <= 50 GROUP BY 1
),
te AS (SELECT SUM(exposure) AS te FROM per_exp),
pool AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pool FROM cand GROUP BY 1),
tp AS (SELECT CAST(SUM(n_pool) AS BIGINT) AS tp FROM pool)
SELECT p.source, p.n_pool,
       ROUND(COALESCE(e.exposure, 0.0), 4) AS exposure,
       ROUND(COALESCE(e.exposure, 0.0) / te.te, 6) AS exposure_share,
       ROUND(CAST(p.n_pool AS DOUBLE) / tp.tp, 6) AS pool_share,
       ROUND((COALESCE(e.exposure, 0.0) / te.te)
             / (CAST(p.n_pool AS DOUBLE) / tp.tp), 4) AS skew_ratio
FROM pool p
LEFT JOIN per_exp e ON e.source = p.source
CROSS JOIN te CROSS JOIN tp
ORDER BY p.source
"""


def ext_selection_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-rate parity audit of the quality filter (keep if
    quality >= 0.5) across languages: per-group selection rate, the
    disparate-impact ratio vs the most-selected group, and the 0.8-rule
    flag — the group-fairness audit a curation pipeline owes its
    corpus before a filter silently erases a language.

    Scale shape: row-local scoring, one O(langs) collapse, broadcast
    max-rate scalar."""
    docs = text.quality_score(_t(spark, sf_dir, "documents"))
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("quality") >= 0.5).cast("long")).alias("n_selected"),
    )
    per = per.withColumn(
        "rate", F.col("n_selected") / F.col("n_docs").cast("double")
    )
    mx = per.agg(F.max("rate").alias("max_rate"))
    return (
        per.crossJoin(F.broadcast(mx))
        .select(
            "lang",
            "n_docs",
            "n_selected",
            F.round("rate", 6).alias("selection_rate"),
            F.round(F.col("rate") / F.col("max_rate"), 4).alias(
                "impact_ratio"
            ),
            (F.col("rate") / F.col("max_rate") < 0.8).alias("fails_80_rule"),
        )
        .orderBy("lang")
    )


EXT_SELECTION_PARITY_SQL = r"""
WITH scored AS (
  SELECT lang,
         ROUND(
           LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)),
           4) AS quality
  FROM documents
),
per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_selected
  FROM scored GROUP BY 1
),
mx AS (SELECT MAX(CAST(n_selected AS DOUBLE) / n_docs) AS max_rate FROM per)
SELECT lang, n_docs, n_selected,
       ROUND(CAST(n_selected AS DOUBLE) / n_docs, 6) AS selection_rate,
       ROUND((CAST(n_selected AS DOUBLE) / n_docs) / max_rate, 4) AS impact_ratio,
       (CAST(n_selected AS DOUBLE) / n_docs) / max_rate < 0.8 AS fails_80_rule
FROM per CROSS JOIN mx
ORDER BY lang
"""


EXT_QUERIES.update(
    {
        "ext_exposure_fairness": ext_exposure_fairness,
        "ext_selection_parity": ext_selection_parity,
    }
)
EXT_ORACLES.update(
    {
        "ext_exposure_fairness": EXT_EXPOSURE_FAIRNESS_SQL,
        "ext_selection_parity": EXT_SELECTION_PARITY_SQL,
    }
)


# --- round-3 wave: grouped OLS, GMM EM, permutation test ----------------------


def ext_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Massively-grouped OLS: one tiny regression per brand (quantity on
    discount) fitted from exact integer moments in a single pass — the
    'millions of small models' pattern (per-SKU elasticities, per-user
    trends) where the grouped closed form beats any model-parallel
    framework. Slope, intercept, and R² per brand.

    Scale shape: ONE hash agg computes every group's five moments;
    the fits are row-local arithmetic on the O(groups) frame."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.round(F.col("l_quantity")).cast("long").alias("y"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    mom = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    beta = cov_n / varx_n
    alpha = (F.col("sy").cast("double") - beta * F.col("sx")) / n
    r2 = cov_n * cov_n / (varx_n * vary_n)
    return mom.select(
        "p_brand",
        "n",
        F.round(beta, 6).alias("beta_qty_per_disc_pt"),
        F.round(alpha, 4).alias("alpha"),
        F.round(r2, 6).alias("r2"),
    ).orderBy("p_brand")


EXT_GROUPED_OLS_SQL = r"""
WITH li AS (
  SELECT p.p_brand,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
         CAST(ROUND(l_quantity) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
mom AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM li GROUP BY 1
)
SELECT p_brand, n,
       ROUND((n * sxy - CAST(sx AS DOUBLE) * sy)
             / (n * sxx - CAST(sx AS DOUBLE) * sx), 6) AS beta_qty_per_disc_pt,
       ROUND((sy - ((n * sxy - CAST(sx AS DOUBLE) * sy)
                    / (n * sxx - CAST(sx AS DOUBLE) * sx)) * sx) / n, 4) AS alpha,
       ROUND((n * sxy - CAST(sx AS DOUBLE) * sy) * (n * sxy - CAST(sx AS DOUBLE) * sy)
             / ((n * sxx - CAST(sx AS DOUBLE) * sx)
                * (n * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r2
FROM mom ORDER BY p_brand
"""


def ext_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture on order values by FIVE fixed
    EM iterations — the distributed-EM pattern: each iteration is ONE
    aggregate pass with the current parameters as broadcast scalars
    (responsibilities are row-local; no per-row state ever persists).
    Deterministic quantile/moment initialization makes the whole
    trajectory engine-replayable (the oracle unrolls the same five
    steps). Reports mixture weights, component means/sds, and the final
    average log-likelihood.

    Scale shape: 5 passes x one O(1)-output aggregate each; parameters
    move driver-side as scalars (the accepted scalar-collect class)."""
    import math as _math

    orders = _t(spark, sf_dir, "orders")
    # r13 (guide §5): the six sequential aggregate passes (init + 5 EM
    # steps) each re-scanned orders parquet and re-evaluated the cent
    # projection. The 1-column frame is persisted DISK_ONLY (data-
    # proportional: one double per order) so pass 1 materializes it and
    # passes 2-6 read the cached column — 6 parquet scans -> 1. All six
    # consumers are eager collects inside this fn(), so the scope
    # releases the pin before returning, an EM step's error included
    # (the output frame is built from scalars).
    with scope():
        xs = share(
            orders.select(
                (F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias("x")
            ),
            big=True,
        )
        init = xs.agg(
            F.expr("percentile(x, 0.25)").alias("mu1"),
            F.expr("percentile(x, 0.75)").alias("mu2"),
            F.stddev_pop("x").alias("sd"),
        ).collect()[0]
        pi1, mu1, sd1 = 0.5, float(init["mu1"]), float(init["sd"])
        pi2, mu2, sd2 = 0.5, float(init["mu2"]), float(init["sd"])
        c = float(_math.sqrt(2.0 * _math.pi))
        for _ in range(5):
            d1 = (F.lit(pi1) / (c * sd1)) * F.exp(
                -((F.col("x") - mu1) * (F.col("x") - mu1)) / (2.0 * sd1 * sd1)
            )
            d2 = (F.lit(pi2) / (c * sd2)) * F.exp(
                -((F.col("x") - mu2) * (F.col("x") - mu2)) / (2.0 * sd2 * sd2)
            )
            r2 = d2 / (d1 + d2)
            step = xs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(r2).alias("w2"),
                F.sum(r2 * F.col("x")).alias("s2"),
                F.sum(r2 * F.col("x") * F.col("x")).alias("q2"),
                F.sum((1.0 - r2) * F.col("x")).alias("s1"),
                F.sum((1.0 - r2) * F.col("x") * F.col("x")).alias("q1"),
                F.sum(F.log(d1 + d2)).alias("ll"),
            ).collect()[0]
            n = float(step["n"])
            w2 = float(step["w2"])
            w1 = n - w2
            mu1 = float(step["s1"]) / w1
            mu2 = float(step["s2"]) / w2
            sd1 = _math.sqrt(max(float(step["q1"]) / w1 - mu1 * mu1, 1e-6))
            sd2 = _math.sqrt(max(float(step["q2"]) / w2 - mu2 * mu2, 1e-6))
            pi1, pi2 = w1 / n, w2 / n
            avg_ll = float(step["ll"]) / n
    out = spark.createDataFrame(
        [(int(n), pi1, mu1, sd1, mu2, sd2, avg_ll)],
        "n_orders long, pi1 double, mu1 double, sd1 double, "
        "mu2 double, sd2 double, avg_loglik double",
    )
    return out.select(
        "n_orders",
        F.round("pi1", 4).alias("pi1"),
        F.round("mu1", 2).alias("mu1"),
        F.round("sd1", 2).alias("sd1"),
        F.round("mu2", 2).alias("mu2"),
        F.round("sd2", 2).alias("sd2"),
        F.round("avg_loglik", 4).alias("avg_loglik"),
    )


def _gmm_oracle_sql() -> str:
    head = r"""
WITH xs AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100.0 AS x FROM orders
),
p0 AS (
  SELECT 0.5 AS pi1, quantile_cont(x, 0.25) AS mu1, STDDEV_POP(x) AS sd1,
         0.5 AS pi2, quantile_cont(x, 0.75) AS mu2, STDDEV_POP(x) AS sd2
  FROM xs
)"""
    step = r""",
s{k} AS (
  SELECT COUNT(*) AS n,
         SUM(r2) AS w2, SUM(r2 * x) AS ss2, SUM(r2 * x * x) AS q2,
         SUM((1.0 - r2) * x) AS ss1, SUM((1.0 - r2) * x * x) AS q1,
         SUM(LN(d1 + d2)) AS ll
  FROM (
    SELECT x, d1, d2, d2 / (d1 + d2) AS r2 FROM (
      SELECT x,
             (p.pi1 / (SQRT(2 * PI()) * p.sd1))
               * EXP(-((x - p.mu1) * (x - p.mu1)) / (2 * p.sd1 * p.sd1)) AS d1,
             (p.pi2 / (SQRT(2 * PI()) * p.sd2))
               * EXP(-((x - p.mu2) * (x - p.mu2)) / (2 * p.sd2 * p.sd2)) AS d2
      FROM xs CROSS JOIN p{j} p
    )
  )
),
p{k} AS (
  SELECT (n - w2) / n AS pi1, ss1 / (n - w2) AS mu1,
         SQRT(GREATEST(q1 / (n - w2) - (ss1 / (n - w2)) * (ss1 / (n - w2)), 1e-6)) AS sd1,
         w2 / n AS pi2, ss2 / w2 AS mu2,
         SQRT(GREATEST(q2 / w2 - (ss2 / w2) * (ss2 / w2), 1e-6)) AS sd2,
         n, ll / n AS avg_ll
  FROM s{k}
)"""
    blocks = "".join(step.format(k=k, j=k - 1) for k in range(1, 6))
    tail = r"""
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(pi1, 4) AS pi1, ROUND(mu1, 2) AS mu1, ROUND(sd1, 2) AS sd1,
       ROUND(mu2, 2) AS mu2, ROUND(sd2, 2) AS sd2,
       ROUND(avg_ll, 4) AS avg_loglik
FROM p5"""
    return head + blocks + tail


EXT_GMM_EM_SQL = _gmm_oracle_sql()


def ext_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the hash-arm difference in per-user purchase
    value: 200 deterministic hash-relabelings of the arms, two-sided
    p-value = (1 + #{|diff_perm| >= |diff_obs|}) / (B + 1) — exact-
    distribution inference with NO normality assumption (X230's power
    math and X274's CUPED assume one; this checks it). All arm sums in
    exact cents.

    Scale shape: the panel collapses per user once; the B=200 relabeled
    sums partial-aggregate map-side into O(B) groups (one exchange);
    the p-value is an O(B) fold."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("yc"))
    )
    obs = per.groupBy((F.col("user_id") % 2 == 0).cast("int").alias("arm")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("yc").alias("s")
    ).agg(
        (
            F.max(F.when(F.col("arm") == 1, F.col("s").cast("double") / F.col("n")))
            - F.max(F.when(F.col("arm") == 0, F.col("s").cast("double") / F.col("n")))
        ).alias("obs_diff")
    )
    b = 200
    reps = per.select(
        "user_id",
        "yc",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("rep"),
    )
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.lit("perm"), F.col("user_id"), F.col("rep"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    perms = (
        reps.select("rep", arm.alias("arm"), "yc")
        .groupBy("rep", "arm")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("yc").alias("s"))
        .groupBy("rep")
        .agg(
            (
                F.max(F.when(F.col("arm") == 1, F.col("s").cast("double") / F.col("n")))
                - F.max(F.when(F.col("arm") == 0, F.col("s").cast("double") / F.col("n")))
            ).alias("d")
        )
    )
    return (
        perms.crossJoin(F.broadcast(obs))
        .agg(
            F.count(F.lit(1)).alias("n_perms"),
            F.round(F.max("obs_diff") / 100.0, 4).alias("obs_diff"),
            F.sum(
                (F.abs(F.col("d")) >= F.abs(F.col("obs_diff"))).cast("long")
            ).alias("n_extreme"),
            F.round(
                (
                    1.0
                    + F.sum(
                        (F.abs(F.col("d")) >= F.abs(F.col("obs_diff"))).cast(
                            "long"
                        )
                    )
                )
                / (F.count(F.lit(1)) + 1.0),
                4,
            ).alias("p_value"),
        )
    )


EXT_PERMUTATION_SQL = r"""
WITH per AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS yc
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
obs AS (
  SELECT MAX(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) / n END)
         - MAX(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) / n END) AS obs_diff
  FROM (
    SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS arm,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yc) AS BIGINT) AS s
    FROM per GROUP BY 1
  )
),
reps AS (
  SELECT p.user_id, p.yc, r.rep,
         CAST(('0x' || SUBSTR(md5('perm' || '-' || p.user_id || '-' || r.rep), 1, 12))::UBIGINT
              % 2 AS BIGINT) AS arm
  FROM per p CROSS JOIN (SELECT UNNEST(range(0, 200)) AS rep) r
),
perms AS (
  SELECT rep,
         MAX(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) / n END)
         - MAX(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) / n END) AS d
  FROM (
    SELECT rep, arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yc) AS BIGINT) AS s
    FROM reps GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
       ROUND(MAX(o.obs_diff) / 100.0, 4) AS obs_diff,
       CAST(SUM(CASE WHEN ABS(d) >= ABS(o.obs_diff) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_extreme,
       ROUND((1.0 + SUM(CASE WHEN ABS(d) >= ABS(o.obs_diff) THEN 1 ELSE 0 END))
             / (COUNT(*) + 1.0), 4) AS p_value
FROM perms CROSS JOIN obs o
"""


EXT_QUERIES.update(
    {
        "ext_grouped_ols": ext_grouped_ols,
        "ext_gmm_em": ext_gmm_em,
        "ext_permutation_test": ext_permutation_test,
    }
)
EXT_ORACLES.update(
    {
        "ext_grouped_ols": EXT_GROUPED_OLS_SQL,
        "ext_gmm_em": EXT_GMM_EM_SQL,
        "ext_permutation_test": EXT_PERMUTATION_SQL,
    }
)


# --- round-3 wave: Friedman, Kendall tau-b, Brown-Forsythe --------------------


# chi-square 0.95 quantiles for df 1..10. Decision flags DERIVE their
# critical value from the OBSERVED treatment/group cardinality instead of
# hardcoding the df=4 constant, so the boolean cannot silently test
# against the wrong distribution if the event-type or segment count ever
# differs from 5 (beyond df=10 the flag is NULL: refuse to decide rather
# than misdecide). F(df1, inf) = chi2(df1)/df1 reuses the same table.
_CHI2_CRIT_95 = {
    1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
    6: 12.592, 7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307,
}


def _chi2_crit_95_expr(df_col):
    expr = F.lit(None).cast("double")
    for d, c in sorted(_CHI2_CRIT_95.items(), reverse=True):
        expr = F.when(df_col == F.lit(d), F.lit(c)).otherwise(expr)
    return expr


def _chi2_crit_95_case(df_sql: str) -> str:
    whens = " ".join(
        f"WHEN {df_sql} = {d} THEN {c}" for d, c in sorted(_CHI2_CRIT_95.items())
    )
    return f"(CASE {whens} END)"


def ext_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test: do the event types keep the same daily-volume
    ORDERING across days? Average ranks within each day-block (exact
    tie handling via less/equal counts — no window sort), tie-robust
    chi-square form — the nonparametric repeated-measures test for
    blocked designs that one-way tests (X118's chi-square) get wrong by
    ignoring the day blocking.

    Scale shape: facts collapse to the O(days x types) grid; ranks come
    from a within-block self-join on that tiny grid; the statistic is
    O(types) arithmetic."""
    ev = _t(spark, sf_dir, "events")
    grid = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("x"))
    a = grid.select(F.col("day"), F.col("event_type").alias("t"), F.col("x").alias("xa"))
    b = grid.select(F.col("day"), F.col("event_type").alias("u"), F.col("x").alias("xb"))
    ranks = (
        a.join(b, "day")
        .groupBy("day", "t", "xa")
        .agg(
            F.sum((F.col("xb") < F.col("xa")).cast("long")).alias("less"),
            F.sum((F.col("xb") == F.col("xa")).cast("long")).alias("eq"),
        )
        .select(
            "day",
            "t",
            (F.col("less") + (F.col("eq") + 1) / 2.0).alias("r"),
        )
    )
    scal = ranks.agg(
        F.count_distinct("day").alias("n"),
        F.count_distinct("t").alias("k"),
        F.count(F.lit(1)).alias("cells"),
        F.sum(F.col("r") * F.col("r")).alias("sr2"),
    )
    per_t = ranks.groupBy("t").agg(F.sum("r").alias("rj"))
    stat = (
        per_t.crossJoin(F.broadcast(scal))
        .agg(
            F.max("n").alias("n_blocks"),
            F.max("k").alias("k_treatments"),
            F.max("cells").alias("cells"),
            (
                (F.max("k") - 1)
                * F.sum(
                    (F.col("rj") - F.col("n") * (F.col("k") + 1) / 2.0)
                    * (F.col("rj") - F.col("n") * (F.col("k") + 1) / 2.0)
                )
                / (
                    F.max("sr2")
                    - F.max("n")
                    * F.max("k")
                    * (F.max("k") + 1)
                    * (F.max("k") + 1)
                    / 4.0
                )
            ).alias("chi2"),
        )
    )
    crit = _chi2_crit_95_expr(F.col("k_treatments") - 1)
    complete = F.col("cells") == F.col("n_blocks") * F.col("k_treatments")
    return stat.select(
        "n_blocks",
        "k_treatments",
        # Friedman assumes a complete block design (every treatment
        # present in every block) — checked, not assumed; the decision
        # flag only fires on a valid design
        complete.alias("complete_blocks"),
        F.round("chi2", 4).alias("friedman_chi2"),
        crit.alias("chi2_crit"),
        (complete & (F.col("chi2") > crit)).alias("ordering_differs"),
    )


EXT_FRIEDMAN_SQL = r"""
WITH grid AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
ranks AS (
  SELECT a.day, a.event_type AS t,
         SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)
         + (SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1) / 2.0 AS r
  FROM grid a JOIN grid b ON b.day = a.day
  GROUP BY a.day, a.event_type, a.x
),
scal AS (
  SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT t) AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS cells,
         SUM(r * r) AS sr2
  FROM ranks
),
per_t AS (SELECT t, SUM(r) AS rj FROM ranks GROUP BY 1)
SELECT MAX(n) AS n_blocks, MAX(k) AS k_treatments,
       MAX(cells) = MAX(n) * MAX(k) AS complete_blocks,
       ROUND((MAX(k) - 1)
             * SUM((rj - n * (k + 1) / 2.0) * (rj - n * (k + 1) / 2.0))
             / (MAX(sr2) - MAX(n) * MAX(k) * (MAX(k) + 1) * (MAX(k) + 1) / 4.0),
             4) AS friedman_chi2,
       __CRIT__ AS chi2_crit,
       MAX(cells) = MAX(n) * MAX(k) AND
       (MAX(k) - 1)
       * SUM((rj - n * (k + 1) / 2.0) * (rj - n * (k + 1) / 2.0))
       / (MAX(sr2) - MAX(n) * MAX(k) * (MAX(k) + 1) * (MAX(k) + 1) / 4.0)
       > __CRIT__ AS ordering_differs
FROM per_t CROSS JOIN scal
""".replace("__CRIT__", _chi2_crit_95_case("MAX(k) - 1"))


def ext_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily click and purchase volumes (exact
    concordant/discordant pair counts with full tie correction, all
    integer arithmetic) — the concordance view of association: unlike
    Spearman (X257) it has a direct probabilistic reading
    (P(concordant) - P(discordant)) and is robust to the day-count ties
    these small integer series are full of.

    Scale shape: both series collapse to the shared O(days) axis; the
    pair sweep is the SF-independent tiny-axis self-join; tie terms
    come from two O(distinct values) collapses."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
        )
    )
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2"))
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        (F.signum((F.col("x2") - F.col("x1")).cast("double"))
         * F.signum((F.col("y2") - F.col("y1")).cast("double"))).alias("cd")
    )
    cdn = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum((F.col("cd") > 0).cast("long")).alias("conc"),
        F.sum((F.col("cd") < 0).cast("long")).alias("disc"),
    )
    tx = daily.groupBy("x").agg(F.count(F.lit(1)).alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n1")
    )
    ty = daily.groupBy("y").agg(F.count(F.lit(1)).alias("t")).agg(
        F.sum(F.col("t") * (F.col("t") - 1) / 2).alias("n2")
    )
    j = cdn.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    tau = (F.col("conc") - F.col("disc")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("n1")).cast("double")
        * (F.col("n0") - F.col("n2")).cast("double")
    )
    return j.select(
        "n0",
        "conc",
        "disc",
        F.round(tau, 6).alias("kendall_tau_b"),
    )


EXT_KENDALL_SQL = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
pairs AS (
  SELECT SIGN(b.x - a.x) * SIGN(b.y - a.y) AS cd
  FROM daily a JOIN daily b ON a.day < b.day
),
cdn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN cd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN cd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS disc
  FROM pairs
),
tx AS (
  SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n1
  FROM (SELECT x, COUNT(*) AS t FROM daily GROUP BY 1)
),
ty AS (
  SELECT CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS n2
  FROM (SELECT y, COUNT(*) AS t FROM daily GROUP BY 1)
)
SELECT n0, conc, disc,
       ROUND(CAST(conc - disc AS DOUBLE)
             / SQRT(CAST(n0 - n1 AS DOUBLE) * (n0 - n2)), 6) AS kendall_tau_b
FROM cdn CROSS JOIN tx CROSS JOIN ty
"""


def ext_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test across market segments
    (one-way ANOVA on |x - group median|, the median-centered Levene
    variant that is robust to skew) — the PRECONDITION check for every
    pooled-variance comparison in this suite (X230's power math, the
    t-flavored readouts): unequal spreads invalidate them, and this
    says so first.

    Scale shape: per-group exact medians broadcast back, one moment
    pass over the row-local absolute deviations, O(groups) F
    arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    # r13 (guide §5): x feeds the per-group medians AND the deviation
    # join — un-persisted, the orders x customer join ran twice (and the
    # g moments a third time below). Data-proportional (one row per
    # order) -> DISK_ONLY.
    x = share(
        orders.join(cust, "o_custkey").select(
            "c_mktsegment",
            (F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias("x"),
        ),
        big=True,
    )
    med = x.groupBy("c_mktsegment").agg(
        F.expr("percentile(x, 0.5)").alias("md")
    )
    z = x.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment", F.abs(F.col("x") - F.col("md")).alias("z")
    )
    # r13: g feeds the totals scalar AND the F-statistic pass — bounded
    # (O(segments) rows) -> default level.
    g = share(
        z.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("ng"),
            F.sum("z").alias("sz"),
            F.sum(F.col("z") * F.col("z")).alias("szz"),
        )
    )
    tot = g.agg(
        F.sum("ng").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sz").alias("s"),
    )
    jg = g.crossJoin(F.broadcast(tot))
    zbar = F.col("s") / F.col("n")
    zg = F.col("sz") / F.col("ng")
    between = F.sum(F.col("ng") * (zg - zbar) * (zg - zbar))
    within = F.sum(F.col("szz") - F.col("sz") * F.col("sz") / F.col("ng"))
    stat = jg.agg(
        F.max("n").alias("n_orders"),
        F.max("k").alias("k_groups"),
        (
            (between / (F.max("k") - 1)) / (within / (F.max("n") - F.max("k")))
        ).alias("f"),
    )
    # F(k-1, inf) critical value derived from the observed group count:
    # chi2_crit(k-1)/(k-1) — 2.372 exactly when k=5, but correct for any k
    fcrit = _chi2_crit_95_expr(F.col("k_groups") - 1) / (
        F.col("k_groups") - 1
    ).cast("double")
    return stat.select(
        "n_orders",
        "k_groups",
        F.round("f", 4).alias("brown_forsythe_f"),
        fcrit.alias("f_crit"),
        (F.col("f") > fcrit).alias("variances_differ"),
    )


EXT_LEVENE_SQL = r"""
WITH x AS (
  SELECT c.c_mktsegment,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100.0 AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
med AS (SELECT c_mktsegment, quantile_cont(x, 0.5) AS md FROM x GROUP BY 1),
z AS (
  SELECT x.c_mktsegment, ABS(x.x - m.md) AS z
  FROM x JOIN med m ON m.c_mktsegment = x.c_mktsegment
),
g AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS ng, SUM(z) AS sz,
         SUM(z * z) AS szz
  FROM z GROUP BY 1
),
tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
               SUM(sz) AS s FROM g)
SELECT MAX(n) AS n_orders, MAX(k) AS k_groups,
       ROUND((SUM(ng * (sz / ng - s / n) * (sz / ng - s / n)) / (MAX(k) - 1))
             / (SUM(szz - sz * sz / ng) / (MAX(n) - MAX(k))), 4)
         AS brown_forsythe_f,
       __CRIT__ / CAST(MAX(k) - 1 AS DOUBLE) AS f_crit,
       (SUM(ng * (sz / ng - s / n) * (sz / ng - s / n)) / (MAX(k) - 1))
       / (SUM(szz - sz * sz / ng) / (MAX(n) - MAX(k)))
       > __CRIT__ / CAST(MAX(k) - 1 AS DOUBLE)
         AS variances_differ
FROM g CROSS JOIN tot
""".replace("__CRIT__", _chi2_crit_95_case("MAX(k) - 1"))


EXT_QUERIES.update(
    {
        "ext_friedman": ext_friedman,
        "ext_kendall_tau": ext_kendall_tau,
        "ext_levene": ext_levene,
    }
)
EXT_ORACLES.update(
    {
        "ext_friedman": EXT_FRIEDMAN_SQL,
        "ext_kendall_tau": EXT_KENDALL_SQL,
        "ext_levene": EXT_LEVENE_SQL,
    }
)


# --- round-3 wave: log-rank survival comparison --------------------------------


def ext_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between the two hash arms' time-to-first-error
    curves: survival time = days from a user's first event to their
    first 'error' (death), users with no error censored at their last
    activity; O-E accumulated over the distinct death times with the
    hypergeometric variance — the significance companion to X177's
    Kaplan-Meier CURVE (X177 draws survival; this says whether two
    curves differ). Integer counts all the way to the final ratio.

    Scale shape: users collapse once to (arm, lifetime, churned)
    counts; at-risk sets come from a descending cumulative over the
    O(distinct lifetimes) axis; the statistic is one tiny fold."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first"),
            F.max(F.to_date("ts")).alias("last"),
            F.min(
                F.when(F.col("event_type") == "error", F.to_date("ts"))
            ).alias("terr"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("g"),
            F.when(
                F.col("terr").isNotNull(), F.datediff("terr", "first")
            )
            .otherwise(F.datediff("last", "first"))
            .alias("tl"),
            F.col("terr").isNotNull().cast("long").alias("churned"),
        )
    )
    cells = per.groupBy("g", "tl").agg(
        F.count(F.lit(1)).alias("c"), F.sum("churned").alias("d")
    )
    wdesc = (
        Window.partitionBy("g")
        .orderBy(F.col("tl").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = cells.withColumn("n_at_risk", F.sum("c").over(wdesc))
    # align the two groups on the death-time axis
    times = risk.groupBy("tl").agg(
        F.sum("d").alias("d_tot"),
        F.sum(F.when(F.col("g") == 1, F.col("d"))).alias("d1"),
    )
    # at-risk per group at each time tl: cumulative from the cells frame
    r1 = risk.filter(F.col("g") == 1).select("tl", F.col("n_at_risk").alias("n1r"))
    r0 = risk.filter(F.col("g") == 0).select("tl", F.col("n_at_risk").alias("n0r"))
    # a group may have no cell at a given tl: at-risk = risk at the next
    # HIGHER existing tl... handled by joining on the union axis with a
    # descending cumulative max; with daily-integer lifetimes both groups
    # populate nearly every tl, and absent rows mean the group's at-risk
    # equals its value at the next lower tl -> use last_value over ordered
    # axis (tiny).
    axis = times.select("tl")
    wfill = (
        Window.orderBy(F.col("tl").desc()).rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        axis.join(r1, "tl", "left")
        .join(r0, "tl", "left")
        .withColumn("n1", F.max("n1r").over(wfill))
        .withColumn("n0", F.max("n0r").over(wfill))
        .na.fill({"n1": 0, "n0": 0})
    )
    j = times.join(filled.select("tl", "n1", "n0"), "tl").filter(
        F.col("d_tot") > 0
    )
    n = (F.col("n1") + F.col("n0")).cast("double")
    e1 = F.col("d_tot") * F.col("n1") / n
    # a time with a single subject at risk contributes zero variance
    # (hypergeometric of n=1 is degenerate; ANSI division would throw)
    v = F.when(
        n > 1.0,
        F.col("d_tot")
        * (F.col("n1") / n)
        * (1.0 - F.col("n1") / n)
        * (n - F.col("d_tot"))
        / (n - 1.0),
    ).otherwise(F.lit(0.0))
    agg = j.agg(
        F.sum(F.coalesce(F.col("d1"), F.lit(0))).alias("o1"),
        F.sum(e1).alias("e1"),
        F.sum(v).alias("v"),
    )
    chi2 = (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v")
    return agg.select(
        "o1",
        F.round("e1", 4).alias("e1"),
        F.round("v", 4).alias("var"),
        F.round(chi2, 4).alias("log_rank_chi2"),
        (chi2 > 3.841).alias("curves_differ"),
    )


EXT_LOG_RANK_SQL = r"""
WITH per AS (
  SELECT CAST(user_id % 2 AS INTEGER) AS g,
         CASE WHEN MIN(CASE WHEN event_type = 'error' THEN CAST(ts AS DATE) END)
                   IS NOT NULL
              THEN date_diff('day', MIN(CAST(ts AS DATE)),
                             MIN(CASE WHEN event_type = 'error' THEN CAST(ts AS DATE) END))
              ELSE date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
         END AS tl,
         CASE WHEN MIN(CASE WHEN event_type = 'error' THEN CAST(ts AS DATE) END)
                   IS NOT NULL THEN 1 ELSE 0 END AS churned
  FROM events
  GROUP BY user_id
),
cells AS (
  SELECT g, tl, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(churned) AS BIGINT) AS d
  FROM per GROUP BY 1, 2
),
risk AS (
  SELECT g, tl, c, d,
         SUM(c) OVER (PARTITION BY g ORDER BY tl DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
  FROM cells
),
times AS (
  SELECT tl, CAST(SUM(d) AS BIGINT) AS d_tot,
         CAST(SUM(CASE WHEN g = 1 THEN d END) AS BIGINT) AS d1
  FROM risk GROUP BY 1
),
filled AS (
  SELECT t.tl, t.d_tot, t.d1,
         COALESCE(MAX(r1.n_at_risk) OVER (ORDER BY t.tl DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS n1,
         COALESCE(MAX(r0.n_at_risk) OVER (ORDER BY t.tl DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS n0
  FROM times t
  LEFT JOIN (SELECT tl, n_at_risk FROM risk WHERE g = 1) r1 ON r1.tl = t.tl
  LEFT JOIN (SELECT tl, n_at_risk FROM risk WHERE g = 0) r0 ON r0.tl = t.tl
),
agg AS (
  SELECT CAST(SUM(COALESCE(d1, 0)) AS BIGINT) AS o1,
         SUM(d_tot * CAST(n1 AS DOUBLE) / (n1 + n0)) AS e1,
         SUM(CASE WHEN n1 + n0 > 1
                  THEN d_tot * (CAST(n1 AS DOUBLE) / (n1 + n0))
                       * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n0))
                       * (n1 + n0 - d_tot) / (n1 + n0 - 1.0)
                  ELSE 0.0 END) AS v
  FROM filled WHERE d_tot > 0
)
SELECT o1, ROUND(e1, 4) AS e1, ROUND(v, 4) AS var,
       ROUND((o1 - e1) * (o1 - e1) / v, 4) AS log_rank_chi2,
       (o1 - e1) * (o1 - e1) / v > 3.841 AS curves_differ
FROM agg
"""


EXT_QUERIES.update({"ext_log_rank": ext_log_rank})
EXT_ORACLES.update({"ext_log_rank": EXT_LOG_RANK_SQL})


# --- round-4 wave: compressed-image (PNG) resize path -------------------------


def ext_mm_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image resize, end-to-end and oracle-checked (no
    ``fake=``): per document a deterministic gradient image
    (W=16+id%19, H=16+id%11, gray value (x*11+y*5+id)%256) is encoded
    as a real zlib-compressed 8-bit truecolor PNG whose per-row filter
    type cycles through ALL FIVE spec filters starting at id%5
    (None/Sub/Up/Average/Paeth — every unfilter branch of
    multimodal.decode_png is on the hot path), pushed through the real
    decode→nearest-neighbor-resize→re-encode kernel, decoded AGAIN from
    the resized BMP bytes, and summarized as the mean sampled gray
    value. The pixel values are closed-form in (id, x, y), so DuckDB
    replays the whole pipeline without touching an image byte — a wrong
    inflate/unfilter/resample anywhere shifts the mean and the hash.
    All kernels are partition-local mapInPandas (no shuffle); media
    bytes never cross executors. Fills the former PIL seam for PNG
    (r03 verdict stretch #9); JPEG entropy decode remains seamed."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_png(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                w, h = 16 + did % 19, 16 + did % 11
                x = np.arange(w, dtype="int64")[None, :]
                y = np.arange(h, dtype="int64")[:, None]
                gray = ((x * 11 + y * 5 + int(did)) % 256).astype("u1")
                rgb = np.repeat(gray[:, :, None], 3, axis=2)
                filters = [(int(did) + r) % 5 for r in range(5)]
                ids.append(did)
                blobs.append(multimodal.encode_png(rgb, filters=filters))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_png, "media_id bigint, content binary")
    resized = multimodal.resize_images(media, width=8, height=8)

    def mean_gray(batches):
        for pdf in batches:
            def m(blob):
                px = multimodal.decode_pixels(blob)
                return round(float(px[:, :, 0].astype("float64").mean()), 6)

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "pixel_mean": pdf["content"].map(m),
                }
            )

    return resized.mapInPandas(
        mean_gray, "media_id bigint, width int, height int, pixel_mean double"
    ).orderBy("media_id")


EXT_MM_RESIZE_PNG_SQL = r"""
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 19 AS w, 16 + doc_id % 11 AS h FROM documents
),
sampled AS (
  SELECT d.doc_id,
         CAST(FLOOR((gx.i + 0.5) * d.w / 8.0) AS BIGINT) AS sx,
         CAST(FLOOR((gy.j + 0.5) * d.h / 8.0) AS BIGINT) AS sy
  FROM dims d, generate_series(0, 7) gx(i), generate_series(0, 7) gy(j)
)
SELECT doc_id AS media_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       ROUND(AVG((sx * 11 + sy * 5 + doc_id) % 256), 6) AS pixel_mean
FROM sampled GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_mm_resize_png": ext_mm_resize_png})
EXT_ORACLES.update({"ext_mm_resize_png": EXT_MM_RESIZE_PNG_SQL})


def ext_mm_resize_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG resize, end-to-end and oracle-checked (no
    ``fake=``): per document a block-constant grayscale image
    (W=8*(2+id%4), H=8*(2+id%3), 8x8 block (bx,by) holding gray value
    (bx*37+by*59+id)%256) is encoded as a real baseline JFIF JPEG —
    full marker stream, data-derived canonical Huffman tables,
    differential DC, restart interval 2 (DRI/RSTn on the hot path) —
    then pushed through the real Huffman-decode→dequant→IDCT→
    nearest-neighbor-resize→BMP-re-encode kernel, decoded AGAIN, and
    summarized as the mean sampled gray value. Block-constant images
    are DC-only, and with the all-ones quant table the decode is
    BIT-EXACT (DC = 8*(c-128) survives round(/1) and the orthonormal
    IDCT returns c), so DuckDB replays the whole pipeline closed-form:
    a wrong Huffman walk, predictor reset, dequant or IDCT anywhere
    shifts the mean and the hash. All kernels partition-local
    mapInPandas; media bytes never cross executors. Fills the JPEG half
    of the former PIL seam (the r03 verdict's remaining multimodal
    gap); progressive/12-bit stay seamed."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_jpeg(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                nbx, nby = 2 + did % 4, 2 + did % 3
                bx = np.arange(nbx, dtype="int64")[None, :]
                by = np.arange(nby, dtype="int64")[:, None]
                blocks = ((bx * 37 + by * 59 + int(did)) % 256).astype("u1")
                gray = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                ids.append(did)
                blobs.append(multimodal.encode_jpeg(gray, restart_interval=2))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_jpeg, "media_id bigint, content binary")
    resized = multimodal.resize_images(media, width=8, height=8)

    def mean_gray(batches):
        for pdf in batches:
            def m(blob):
                px = multimodal.decode_pixels(blob)
                return round(float(px[:, :, 0].astype("float64").mean()), 6)

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "pixel_mean": pdf["content"].map(m),
                }
            )

    return resized.mapInPandas(
        mean_gray, "media_id bigint, width int, height int, pixel_mean double"
    ).orderBy("media_id")


EXT_MM_RESIZE_JPEG_SQL = r"""
WITH dims AS (
  SELECT doc_id, 8 * (2 + doc_id % 4) AS w, 8 * (2 + doc_id % 3) AS h
  FROM documents
),
sampled AS (
  SELECT d.doc_id,
         CAST(FLOOR((gx.i + 0.5) * d.w / 8.0) AS BIGINT) // 8 AS bx,
         CAST(FLOOR((gy.j + 0.5) * d.h / 8.0) AS BIGINT) // 8 AS by
  FROM dims d, generate_series(0, 7) gx(i), generate_series(0, 7) gy(j)
)
SELECT doc_id AS media_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       ROUND(AVG((bx * 37 + by * 59 + doc_id) % 256), 6) AS pixel_mean
FROM sampled GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_mm_resize_jpeg": ext_mm_resize_jpeg})
EXT_ORACLES.update({"ext_mm_resize_jpeg": EXT_MM_RESIZE_JPEG_SQL})


def ext_audio_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio (G.711 μ-law) features, end-to-end and
    oracle-checked: per document 64 samples are synthesized whose values
    are EXACT μ-law codeword outputs — sample_i = ±((mant*8+132)·2^exp
    − 132) with mant=(i*7+id)%16, exp=(i*3+id)%8, sign=(i+id)%2 — so
    G.711 compression round-trips them bit-exactly (encode∘decode is
    the identity on the decoder's image). The samples are packed into a
    real RIFF/WAVE file (format tag 7), decoded by the engine's own
    RIFF parser + vectorized μ-law expander (multimodal.decode_wav),
    and summarized as duration/rate/RMS. Every intermediate quantity is
    an integer (or integer/2^k) exactly representable in float64, so
    the DuckDB oracle replays the whole codec closed-form and the hash
    compare is bit-deterministic — a wrong expand table or sign
    convention anywhere shifts the RMS. Kernels are partition-local
    mapInPandas; audio bytes never cross executors. Extends the audio
    path beyond PCM (G.711 telephony + IMA ADPCM live in decode_wav;
    mp3/ogg stay at the soundfile seam)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_wav(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                i = np.arange(64, dtype="int64")
                mant = (i * 7 + int(did)) % 16
                exp = (i * 3 + int(did)) % 8
                sign = np.where((i + int(did)) % 2 == 0, 1, -1)
                v = sign * ((((mant * 8) + 132) << exp) - 132)
                ids.append(did)
                blobs.append(multimodal.encode_wav(v, rate=8000, codec="mulaw"))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_wav, "media_id bigint, content binary").select(
        "media_id", "content", F.lit("audio/basic").alias("mime_type"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    return (
        multimodal.audio_features(media)
        .select("media_id", "duration_s", "sample_rate", "rms")
        .orderBy("media_id")
    )


EXT_AUDIO_MULAW_SQL = r"""
WITH samples AS (
  SELECT d.doc_id,
         (CASE WHEN (g.i + d.doc_id) % 2 = 0 THEN 1 ELSE -1 END)
         * ((((g.i * 7 + d.doc_id) % 16) * 8 + 132)
            * POW(2, (g.i * 3 + d.doc_id) % 8) - 132) AS v
  FROM documents d, generate_series(0, 63) g(i)
)
SELECT doc_id AS media_id,
       0.008 AS duration_s,
       CAST(8000 AS INTEGER) AS sample_rate,
       ROUND(SQRT(AVG((v / 32768.0) * (v / 32768.0))), 6) AS rms
FROM samples GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_audio_mulaw": ext_audio_mulaw})
EXT_ORACLES.update({"ext_audio_mulaw": EXT_AUDIO_MULAW_SQL})


def ext_mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video keyframe pipeline, end-to-end and oracle-checked: per
    document a Motion-JPEG AVI is synthesized — 1+id%4 frames, each a
    16x16 grayscale image of four constant 8x8 blocks with value
    (f*13 + bx*37 + by*59 + id) % 256, each frame a real baseline JPEG,
    the container a real RIFF AVI (hdrl/strl/movi/idx1) — then pushed
    through the engine's container walk + per-frame Huffman/IDCT decode
    (multimodal.video_keyframes → decode_avi_mjpeg → decode_jpeg),
    frames re-encoded as BMP, decoded AGAIN, and summarized as the mean
    gray per frame. DC-only frames under the all-ones quant table
    decode bit-exactly, so DuckDB replays the whole container+codec
    pipeline closed-form — one row per (doc, frame), a wrong chunk walk
    or frame index shifts the hash. Kernels partition-local
    mapInPandas; video bytes never cross executors. Fills the video
    half of the former ffmpeg seam for MJPEG-AVI; inter-coded
    containers (H.264/MP4) stay seamed."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_avi(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                nframes = 1 + did % 4
                frames = []
                for f in range(nframes):
                    bx = np.arange(2, dtype="int64")[None, :]
                    by = np.arange(2, dtype="int64")[:, None]
                    blocks = ((f * 13 + bx * 37 + by * 59 + int(did)) % 256).astype("u1")
                    gray = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                    frames.append(multimodal.encode_jpeg(gray))
                ids.append(did)
                blobs.append(multimodal.encode_avi_mjpeg(frames, fps=10))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_avi, "media_id bigint, content binary")
    frames = multimodal.video_keyframes(media, max_frames=8)

    def mean_gray(batches):
        for pdf in batches:
            def m(blob):
                px = multimodal.decode_pixels(blob)
                return round(float(px[:, :, 0].astype("float64").mean()), 6)

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "pixel_mean": pdf["content"].map(m),
                }
            )

    return frames.mapInPandas(
        mean_gray, "media_id bigint, frame_idx int, width int, height int, pixel_mean double"
    ).orderBy("media_id", "frame_idx")


EXT_MM_VIDEO_SQL = r"""
WITH frames AS (
  SELECT d.doc_id, g.f
  FROM documents d, generate_series(0, 3) g(f)
  WHERE g.f < 1 + d.doc_id % 4
),
blocks AS (
  SELECT fr.doc_id, fr.f,
         (fr.f * 13 + gx.bx * 37 + gy.by * 59 + fr.doc_id) % 256 AS v
  FROM frames fr, generate_series(0, 1) gx(bx), generate_series(0, 1) gy(by)
)
SELECT doc_id AS media_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       ROUND(AVG(v), 6) AS pixel_mean
FROM blocks GROUP BY doc_id, f ORDER BY media_id, frame_idx
"""


EXT_QUERIES.update({"ext_mm_video_frames": ext_mm_video_frames})
EXT_ORACLES.update({"ext_mm_video_frames": EXT_MM_VIDEO_SQL})


def ext_audio_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-compressed-audio (FLAC) features, end-to-end and
    oracle-checked: per document 256 samples s_i = ((i²·7 + i·13 +
    id·29) mod 4001) − 2000 are encoded as a real native-FLAC stream
    (STREAMINFO, frame sync + CRC-8 header + CRC-16 footer, FIXED
    order-2 predictor, Rice-coded residuals — ext.flac.encode_flac),
    decoded back by the engine's full frame machinery
    (ext.flac.decode_flac via multimodal.decode_audio), and summarized
    as duration/rate/RMS. FLAC is LOSSLESS, so the decode is bit-exact
    by construction and every intermediate sum is integer-exact in
    float64 — the DuckDB oracle replays the signal closed-form and the
    hash compare is bit-deterministic; a wrong Rice decode, predictor
    reconstruction or CRC anywhere kills the frame and the hash.
    Kernels partition-local mapInPandas. Completes the compressed-audio
    story alongside G.711/ADPCM (X308); lossy mp3/ogg stay at the
    soundfile seam."""
    import pandas as pd

    from aircan_spark.ext import flac as _flac

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_flac(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                i = np.arange(256, dtype="int64")
                v = ((i * i * 7 + i * 13 + int(did) * 29) % 4001) - 2000
                ids.append(did)
                blobs.append(_flac.encode_flac(v, rate=16_000, blocksize=128))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_flac, "media_id bigint, content binary").select(
        "media_id", "content", F.lit("audio/flac").alias("mime_type"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    return (
        multimodal.audio_features(media)
        .select("media_id", "duration_s", "sample_rate", "rms")
        .orderBy("media_id")
    )


EXT_AUDIO_FLAC_SQL = r"""
WITH samples AS (
  SELECT d.doc_id,
         (g.i * g.i * 7 + g.i * 13 + d.doc_id * 29) % 4001 - 2000 AS v
  FROM documents d, generate_series(0, 255) g(i)
)
SELECT doc_id AS media_id,
       0.016 AS duration_s,
       CAST(16000 AS INTEGER) AS sample_rate,
       ROUND(SQRT(AVG((v / 32768.0) * (v / 32768.0))), 6) AS rms
FROM samples GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_audio_flac": ext_audio_flac})
EXT_ORACLES.update({"ext_audio_flac": EXT_AUDIO_FLAC_SQL})


def ext_mm_resize_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF resize, end-to-end and oracle-checked: per document a
    deterministic gradient (W=16+id%15, H=16+id%9, gray value
    (x*13+y*7+id)%256) is LZW-compressed into a real GIF89a with the
    256-entry grayscale identity palette — odd ids stored INTERLACED,
    so the 4-pass reorder is on the hot path — then pushed through the
    real LZW-decode→palette-map→nearest-neighbor-resize→BMP-re-encode
    kernel, decoded AGAIN, and summarized as the mean sampled gray.
    GIF is lossless, so the closed-form resample oracle is exact: a
    wrong LZW width bump, table reset or interlace pass anywhere shifts
    the mean and the hash. Completes the raster-format family
    (BMP/TGA/PNG/JPEG/GIF all REAL in decode_pixels). Kernels
    partition-local mapInPandas."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_gif(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                w, h = 16 + did % 15, 16 + did % 9
                x = np.arange(w, dtype="int64")[None, :]
                y = np.arange(h, dtype="int64")[:, None]
                gray = ((x * 13 + y * 7 + int(did)) % 256).astype("u1")
                ids.append(did)
                blobs.append(multimodal.encode_gif(gray, interlace=bool(did % 2)))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_gif, "media_id bigint, content binary")
    resized = multimodal.resize_images(media, width=8, height=8)

    def mean_gray(batches):
        for pdf in batches:
            def m(blob):
                px = multimodal.decode_pixels(blob)
                return round(float(px[:, :, 0].astype("float64").mean()), 6)

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "pixel_mean": pdf["content"].map(m),
                }
            )

    return resized.mapInPandas(
        mean_gray, "media_id bigint, width int, height int, pixel_mean double"
    ).orderBy("media_id")


EXT_MM_RESIZE_GIF_SQL = r"""
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 15 AS w, 16 + doc_id % 9 AS h FROM documents
),
sampled AS (
  SELECT d.doc_id,
         CAST(FLOOR((gx.i + 0.5) * d.w / 8.0) AS BIGINT) AS sx,
         CAST(FLOOR((gy.j + 0.5) * d.h / 8.0) AS BIGINT) AS sy
  FROM dims d, generate_series(0, 7) gx(i), generate_series(0, 7) gy(j)
)
SELECT doc_id AS media_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       ROUND(AVG((sx * 13 + sy * 7 + doc_id) % 256), 6) AS pixel_mean
FROM sampled GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_mm_resize_gif": ext_mm_resize_gif})
EXT_ORACLES.update({"ext_mm_resize_gif": EXT_MM_RESIZE_GIF_SQL})



# --- round-5 wave: streaming ops in batch-parity / real-stream harness --------
# X14/X16/X39 were e2e-tests-only; these declared queries give each a
# driver-checkable record by running the REAL streaming operator (file
# source -> availableNow -> memory/table sink) and reducing its output
# to an integer-exact, order-free summary an ANSI oracle can replay.


def _events_stream(spark: SparkSession, sf_dir: str):
    """availableNow file-source stream over the events parquet — the
    real streaming read path (one batch on a bounded dir). The file
    source requires a DIRECTORY, and the testdata table is a single
    parquet file — symlink it into a fresh temp dir (zero-copy)."""
    import os as _os
    import tempfile

    src = f"{sf_dir}/events.parquet"
    stage = tempfile.mkdtemp(prefix="aircan_r5_events_dir_")
    _os.symlink(_os.path.abspath(src), _os.path.join(stage, "events.parquet"))
    schema = read_parquet(spark, src).schema
    return spark.readStream.schema(schema).parquet(stage)


def _run_available_now(stream_df, output_mode: str) -> "DataFrame":
    """Start stream_df into a uniquely-named memory sink with
    availableNow trigger, await the single batch, return the sink table."""
    import tempfile
    import uuid

    spark = stream_df.sparkSession
    name = f"r5stream_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="aircan_r5_ckpt_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if q.isActive:  # pragma: no cover — availableNow should terminate
        q.stop()
    return spark.table(name)


def ext_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 as a driver-checkable query: the REAL
    ``applyInPandasWithState`` stateful operator
    (streaming.running_user_totals) over an availableNow file stream of
    the events table. Determinism: value is pre-scaled to cents as
    float64 INTEGERS (floor(v*100+0.5)) before entering the kernel —
    integer-valued doubles below 2^53 sum exactly in any partition
    order, so the per-user running total is bit-stable and emitted as
    BIGINT. One bounded batch => the final state equals the batch
    aggregate the oracle computes. State is O(users); the stream shape
    (update-mode rows per key per batch) is exactly what a continuous
    deployment emits."""
    from aircan_spark.streaming import running_user_totals

    stream = _events_stream(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double")
    )
    out = _run_available_now(running_user_totals(stream), "update")
    return (
        out.select(
            "user_id",
            F.col("total_value").cast("bigint").alias("total_cents"),
            "n_events",
        )
        .orderBy("user_id")
    )


EXT_STREAM_RUNNING_TOTALS_SQL = r"""
SELECT user_id,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
"""


EXT_QUERIES.update({"ext_stream_running_totals": ext_stream_running_totals})
EXT_ORACLES.update({"ext_stream_running_totals": EXT_STREAM_RUNNING_TOTALS_SQL})


def ext_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X39 as a driver-checkable query: the REAL
    ``dropDuplicatesWithinWatermark`` streaming dedup
    (streaming.stream_dedup — bounded state, watermark eviction) over an
    availableNow events stream, keyed on (user_id, event_type). WHICH
    duplicate survives is engine-chosen, so the declared output reduces
    to the survivor-set invariant: per event_type, the number of
    surviving rows == COUNT(DISTINCT user_id) — wrong dedup state (a
    dropped first-seen or a leaked duplicate) shifts the counts."""
    from aircan_spark.streaming import stream_dedup

    stream = _events_stream(spark, sf_dir).withColumn(
        # watermarks require TIMESTAMP (tz); the table is NTZ — session
        # tz is pinned UTC so the cast is a pure type change
        "ts", F.col("ts").cast("timestamp")
    )
    deduped = stream_dedup(stream, ["user_id", "event_type"], delay="100 days")
    out = _run_available_now(deduped, "append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
        .orderBy("event_type")
    )


EXT_STREAM_DEDUP_KEYS_SQL = r"""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_unique_users
FROM events GROUP BY event_type ORDER BY event_type
"""


EXT_QUERIES.update({"ext_stream_dedup_keys": ext_stream_dedup_keys})
EXT_ORACLES.update({"ext_stream_dedup_keys": EXT_STREAM_DEDUP_KEYS_SQL})


def ext_stream_ingest_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 as a driver-checkable query: the REAL ``stream_ingest``
    pipeline — orders rows are staged as one ndjson file (sorted by
    o_orderkey, prices pre-converted to exact BIGINT cents), a file
    stream ingests it availableNow into a fresh ParquetTable with
    keys=[k] (k = o_orderkey % 97), and the final table is read back.
    The upsert's within-batch dedup keeps the FIRST row per key by _id
    (A2 rule); _id follows file order via partition-offset row numbers,
    and the file is sorted — so the winner per k is the min-o_orderkey
    row, which the oracle replays with ROW_NUMBER(). Checkpointed
    offsets + idempotent merge = effective exactly-once, the property
    this query pins end-to-end."""
    import tempfile

    from pyspark.sql import types as T

    from aircan_spark.streaming import stream_ingest
    from aircan_spark.table import ParquetTable

    src_dir = tempfile.mkdtemp(prefix="aircan_r5_ingest_src_")
    wh = tempfile.mkdtemp(prefix="aircan_r5_ingest_wh_")
    ckpt = tempfile.mkdtemp(prefix="aircan_r5_ingest_ckpt_")

    orders = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 97).alias("k"),
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
    )
    orders.orderBy("o_orderkey").coalesce(1).write.mode("overwrite").json(src_dir)

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("price_cents", T.LongType()),
        ]
    )
    table = ParquetTable(spark, wh, "stream_ingest_q")
    q = stream_ingest(
        spark, src_dir, schema, table, ckpt, keys=["k"], available_now=True
    )
    q.awaitTermination(300)
    if q.isActive:  # pragma: no cover
        q.stop()
    return (
        table.read()
        .select("k", "o_orderkey", "price_cents")
        .orderBy("k")
    )


EXT_STREAM_INGEST_UPSERT_SQL = r"""
WITH ranked AS (
  SELECT o_orderkey % 97 AS k, o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey % 97 ORDER BY o_orderkey) AS rn
  FROM orders
)
SELECT k, o_orderkey, price_cents FROM ranked WHERE rn = 1 ORDER BY k
"""


EXT_QUERIES.update({"ext_stream_ingest_upsert": ext_stream_ingest_upsert})
EXT_ORACLES.update({"ext_stream_ingest_upsert": EXT_STREAM_INGEST_UPSERT_SQL})
