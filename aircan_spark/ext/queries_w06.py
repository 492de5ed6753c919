"""Declared-query waves: round-3 wave: Theil decomposition, autocorrelation, bootstrap CI; round-3 wave: model-eval operators (AUC, NDCG, kNN, k-means step); round-3 wave: governance + pipeline ops; round-3 wave: hybrid ranking, EWMA monitoring, FS record linkage; round-3 wave: causal stratification, coverage estimators, clustering QA; round-3 wave: graph modularity, attribution, calibration, PCA step; round-3 wave: price indices, threshold tuning, trend test, agreement.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.data import checkpoint  # noqa: F401
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w05 import *  # noqa: F401,F403


# --- round-3 wave: Theil decomposition, autocorrelation, bootstrap CI ---------


def ext_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer lifetime value with the exact
    between/within market-segment decomposition (T = T_between +
    Σ share_g·T_g) — the property the Gini (X117) does NOT have: it says
    how much revenue concentration lives INSIDE segments vs BETWEEN
    them, which is what a mix-shift investigation actually needs.

    Scale shape: one per-customer collapse (shuffle on custkey), one
    segment join, then O(segments) arithmetic; the global scalars ride a
    broadcast. T_total is computed from the global sums directly, so the
    decomposition identity is checkable from the output."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("x")
        )
        .join(
            cust.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
    )
    seg = per.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(F.col("x") * F.log("x")).alias("xlgx"),
    )
    glob = seg.agg(
        F.sum("ng").alias("n"), F.sum("sg").alias("s"), F.sum("xlgx").alias("xl")
    )
    g = seg.crossJoin(F.broadcast(glob))
    mu = F.col("s") / F.col("n")
    mug = F.col("sg") / F.col("ng")
    t_g = F.col("xlgx") / (F.col("sg")) - F.log(mug)
    # note: (1/(ng*mug))*Σ x ln x == Σ x ln x / sg
    share = F.col("sg") / F.col("s")
    terms = g.agg(
        F.max("n").alias("n"),
        F.max(F.col("xl") / F.col("s") - F.log(F.col("s") / F.col("n"))).alias(
            "t_total"
        ),
        F.sum(share * F.log(mug / mu)).alias("t_between"),
        F.sum(share * t_g).alias("t_within"),
    )
    return terms.select(
        F.col("n").alias("n_customers"),
        F.round("t_total", 6).alias("theil_total"),
        F.round("t_between", 6).alias("theil_between"),
        F.round("t_within", 6).alias("theil_within"),
    )


EXT_THEIL_SQL = r"""
WITH per AS (
  SELECT o.o_custkey, c.c_mktsegment,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
seg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS ng, SUM(x) AS sg,
         SUM(x * LN(x)) AS xlgx
  FROM per GROUP BY 1
),
gl AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s, SUM(xlgx) AS xl FROM seg)
SELECT MAX(n) AS n_customers,
       ROUND(MAX(xl / s - LN(s / n)), 6) AS theil_total,
       ROUND(SUM((sg / s) * LN((sg / ng) / (s / n))), 6) AS theil_between,
       ROUND(SUM((sg / s) * (xlgx / sg - LN(sg / ng))), 6) AS theil_within
FROM seg CROSS JOIN gl
"""


def ext_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily order revenue at lags 1,2,3,7,14,28 —
    the memory/seasonality diagnostic behind every forecasting choice
    (X217's seasonal-naive baseline assumes exactly the lag-7 structure
    this measures). Missing calendar days simply contribute no pair
    (stated estimator: pairwise-complete ACF on the calendar grid).

    Scale shape: the big table collapses to the O(days) axis first
    (exact cents); mean/denominator are broadcast scalars; each lag is
    one equi-join on the shifted day over the tiny axis."""
    orders = _t(spark, sf_dir, "orders")
    # r13 (guide §5): daily feeds the mean scalar, the denominator pass
    # and BOTH lag-join sides — un-persisted, the orders scan + day
    # exchange ran 4x. Bounded (O(days) rows) -> default level.
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
        "day", (F.col("xc").cast("double") - F.col("mu")).alias("d")
    )
    denom = dev.agg(F.sum(F.col("d") * F.col("d")).alias("ss"))
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(v) for v in [1, 2, 3, 7, 14, 28]])).alias("lag")
    )
    pairs = (
        F.broadcast(lags)
        .crossJoin(dev.select(F.col("day").alias("d0"), F.col("d").alias("da")))
        .join(
            dev.select(F.col("day").alias("d1"), F.col("d").alias("db")),
            F.expr("d1 = date_add(d0, lag)"),
        )
    )
    return (
        pairs.groupBy("lag")
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum(F.col("da") * F.col("db")).alias("num"))
        .crossJoin(F.broadcast(denom))
        .select(
            "lag",
            "n_pairs",
            F.round(F.col("num") / F.col("ss"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


EXT_ACF_SQL = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS xc
  FROM orders GROUP BY 1
),
stats AS (SELECT CAST(SUM(xc) AS DOUBLE) / COUNT(*) AS mu FROM daily),
dev AS (SELECT day, CAST(xc AS DOUBLE) - mu AS d FROM daily CROSS JOIN stats),
denom AS (SELECT SUM(d * d) AS ss FROM dev),
lags AS (SELECT UNNEST([1, 2, 3, 7, 14, 28]) AS lag)
SELECT CAST(l.lag AS INTEGER) AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(SUM(a.d * b.d) / MAX(ss), 6) AS acf
FROM lags l
JOIN dev a ON TRUE
JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
CROSS JOIN denom
GROUP BY l.lag
ORDER BY lag
"""


def ext_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value from
    B=100 deterministic Poisson(1)-weighted resamples (the scalable
    bootstrap: multinomial resampling ≈ independent Poisson weights, so
    NO per-replicate shuffle of the data — one pass computes every
    replicate). Hash-seeded weights make the 'randomness' replayable in
    any engine (the oracle recomputes it bit-for-bit).

    Scale shape: rows × B expansion is row-local (explode of a literal
    range); the per-replicate sums partial-aggregate map-side into B=100
    groups; quantiles run on the 100-row replicate frame."""
    orders = _t(spark, sf_dir, "orders")
    b = 100
    rep = orders.select(
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("xc"),
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("rep"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("-", F.col("o_orderkey"), F.col("rep"))), 1, 12
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(281474976710656.0)
    )
    # Poisson(1) inverse CDF ladder (cumulative probabilities, exact literals)
    cum = [
        0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
        0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
        0.9999167588507119, 0.9999897508076832, 0.9999988597484035,
    ]
    w = F.lit(9)
    for i in range(len(cum) - 1, -1, -1):
        w = F.when(F.lit(cum[i]) > u, F.lit(i)).otherwise(w)
    means = (
        rep.select("rep", w.alias("w"), "xc")
        .groupBy("rep")
        .agg(
            (
                F.sum(F.col("w") * F.col("xc")).cast("double")
                / (F.sum("w") * 100.0)
            ).alias("m")
        )
    )
    point = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / (F.count(F.lit(1)) * 100.0)
        ).alias("pm"),
    )
    ci = means.agg(
        F.expr("percentile(m, 0.025)").alias("lo"),
        F.expr("percentile(m, 0.975)").alias("hi"),
    )
    return (
        point.crossJoin(F.broadcast(ci))
        .select(
            "n_orders",
            F.round("pm", 4).alias("point_mean"),
            F.round("lo", 4).alias("ci_lo"),
            F.round("hi", 4).alias("ci_hi"),
        )
    )


EXT_BOOTSTRAP_SQL = r"""
WITH rep AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS xc, r.rep
  FROM orders CROSS JOIN (SELECT UNNEST(range(0, 100)) AS rep) r
),
wts AS (
  SELECT rep, xc,
         CASE
           WHEN 0.36787944117144233 > u THEN 0
           WHEN 0.7357588823428847 > u THEN 1
           WHEN 0.9196986029286058 > u THEN 2
           WHEN 0.9810118431238462 > u THEN 3
           WHEN 0.9963401531726563 > u THEN 4
           WHEN 0.9994058151824183 > u THEN 5
           WHEN 0.9999167588507119 > u THEN 6
           WHEN 0.9999897508076832 > u THEN 7
           WHEN 0.9999988597484035 > u THEN 8
           ELSE 9
         END AS w
  FROM (
    SELECT rep, xc,
           CAST(('0x' || SUBSTR(md5(o_orderkey || '-' || rep), 1, 12))::UBIGINT
                AS DOUBLE) / 281474976710656.0 AS u
    FROM rep
  )
),
means AS (
  SELECT rep, CAST(SUM(w * xc) AS DOUBLE) / (SUM(w) * 100.0) AS m
  FROM wts GROUP BY 1
),
point AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
           / (COUNT(*) * 100.0) AS pm
  FROM orders
),
ci AS (SELECT quantile_cont(m, 0.025) AS lo, quantile_cont(m, 0.975) AS hi FROM means)
SELECT n_orders, ROUND(pm, 4) AS point_mean, ROUND(lo, 4) AS ci_lo,
       ROUND(hi, 4) AS ci_hi
FROM point CROSS JOIN ci
"""


EXT_QUERIES.update(
    {
        "ext_theil_index": ext_theil_index,
        "ext_acf": ext_acf,
        "ext_bootstrap_ci": ext_bootstrap_ci,
    }
)
EXT_ORACLES.update(
    {
        "ext_theil_index": EXT_THEIL_SQL,
        "ext_acf": EXT_ACF_SQL,
        "ext_bootstrap_ci": EXT_BOOTSTRAP_SQL,
    }
)


# --- round-3 wave: model-eval operators (AUC, NDCG, kNN, k-means step) --------


def ext_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the stopword-ratio signal as a detector of lang='en'
    (Mann-Whitney rank formulation with exact tie handling) — the
    threshold-free quality-classifier evaluation every filtering
    pipeline needs before it picks a cutoff (X226's lift table assumes a
    ranking is worth using; this is the number that says whether it is).

    Scale shape: per-doc scores are row-local array HOFs; the rank sum
    runs on the COLLAPSED per-score axis (score rounded to 6 → bounded
    distinct values), so the only unpartitioned window is over O(distinct
    scores), not rows."""
    docs = _t(spark, sf_dir, "documents")
    stops = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != ""
    )
    scored = docs.select(
        (F.col("lang") == "en").cast("int").alias("pos_label"),
        F.size(toks).alias("n_toks"),
        F.size(
            F.filter(toks, lambda w: w.isin(stops))
        ).alias("n_stop"),
    ).filter(F.col("n_toks") > 0)
    scored = scored.select(
        "pos_label",
        F.round(F.col("n_stop") / F.col("n_toks"), 6).alias("score"),
    )
    g = scored.groupBy("score").agg(
        F.sum("pos_label").alias("np"),
        F.sum(F.lit(1) - F.col("pos_label")).alias("nn"),
    )
    wb = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    g = g.withColumn("nt", F.col("np") + F.col("nn")).withColumn(
        "cb", F.coalesce(F.sum("nt").over(wb), F.lit(0))
    )
    agg = g.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(
            F.col("np") * (F.col("cb") + (F.col("nt") + 1) / 2.0)
        ).alias("rpos"),
    )
    auc = (
        F.col("rpos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select("n_pos", "n_neg", F.round(auc, 6).alias("auc"))


EXT_AUC_SQL = r"""
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos_label,
         ROUND(CAST(len(list_filter(toks, w -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it'], w)))
               AS DOUBLE) / len(toks), 6) AS score
  FROM (
    SELECT lang,
           list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                       w -> w <> '') AS toks
    FROM documents
  ) WHERE len(toks) > 0
),
g AS (
  SELECT score, CAST(SUM(pos_label) AS BIGINT) AS np,
         CAST(SUM(1 - pos_label) AS BIGINT) AS nn
  FROM scored GROUP BY 1
),
c AS (
  SELECT score, np, nn, np + nn AS nt,
         COALESCE(SUM(np + nn) OVER (
           ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cb
  FROM g
),
agg AS (
  SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
         SUM(np * (cb + (nt + 1) / 2.0)) AS rpos
  FROM c
)
SELECT n_pos, n_neg,
       ROUND((rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * CAST(n_neg AS DOUBLE)), 6) AS auc
FROM agg
"""


def ext_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality NDCG@10 of exact cosine search with same-label
    relevance, averaged per query label — the ranking-eval companion to
    the recall tests: it scores POSITION (a relevant hit at rank 1 is
    worth more than at rank 10), which recall@k cannot see. IDCG is the
    all-relevant ideal (every label has >10 corpus members).

    Scale shape: reuses the broadcast brute-force scorer (query panel
    CAP-ADAPTIVE at ~40 rows — a fixed %50 fraction would grow the
    panel with the corpus and make queries x corpus quadratic; modulus
    50 at every committed fixture SF, outputs bit-identical there);
    the gain math runs on the O(queries*k) hit list."""
    emb = _t(spark, sf_dir, "embeddings")
    p = capped_panel_modulus(corpus_count(spark, sf_dir, "embeddings"), base=50, cap=40)
    queries = emb.filter(F.col("vec_id") % p == 0)
    hits = similarity.brute_topk(emb, queries, k=10)
    lab = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel"))
    qlab = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel"))
    gains = (
        hits.join(lab, "neighbor_id")
        .join(F.broadcast(qlab), "query_id")
        .select(
            "query_id",
            "qlabel",
            (
                (F.col("nlabel") == F.col("qlabel")).cast("double")
                / F.log2(F.col("rank") + 1)
            ).alias("g"),
        )
    )
    per_q = gains.groupBy("query_id", "qlabel").agg(
        (F.sum("g") / F.lit(4.543559338088346)).alias("ndcg")
    )
    return (
        per_q.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("ndcg"), 6).alias("mean_ndcg"),
        )
        .orderBy("label")
    )


EXT_NDCG_SQL = r"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT 50 * GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS p FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % (SELECT p FROM p) = 0),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS qlabel, c.vec_id AS neighbor_id,
         c.label AS nlabel,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM q CROSS JOIN e c
  WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) AS rank
  FROM scored
),
per_q AS (
  SELECT query_id, qlabel,
         SUM(CASE WHEN nlabel = qlabel THEN 1.0 ELSE 0.0 END / log2(rank + 1))
           / 4.543559338088346 AS ndcg
  FROM ranked WHERE rank <= 10 GROUP BY 1, 2
)
SELECT CAST(qlabel AS INTEGER) AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(AVG(ndcg), 6) AS mean_ndcg
FROM per_q GROUP BY 1 ORDER BY label
"""


def ext_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration (the k-means E-step + quality audit)
    seeded from the label centroids: every vector is assigned to its
    nearest centroid (squared euclidean, rounded-9 distance, label tie-
    break), reporting per-centroid membership, agreement with the
    seeding label, and inertia — the distributed k-means building block
    (iterate = loop this; converged = n_moved stops falling).

    Scale shape: centroids are an O(labels*dim) broadcast; the distance
    computation is a posexplode + broadcast join + partial-agged
    regrouping — no N×k materialization survives the exchange."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = vectors.label_centroids(emb).select(
        F.col("label").alias("clabel"), "pos", "centroid_val"
    )
    ex = emb.select(
        "vec_id",
        F.col("label").alias("ilabel"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).withColumn("pos", (F.col("pos0") + 1).cast("long"))
    d2 = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "ilabel", "clabel")
        .agg(
            F.round(
                F.sum(
                    (F.col("v") - F.col("centroid_val"))
                    * (F.col("v") - F.col("centroid_val"))
                ),
                9,
            ).alias("d2")
        )
    )
    pick = d2.groupBy("vec_id", "ilabel").agg(
        F.min(F.struct(F.col("d2"), F.col("clabel"))).alias("best")
    )
    assigned = pick.select(
        "vec_id",
        "ilabel",
        F.col("best.clabel").alias("assigned"),
        F.col("best.d2").alias("d2"),
    )
    return (
        assigned.groupBy(F.col("assigned").alias("assigned_label"))
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.sum((F.col("ilabel") == F.col("assigned")).cast("long")).alias(
                "n_kept"
            ),
            F.round(F.sum("d2"), 4).alias("inertia"),
        )
        .orderBy("assigned_label")
    )


EXT_KMEANS_STEP_SQL = r"""
WITH u AS (
  SELECT label, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
cent AS (
  SELECT label AS clabel, pos,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6)
           AS centroid_val
  FROM u GROUP BY 1, 2
),
d2 AS (
  SELECT u.vec_id, u.label AS ilabel, c.clabel,
         ROUND(SUM((u.v - c.centroid_val) * (u.v - c.centroid_val)), 9) AS d2
  FROM u JOIN cent c ON c.pos = u.pos
  GROUP BY 1, 2, 3
),
pick AS (
  SELECT vec_id, ilabel, clabel AS assigned, d2 FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC
    ) AS rn FROM d2
  ) WHERE rn = 1
)
SELECT CAST(assigned AS INTEGER) AS assigned_label,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(CASE WHEN ilabel = assigned THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(SUM(d2), 4) AS inertia
FROM pick GROUP BY 1 ORDER BY assigned_label
"""


def ext_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction (k=5 cosine neighbors, majority vote, count-
    then-smallest-label tie-break) with per-label accuracy — the
    classifier-eval loop run directly on the embedding store, no model:
    the standard probe for 'are these embeddings good enough to separate
    the classes'.

    Scale shape: reuses the broadcast brute scorer on a CAP-ADAPTIVE
    thinned query panel (~20 rows at any corpus size — a fixed %100
    fraction would grow queries x corpus quadratically; modulus 100 at
    every committed fixture SF, outputs bit-identical there); voting
    and accuracy run on O(queries*k) rows."""
    emb = _t(spark, sf_dir, "embeddings")
    p = capped_panel_modulus(corpus_count(spark, sf_dir, "embeddings"), base=100, cap=20)
    queries = emb.filter(F.col("vec_id") % p == 1)
    hits = similarity.brute_topk(emb, queries, k=5)
    lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    votes = (
        hits.join(lab, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pred = votes.groupBy("query_id").agg(
        F.max(F.struct(F.col("cnt"), (-F.col("nlabel")).alias("neg"))).alias("b")
    ).select("query_id", (-F.col("b.neg")).cast("int").alias("pred"))
    truth = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("tlabel"))
    return (
        pred.join(F.broadcast(truth), "query_id")
        .groupBy(F.col("tlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum((F.col("pred") == F.col("tlabel")).cast("long")).alias("n_correct"),
            F.round(
                F.sum((F.col("pred") == F.col("tlabel")).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


EXT_KNN_CLASSIFY_SQL = r"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT 100 * GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS p FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % (SELECT p FROM p) = 1),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS tlabel, c.vec_id AS neighbor_id,
         c.label AS nlabel,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM q CROSS JOIN e c
  WHERE q.vec_id <> c.vec_id
),
hits AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank FROM scored
  ) WHERE rank <= 5
),
votes AS (
  SELECT query_id, tlabel, nlabel, COUNT(*) AS cnt
  FROM hits GROUP BY 1, 2, 3
),
pred AS (
  SELECT query_id, tlabel, nlabel AS pred FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cnt DESC, nlabel ASC
    ) AS rn FROM votes
  ) WHERE rn = 1
)
SELECT CAST(tlabel AS INTEGER) AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN pred = tlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(CAST(SUM(CASE WHEN pred = tlabel THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS accuracy
FROM pred GROUP BY 1 ORDER BY label
"""


EXT_QUERIES.update(
    {
        "ext_auc": ext_auc,
        "ext_ndcg": ext_ndcg,
        "ext_kmeans_step": ext_kmeans_step,
        "ext_knn_classify": ext_knn_classify,
    }
)
EXT_ORACLES.update(
    {
        "ext_auc": EXT_AUC_SQL,
        "ext_ndcg": EXT_NDCG_SQL,
        "ext_kmeans_step": EXT_KMEANS_STEP_SQL,
        "ext_knn_classify": EXT_KNN_CLASSIFY_SQL,
    }
)


# --- round-3 wave: governance + pipeline ops ----------------------------------


def ext_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit completing the k-anonymity check (X100): for
    every (segment, nation) equivalence class, the number of DISTINCT
    sensitive values (order priority of the members' orders) — a class
    can be k-anonymous yet leak the sensitive attribute outright if all
    members share one value (l=1). Flags classes below l=3.

    Scale shape: membership join keyed on custkey, then one hash agg per
    QI class with a distinct-count; output is O(classes)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    joined = cust.join(
        orders, cust.c_custkey == orders.o_custkey
    )
    return (
        joined.groupBy("c_mktsegment", "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("o_orderpriority").alias("l_distinct"),
        )
        .withColumn("below_l", (F.col("l_distinct") < 3).cast("int"))
        .orderBy("c_mktsegment", "c_nationkey")
    )


EXT_L_DIVERSITY_SQL = r"""
SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_distinct,
       CASE WHEN COUNT(DISTINCT o_orderpriority) < 3 THEN 1 ELSE 0 END AS below_l
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


def ext_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private-style count release: per-segment customer
    counts with Laplace(1/eps) noise (eps=1.0, sensitivity 1), the noise
    drawn by the same replayable hash-uniform scheme every sampler here
    uses. NOT A PRIVACY MECHANISM: the noise is a deterministic function
    of the public segment name, so the release is exactly recoverable by
    anyone who can run the same hash — the replayable-hash draw exists
    ONLY so the pipeline shape (sensitivity-calibrated perturbation of a
    restricted aggregate) is engine-portable and oracle-checkable. A
    real DP release MUST draw fresh, secret randomness per release;
    swap the `u` expression for F.rand() (and drop the oracle) to
    deploy. The governed-export complement to k-anonymity/
    pseudonymization: release aggregates, not classes.

    Scale shape: one hash agg to O(segments) rows; noise is row-local
    arithmetic on the tiny aggregate."""
    cust = _t(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("true_n"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dp-"), F.col("c_mktsegment"))), 1, 12),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(281474976710656.0)
    )
    # inverse-CDF Laplace(b): b * sign(u-0.5) * ln(1 - 2|u-0.5|), b = 1/eps
    noise = (
        F.lit(-1.0)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    )
    return (
        counts.select(
            "c_mktsegment",
            F.round(F.col("true_n") + noise, 4).alias("released_n"),
            F.round(noise, 4).alias("noise"),
        )
        .orderBy("c_mktsegment")
    )


EXT_DP_RELEASE_SQL = r"""
WITH counts AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS true_n
  FROM customer GROUP BY 1
),
noised AS (
  SELECT c_mktsegment, true_n,
         -1.0 * SIGN(u - 0.5) * LN(1 - 2 * ABS(u - 0.5)) AS noise
  FROM (
    SELECT c_mktsegment, true_n,
           CAST(('0x' || SUBSTR(md5('dp-' || c_mktsegment), 1, 12))::UBIGINT
                AS DOUBLE) / 281474976710656.0 AS u
    FROM counts
  )
)
SELECT c_mktsegment, ROUND(true_n + noise, 4) AS released_n,
       ROUND(noise, 4) AS noise
FROM noised ORDER BY c_mktsegment
"""


def ext_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split is decided by the
    DUPLICATE-CLUSTER key (normalized-content fingerprint), not the doc
    id, so exact/near copies of one document can never straddle train
    and eval — the contamination failure mode a plain hash split (X34)
    cannot prevent. 80/10/10 by hash of the cluster key; summary rows
    prove the invariant (each cluster lands in exactly one split).

    Scale shape: fingerprint is row-local; the split decision is a hash
    of it (zero shuffle, subset-stable); the audit agg is O(clusters)."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit("split-"), fp)), 1, 12), 16, 10).cast(
        "long"
    ) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    tagged = docs.select(fp.alias("cluster_fp"), split.alias("split"))
    per_cluster = tagged.groupBy("cluster_fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("split").alias("n_splits"),
        F.min("split").alias("split"),
    )
    return (
        per_cluster.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("n_docs").alias("n_docs"),
            F.max("n_splits").alias("max_splits_per_cluster"),
        )
        .orderBy("split")
    )


EXT_CLUSTER_SPLIT_SQL = r"""
WITH tagged AS (
  SELECT md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS cluster_fp,
         CASE
           WHEN ('0x' || SUBSTR(md5('split-' || md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')))), 1, 12))::UBIGINT % 10 < 8 THEN 'train'
           WHEN ('0x' || SUBSTR(md5('split-' || md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')))), 1, 12))::UBIGINT % 10 < 9 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
),
per_cluster AS (
  SELECT cluster_fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
         MIN(split) AS split
  FROM tagged GROUP BY 1
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(MAX(n_splits) AS BIGINT) AS max_splits_per_cluster
FROM per_cluster GROUP BY 1 ORDER BY split
"""


def ext_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase latency distribution: per user, first click and
    the first purchase at-or-after it; exact p50/p90/p99 of the lag in
    seconds plus the converting-user count — the time-dimension
    companion to the funnel counts (X76 says HOW MANY convert; this says
    HOW LONG conversion takes, which sets attribution windows).

    Scale shape: two conditional MINs in ONE per-user hash agg (no self-
    join); percentiles run on the O(users) collapsed frame."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c0")
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(per_user.filter(F.col("c0").isNotNull()), "user_id")
        .filter(F.col("ts") >= F.col("c0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p0"), F.min("c0").alias("c0"))
    )
    lags = purch.select(
        "user_id",
        ((F.unix_micros("p0") - F.unix_micros("c0")) / 1000000.0).alias("lag_s"),
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(lag_s, 0.5)"), 3).alias("p50_s"),
        F.round(F.expr("percentile(lag_s, 0.9)"), 3).alias("p90_s"),
        F.round(F.expr("percentile(lag_s, 0.99)"), 3).alias("p99_s"),
    )


EXT_CONVERSION_LAG_SQL = r"""
WITH per_user AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'click' THEN ts END) AS c0
  FROM events GROUP BY 1
),
purch AS (
  SELECT e.user_id, MIN(e.ts) AS p0, MIN(u.c0) AS c0
  FROM events e JOIN per_user u ON u.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND u.c0 IS NOT NULL AND e.ts >= u.c0
  GROUP BY 1
),
lags AS (
  SELECT (epoch_us(p0) - epoch_us(c0)) / 1000000.0 AS lag_s FROM purch
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(lag_s, 0.5), 3) AS p50_s,
       ROUND(quantile_cont(lag_s, 0.9), 3) AS p90_s,
       ROUND(quantile_cont(lag_s, 0.99), 3) AS p99_s
FROM lags
"""


EXT_QUERIES.update(
    {
        "ext_l_diversity": ext_l_diversity,
        "ext_dp_release": ext_dp_release,
        "ext_cluster_split": ext_cluster_split,
        "ext_conversion_lag": ext_conversion_lag,
    }
)
EXT_ORACLES.update(
    {
        "ext_l_diversity": EXT_L_DIVERSITY_SQL,
        "ext_dp_release": EXT_DP_RELEASE_SQL,
        "ext_cluster_split": EXT_CLUSTER_SPLIT_SQL,
        "ext_conversion_lag": EXT_CONVERSION_LAG_SQL,
    }
)


# --- round-3 wave: hybrid ranking, EWMA monitoring, FS record linkage ---------


def ext_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank-fusion hybrid ranking (k=60): BM25 relevance and
    the heuristic quality prior are each ranked WITHIN the retrieval
    candidate set (docs matching >= 1 query term), then fused as
    1/(60+r_bm25) + 1/(60+r_quality) — the standard zero-training way to
    combine heterogeneous retrieval signals; top-20 head.

    Scale shape: candidates come from the scan-filtered BM25 operator
    (non-matching docs never shuffle); both rank windows run over the
    candidate set only — retrieval-bounded, not corpus-bounded — and the
    head is a TakeOrdered k-limit."""
    docs = _t(spark, sf_dir, "documents")
    cand = text.bm25_scores(docs, BM25_QUERY_TERMS).select("doc_id", "score")
    q = text.quality_score(docs).select("doc_id", "quality")
    j = cand.join(q, "doc_id")
    wb = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    wq = Window.orderBy(F.col("quality").desc(), F.col("doc_id"))
    ranked = j.withColumn("r_bm25", F.row_number().over(wb)).withColumn(
        "r_quality", F.row_number().over(wq)
    )
    rrf = 1.0 / (60.0 + F.col("r_bm25")) + 1.0 / (60.0 + F.col("r_quality"))
    return (
        ranked.select(
            "doc_id",
            F.col("r_bm25").cast("long").alias("r_bm25"),
            F.col("r_quality").cast("long").alias("r_quality"),
            F.round(rrf, 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


EXT_RRF_SQL = r"""
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
         CAST(ROW_NUMBER() OVER (ORDER BY c.score DESC, c.doc_id) AS BIGINT) AS r_bm25,
         CAST(ROW_NUMBER() OVER (ORDER BY q.quality DESC, c.doc_id) AS BIGINT) AS r_quality
  FROM cand c JOIN qual q ON q.doc_id = c.doc_id
)
SELECT doc_id, r_bm25, r_quality,
       ROUND(1.0 / (60.0 + r_bm25) + 1.0 / (60.0 + r_quality), 6) AS rrf
FROM ranked
ORDER BY rrf DESC, doc_id LIMIT 20
"""


def ext_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily event counts (lambda=0.2, trailing
    20-day support, renormalized over OBSERVED days so calendar gaps
    don't bias the smoother): each day's EWMA against the
    mu +/- 3*sigma*sqrt(lambda/(2-lambda)) control band — the
    small-shift drift detector that reacts faster than X214's CUSUM for
    sustained level changes and is closed-form replayable (no recursion).

    Scale shape: the big table collapses to the O(days) axis first; the
    EWMA is a bounded-lag self-join on that tiny axis; control scalars
    ride a broadcast."""
    lam = 0.2
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    stats = daily.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.sum(F.col("x").cast("double") * F.col("x")).cast("double")
            / F.count(F.lit(1))
            - F.pow(F.sum("x").cast("double") / F.count(F.lit(1)), 2)
        ).alias("sd"),
    )
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("day").alias("d0"), F.col("x").alias("x0"))
    pairs = a.join(
        b,
        (F.col("d0") <= F.col("d1"))
        & (F.col("d0") > F.date_sub(F.col("d1"), 20)),
    ).select(
        "d1",
        "x1",
        "x0",
        F.pow(F.lit(1.0 - lam), F.datediff("d1", "d0")).alias("w"),
    )
    ew = pairs.groupBy("d1", "x1").agg(
        (F.sum(F.col("w") * F.col("x0")) / F.sum("w")).alias("ewma")
    )
    band = float((lam / (2.0 - lam)) ** 0.5)
    return (
        ew.crossJoin(F.broadcast(stats))
        .select(
            F.col("d1").cast("string").alias("day"),
            F.col("x1").alias("n_events"),
            F.round("ewma", 4).alias("ewma"),
            F.round(F.col("mu") + 3.0 * F.col("sd") * band, 4).alias("ucl"),
            F.round(F.col("mu") - 3.0 * F.col("sd") * band, 4).alias("lcl"),
            (
                F.abs(F.col("ewma") - F.col("mu")) > 3.0 * F.col("sd") * band
            ).alias("out_of_control"),
        )
        .orderBy("day")
    )


EXT_EWMA_SQL = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
stats AS (
  SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
         SQRT(SUM(CAST(x AS DOUBLE) * x) / COUNT(*)
              - POWER(CAST(SUM(x) AS DOUBLE) / COUNT(*), 2)) AS sd
  FROM daily
),
pairs AS (
  SELECT a.day AS d1, a.x AS x1, b.x AS x0,
         POWER(0.8, date_diff('day', b.day, a.day)) AS w
  FROM daily a JOIN daily b
    ON b.day <= a.day AND b.day > a.day - 20
),
ew AS (
  SELECT d1, x1, SUM(w * x0) / SUM(w) AS ewma
  FROM pairs GROUP BY 1, 2
)
SELECT CAST(d1 AS VARCHAR) AS day, x1 AS n_events,
       ROUND(ewma, 4) AS ewma,
       ROUND(mu + 3.0 * sd * SQRT(0.2 / 1.8), 4) AS ucl,
       ROUND(mu - 3.0 * sd * SQRT(0.2 / 1.8), 4) AS lcl,
       ABS(ewma - mu) > 3.0 * sd * SQRT(0.2 / 1.8) AS out_of_control
FROM ew CROSS JOIN stats
ORDER BY day
"""


def ext_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring: nation-blocked customer
    candidate pairs classified by their agreement pattern over (segment,
    acctbal-thousand-bucket, name-last-char), with the FS match weight
    log2(m/u) per agreeing field and log2((1-m)/(1-u)) per disagreeing
    field — u-probabilities ESTIMATED from the data (random-pair
    agreement = sum of squared value shares), m set to the conventional
    literals (0.95/0.9/0.85). The statistical layer the fuzzy join
    (X72) lacks: it says how much EVIDENCE an agreement carries.

    Scale shape (r10 rewrite — the image_near_dup value-space lesson):
    the output is O(2^fields) pattern counts, so the nation-blocked
    pair join (O(n^2/nations) — 84x wall at salted-30x, the one
    plan-quadratic this query had) is replaced by exact COUNTING: one
    finest-grain aggregation over (nation, seg, bal, ch) and, per field
    subset S, pairs-agreeing-on-at-least-S as sum(C(M,2)) over
    (nation, S) groups (8 re-aggregations of the one finest frame —
    Catalyst/AQE reuses its exchange), then inclusion-exclusion turns
    at-least counts into exact per-pattern counts. Bit-identical
    integers to the pair-materializing form (the oracle still
    materializes pairs, so every sweep is a cross-formulation
    equivalence proof); zero-count patterns are filtered to match the
    pair form's groupBy row set. Fields are non-NULL in this corpus
    (groupBy would treat NULL=NULL as agreement where the pair join's
    `=` would not)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bkt"),
            F.substring(F.col("c_name"), -1, 1).alias("last_ch"),
        )
        # NULL discipline, enforced in-plan on BOTH engines (the oracle
        # mirrors this WHERE): the value-space counting groups NULL=NULL
        # where the old pair join's `=` did not — a NULL-nation row never
        # paired at all (exact to exclude), and NULL field values produced
        # engine-divergent patterns even pre-rewrite (Spark NULL vs DuckDB
        # CASE->0). Scoping to fully-non-NULL rows makes the semantics
        # identical and explicit; this corpus has no NULLs, so fixture
        # outputs are unchanged.
        .filter(
            F.col("c_nationkey").isNotNull()
            & F.col("c_mktsegment").isNotNull()
            & F.col("bal_bkt").isNotNull()
            & F.col("last_ch").isNotNull()
        )
    )

    def u_prob(col):
        # u = sum(nv^2) / n^2 with n recovered as sum(nv) — one aggregation,
        # no driver-side count() job per field
        shares = cust.groupBy(col).agg(F.count(F.lit(1)).alias("nv"))
        return shares.agg(
            (
                F.sum(F.col("nv").cast("double") * F.col("nv"))
                / (F.sum("nv").cast("double") * F.sum("nv").cast("double"))
            ).alias(f"u_{col}")
        )

    u = (
        u_prob("c_mktsegment")
        .crossJoin(u_prob("bal_bkt"))
        .crossJoin(u_prob("last_ch"))
    )
    # r13 note: persisting fin was measured ~3x SLOWER (first 2.4 ->
    # 7.7s, second 1.8 -> 3.5s, 2-round alternating A/B) — the
    # docstring's claim holds: the eight at-least re-aggregations share
    # the finest exchange via AQE stage reuse, and the persist only
    # broke that reuse. Left unpersisted on purpose.
    fin = cust.groupBy(
        "c_nationkey", "c_mktsegment", "bal_bkt", "last_ch"
    ).agg(F.count(F.lit(1)).alias("m"))

    def agree(alias_, *cols):
        # pairs agreeing on AT LEAST the given fields (same nation):
        # sum of C(M,2) over (nation, fields) value groups. C(M,2) is
        # computed in DECIMAL (halving the EVEN factor first keeps each
        # operand < 2^63, the product exact at scale 0): int64 mm*(mm-1)
        # would overflow once one (nation, fields) group exceeds ~3.04e9
        # rows — ~1e5x past the sf1000 design point (~6e6/nation) but
        # inside the repo's 10x-headroom audit discipline only by
        # documentation, not by construction. DECIMAL(19,0)^2 -> (38,0)
        # is exact to ~8.6e37 pairs; the final per-pattern counts are
        # cast back to long (they exceed 2^63 only past ~4.3e9 rows per
        # pattern group, recorded in PERFORMANCE.md's audit table).
        g = fin.groupBy("c_nationkey", *cols).agg(F.sum("m").alias("mm"))
        half_pairs = (
            "CASE WHEN mm % 2 = 0 "
            "THEN CAST(mm DIV 2 AS DECIMAL(19,0)) * CAST(mm - 1 AS DECIMAL(19,0)) "
            "ELSE CAST(mm AS DECIMAL(19,0)) * CAST((mm - 1) DIV 2 AS DECIMAL(19,0)) "
            "END"
        )
        return g.agg(
            F.coalesce(
                F.sum(F.expr(half_pairs)), F.lit(0).cast("decimal(38,0)")
            ).alias(alias_)
        )

    scal = (
        agree("a0")
        .crossJoin(agree("a_s", "c_mktsegment"))
        .crossJoin(agree("a_b", "bal_bkt"))
        .crossJoin(agree("a_c", "last_ch"))
        .crossJoin(agree("a_sb", "c_mktsegment", "bal_bkt"))
        .crossJoin(agree("a_sc", "c_mktsegment", "last_ch"))
        .crossJoin(agree("a_bc", "bal_bkt", "last_ch"))
        .crossJoin(agree("a_sbc", "c_mktsegment", "bal_bkt", "last_ch"))
    )

    def _pat(s, b, c, expr):
        # inclusion-exclusion runs in DECIMAL(38,0); the exact pattern
        # count is cast back to long for the declared schema (safe to
        # ~4.3e9 rows per (nation, pattern) group — see agree())
        return F.struct(
            F.lit(s).cast("int").alias("g_seg"),
            F.lit(b).cast("int").alias("g_bal"),
            F.lit(c).cast("int").alias("g_ch"),
            F.expr(expr).cast("long").alias("n_pairs"),
        )

    # inclusion-exclusion: exact-pattern = alternating sum of at-least
    # counts over supersets of the agreeing field set
    patt = (
        scal.select(
            F.explode(
                F.array(
                    _pat(0, 0, 0, "a0 - a_s - a_b - a_c + a_sb + a_sc + a_bc - a_sbc"),
                    _pat(0, 0, 1, "a_c - a_sc - a_bc + a_sbc"),
                    _pat(0, 1, 0, "a_b - a_sb - a_bc + a_sbc"),
                    _pat(0, 1, 1, "a_bc - a_sbc"),
                    _pat(1, 0, 0, "a_s - a_sb - a_sc + a_sbc"),
                    _pat(1, 0, 1, "a_sc - a_sbc"),
                    _pat(1, 1, 0, "a_sb - a_sbc"),
                    _pat(1, 1, 1, "a_sbc"),
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("n_pairs") > 0)
    )
    m_seg, m_bal, m_ch = 0.95, 0.9, 0.85

    def w(flag, m, ucol):
        return F.when(
            F.col(flag) == 1, F.log2(F.lit(m) / F.col(ucol))
        ).otherwise(F.log2((1.0 - m) / (1.0 - F.col(ucol))))

    return (
        patt.crossJoin(F.broadcast(u))
        .select(
            "g_seg",
            "g_bal",
            "g_ch",
            "n_pairs",
            F.round(
                w("g_seg", m_seg, "u_c_mktsegment")
                + w("g_bal", m_bal, "u_bal_bkt")
                + w("g_ch", m_ch, "u_last_ch"),
                4,
            ).alias("fs_weight"),
        )
        .orderBy("g_seg", "g_bal", "g_ch")
    )


EXT_FS_LINKAGE_SQL = r"""
WITH cust AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_bkt,
         SUBSTR(c_name, LENGTH(c_name), 1) AS last_ch
  FROM customer
  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
    AND c_acctbal IS NOT NULL AND c_name IS NOT NULL
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM cust),
useg AS (
  SELECT SUM(CAST(nv AS DOUBLE) * nv) / (MAX(n.n) * MAX(n.n)) AS u_seg
  FROM (SELECT c_mktsegment, COUNT(*) AS nv FROM cust GROUP BY 1) CROSS JOIN n
),
ubal AS (
  SELECT SUM(CAST(nv AS DOUBLE) * nv) / (MAX(n.n) * MAX(n.n)) AS u_bal
  FROM (SELECT bal_bkt, COUNT(*) AS nv FROM cust GROUP BY 1) CROSS JOIN n
),
uch AS (
  SELECT SUM(CAST(nv AS DOUBLE) * nv) / (MAX(n.n) * MAX(n.n)) AS u_ch
  FROM (SELECT last_ch, COUNT(*) AS nv FROM cust GROUP BY 1) CROSS JOIN n
),
pairs AS (
  SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END AS g_seg,
         CASE WHEN a.bal_bkt = b.bal_bkt THEN 1 ELSE 0 END AS g_bal,
         CASE WHEN a.last_ch = b.last_ch THEN 1 ELSE 0 END AS g_ch
  FROM cust a JOIN cust b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
),
patt AS (
  SELECT g_seg, g_bal, g_ch, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1, 2, 3
)
SELECT g_seg, g_bal, g_ch, n_pairs,
       ROUND(
         (CASE WHEN g_seg = 1 THEN log2(0.95 / u_seg)
               ELSE log2((1 - 0.95) / (1 - u_seg)) END)
         + (CASE WHEN g_bal = 1 THEN log2(0.9 / u_bal)
                 ELSE log2((1 - 0.9) / (1 - u_bal)) END)
         + (CASE WHEN g_ch = 1 THEN log2(0.85 / u_ch)
                 ELSE log2((1 - 0.85) / (1 - u_ch)) END),
         4) AS fs_weight
FROM patt CROSS JOIN useg CROSS JOIN ubal CROSS JOIN uch
ORDER BY g_seg, g_bal, g_ch
"""


EXT_QUERIES.update(
    {
        "ext_rrf_fusion": ext_rrf_fusion,
        "ext_ewma_control": ext_ewma_control,
        "ext_fs_linkage": ext_fs_linkage,
    }
)
EXT_ORACLES.update(
    {
        "ext_rrf_fusion": EXT_RRF_SQL,
        "ext_ewma_control": EXT_EWMA_SQL,
        "ext_fs_linkage": EXT_FS_LINKAGE_SQL,
    }
)


# --- round-3 wave: causal stratification, coverage estimators, clustering QA --


def ext_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect estimate: does a deep discount
    (l_discount >= 0.05) move line quantity? Naive difference-in-means
    vs the brand-stratified estimator (per-stratum effect weighted by
    stratum size, strata lacking either arm dropped) — the standard
    observational-data correction when treatment assignment varies by
    product mix. Exact integer-cent arithmetic end to end.

    Scale shape: one fact-dim join (part broadcasts), one hash agg to
    O(strata × 2) cells, then O(strata) arithmetic."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_discount") >= 0.05).cast("int").alias("treated"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    cells = (
        li.join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand", "treated")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qc").alias("s"))
    )
    strata = (
        cells.groupBy("p_brand")
        .agg(
            F.sum("n").alias("n_str"),
            F.count(F.lit(1)).alias("n_arms"),
            F.sum(F.when(F.col("treated") == 1, F.col("s"))).alias("st"),
            F.sum(F.when(F.col("treated") == 1, F.col("n"))).alias("nt"),
            F.sum(F.when(F.col("treated") == 0, F.col("s"))).alias("sc"),
            F.sum(F.when(F.col("treated") == 0, F.col("n"))).alias("nc"),
        )
        .filter(F.col("n_arms") == 2)
    )
    eff = F.col("st").cast("double") / F.col("nt") - F.col("sc").cast(
        "double"
    ) / F.col("nc")
    strat = strata.agg(
        F.count(F.lit(1)).alias("n_strata"),
        (F.sum(eff * F.col("n_str")) / F.sum("n_str") / 100.0).alias("ate_strat"),
    )
    naive = (
        li.groupBy("treated")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qc").alias("s"))
        .agg(
            (
                F.sum(F.when(F.col("treated") == 1, F.col("s"))).cast("double")
                / F.sum(F.when(F.col("treated") == 1, F.col("n")))
                - F.sum(F.when(F.col("treated") == 0, F.col("s"))).cast("double")
                / F.sum(F.when(F.col("treated") == 0, F.col("n")))
            ).alias("ate_naive")
        )
    )
    return strat.crossJoin(F.broadcast(naive)).select(
        "n_strata",
        F.round(F.col("ate_naive") / 100.0, 4).alias("ate_naive"),
        F.round("ate_strat", 4).alias("ate_stratified"),
    )


EXT_STRATIFIED_ATE_SQL = r"""
WITH li AS (
  SELECT l_partkey,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS treated,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
  FROM lineitem
),
cells AS (
  SELECT p.p_brand, li.treated, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qc) AS BIGINT) AS s
  FROM li JOIN part p ON p.p_partkey = li.l_partkey
  GROUP BY 1, 2
),
strata AS (
  SELECT p_brand, SUM(n) AS n_str, COUNT(*) AS n_arms,
         SUM(CASE WHEN treated = 1 THEN s END) AS st,
         SUM(CASE WHEN treated = 1 THEN n END) AS nt,
         SUM(CASE WHEN treated = 0 THEN s END) AS sc,
         SUM(CASE WHEN treated = 0 THEN n END) AS nc
  FROM cells GROUP BY 1 HAVING COUNT(*) = 2
),
strat AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         SUM((CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc) * n_str)
           / SUM(n_str) / 100.0 AS ate_strat
  FROM strata
),
naive AS (
  SELECT (CAST(SUM(CASE WHEN treated = 1 THEN qc END) AS DOUBLE)
            / SUM(CASE WHEN treated = 1 THEN 1 END)
          - CAST(SUM(CASE WHEN treated = 0 THEN qc END) AS DOUBLE)
            / SUM(CASE WHEN treated = 0 THEN 1 END)) AS ate_naive
  FROM li
)
SELECT n_strata, ROUND(ate_naive / 100.0, 4) AS ate_naive,
       ROUND(ate_strat, 4) AS ate_stratified
FROM strat CROSS JOIN naive
"""


def ext_chao1_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary coverage estimators: Chao1 richness
    (bias-corrected V + F1(F1-1)/(2(F2+1))) and Good-Turing coverage
    (1 - F1/N) from the singleton/doubleton counts — the 'how much
    vocabulary is my crawl still missing' pair that turns X236's Heaps
    exponent into an absolute estimate.

    Scale shape: one token-count exchange per language, then O(vocab)
    collapsed to frequency-of-frequency counts; output is O(langs)."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "lang",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("v_obs"),
        F.sum("c").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"),
    )
    chao1 = F.col("v_obs") + (
        F.col("f1").cast("double") * (F.col("f1") - 1)
    ) / (2.0 * (F.col("f2") + 1))
    gt = 1.0 - F.col("f1").cast("double") / F.col("n_tokens")
    return per.select(
        "lang",
        "v_obs",
        "n_tokens",
        "f1",
        "f2",
        F.round(chao1, 2).alias("chao1_richness"),
        F.round(gt, 6).alias("gt_coverage"),
    ).orderBy("lang")


EXT_CHAO1_SQL = r"""
WITH counts AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT lang, UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY 1, 2
),
per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS v_obs,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM counts GROUP BY 1
)
SELECT lang, v_obs, n_tokens, f1, f2,
       ROUND(v_obs + (CAST(f1 AS DOUBLE) * (f1 - 1)) / (2.0 * (f2 + 1)), 2)
         AS chao1_richness,
       ROUND(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS gt_coverage
FROM per ORDER BY lang
"""


def ext_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the label clustering in
    embedding space: per vector, a = distance to own-label centroid,
    b = distance to the nearest OTHER centroid, s = (b-a)/max(a,b);
    reported as the per-label mean — the O(n·k) clustering-quality score
    (full silhouette is O(n²) and does not survive 100 TB; this is the
    standard scalable surrogate).

    Scale shape: same posexplode + broadcast-centroid join as the
    k-means step (X245); the a/b pick is one regrouping; output O(labels)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = vectors.label_centroids(emb).select(
        F.col("label").alias("clabel"), "pos", "centroid_val"
    )
    ex = emb.select(
        "vec_id",
        F.col("label").alias("ilabel"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).withColumn("pos", (F.col("pos0") + 1).cast("long"))
    d2 = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "ilabel", "clabel")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("v") - F.col("centroid_val"))
                        * (F.col("v") - F.col("centroid_val"))
                    )
                ),
                9,
            ).alias("d")
        )
    )
    ab = d2.groupBy("vec_id", "ilabel").agg(
        F.min(F.when(F.col("clabel") == F.col("ilabel"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("ilabel"), F.col("d"))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        ab.groupBy(F.col("ilabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(s), 4).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


EXT_SILHOUETTE_SQL = r"""
WITH u AS (
  SELECT label, vec_id,
         generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
cent AS (
  SELECT label AS clabel, pos,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6)
           AS centroid_val
  FROM u GROUP BY 1, 2
),
d2 AS (
  SELECT u.vec_id, u.label AS ilabel, c.clabel,
         ROUND(SQRT(SUM((u.v - c.centroid_val) * (u.v - c.centroid_val))), 9) AS d
  FROM u JOIN cent c ON c.pos = u.pos
  GROUP BY 1, 2, 3
),
ab AS (
  SELECT vec_id, ilabel,
         MIN(CASE WHEN clabel = ilabel THEN d END) AS a,
         MIN(CASE WHEN clabel <> ilabel THEN d END) AS b
  FROM d2 GROUP BY 1, 2
)
SELECT CAST(ilabel AS INTEGER) AS label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(AVG((b - a) / GREATEST(a, b)), 4) AS mean_silhouette
FROM ab GROUP BY 1 ORDER BY label
"""


def ext_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document length and the
    heuristic quality score, computed WINDOW-FREE at row scale: average
    ranks come from cumulative counts over the two COLLAPSED marginal
    value axes (O(distinct values) each), mapped back by equi-join, then
    Pearson over the mapped ranks — no per-row global sort anywhere, so
    the plan survives corpus-scale inputs (the monotone-association
    companion to X97's Pearson).

    Scale shape: two tiny rank maps (broadcast back), one row-local
    join pair, one moment aggregate."""
    docs = text.quality_score(_t(spark, sf_dir, "documents")).select(
        F.col("n_chars").alias("x"), F.col("quality").alias("y")
    )

    def rank_map(col):
        g = docs.groupBy(F.col(col).alias(col)).agg(F.count(F.lit(1)).alias("n"))
        wb = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return g.select(
            col,
            (
                F.coalesce(F.sum("n").over(wb), F.lit(0))
                + (F.col("n") + 1) / 2.0
            ).alias(f"r_{col}"),
        )
    ranked = docs.join(F.broadcast(rank_map("x")), "x").join(
        F.broadcast(rank_map("y")), "y"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_x").alias("sx"),
        F.sum("r_y").alias("sy"),
        F.sum(F.col("r_x") * F.col("r_x")).alias("sxx"),
        F.sum(F.col("r_y") * F.col("r_y")).alias("syy"),
        F.sum(F.col("r_x") * F.col("r_y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        F.col("n").alias("n_docs"), F.round(rho, 6).alias("spearman_rho")
    )


EXT_SPEARMAN_SQL = r"""
WITH docs AS (
  SELECT n_chars AS x,
         ROUND(
           LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)),
           4) AS y
  FROM documents
),
rx AS (
  SELECT x, COALESCE(SUM(n) OVER (
           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + (n + 1) / 2.0 AS r_x
  FROM (SELECT x, COUNT(*) AS n FROM docs GROUP BY 1)
),
ry AS (
  SELECT y, COALESCE(SUM(n) OVER (
           ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + (n + 1) / 2.0 AS r_y
  FROM (SELECT y, COUNT(*) AS n FROM docs GROUP BY 1)
),
ranked AS (
  SELECT r_x, r_y FROM docs d JOIN rx ON rx.x = d.x JOIN ry ON ry.y = d.y
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(r_x) AS sx, SUM(r_y) AS sy,
         SUM(r_x * r_x) AS sxx, SUM(r_y * r_y) AS syy, SUM(r_x * r_y) AS sxy
  FROM ranked
)
SELECT n AS n_docs,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS spearman_rho
FROM agg
"""


EXT_QUERIES.update(
    {
        "ext_stratified_ate": ext_stratified_ate,
        "ext_chao1_coverage": ext_chao1_coverage,
        "ext_silhouette": ext_silhouette,
        "ext_spearman": ext_spearman,
    }
)
EXT_ORACLES.update(
    {
        "ext_stratified_ate": EXT_STRATIFIED_ATE_SQL,
        "ext_chao1_coverage": EXT_CHAO1_SQL,
        "ext_silhouette": EXT_SILHOUETTE_SQL,
        "ext_spearman": EXT_SPEARMAN_SQL,
    }
)


# --- round-3 wave: graph modularity, attribution, calibration, PCA step -------


def ext_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LABEL partition over the symmetrized
    5-NN cosine graph — community-structure quality of the embedding
    space (positive = labels really are neighborhoods; ~0 = labels are
    noise w.r.t. geometry). Q = sum_c (e_c/m - (d_c/(2m))^2) over
    undirected distinct edges.

    Scale shape: vertices are a deterministic CAP-ADAPTIVE thinned
    panel (the structure metric is stable under vertex sampling): the
    thinning modulus derives from the corpus count so the panel stays
    ~1000 vertices at any corpus size (capped_panel_modulus — modulus 2
    at every committed fixture SF, outputs bit-identical there), which
    bounds the brute 5-NN at ~1000^2 scored pairs instead of growing
    quadratically with the corpus (the 49.5x-at-10x trap
    SCALE_CURVE_GRAPH_r08 measured); at corpus scale swap in the
    IVF/LSH candidate paths (X7/X8). The modularity math downstream is
    one O(edges) tag + two O(labels) aggregates either way."""
    emb_all = _t(spark, sf_dir, "embeddings")
    p = capped_panel_modulus(corpus_count(spark, sf_dir, "embeddings"), base=2, cap=1000)
    emb = emb_all.filter(F.col("vec_id") % p == 0)
    hits = similarity.brute_topk(emb, emb, k=5)
    # r12: `tagged` (below) feeds three branches (m / intra / the degree
    # union), each of which re-ran the panel brute scorer through this
    # subtree (32 parquet scans in the measured plan). Eager checkpoint
    # of the edge list = one scorer pass; object-scoped, so the
    # identical kNN plan in ext_assortativity is NOT cross-query shared.
    from aircan_spark.data import checkpoint as _ckpt

    edges = _ckpt(
        hits.select(
            F.least("query_id", "neighbor_id").alias("u"),
            F.greatest("query_id", "neighbor_id").alias("v"),
        )
        .distinct()
    )
    lab = emb.select("vec_id", "label")
    tagged = (
        edges.join(
            F.broadcast(lab.select(F.col("vec_id").alias("u"), F.col("label").alias("lu"))),
            "u",
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("v"), F.col("label").alias("lv"))),
            "v",
        )
    )
    m = tagged.agg(F.count(F.lit(1)).alias("m"))
    intra = tagged.filter(F.col("lu") == F.col("lv")).groupBy(
        F.col("lu").alias("label")
    ).agg(F.count(F.lit(1)).alias("ec"))
    deg = (
        tagged.select(F.col("lu").alias("label"))
        .unionByName(tagged.select(F.col("lv").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    per = (
        deg.join(intra, "label", "left")
        .na.fill({"ec": 0})
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            (
                F.col("ec").cast("double") / F.col("m")
                - F.pow(F.col("dc").cast("double") / (2.0 * F.col("m")), 2)
            ).alias("q_c"),
            F.col("m"),
        )
    )
    return per.agg(
        F.max("m").alias("n_edges"),
        F.round(F.sum("q_c"), 6).alias("modularity"),
    )


EXT_MODULARITY_SQL = r"""
WITH p AS (
  SELECT 2 * GREATEST(1, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS p
  FROM embeddings
),
e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
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
tagged AS (
  SELECT ed.u, ed.v, a.label AS lu, b.label AS lv
  FROM edges ed
  JOIN embeddings a ON a.vec_id = ed.u
  JOIN embeddings b ON b.vec_id = ed.v
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM tagged),
intra AS (
  SELECT lu AS label, CAST(COUNT(*) AS BIGINT) AS ec
  FROM tagged WHERE lu = lv GROUP BY 1
),
deg AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS dc FROM (
    SELECT lu AS label FROM tagged UNION ALL SELECT lv AS label FROM tagged
  ) GROUP BY 1
)
SELECT MAX(m.m) AS n_edges,
       ROUND(SUM(CAST(COALESCE(i.ec, 0) AS DOUBLE) / m.m
                 - POWER(CAST(d.dc AS DOUBLE) / (2.0 * m.m), 2)), 6) AS modularity
FROM deg d LEFT JOIN intra i ON i.label = d.label CROSS JOIN m
"""


def ext_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (40/20/40) multi-touch attribution: each purchase
    credits the user's clicks in the preceding 24h — 40% to the first
    touch, 40% to the last, the middle 20% split evenly over interior
    touches (all credit to a lone touch) — aggregated to the day of the
    purchase. The industry-standard middle ground between first-touch
    and last-touch single-credit models (X76 counts conversions; this
    allocates their value).

    Scale shape: one time-bucketed user join bounds the touch scan; the
    credit math is closed-form per (purchase, touch-count) from ranked
    positions — no per-purchase iteration."""
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    touches = purch.join(clicks, "user_id").filter(
        (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
    )
    w = Window.partitionBy("p_id").orderBy("c_ts", "c_id")
    ranked = touches.withColumn("pos", F.row_number().over(w)).withColumn(
        "n_t", F.count(F.lit(1)).over(Window.partitionBy("p_id"))
    )
    credit = (
        F.when(F.col("n_t") == 1, 1.0)
        .when(F.col("pos") == 1, 0.4)
        .when(F.col("pos") == F.col("n_t"), 0.4)
        .otherwise(0.2 / (F.col("n_t") - 2))
    )
    return (
        ranked.select(
            F.to_date("p_ts").alias("day"),
            (credit * F.col("vc") / 100.0).alias("cr"),
        )
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("cr"), 4).alias("attributed_value"),
        )
        .orderBy("day")
    )


EXT_ATTRIBUTION_SQL = r"""
WITH purch AS (
  SELECT user_id, event_id AS p_id, ts AS p_ts,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, event_id AS c_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
),
touches AS (
  SELECT p.p_id, p.p_ts, p.vc, c.c_id, c.c_ts
  FROM purch p JOIN clicks c ON c.user_id = p.user_id
  WHERE c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 24 HOURS
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY c_ts, c_id) AS pos,
         COUNT(*) OVER (PARTITION BY p_id) AS n_t
  FROM touches
),
credited AS (
  SELECT CAST(CAST(p_ts AS DATE) AS VARCHAR) AS day,
         (CASE WHEN n_t = 1 THEN 1.0
               WHEN pos = 1 THEN 0.4
               WHEN pos = n_t THEN 0.4
               ELSE 0.2 / (n_t - 2) END) * vc / 100.0 AS cr
  FROM ranked
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(SUM(cr), 4) AS attributed_value
FROM credited GROUP BY 1 ORDER BY day
"""


def ext_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the quality score as a pseudo-probability of
    lang='en': ten fixed-width bins, mean predicted vs observed rate per
    bin, plus each bin's Brier contribution — discrimination (X243's
    AUC) and calibration are different failures; a ranker can order
    perfectly and still be uncalibrated, which is what threshold choices
    get wrong.

    Scale shape: row-local binning, one O(bins) hash agg."""
    docs = text.quality_score(_t(spark, sf_dir, "documents")).select(
        F.col("quality").alias("p"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # p has 4 decimal places -> x1e4 is an exact integer; all bin stats are
    # then integer-exact ratios, immune to float-sum order AND to the
    # round-at-6 halfway trap (a double avg() landed exactly on .8496875
    # here and the two engines rounded it opposite ways)
    binned = docs.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        F.round(F.col("p") * 10000).cast("long").alias("pi"),
        "y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("pi") / (F.count(F.lit(1)) * 10000.0), 6).alias(
                "mean_pred"
            ),
            F.round(
                F.sum("y") / F.count(F.lit(1)).cast("double"), 6
            ).alias("obs_rate"),
            F.round(
                F.sum(
                    (F.col("pi") - F.col("y") * 10000)
                    * (F.col("pi") - F.col("y") * 10000)
                )
                / 100000000.0,
                4,
            ).alias("brier_sum"),
        )
        .orderBy("bin")
    )


EXT_CALIBRATION_SQL = r"""
WITH docs AS (
  SELECT ROUND(
           LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)),
           4) AS p,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
)
SELECT CAST(LEAST(FLOOR(p * 10), 9) AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(ROUND(p * 10000) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 10000.0), 6) AS mean_pred,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS obs_rate,
       ROUND(CAST(SUM((CAST(ROUND(p * 10000) AS BIGINT) - y * 10000)
                      * (CAST(ROUND(p * 10000) AS BIGINT) - y * 10000)) AS DOUBLE)
             / 100000000.0, 4) AS brier_sum
FROM docs GROUP BY 1 ORDER BY bin
"""


def ext_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal direction of the CENTERED embedding corpus:
    the distributed work is exactly the corpus-sized gram build (one
    pass + one dim^2-group aggregation, exact decimal sums); the power
    iteration itself is O(dim^2)=64x64 and runs on the driver over the
    collected gram — the distributed-PCA split every production system
    uses (the gram is corpus-SIZE-independent, so shipping the 3-step
    recursion through ~10 cluster stages was pure scheduling latency:
    measured 3.2 s warm in-plan vs ~1.3 s with the driver-side tail at
    sf0.1, identical values).

    Scale shape: per-dimension means collect as 64 doubles and re-enter
    the plan as a LITERAL array (one corpus scan for the means, one for
    the gram — the in-plan broadcast-join version scanned the corpus 4x);
    the gram builds only the UPPER triangle (i <= j, half the decimal
    products — the dominant real work — mirrored cells carry the same
    exact sum) and collects 2080 cells. Deterministic start vector =>
    engine-replayable (the oracle runs the same unrolled recursion)."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p0", "val"),
    ).select("vec_id", (F.col("p0") + 1).alias("pos"), "val")
    mean_rows = (
        ex.groupBy("pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu")
        )
        .collect()
    )
    # O(dim) driver collect: re-embed as a literal array so the centering
    # projection needs no join and the corpus is scanned once more, not
    # three times (Python float == IEEE double, exact round-trip)
    mus = [float(r["mu"]) for r in sorted(mean_rows, key=lambda r: r["pos"])]
    dim = len(mus)
    mu_arr = F.array(*[F.lit(m) for m in mus])
    # ROW-LOCAL upper-triangle outer product: center the whole vector in
    # one transform(), explode (i, v_i) keeping the centered array, then
    # explode the i..dim suffix — every (i, j>=i) product is generated
    # with ZERO pre-aggregation shuffle (the old self-join on vec_id
    # scanned the corpus twice and shuffled it once; at corpus scale the
    # gram build should be one scan + one dim^2-group partial agg)
    cent = emb.filter(F.col("vec_id").isNotNull()).select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v, i: F.round(v - F.element_at(mu_arr, i + F.lit(1)), 9),
        ).alias("c")
    )
    a_side = cent.select("c", F.posexplode("c").alias("i0", "vi"))
    upper_rows = (
        a_side.select(
            (F.col("i0") + 1).alias("i"),
            F.col("vi").cast("decimal(19,9)").alias("vi"),
            F.posexplode(
                F.slice(F.col("c"), F.col("i0") + 1, F.lit(dim))
            ).alias("joff", "vj"),
        )
        .groupBy("i", (F.col("i") + F.col("joff")).alias("j"))
        .agg(
            F.round(
                F.sum(F.col("vi") * F.col("vj").cast("decimal(19,9)"))
                .cast("double"),
                6,
            ).alias("g")
        )
        .collect()
    )
    # driver-side power iteration over the dim x dim gram (O(dim^2)
    # state, corpus-size-independent): same recursion the oracle unrolls
    g = [[0.0] * dim for _ in range(dim)]
    for r in upper_rows:
        gi, gj, gv_ = int(r["i"]) - 1, int(r["j"]) - 1, float(r["g"])
        g[gi][gj] = gv_
        g[gj][gi] = gv_
    x = [1.0 / math.sqrt(dim)] * dim
    for _ in range(3):
        gx = [sum(g[i][j] * x[j] for j in range(dim)) for i in range(dim)]
        nn = math.sqrt(sum(v * v for v in gx))
        x = [v / nn for v in gx]
    gx = [sum(g[i][j] * x[j] for j in range(dim)) for i in range(dim)]
    lam = sum(x[i] * gx[i] for i in range(dim))
    sgn = -1.0 if x[0] < 0 else 1.0

    def _r(v: float, nd: int) -> float:
        # F.round semantics: HALF_UP on the exact binary double (Python's
        # round() is HALF_EVEN — differs at exact representable halves)
        import decimal

        return float(
            decimal.Decimal(v).quantize(
                decimal.Decimal(1).scaleb(-nd), rounding=decimal.ROUND_HALF_UP
            )
        )

    out = [(i + 1, _r(x[i] * sgn, 6), _r(lam, 4)) for i in range(dim)]
    return spark.createDataFrame(
        out, "pos bigint, component double, eigenvalue double"
    ).orderBy("pos")


EXT_PCA_POWER_SQL = r"""
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
),
mean AS (
  SELECT pos,
         CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS mu
  FROM ex GROUP BY 1
),
cent AS (
  SELECT e.vec_id, e.pos, ROUND(e.val - m.mu, 9) AS val
  FROM ex e JOIN mean m ON m.pos = e.pos
),
gram AS (
  SELECT a.pos AS i, b.pos AS j,
         ROUND(CAST(SUM(CAST(a.val AS DECIMAL(19,9)) * CAST(b.val AS DECIMAL(19,9)))
                    AS DOUBLE), 6) AS g
  FROM cent a JOIN cent b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
dims AS (SELECT DISTINCT i AS pos FROM gram),
d AS (SELECT CAST(COUNT(*) AS DOUBLE) AS d FROM dims),
v0 AS (SELECT pos, 1.0 / SQRT(d.d) AS x FROM dims CROSS JOIN d),
gv1 AS (
  SELECT g.i AS pos, SUM(g.g * v.x) AS gx
  FROM gram g JOIN v0 v ON v.pos = g.j GROUP BY 1
),
n1 AS (SELECT SQRT(SUM(gx * gx)) AS nn FROM gv1),
v1 AS (SELECT pos, gx / nn AS x FROM gv1 CROSS JOIN n1),
gv2 AS (
  SELECT g.i AS pos, SUM(g.g * v.x) AS gx
  FROM gram g JOIN v1 v ON v.pos = g.j GROUP BY 1
),
n2 AS (SELECT SQRT(SUM(gx * gx)) AS nn FROM gv2),
v2 AS (SELECT pos, gx / nn AS x FROM gv2 CROSS JOIN n2),
gv3 AS (
  SELECT g.i AS pos, SUM(g.g * v.x) AS gx
  FROM gram g JOIN v2 v ON v.pos = g.j GROUP BY 1
),
n3 AS (SELECT SQRT(SUM(gx * gx)) AS nn FROM gv3),
v3 AS (SELECT pos, gx / nn AS x FROM gv3 CROSS JOIN n3),
gv4 AS (
  SELECT g.i AS pos, SUM(g.g * v.x) AS gx
  FROM gram g JOIN v3 v ON v.pos = g.j GROUP BY 1
),
lam AS (
  SELECT SUM(v.x * gv.gx) AS lam
  FROM v3 v JOIN gv4 gv ON gv.pos = v.pos
),
sgn AS (
  SELECT CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END AS sgn
  FROM v3 ORDER BY pos LIMIT 1
)
SELECT CAST(v.pos AS BIGINT) AS pos,
       ROUND(v.x * s.sgn, 6) AS component,
       ROUND(l.lam, 4) AS eigenvalue
FROM v3 v CROSS JOIN sgn s CROSS JOIN lam l
ORDER BY pos
"""


EXT_QUERIES.update(
    {
        "ext_modularity": ext_modularity,
        "ext_attribution": ext_attribution,
        "ext_calibration": ext_calibration,
        "ext_pca_power": ext_pca_power,
    }
)
EXT_ORACLES.update(
    {
        "ext_modularity": EXT_MODULARITY_SQL,
        "ext_attribution": EXT_ATTRIBUTION_SQL,
        "ext_calibration": EXT_CALIBRATION_SQL,
        "ext_pca_power": EXT_PCA_POWER_SQL,
    }
)


# --- round-3 wave: price indices, threshold tuning, trend test, agreement -----


def ext_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices for the part catalog,
    current period (shipdate >= 1998) vs base (< 1998): unit prices are
    period revenue / period quantity per part, quantities the period
    totals; only parts traded in BOTH periods enter (matched-basket
    rule, the standard index construction). The price-level companion to
    the YoY growth query (X99) that separates price from volume.

    Scale shape: one per-(part, period) collapse in exact cents, a self-
    aligned regroup to one row per part, one O(parts) index aggregate."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.year("l_shipdate") >= 1998).cast("int").alias("cur"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("ec"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
    )
    per = li.groupBy("l_partkey", "cur").agg(
        F.sum("ec").alias("e"), F.sum("qc").alias("q")
    )
    both = (
        per.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_per"),
            F.sum(F.when(F.col("cur") == 0, F.col("e"))).alias("e0"),
            F.sum(F.when(F.col("cur") == 0, F.col("q"))).alias("q0"),
            F.sum(F.when(F.col("cur") == 1, F.col("e"))).alias("e1"),
            F.sum(F.when(F.col("cur") == 1, F.col("q"))).alias("q1"),
        )
        .filter(F.col("n_per") == 2)
    )
    p0 = F.col("e0").cast("double") / F.col("q0")
    p1 = F.col("e1").cast("double") / F.col("q1")
    agg = both.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(p1 * F.col("q0")).alias("l_num"),
        F.sum(p0 * F.col("q0")).alias("l_den"),
        F.sum(p1 * F.col("q1")).alias("p_num"),
        F.sum(p0 * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return agg.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


EXT_PRICE_INDEX_SQL = r"""
WITH li AS (
  SELECT l_partkey,
         CASE WHEN year(l_shipdate) >= 1998 THEN 1 ELSE 0 END AS cur,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS ec,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
  FROM lineitem
),
per AS (
  SELECT l_partkey, cur, CAST(SUM(ec) AS BIGINT) AS e, CAST(SUM(qc) AS BIGINT) AS q
  FROM li GROUP BY 1, 2
),
matched AS (
  SELECT l_partkey,
         SUM(CASE WHEN cur = 0 THEN e END) AS e0,
         SUM(CASE WHEN cur = 0 THEN q END) AS q0,
         SUM(CASE WHEN cur = 1 THEN e END) AS e1,
         SUM(CASE WHEN cur = 1 THEN q END) AS q1
  FROM per GROUP BY 1 HAVING COUNT(*) = 2
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         SUM((CAST(e1 AS DOUBLE) / q1) * q0) AS l_num,
         SUM((CAST(e0 AS DOUBLE) / q0) * q0) AS l_den,
         SUM((CAST(e1 AS DOUBLE) / q1) * q1) AS p_num,
         SUM((CAST(e0 AS DOUBLE) / q0) * q1) AS p_den
  FROM matched
)
SELECT n_parts,
       ROUND(l_num / l_den, 6) AS laspeyres,
       ROUND(p_num / p_den, 6) AS paasche,
       ROUND(SQRT((l_num / l_den) * (p_num / p_den)), 6) AS fisher
FROM agg
"""


def ext_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-optimal decision threshold for the quality-score -> lang='en'
    classifier: sweep every distinct score as 'predict positive if
    score >= t', report the maximizing threshold with its confusion
    counts and precision/recall/F1 — the step after X243's AUC and
    X260's calibration that actually OPERATIONALIZES the score. All
    candidate F1s come from exact integer cumulative counts, so the
    argmax is engine-stable.

    Scale shape: the sweep runs on the collapsed per-score axis
    (cumulative window over O(distinct scores)); the pick is a 1-row
    TakeOrdered."""
    docs = text.quality_score(_t(spark, sf_dir, "documents")).select(
        F.col("quality").alias("score"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    g = docs.groupBy("score").agg(
        F.sum("y").alias("np"), F.sum(F.lit(1) - F.col("y")).alias("nn")
    )
    wd = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = docs.agg(F.sum("y").alias("n_pos"))
    cum = (
        g.withColumn("tp", F.sum("np").over(wd))
        .withColumn("fp", F.sum("nn").over(wd))
        .crossJoin(F.broadcast(tot))
    )
    prec = F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    rec = F.col("tp") / F.col("n_pos").cast("double")
    f1 = 2.0 * prec * rec / (prec + rec)
    scored = cum.select(
        F.col("score").alias("threshold"),
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
    return scored.orderBy(F.col("f1").desc(), F.col("threshold").asc()).limit(1)


EXT_OPTIMAL_THRESHOLD_SQL = r"""
WITH docs AS (
  SELECT ROUND(
           LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
           * (1.0 - CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                    / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)),
           4) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS np, CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM docs GROUP BY 1
),
tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos FROM docs),
cum AS (
  SELECT score,
         CAST(SUM(np) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         CAST(SUM(nn) OVER (ORDER BY score DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
  FROM g
),
scored AS (
  SELECT score AS threshold, tp, fp, t.n_pos - tp AS fn,
         ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
         ROUND(CAST(tp AS DOUBLE) / t.n_pos, 6) AS recall,
         ROUND(2.0 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / t.n_pos)
               / (CAST(tp AS DOUBLE) / (tp + fp) + CAST(tp AS DOUBLE) / t.n_pos), 6) AS f1
  FROM cum CROSS JOIN tot t
)
SELECT * FROM scored ORDER BY f1 DESC, threshold ASC LIMIT 1
"""


def ext_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test on daily order revenue:
    S = sum of pairwise signs (exact integer), tie-corrected variance,
    and the continuity-corrected z statistic — the distribution-free
    'is there a monotone trend' answer that X97's Pearson (linearity)
    and X228's seasonal checks do not give.

    Scale shape: the fact table collapses to the O(days) axis first; the
    pairwise sweep is a self-join on that tiny axis (days², independent
    of corpus scale); tie groups collapse to O(distinct values)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
    )
    a = daily.select(F.col("day").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("day").alias("d2"), F.col("x").alias("x2"))
    s = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(F.sum(F.signum((F.col("x2") - F.col("x1")).cast("double")).cast("long")).alias("s"))
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    j = s.crossJoin(F.broadcast(nd)).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("tie_term").cast("double")
    ) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        F.col("n").alias("n_days"),
        F.col("s").alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 4).alias("z"),
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


EXT_MANN_KENDALL_SQL = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(SUM(SIGN(b.x - a.x)) AS BIGINT) AS s
  FROM daily a JOIN daily b ON a.day < b.day
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT x, COUNT(*) AS t FROM daily GROUP BY 1 HAVING COUNT(*) > 1)
),
j AS (
  SELECT s.s, nd.n, ties.tie_term,
         (CAST(nd.n AS DOUBLE) * (nd.n - 1) * (2 * nd.n + 5) - ties.tie_term)
           / 18.0 AS var_s
  FROM s CROSS JOIN nd CROSS JOIN ties
)
SELECT n AS n_days, s AS s_stat, ROUND(var_s, 4) AS var_s,
       ROUND(CASE WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                  WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                  ELSE 0.0 END, 4) AS z,
       CASE WHEN (CASE WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                       WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                       ELSE 0.0 END) > 1.96 THEN 'increasing'
            WHEN (CASE WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                       WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                       ELSE 0.0 END) < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM j
"""


def ext_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between the declared language column and
    the marker-based language detector (X11) — chance-corrected
    agreement, the right score when class priors are skewed (raw
    accuracy rewards always-guessing-the-majority; X222's confusion
    matrix shows WHERE they disagree, kappa says HOW MUCH beyond
    chance).

    Scale shape: one O(langs²) contingency collapse; marginals and the
    kappa arithmetic run on that tiny frame."""
    docs = text.lang_id(_t(spark, sf_dir, "documents")).select(
        F.col("lang").alias("a"), F.col("pred_lang").alias("b")
    )
    cells = docs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    agg = cells.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("n"))).alias("n_agree"),
    )
    ra = cells.groupBy("a").agg(F.sum("n").alias("na"))
    cb = cells.groupBy("b").agg(F.sum("n").alias("nb"))
    pe = (
        ra.join(cb, ra.a == cb.b)
        .agg(F.sum(F.col("na").cast("double") * F.col("nb")).alias("pe_num"))
    )
    j = agg.crossJoin(F.broadcast(pe))
    po = F.col("n_agree").cast("double") / F.col("n_docs")
    pe_c = F.col("pe_num") / (F.col("n_docs").cast("double") * F.col("n_docs"))
    return j.select(
        "n_docs",
        "n_agree",
        F.round(po, 6).alias("po"),
        F.round(pe_c, 6).alias("pe"),
        F.round((po - pe_c) / (1.0 - pe_c), 6).alias("kappa"),
    )


EXT_COHENS_KAPPA_SQL = r"""
WITH scored AS (
  SELECT doc_id, lang,
         LEN(regexp_extract_all(LOWER(text), '\b(der|und|das|nicht)\b')) AS score_de,
         LEN(regexp_extract_all(LOWER(text), '\b(the|and|of|is)\b')) AS score_en,
         LEN(regexp_extract_all(LOWER(text), '\b(el|los|una|que)\b')) AS score_es,
         LEN(regexp_extract_all(LOWER(text), '\b(le|la|les|des)\b')) AS score_fr
  FROM documents
),
pred AS (
  SELECT lang AS a,
         CASE
           WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
           WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
           WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
           WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
           ELSE 'fr'
         END AS b
  FROM scored
),
cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
agg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN a = b THEN n END) AS BIGINT) AS n_agree
  FROM cells
),
pe AS (
  SELECT SUM(CAST(ra.na AS DOUBLE) * cb.nb) AS pe_num
  FROM (SELECT a, SUM(n) AS na FROM cells GROUP BY 1) ra
  JOIN (SELECT b, SUM(n) AS nb FROM cells GROUP BY 1) cb ON cb.b = ra.a
)
SELECT n_docs, n_agree,
       ROUND(CAST(n_agree AS DOUBLE) / n_docs, 6) AS po,
       ROUND(pe_num / (CAST(n_docs AS DOUBLE) * n_docs), 6) AS pe,
       ROUND((CAST(n_agree AS DOUBLE) / n_docs
              - pe_num / (CAST(n_docs AS DOUBLE) * n_docs))
             / (1.0 - pe_num / (CAST(n_docs AS DOUBLE) * n_docs)), 6) AS kappa
FROM agg CROSS JOIN pe
"""


EXT_QUERIES.update(
    {
        "ext_price_index": ext_price_index,
        "ext_optimal_threshold": ext_optimal_threshold,
        "ext_mann_kendall": ext_mann_kendall,
        "ext_cohens_kappa": ext_cohens_kappa,
    }
)
EXT_ORACLES.update(
    {
        "ext_price_index": EXT_PRICE_INDEX_SQL,
        "ext_optimal_threshold": EXT_OPTIMAL_THRESHOLD_SQL,
        "ext_mann_kendall": EXT_MANN_KENDALL_SQL,
        "ext_cohens_kappa": EXT_COHENS_KAPPA_SQL,
    }
)


