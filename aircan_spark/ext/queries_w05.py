"""Declared-query waves: round-3 wave: session mining + feature encodings; round-3 wave: label audits, weighted stats, collaborative filtering; round-3 wave: sequence mining, regression, experimentation; round-3 wave: statistical audits + forecast baselines; round-3 wave: corpus budget/diagnostic quick wins; round-3 wave: model-eval + sampling-theory classics; round-3 wave: statistical calculators; round-3 wave: shrinkage, calendar anomalies, vocabulary growth; round-3 wave: KMV sketches, bitmap-index distinct.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w04 import *  # noqa: F401,F403
from aircan_spark.frames import scope


# --- round-3 wave: session mining + feature encodings -------------------------


def ext_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence within behavioral sessions (30-min gap
    sessionization): which activities happen TOGETHER in one sitting —
    the intra-session affinity matrix behind next-action models, on the
    same session definition as X78.

    Scale shape: session ids come from one per-user window (high-
    cardinality key); per-session distinct types collapse row-locally
    to sorted arrays whose pair expansion is an O(types^2)-bounded HOF
    (never a session-keyed self-join); one (type,type) exchange."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = ev.select(
        "user_id",
        "event_type",
        F.sum(
            F.when(
                F.col("ts").cast("long")
                - F.lag(F.col("ts").cast("long")).over(w)
                > 1800,
                1,
            ).otherwise(0)
        ).over(w).alias("sess"),
    )
    baskets = (
        sess.select("user_id", "sess", "event_type")
        .distinct()
        .groupBy("user_id", "sess")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    )
    tcol = F.col("types")
    combos = F.flatten(
        F.transform(
            tcol,
            lambda x, i: F.transform(
                F.slice(tcol, i + 2, F.size(tcol)),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(combos).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("type_a", "type_b")
    )


EXT_SESSION_COOCCURRENCE_SQL = r"""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM marked
),
st AS (SELECT DISTINCT user_id, sess, event_type FROM sess)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM st a JOIN st b
  ON a.user_id = b.user_id AND a.sess = b.sess AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY type_a, type_b
"""


def ext_decay_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed customer value: Σ order_total ·
    exp(-λ·days_before_horizon) with a 30-day half-life — the recency
    weighting behind churn/LTV features (yesterday's order counts ~30x
    a month-old one at this λ).

    Scale shape: row-local decay weights (scan-fused; the horizon is a
    broadcast scalar), one per-customer exchange."""
    orders = _t(spark, sf_dir, "orders")
    horizon = orders.agg(F.max(F.to_date("o_orderdate")).alias("hz"))
    lam = 0.0231049060186648  # ln(2)/30
    decayed = orders.crossJoin(F.broadcast(horizon)).select(
        "o_custkey",
        (
            F.col("o_totalprice")
            * F.exp(
                -F.lit(lam)
                * F.datediff(F.col("hz"), F.to_date("o_orderdate")).cast("double")
            )
        ).alias("dv"),
    )
    return (
        decayed.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("dv"), 4).alias("decayed_value"),
        )
        .orderBy("o_custkey")
    )


EXT_DECAY_FEATURES_SQL = r"""
WITH hz AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS hz FROM orders)
SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice
                 * EXP(-0.0231049060186648
                       * date_diff('day', CAST(o_orderdate AS DATE), hz))), 4)
         AS decayed_value
FROM orders CROSS JOIN hz
GROUP BY o_custkey ORDER BY o_custkey
"""


def ext_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of market segment against order
    value: each order's segment encodes as the smoothed mean of OTHER
    orders' totals in the segment ((sum − own + k·global)/(n − 1 + k),
    k = 10) — the leakage-safe categorical encoding a tabular-ML
    pipeline ships (naive per-category means leak the row's own
    target).

    Scale shape: per-segment exact decimal sums and the global scalar
    broadcast; the encode itself is a row-local expression — rows never
    shuffle. Exact decimal sums keep the subtraction (sum − own) free
    of float cancellation across engines."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("tp"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # r13 (guide §5): base feeds the per-segment sums, the global-mean
    # scalar AND the final encode join — un-persisted, the orders x
    # customer broadcast join ran 3x. Data-proportional (one row per
    # order) -> DISK_ONLY.
    base = share(
        orders.join(
            F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
        ).select("o_orderkey", "c_mktsegment", "tp"),
        big=True,
    )
    seg = base.groupBy("c_mktsegment").agg(
        F.sum("tp").alias("seg_sum"), F.count(F.lit(1)).alias("seg_n")
    )
    glob = base.agg(
        (F.sum("tp").cast("double") / F.count(F.lit(1))).alias("g_mean")
    )
    return (
        base.join(F.broadcast(seg), "c_mktsegment")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "c_mktsegment",
            F.round(
                (
                    (F.col("seg_sum") - F.col("tp")).cast("double")
                    + 10.0 * F.col("g_mean")
                )
                / (F.col("seg_n") - 1 + 10).cast("double"),
                6,
            ).alias("loo_encoded"),
        )
        .orderBy("o_orderkey")
    )


EXT_TARGET_ENCODING_SQL = r"""
WITH base AS (
  SELECT o_orderkey, c_mktsegment,
         CAST(o_totalprice AS DECIMAL(18,2)) AS tp
  FROM orders JOIN customer ON o_custkey = c_custkey
),
seg AS (
  SELECT c_mktsegment, CAST(SUM(tp) AS DECIMAL(38,2)) AS seg_sum,
         CAST(COUNT(*) AS BIGINT) AS seg_n
  FROM base GROUP BY 1
),
gstats AS (
  SELECT CAST(SUM(tp) AS DOUBLE) / COUNT(*) AS g_mean FROM base
)
SELECT b.o_orderkey, b.c_mktsegment,
       ROUND((CAST(s.seg_sum - b.tp AS DOUBLE) + 10.0 * g.g_mean)
             / (s.seg_n - 1 + 10), 6) AS loo_encoded
FROM base b JOIN seg s ON b.c_mktsegment = s.c_mktsegment
CROSS JOIN gstats g
ORDER BY o_orderkey
"""


EXT_QUERIES.update(
    {
        "ext_session_cooccurrence": ext_session_cooccurrence,
        "ext_decay_features": ext_decay_features,
        "ext_target_encoding": ext_target_encoding,
    }
)
EXT_ORACLES.update(
    {
        "ext_session_cooccurrence": EXT_SESSION_COOCCURRENCE_SQL,
        "ext_decay_features": EXT_DECAY_FEATURES_SQL,
        "ext_target_encoding": EXT_TARGET_ENCODING_SQL,
    }
)


# --- round-3 wave: label audits, weighted stats, collaborative filtering ------


def ext_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-vs-content language audit: per source, how often the
    declared `lang` field disagrees with the X11 content-based language
    id — the labeling-error detector run before trusting corpus
    metadata for mixture weighting ('und' predictions are counted
    separately, not as mismatches).

    Scale shape: row-local marker scoring fused into the scan; one
    O(sources) exchange."""
    docs = _t(spark, sf_dir, "documents")
    scored = text.lang_id(docs).select(
        "source",
        "lang",
        "pred_lang",
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("pred_lang") != "und")
                    & (F.col("pred_lang") != F.col("lang")),
                    1,
                ).otherwise(0)
            ).alias("n_mismatch"),
            F.sum(F.when(F.col("pred_lang") == "und", 1).otherwise(0)).alias(
                "n_undetermined"
            ),
        )
        .withColumn(
            "mismatch_rate",
            F.round(F.col("n_mismatch") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


EXT_LANG_MISMATCH_SQL = r"""
WITH scored AS (
  SELECT source, lang,
         LEN(regexp_extract_all(LOWER(text), '\b(der|und|das|nicht)\b')) AS score_de,
         LEN(regexp_extract_all(LOWER(text), '\b(the|and|of|is)\b')) AS score_en,
         LEN(regexp_extract_all(LOWER(text), '\b(el|los|una|que)\b')) AS score_es,
         LEN(regexp_extract_all(LOWER(text), '\b(le|et|les|dans)\b')) AS score_fr
  FROM documents
),
pred AS (
  SELECT source, lang,
         CASE
           WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
           WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
           WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
           WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
           ELSE 'fr'
         END AS pred_lang
  FROM scored
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pred_lang <> 'und' AND pred_lang <> lang
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       CAST(SUM(CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_undetermined,
       ROUND(CAST(SUM(CASE WHEN pred_lang <> 'und' AND pred_lang <> lang
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS mismatch_rate
FROM pred GROUP BY source ORDER BY source
"""


def ext_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median unit price per brand: the price point at
    which half the shipped VOLUME sits below — the weighted-percentile
    statistic plain median gets wrong whenever weights are skewed
    (pricing/abundance analyses).

    Scale shape: (brand, price) cells collapse first (one exchange),
    then the cumulative-weight walk runs per brand over the collapsed
    O(distinct prices) axis — a per-brand window on a HIGH-cardinality
    partition key with bounded rows per group, not a data-row sort.
    Weighted median = smallest price whose cumulative weight reaches
    half the brand total (integer compare: 2·cum >= total)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("iq"),
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 2).alias("unit"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "unit")
        .agg(F.sum("iq").alias("wq"))
    )
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy("unit")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("p_brand")
    walked = cells.select(
        "p_brand",
        "unit",
        F.sum("wq").over(w_cum).alias("cum"),
        F.sum("wq").over(tot).alias("total"),
    )
    return (
        walked.filter(F.lit(2) * F.col("cum") >= F.col("total"))
        .groupBy("p_brand")
        .agg(
            F.min("unit").alias("weighted_median_unit_price"),
            F.max("total").alias("total_qty_cents"),
        )
        .orderBy("p_brand")
    )


EXT_WEIGHTED_MEDIAN_SQL = r"""
WITH li AS (
  SELECT l_partkey, CAST(ROUND(l_quantity * 100) AS BIGINT) AS iq,
         ROUND(l_extendedprice / l_quantity, 2) AS unit
  FROM lineitem
),
cells AS (
  SELECT p.p_brand, li.unit, CAST(SUM(li.iq) AS BIGINT) AS wq
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
walked AS (
  SELECT p_brand, unit,
         SUM(wq) OVER (PARTITION BY p_brand ORDER BY unit
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wq) OVER (PARTITION BY p_brand) AS total
  FROM cells
)
SELECT p_brand, MIN(unit) AS weighted_median_unit_price,
       CAST(MAX(total) AS BIGINT) AS total_qty_cents
FROM walked WHERE 2 * cum >= total
GROUP BY p_brand ORDER BY p_brand
"""


def ext_user_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-user collaborative-filtering neighbors: cosine similarity
    over shared event-type interaction sets, top-3 neighbors per user —
    the bipartite-projection step of a memory-based recommender
    (users who do the same things).

    Scale guard (the hot-item hazard fixed): a naive type-keyed
    self-join is O(users^2 / types) because every popular item pairs
    all its users. Instead, candidate generation uses CAPPED POSTING
    LISTS — per event_type only the ``_NEIGHBOR_ANCHOR_CAP`` users with
    the smallest md5(user_id) act as candidate neighbors ("anchors"),
    the same hot-key bounding idea as ``dedup.containment_pairs``'s
    ``max_doc_freq`` guard, but down-sampling instead of dropping so the
    item still contributes signal. Per-key fan-in is <= cap and total
    candidates are O(users * types * cap) — LINEAR in users, not
    quadratic — while every user still receives neighbors (drawn from
    the anchor sample; production CF does exactly this with capped
    inverted lists). n_common/cosine stay EXACT for surviving pairs:
    scoring re-joins the full per-user sets, only candidate generation
    is sampled. The cap (128) is active at sf0.01+ (150+ users/type),
    so the driver's oracle check exercises the guarded semantics. The
    head is a per-user WindowGroupLimit, never a global sort."""
    ev = _t(spark, sf_dir, "events")
    # r12: the distinct interaction list feeds five branches (degrees,
    # anchors, candidates, both scoring sides); per-branch pruning and
    # renames kept them from sharing a stage, so the events scan +
    # distinct ran per branch (12 parquet scans in the measured plan).
    # DISK_ONLY persist (linear in users x types, data-proportional).
    ui = share(ev.select("user_id", "event_type").distinct(), big=True)
    deg = ui.groupBy("user_id").agg(F.count(F.lit(1)).alias("deg"))
    w_anchor = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("user_id").cast("string")), F.col("user_id")
    )
    anchors = (
        ui.withColumn("rn", F.row_number().over(w_anchor))
        .filter(F.col("rn") <= _NEIGHBOR_ANCHOR_CAP)
        .select("event_type", F.col("user_id").alias("ub"))
    )
    cand = (
        ui.select(F.col("user_id").alias("ua"), "event_type")
        .join(anchors, "event_type")
        .filter(F.col("ua") != F.col("ub"))
        .select("ua", "ub")
        .distinct()
    )
    x = ui.select(F.col("user_id").alias("ua"), "event_type")
    y = ui.select(F.col("user_id").alias("ub"), "event_type")
    common = (
        cand.join(x, "ua")
        .join(y, ["ub", "event_type"])
        .groupBy("ua", "ub")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        common.join(
            F.broadcast(deg.select(F.col("user_id").alias("ua"), F.col("deg").alias("da"))),
            "ua",
        )
        .join(
            F.broadcast(deg.select(F.col("user_id").alias("ub"), F.col("deg").alias("db"))),
            "ub",
        )
        .select(
            "ua",
            "ub",
            "n_common",
            F.round(
                F.col("n_common") / F.sqrt(F.col("da").cast("double") * F.col("db")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("ua").orderBy(
        F.col("cosine").desc(), F.col("ub")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("ua").alias("user_id"),
            F.col("ub").alias("neighbor_id"),
            "n_common",
            "cosine",
            "rank",
        )
        .orderBy("user_id", "rank")
    )


#: Per-item candidate-neighbor sample size for ext_user_neighbors.
#: Bounds the pair join's per-key fan-in regardless of item popularity.
_NEIGHBOR_ANCHOR_CAP = 128


EXT_USER_NEIGHBORS_SQL = r"""
WITH ui AS (SELECT DISTINCT user_id, event_type FROM events),
deg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS deg FROM ui GROUP BY 1),
anchors AS (
  SELECT event_type, user_id AS ub FROM (
    SELECT event_type, user_id,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY md5(CAST(user_id AS VARCHAR)), user_id) AS rn
    FROM ui) t
  WHERE rn <= 128
),
cand AS (
  SELECT DISTINCT u.user_id AS ua, a.ub
  FROM ui u JOIN anchors a ON u.event_type = a.event_type
  WHERE u.user_id <> a.ub
),
common AS (
  SELECT c.ua, c.ub, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN ui x ON x.user_id = c.ua
  JOIN ui y ON y.user_id = c.ub AND y.event_type = x.event_type
  GROUP BY 1, 2
),
scored AS (
  SELECT c.ua, c.ub, c.n_common,
         ROUND(c.n_common / SQRT(CAST(da.deg AS DOUBLE) * db.deg), 6) AS cosine
  FROM common c
  JOIN deg da ON c.ua = da.user_id
  JOIN deg db ON c.ub = db.user_id
),
ranked AS (
  SELECT ua, ub, n_common, cosine,
         ROW_NUMBER() OVER (PARTITION BY ua ORDER BY cosine DESC, ub) AS rank
  FROM scored
)
SELECT ua AS user_id, ub AS neighbor_id, n_common, cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
ORDER BY user_id, rank
"""

def ext_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label construction: users active in the observation window
    (first 20 days) labelled churned when absent from the outcome
    window (last 10 days), with observation-window activity features
    attached — the label+feature frame a churn model trains on,
    leakage-free by construction (features never read the outcome
    window).

    Scale shape: one conditional aggregation per user over a single
    scan; window boundaries are literals pushed to the scan."""
    cutoff = F.lit("2024-01-21").cast("timestamp")
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("n_obs"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("n_out"),
        F.sum(
            F.when(
                (F.col("ts") < cutoff) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        ).alias("n_obs_purchases"),
        F.round(
            F.sum(F.when(F.col("ts") < cutoff, F.col("value")).otherwise(0.0)), 2
        ).alias("obs_value"),
    )
    return (
        per.filter(F.col("n_obs") > 0)
        .select(
            "user_id",
            "n_obs",
            "n_obs_purchases",
            "obs_value",
            (F.col("n_out") == 0).alias("churned"),
        )
        .orderBy("user_id")
    )


EXT_CHURN_LABELS_SQL = r"""
WITH per AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) AS BIGINT) AS n_obs,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21' AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_obs_purchases,
         ROUND(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21' THEN value ELSE 0 END), 2) AS obs_value
  FROM events GROUP BY 1
)
SELECT user_id, n_obs, n_obs_purchases, obs_value, n_out = 0 AS churned
FROM per WHERE n_obs > 0 ORDER BY user_id
"""


EXT_QUERIES.update(
    {
        "ext_lang_mismatch": ext_lang_mismatch,
        "ext_weighted_median": ext_weighted_median,
        "ext_user_neighbors": ext_user_neighbors,
        "ext_churn_labels": ext_churn_labels,
    }
)
EXT_ORACLES.update(
    {
        "ext_lang_mismatch": EXT_LANG_MISMATCH_SQL,
        "ext_weighted_median": EXT_WEIGHTED_MEDIAN_SQL,
        "ext_user_neighbors": EXT_USER_NEIGHBORS_SQL,
        "ext_churn_labels": EXT_CHURN_LABELS_SQL,
    }
)


# --- round-3 wave: sequence mining, regression, experimentation ---------------


def ext_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 frequent 3-step behavioral paths (ordered event-type
    trigrams per user) — the sequence-mining upgrade of the X108
    transition matrix: bigrams say what follows what, trigrams surface
    whole flows (view>click>purchase vs view>click>error).

    Scale shape: each user's ordered type array builds from ONE
    (user)-keyed sort (struct array_sort — no per-row windows), trigram
    shingles expand row-locally, one (path) exchange, k-bounded head."""
    ev = _t(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("event_type")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda s: s["event_type"]
            ).alias("types")
        )
    )
    t = F.col("types")
    idx = F.sequence(F.lit(0), F.size(t) - 3)
    tri = F.when(
        F.size(t) >= 3,
        F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, 3), ">")),
    ).otherwise(F.array().cast("array<string>"))
    return (
        seqs.select(F.explode(tri).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


EXT_TRIGRAM_PATHS_SQL = r"""
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events
),
tri AS (
  SELECT a.event_type || '>' || b.event_type || '>' || c.event_type AS path
  FROM r a
  JOIN r b ON a.user_id = b.user_id AND b.i = a.i + 1
  JOIN r c ON a.user_id = c.user_id AND c.i = a.i + 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n
FROM tri GROUP BY path ORDER BY n DESC, path LIMIT 20
"""


def ext_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log demand curve per brand: closed-form OLS slope of
    ln(quantity) on ln(unit price) — the price-elasticity estimate, as
    a pure aggregation (slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²); no
    iterative solver, merges like any moment sketch).

    Scale shape: row-local log projections fused into the scan, one
    per-brand exchange carrying five partial-aggregable sums."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.log(F.round(F.col("l_extendedprice") / F.col("l_quantity"), 2)).alias("x"),
        F.log(F.col("l_quantity")).alias("y"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    agg = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return agg.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("elasticity"),
        # round 4: the slope's ulp-level cancellation noise is amplified
        # by sx (~1e-6 at round-6 — measured cross-engine straddle)
        F.round(intercept, 4).alias("intercept"),
    ).orderBy("p_brand")


EXT_PRICE_ELASTICITY_SQL = r"""
WITH li AS (
  SELECT l_partkey,
         LN(ROUND(l_extendedprice / l_quantity, 2)) AS x,
         LN(l_quantity) AS y
  FROM lineitem
),
agg AS (
  SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(li.x) AS sx, SUM(li.y) AS sy,
         SUM(li.x * li.y) AS sxy, SUM(li.x * li.x) AS sxx
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT p_brand, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
         AS intercept
FROM agg ORDER BY p_brand
"""


def ext_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assigned to arms by portable md5
    parity (the same subset-stable assignment as the X34 split),
    compared on purchase conversion with the two-proportion pooled
    z-statistic and a |z| > 1.96 significance flag — the
    experimentation primitive, RNG-free and replayable.

    Scale shape: per-user conversion collapses in one exchange; arm
    aggregates are two rows; the z arithmetic is exact-integer-count
    driven (deterministic across engines)."""
    from aircan_spark.ext.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 300.0), 1
            ).otherwise(0)
        ).alias("converted")
    )
    armed = per_user.select(
        F.pmod(hash_bucket(F.col("user_id"), seed=17), F.lit(2)).alias("arm"),
        "converted",
    )
    arms = armed.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("c_a")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("c_b")
    )
    j = a.crossJoin(b)
    pa = F.col("c_a").cast("double") / F.col("n_a")
    pb = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    denom = F.sqrt(
        pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    # degenerate arms (0% or 100% pooled conversion): z undefined -> NULL
    z = F.when(denom > 0.0, (pa - pb) / denom)
    return j.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 4).alias("z_stat"),
        F.coalesce(F.abs(z) > 1.959964, F.lit(False)).alias("significant"),
    )


EXT_AB_TEST_SQL = r"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > 300.0
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
),
armed AS (
  SELECT (('0x' || SUBSTR(md5('17-' || CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT
          % 10000) % 2 AS arm,
         converted
  FROM per_user
),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(converted) AS BIGINT) AS conv
  FROM armed GROUP BY 1
),
j AS (
  SELECT a.n AS n_a, a.conv AS c_a, b.n AS n_b, b.conv AS c_b
  FROM (SELECT * FROM arms WHERE arm = 0) a
  CROSS JOIN (SELECT * FROM arms WHERE arm = 1) b
)
SELECT n_a, c_a, n_b, c_b,
       ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
       ROUND((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / NULLIF(SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 0.0), 4) AS z_stat,
       COALESCE(ABS((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
           / NULLIF(SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b)), 0.0)) > 1.959964, FALSE) AS significant
FROM j
"""


EXT_QUERIES.update(
    {
        "ext_trigram_paths": ext_trigram_paths,
        "ext_price_elasticity": ext_price_elasticity,
        "ext_ab_test": ext_ab_test,
    }
)
EXT_ORACLES.update(
    {
        "ext_trigram_paths": EXT_TRIGRAM_PATHS_SQL,
        "ext_price_elasticity": EXT_PRICE_ELASTICITY_SQL,
        "ext_ab_test": EXT_AB_TEST_SQL,
    }
)


def ext_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most similar document pairs by sparse TF-IDF cosine — the
    classic IR similarity join, term-at-a-time: pairs accumulate dot
    products only through SHARED terms (an inverted-index join), so
    the n² dense-pair space is never materialized.

    Scale shape: the hot-term guard caps the posting fan-out exactly
    like X2's shingle guard (stopword postings are the quadratic
    hazard). Its bound is GREATEST(64, LEAST(n/20, 1024)): the 5%-of-
    docs ramp prunes true stopwords at any small-corpus size instead of
    emptying the index once every mid-frequency term passes a fixed
    cutoff (the failure the fixed-64 form hit at sf0.1), and the 1024
    CEILING bounds per-term pair work at 1024^2/2 so total candidate
    volume is LINEAR in the vocabulary — an uncapped 5% ramp made
    sum(df^2) quadratic in the corpus (708s at salted-30x, r9 smoke;
    a term in >1024 docs is a stopword for pair-RANKING purposes).
    The ceiling only binds past n=20480 docs, so every committed
    fixture SF (500/500/5000 docs -> caps 64/64/250) is bit-identical
    to the pre-ceiling history. Norms broadcast; the head is
    k-bounded. Weights round to 6 BEFORE pairing so ranking can't
    straddle engine ulp."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    # r13 (guide §5): wts feeds the norms pass AND both sides of the
    # term-at-a-time pair join — un-persisted, the whole tokenize +
    # tf + df-join TF-IDF pipeline ran 3x (32 textual scans in the
    # before plan). Data-proportional (postings) -> DISK_ONLY.
    wts = share(
        text.tf_idf(docs)
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("doc_freq")
            <= F.greatest(
                F.lit(64), F.least(F.floor(F.col("nd") / 20), F.lit(1024))
            )
        )
        .select("doc_id", "word", "tf_idf"),
        big=True,
    )
    norms = wts.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf_idf") * F.col("tf_idf"))).alias("nrm")
    )
    a = wts.select(F.col("doc_id").alias("id_a"), "word", F.col("tf_idf").alias("wa"))
    b = wts.select(F.col("doc_id").alias("id_b"), "word", F.col("tf_idf").alias("wb"))
    dots = (
        a.join(b, "word")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"), F.count(F.lit(1)).alias("n_shared_terms"))
    )
    return (
        dots.join(F.broadcast(norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))), "id_a")
        .join(F.broadcast(norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_terms",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
        .limit(50)
    )


EXT_TFIDF_COSINE_SQL = r"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
dfreq AS (SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
wts AS (
  SELECT tf.doc_id, tf.word,
         ROUND(tf.tf * (LN((n.n_docs + 1.0) / (dfreq.doc_freq + 1.0)) + 1.0), 6)
           AS tf_idf
  FROM tf JOIN dfreq USING (word) CROSS JOIN n
  WHERE dfreq.doc_freq <= GREATEST(64, LEAST(n.n_docs // 20, 1024))
),
norms AS (
  SELECT doc_id, SQRT(SUM(tf_idf * tf_idf)) AS nrm FROM wts GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         SUM(a.tf_idf * b.tf_idf) AS dot,
         CAST(COUNT(*) AS BIGINT) AS n_shared_terms
  FROM wts a JOIN wts b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b, d.n_shared_terms,
       ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN norms na ON d.id_a = na.doc_id
JOIN norms nb ON d.id_b = nb.doc_id
ORDER BY cosine DESC, id_a, id_b LIMIT 50
"""


def ext_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: histogram of connected-
    component sizes from the X41 dedup grouping — the dedup-health
    report (a heavy tail of giant clusters means the similarity
    threshold is too loose or a template is flooding the corpus).

    Scale shape: CC runs over the tiny pair set; sizes and the
    histogram are two O(components) aggregations."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # df<=64 hot-shingle guard (r10): fixture-inert, oracle-mirrored —
    # see ext_dedup_groups
    # CC checkpoints the edges eagerly — the scope then releases the
    # inverted index's session pin (r11 endurance finding)
    with scope():
        pairs = dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_doc_freq=dedup.HOT_SHINGLE_MAX_DF
        )
        groups = dedup.dedup_groups(docs, pairs.select("id_a", "id_b"))
    sizes = groups.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


EXT_CLUSTER_SIZE_HISTOGRAM_SQL = rf"""
WITH RECURSIVE
toks AS (
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
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {dedup.HOT_SHINGLE_MAX_DF}),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
  FROM sh x JOIN rare rx ON x.shingle = rx.shingle
  JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON inter.id_a = sa.doc_id
  JOIN sizes sb ON inter.id_b = sb.doc_id
  WHERE ROUND(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) >= 0.3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
csize AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY 1
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM csize GROUP BY cluster_size ORDER BY cluster_size
"""


EXT_QUERIES.update(
    {
        "ext_tfidf_cosine_pairs": ext_tfidf_cosine_pairs,
        "ext_cluster_size_histogram": ext_cluster_size_histogram,
    }
)
EXT_ORACLES.update(
    {
        "ext_tfidf_cosine_pairs": EXT_TFIDF_COSINE_SQL,
        "ext_cluster_size_histogram": EXT_CLUSTER_SIZE_HISTOGRAM_SQL,
    }
)


# --- round-3 wave: statistical audits + forecast baselines --------------------


def ext_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed vs
    expected leading-digit shares plus the chi-square statistic — the
    fabricated-data / data-entry-anomaly screen auditors run on
    monetary columns (natural multi-scale amounts follow
    log10(1 + 1/d)).

    Scale shape: the leading digit is a row-local string projection
    (no log needed — first char of the integer part), one 9-cell
    exchange, expectation attached as a literal map."""
    orders = _t(spark, sf_dir, "orders")
    d = F.substring(F.floor("o_totalprice").cast("string"), 1, 1).cast("int")
    cells = (
        orders.filter(F.col("o_totalprice") >= 1.0)
        .select(d.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = cells.agg(F.sum("n").alias("tot"))
    import math

    exp_arr = F.array(
        *[F.lit(math.log10(1.0 + 1.0 / dd)) for dd in range(1, 10)]
    )
    joined = cells.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("observed_share"),
        F.round(F.element_at(exp_arr, F.col("digit")), 6).alias("benford_share"),
        (
            F.pow(
                F.col("n") - F.col("tot") * F.element_at(exp_arr, F.col("digit")),
                2.0,
            )
            / (F.col("tot") * F.element_at(exp_arr, F.col("digit")))
        ).alias("__chi"),
    )
    return joined.select(
        "digit",
        "n",
        "observed_share",
        "benford_share",
        F.round(F.sum("__chi").over(Window.partitionBy()), 4).alias("chi_square_total"),
    ).orderBy("digit")


EXT_BENFORD_SQL = r"""
WITH cells AS (
  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
           AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cells),
j AS (
  SELECT digit, n,
         ROUND(CAST(n AS DOUBLE) / tot, 6) AS observed_share,
         ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_share,
         POW(n - tot * LOG10(1.0 + 1.0 / digit), 2)
           / (tot * LOG10(1.0 + 1.0 / digit)) AS chi
  FROM cells CROSS JOIN tot
)
SELECT digit, n, observed_share, benford_share,
       ROUND(SUM(chi) OVER (), 4) AS chi_square_total
FROM j ORDER BY digit
"""


def ext_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline evaluation per event type: MAE
    of the week-ago forecast (x̂_t = x_{t-7}) and MASE (scaled by the
    one-step naive error) over the daily totals — the accuracy floor
    any real forecast model must beat, and the standard way to compare
    error across series of different magnitude.

    Scale shape: raw events collapse to the O(days x types) grid
    (integer cents, exact); the lag features are windows over that tiny
    axis per type."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("iv").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "x",
        F.lag("x", 7).over(w).alias("x7"),
        F.lag("x", 1).over(w).alias("x1"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.when(F.col("x7").isNotNull(), 1)).alias("n_scored_days"),
            F.round(
                F.avg(F.abs(F.col("x") - F.col("x7")).cast("double")) / 100.0, 4
            ).alias("mae_seasonal_naive"),
            F.round(
                F.avg(F.abs(F.col("x") - F.col("x7")).cast("double"))
                / F.avg(F.abs(F.col("x") - F.col("x1")).cast("double")),
                6,
            ).alias("mase"),
        )
        .orderBy("event_type")
    )


EXT_FORECAST_ERROR_SQL = r"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day, x,
         LAG(x, 7) OVER w AS x7, LAG(x, 1) OVER w AS x1
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type,
       CAST(COUNT(CASE WHEN x7 IS NOT NULL THEN 1 END) AS BIGINT) AS n_scored_days,
       ROUND(AVG(CAST(ABS(x - x7) AS DOUBLE)) / 100.0, 4) AS mae_seasonal_naive,
       ROUND(AVG(CAST(ABS(x - x7) AS DOUBLE)) / AVG(CAST(ABS(x - x1) AS DOUBLE)), 6)
         AS mase
FROM lagged GROUP BY event_type ORDER BY event_type
"""


def ext_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-regularity signal per user: Shannon entropy of the
    hour-of-day activity distribution plus the modal hour — low entropy
    = habitual users (bot-like when extreme), high = diffuse activity;
    a standard fraud/segmentation feature.

    Scale shape: one (user x 24-hour) exchange; entropy folds the
    O(users x 24) cells per user; argmax modal hour via MAX-of-struct
    (no per-user window sort)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.hour("ts").alias("h")
    )
    cells = ev.groupBy("user_id", "h").agg(F.count(F.lit(1)).alias("c"))
    per = cells.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            (F.col("c").cast("double"))
            * F.log(F.col("c").cast("double"))
        ).alias("clogc"),
        F.max(F.struct(F.col("c"), (-F.col("h")).alias("nh"))).alias("m"),
    )
    # H = ln(n) - (1/n)·Σ c·ln(c) — exact regrouping of -Σ p·ln p
    return per.select(
        "user_id",
        "n",
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("clogc") / F.col("n"),
            6,
        ).alias("hour_entropy"),
        (-F.col("m.nh")).alias("modal_hour"),
    ).orderBy("user_id")


EXT_ACTIVITY_ENTROPY_SQL = r"""
WITH cells AS (
  SELECT user_id, EXTRACT(HOUR FROM ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
per AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
         SUM(CAST(c AS DOUBLE) * LN(c)) AS clogc,
         MAX({'c': c, 'nh': -h}) AS m
  FROM cells GROUP BY 1
)
SELECT user_id, n,
       ROUND(LN(n) - clogc / n, 6) AS hour_entropy,
       CAST(-(m).nh AS BIGINT) AS modal_hour
FROM per ORDER BY user_id
"""


EXT_QUERIES.update(
    {
        "ext_benford_audit": ext_benford_audit,
        "ext_forecast_error": ext_forecast_error,
        "ext_activity_entropy": ext_activity_entropy,
    }
)
EXT_ORACLES.update(
    {
        "ext_benford_audit": EXT_BENFORD_SQL,
        "ext_forecast_error": EXT_FORECAST_ERROR_SQL,
        "ext_activity_entropy": EXT_ACTIVITY_ENTROPY_SQL,
    }
)


# --- round-3 wave: corpus budget/diagnostic quick wins ------------------------


def ext_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup token-budget report per source: total tokens vs tokens
    after exact dedup (each distinct content counted once) and the
    fraction saved — the number that justifies running dedup before a
    training run (tokens are the currency).

    Scale shape: one (source, hash) collapse carrying token counts
    (identical content has identical counts, so MAX per group is
    exact), then an O(sources) rollup."""
    docs = _t(spark, sf_dir, "documents")
    t = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    h = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary")
    )
    per_hash = (
        docs.select("source", h.alias("h"), t.alias("t"))
        .groupBy("source", "h")
        .agg(F.sum("t").alias("t_all"), F.max("t").alias("t_once"))
    )
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("t_all").alias("total_tokens"),
            F.sum("t_once").alias("unique_tokens"),
        )
        .withColumn(
            "pct_saved",
            F.round(
                F.lit(1.0)
                - F.col("unique_tokens").cast("double") / F.col("total_tokens"),
                6,
            ),
        )
        .orderBy("source")
    )


EXT_TOKEN_BUDGET_SQL = r"""
WITH per_hash AS (
  SELECT source,
         md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS h,
         CAST(SUM(LEN(string_split_regex(TRIM(text), '\s+'))) AS BIGINT) AS t_all,
         CAST(MAX(LEN(string_split_regex(TRIM(text), '\s+'))) AS BIGINT) AS t_once
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(t_all) AS BIGINT) AS total_tokens,
       CAST(SUM(t_once) AS BIGINT) AS unique_tokens,
       ROUND(1.0 - CAST(SUM(t_once) AS DOUBLE) / SUM(t_all), 6) AS pct_saved
FROM per_hash GROUP BY source ORDER BY source
"""


def ext_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full declared-vs-predicted language confusion matrix (the X206
    mismatch audit's detail view): counts per (metadata lang, content
    prediction) cell, diagonal = agreement. One row-local scoring pass,
    one O(langs^2) exchange."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.lang_id(docs)
        .groupBy(F.col("lang").alias("declared"), F.col("pred_lang").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("declared", "predicted")
    )


EXT_LANG_CONFUSION_SQL = r"""
WITH scored AS (
  SELECT lang,
         LEN(regexp_extract_all(LOWER(text), '\b(der|und|das|nicht)\b')) AS score_de,
         LEN(regexp_extract_all(LOWER(text), '\b(the|and|of|is)\b')) AS score_en,
         LEN(regexp_extract_all(LOWER(text), '\b(el|los|una|que)\b')) AS score_es,
         LEN(regexp_extract_all(LOWER(text), '\b(le|et|les|dans)\b')) AS score_fr
  FROM documents
)
SELECT lang AS declared,
       CASE
         WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
         WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
         WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
         WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
         ELSE 'fr'
       END AS predicted,
       CAST(COUNT(*) AS BIGINT) AS n
FROM scored GROUP BY 1, 2 ORDER BY declared, predicted
"""


def ext_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness: events in the busiest minute vs the mean
    over active minutes — the rate-anomaly/bot signal (humans are
    bursty up to a point; scripted traffic pins the ratio).

    Scale shape: raw events collapse to (user, minute) in one exchange;
    the per-user ratio folds the collapsed frame."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("m")
    )
    per_min = ev.groupBy("user_id", "m").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_min.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_active_minutes"),
            F.max("c").alias("peak_per_minute"),
            F.round(
                F.max("c").cast("double")
                * F.count(F.lit(1))
                / F.sum("c"),
                4,
            ).alias("burst_ratio"),
        )
        .orderBy("user_id")
    )


EXT_BURST_DETECTION_SQL = r"""
WITH per_min AS (
  SELECT user_id, date_trunc('minute', ts) AS m, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_active_minutes,
       CAST(MAX(c) AS BIGINT) AS peak_per_minute,
       ROUND(CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c), 4) AS burst_ratio
FROM per_min GROUP BY user_id ORDER BY user_id
"""


def ext_case_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capitalization-format quality signals per document: ALL-CAPS
    word count, TitleCase word count, and the uppercase share of
    letters — shouting/headline/boilerplate indicators in the
    Gopher-rule family. Row-local regexp counting, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    letters = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]")), F.lit(1)
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\b[A-Z]{2,}\b")).alias("n_allcaps_words"),
        F.regexp_count(F.col("text"), F.lit(r"\b[A-Z][a-z]+\b")).alias("n_titlecase_words"),
        F.round(
            F.regexp_count(F.col("text"), F.lit(r"[A-Z]")).cast("double") / letters,
            6,
        ).alias("upper_ratio"),
    ).orderBy("doc_id")


EXT_CASE_SIGNALS_SQL = r"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '\b[A-Z]{2,}\b')) AS n_allcaps_words,
       LEN(regexp_extract_all(text, '\b[A-Z][a-z]+\b')) AS n_titlecase_words,
       ROUND(CAST(LEN(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
             / GREATEST(LEN(regexp_extract_all(text, '[A-Za-z]')), 1), 6)
         AS upper_ratio
FROM documents ORDER BY doc_id
"""


def ext_cross_source_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-feed duplication matrix: for every source pair, how many
    distinct normalized contents they SHARE — the crawl-overlap
    diagnosis (two feeds mirroring each other waste budget and skew
    mixtures; the X129 cross-language audit's source-axis sibling).

    Shared content is keyed by the normalized 16-char PREFIX fingerprint
    — the cheap candidate generator for templated/mirrored feeds;
    exact-content hashing is X1's dedup fingerprint.

    Non-vacuousness: the original exact-content hash shared nothing at
    sf<=0.01 (no exact text dups in small testdata), a vacuous pass the
    sweep now hard-fails; the prefix key keeps the identical inverted-
    index + row-local pair-expansion plan and fires at every SF
    (24/25/432 shared fingerprints at sf0.001/0.01/0.1).

    Scale shape: contents collapse to a hash -> sorted-source-set
    inverted index; pair expansion is row-local (bounded by the feed
    count), one O(sources^2) exchange."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 1, 16
        ).cast("binary")
    )
    idx = (
        docs.select(h.alias("h"), "source")
        .distinct()
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
    )
    srcs = F.col("srcs")
    combos = F.flatten(
        F.transform(
            srcs,
            lambda x, i: F.transform(
                F.slice(srcs, i + 2, F.size(srcs)),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    return (
        idx.select(F.explode(combos).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_contents"))
        .orderBy("source_a", "source_b")
    )


EXT_CROSS_SOURCE_DUPES_SQL = r"""
WITH sh AS (
  SELECT DISTINCT md5(substr(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')), 1, 16)) AS h,
         source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_contents
FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2 ORDER BY source_a, source_b
"""


EXT_QUERIES.update(
    {
        "ext_token_budget": ext_token_budget,
        "ext_lang_confusion": ext_lang_confusion,
        "ext_burst_detection": ext_burst_detection,
        "ext_case_signals": ext_case_signals,
        "ext_cross_source_dupes": ext_cross_source_dupes,
    }
)
EXT_ORACLES.update(
    {
        "ext_token_budget": EXT_TOKEN_BUDGET_SQL,
        "ext_lang_confusion": EXT_LANG_CONFUSION_SQL,
        "ext_burst_detection": EXT_BURST_DETECTION_SQL,
        "ext_case_signals": EXT_CASE_SIGNALS_SQL,
        "ext_cross_source_dupes": EXT_CROSS_SOURCE_DUPES_SQL,
    }
)


# --- round-3 wave: model-eval + sampling-theory classics ----------------------


def ext_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality strength per event type: the share of daily-
    total variance explained by day-of-week (ANOVA R² = SS_between /
    SS_total over the day axis) — decides whether a forecast needs the
    weekly component the X217 seasonal-naive baseline assumes.

    Scale shape: data collapses to O(days x types) exact-cent totals;
    both sums of squares derive from that grid and its 7-row dow means.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("iv").alias("x"))
    daily = daily.withColumn(
        "dow", ((F.dayofweek("day") + F.lit(5)) % 7) + 1
    )
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")).alias("sxx"),
    )
    d = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("x").alias("sd")
    )
    between = d.groupBy("event_type").agg(
        F.sum(
            (F.col("sd").cast("double") / F.col("nd"))
            * (F.col("sd").cast("double") / F.col("nd"))
            * F.col("nd")
        ).alias("ss_b_raw")
    )
    j = g.join(between, "event_type")
    n = F.col("n").cast("double")
    mean = F.col("sx").cast("double") / n
    ss_total = F.col("sxx").cast("double") - n * mean * mean
    ss_between = F.col("ss_b_raw") - n * mean * mean
    return j.select(
        "event_type",
        "n",
        F.round(ss_between / ss_total, 6).alias("r2_weekly"),
    ).orderBy("event_type")


EXT_SEASONALITY_SQL = r"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
dowd AS (SELECT event_type, day, x, isodow(day) AS dow FROM daily),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx
  FROM dowd GROUP BY 1
),
d AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(x) AS BIGINT) AS sd
  FROM dowd GROUP BY 1, 2
),
btw AS (
  SELECT event_type,
         SUM((CAST(sd AS DOUBLE) / nd) * (CAST(sd AS DOUBLE) / nd) * nd) AS ss_b_raw
  FROM d GROUP BY 1
)
SELECT g.event_type AS event_type, g.n AS n,
       ROUND((b.ss_b_raw - g.n * (CAST(g.sx AS DOUBLE) / g.n) * (CAST(g.sx AS DOUBLE) / g.n))
             / (CAST(g.sxx AS DOUBLE) - g.n * (CAST(g.sx AS DOUBLE) / g.n) * (CAST(g.sx AS DOUBLE) / g.n)), 6)
         AS r2_weekly
FROM g JOIN btw b ON g.event_type = b.event_type
ORDER BY g.event_type
"""


def ext_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table: users ranked by observation-window spend
    (the X209 churn frame's feature), retention rate per spend decile
    plus cumulative lift over the base rate — the standard targeting-
    model evaluation readout (does the top decile actually retain
    more?).

    Scale shape: deciles come from nine broadcast percentile thresholds
    (strict-compare bucketing, no NTILE global sort — the X182
    discipline); the lift walk is a window over the 10-row decile axis.
    """
    cutoff = F.lit("2024-01-21").cast("timestamp")
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("n_obs"),
        F.round(
            F.sum(F.when(F.col("ts") < cutoff, F.col("value")).otherwise(0.0)), 2
        ).alias("score"),
        (F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)) > 0).alias("retained"),
    ).filter(F.col("n_obs") > 0)
    thr = per.agg(
        *[
            F.expr(f"percentile(score, {q / 10.0})").alias(f"t{q}")
            for q in range(1, 10)
        ]
    )
    decile = F.lit(10) - sum(
        (F.col("score") > F.col(f"t{q}")).cast("int") for q in range(1, 10)
    )
    bucketed = per.crossJoin(F.broadcast(thr)).select(
        decile.alias("decile"), "retained"
    )
    cells = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("retained").cast("int")).alias("n_retained"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = cells.agg(
        F.sum("n_users").alias("tn"), F.sum("n_retained").alias("tr")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_retained",
            F.round(F.col("n_retained") / F.col("n_users"), 6).alias("retention_rate"),
            F.round(
                (F.sum("n_retained").over(w) / F.sum("n_users").over(w))
                / (F.col("tr") / F.col("tn")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


EXT_LIFT_TABLE_SQL = r"""
WITH per AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) AS BIGINT) AS n_obs,
         ROUND(SUM(CASE WHEN ts < TIMESTAMP '2024-01-21' THEN value ELSE 0 END), 2) AS score,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) > 0 AS retained
  FROM events GROUP BY 1
),
flt AS (SELECT * FROM per WHERE n_obs > 0),
thr AS (
  SELECT quantile_cont(score, 0.1) AS t1, quantile_cont(score, 0.2) AS t2,
         quantile_cont(score, 0.3) AS t3, quantile_cont(score, 0.4) AS t4,
         quantile_cont(score, 0.5) AS t5, quantile_cont(score, 0.6) AS t6,
         quantile_cont(score, 0.7) AS t7, quantile_cont(score, 0.8) AS t8,
         quantile_cont(score, 0.9) AS t9
  FROM flt
),
bucketed AS (
  SELECT 10 - ((score > t1)::INT + (score > t2)::INT + (score > t3)::INT
             + (score > t4)::INT + (score > t5)::INT + (score > t6)::INT
             + (score > t7)::INT + (score > t8)::INT + (score > t9)::INT) AS decile,
         retained
  FROM flt CROSS JOIN thr
),
cells AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(retained::INT) AS BIGINT) AS n_retained
  FROM bucketed GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS tn, CAST(SUM(n_retained) AS BIGINT) AS tr FROM cells)
SELECT decile, n_users, n_retained,
       ROUND(CAST(n_retained AS DOUBLE) / n_users, 6) AS retention_rate,
       ROUND((CAST(SUM(n_retained) OVER w AS DOUBLE) / SUM(n_users) OVER w)
             / (CAST(tr AS DOUBLE) / tn), 6) AS cum_lift
FROM cells CROSS JOIN tot
WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
ORDER BY decile
"""


def ext_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal sample allocation across customer segments for a
    1000-unit audit budget: n_h ∝ N_h·σ_h (stratum size × stddev of
    customer lifetime value) — minimum-variance stratified sampling,
    the survey-statistics classic a QA/audit pipeline uses instead of
    proportional allocation when strata differ in volatility.

    Scale shape: customers collapse once; per-stratum exact decimal
    moments give σ; the allocation normalizer is a broadcast scalar.
    Allocations round half-up and are reported with their exact weight
    shares (budget rounding residue is the caller's concern)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("ltv"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    v = F.col("ltv")
    strata = per.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(v).alias("s1"),
        F.sum(v.cast("decimal(19,2)") * v.cast("decimal(19,2)")).alias("s2"),
    )
    n = F.col("n_h").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    sigma = F.sqrt((s2 - s1 * s1 / n) / (n - 1.0))
    weighted = strata.select(
        "c_mktsegment", "n_h", sigma.alias("sigma"), (n * sigma).alias("w")
    )
    tot = weighted.agg(F.sum("w").alias("tw"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "n_h",
            F.round("sigma", 4).alias("ltv_stddev"),
            F.round(F.col("w") / F.col("tw"), 6).alias("weight_share"),
            F.round(F.lit(1000.0) * F.col("w") / F.col("tw"), 0)
            .cast("long")
            .alias("allocated_samples"),
        )
        .orderBy("c_mktsegment")
    )


EXT_NEYMAN_SQL = r"""
WITH per AS (
  SELECT o.o_custkey, c.c_mktsegment,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS ltv
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
strata AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(ltv) AS DECIMAL(38,2)) AS s1,
         CAST(SUM(CAST(ltv AS DECIMAL(19,2)) * CAST(ltv AS DECIMAL(19,2))) AS DECIMAL(38,4)) AS s2
  FROM per GROUP BY 1
),
wgt AS (
  SELECT c_mktsegment, n_h,
         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_h)
              / (n_h - 1.0)) AS sigma,
         n_h * SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_h)
              / (n_h - 1.0)) AS w
  FROM strata
),
tot AS (SELECT SUM(w) AS tw FROM wgt)
SELECT c_mktsegment, n_h,
       ROUND(sigma, 4) AS ltv_stddev,
       ROUND(w / tw, 6) AS weight_share,
       CAST(ROUND(1000.0 * w / tw, 0) AS BIGINT) AS allocated_samples
FROM wgt CROSS JOIN tot
ORDER BY c_mktsegment
"""


EXT_QUERIES.update(
    {
        "ext_seasonality_strength": ext_seasonality_strength,
        "ext_lift_table": ext_lift_table,
        "ext_neyman_allocation": ext_neyman_allocation,
    }
)
EXT_ORACLES.update(
    {
        "ext_seasonality_strength": EXT_SEASONALITY_SQL,
        "ext_lift_table": EXT_LIFT_TABLE_SQL,
        "ext_neyman_allocation": EXT_NEYMAN_SQL,
    }
)


def ext_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-extraction detector: unbalanced parentheses/brackets/
    double-quotes per document — truncated or mis-parsed extractions
    leave dangling delimiters that poison downstream parsing; flagged
    docs are curation candidates. Row-local regexp counting, zero
    shuffle; the flag is parity/count arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    opens = F.regexp_count(F.col("text"), F.lit(r"\("))
    closes = F.regexp_count(F.col("text"), F.lit(r"\)"))
    brack_o = F.regexp_count(F.col("text"), F.lit(r"\["))
    brack_c = F.regexp_count(F.col("text"), F.lit(r"\]"))
    quotes = F.regexp_count(F.col("text"), F.lit(r'"'))
    return docs.select(
        "doc_id",
        (opens - closes).alias("paren_delta"),
        (brack_o - brack_c).alias("bracket_delta"),
        F.pmod(quotes, F.lit(2)).alias("quote_parity"),
        (
            (opens != closes)
            | (brack_o != brack_c)
            | (F.pmod(quotes, F.lit(2)) != 0)
        ).alias("is_unbalanced"),
    ).orderBy("doc_id")


EXT_BALANCE_AUDIT_SQL = r"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '\(')) - LEN(regexp_extract_all(text, '\)'))
         AS paren_delta,
       LEN(regexp_extract_all(text, '\[')) - LEN(regexp_extract_all(text, '\]'))
         AS bracket_delta,
       LEN(regexp_extract_all(text, '"')) % 2 AS quote_parity,
       (LEN(regexp_extract_all(text, '\(')) <> LEN(regexp_extract_all(text, '\)'))
        OR LEN(regexp_extract_all(text, '\[')) <> LEN(regexp_extract_all(text, '\]'))
        OR LEN(regexp_extract_all(text, '"')) % 2 <> 0) AS is_unbalanced
FROM documents ORDER BY doc_id
"""


def ext_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source (keyness): top-3 terms by
    smoothed log-odds of in-source vs rest-of-corpus frequency
    (Monroe-style +0.5 Dirichlet prior) — the corpus-exploration
    readout that names what makes each feed different.

    Scale shape: ONE (source, word) count exchange; corpus totals
    derive from it (no re-tokenization); log-odds are row-local over
    the O(sources x vocab) grid; the head is a per-source
    WindowGroupLimit. Log-odds round to 6 BEFORE ranking."""
    docs = _t(spark, sf_dir, "documents")
    sw = (
        docs.select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = sw.groupBy("w").agg(F.sum("c").alias("cw"))
    src_tot = sw.groupBy("source").agg(F.sum("c").alias("cs"))
    grand = totals.agg(F.sum("cw").alias("n"))
    j = (
        sw.join(F.broadcast(totals), "w")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(grand))
    )
    inc = F.col("c") + 0.5
    out_c = (F.col("cw") - F.col("c")) + 0.5
    in_rest = (F.col("cs") - F.col("c")) + 0.5
    out_rest = (F.col("n") - F.col("cw") - F.col("cs") + F.col("c")) + 0.5
    lo = F.round(F.log(inc / in_rest) - F.log(out_c / out_rest), 6)
    w_rank = Window.partitionBy("source").orderBy(
        F.col("log_odds").desc(), "w"
    )
    return (
        j.select("source", "w", "c", lo.alias("log_odds"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("source", F.col("w").alias("term"), "c", "log_odds", "rank")
        .orderBy("source", "rank")
    )


EXT_DISTINCTIVE_TERMS_SQL = r"""
WITH sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source,
           UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY 1, 2
),
totals AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM sw GROUP BY 1),
src_tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM sw GROUP BY 1),
grand AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM totals),
j AS (
  SELECT sw.source, sw.w, sw.c,
         ROUND(LN((sw.c + 0.5) / ((st.cs - sw.c) + 0.5))
               - LN(((t.cw - sw.c) + 0.5) / ((g.n - t.cw - st.cs + sw.c) + 0.5)), 6)
           AS log_odds
  FROM sw JOIN totals t ON sw.w = t.w
  JOIN src_tot st ON sw.source = st.source
  CROSS JOIN grand g
),
ranked AS (
  SELECT source, w, c, log_odds,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY log_odds DESC, w) AS rank
  FROM j
)
SELECT source, w AS term, c, log_odds, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
ORDER BY source, rank
"""


EXT_QUERIES.update(
    {
        "ext_balance_audit": ext_balance_audit,
        "ext_distinctive_terms": ext_distinctive_terms,
    }
)
EXT_ORACLES.update(
    {
        "ext_balance_audit": EXT_BALANCE_AUDIT_SQL,
        "ext_distinctive_terms": EXT_DISTINCTIVE_TERMS_SQL,
    }
)


# --- round-3 wave: statistical calculators ------------------------------------


def ext_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size calculator from observed data: per-arm n needed
    to detect a 10% relative drop in the X212 conversion rate at
    alpha=0.05 / power=0.80 (two-sided two-proportion formula,
    n = (z_a·√(2p̄q̄) + z_b·√(p1q1+p2q2))² / δ²) — the experiment-design
    companion every A/B readout needs.

    Scale shape: the observed rate is one per-user collapse + one
    scalar; the formula is O(1) driver-free arithmetic in the plan."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 300.0), 1
            ).otherwise(0)
        ).alias("converted")
    )
    base = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("p1"),
    )
    za, zb = 1.959964, 0.841621  # alpha=0.05 two-sided, power=0.80
    p1 = F.col("p1")
    p2 = p1 * 0.9
    pbar = (p1 + p2) / 2.0
    delta = p1 - p2
    n = F.when(
        delta > 0.0,
        F.pow(
            F.lit(za) * F.sqrt(2.0 * pbar * (1.0 - pbar))
            + F.lit(zb) * F.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)),
            2.0,
        )
        / (delta * delta),
    )  # zero observed rate -> no detectable effect -> NULL (mirrored)
    return base.select(
        "n_users",
        F.round(p1, 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        F.ceil(n).cast("long").alias("required_per_arm"),
    )


EXT_POWER_ANALYSIS_SQL = r"""
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > 300.0
             THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS p1
  FROM per_user
)
SELECT n_users,
       ROUND(p1, 6) AS baseline_rate,
       ROUND(p1 * 0.9, 6) AS target_rate,
       CAST(CEIL(POW(1.959964 * SQRT(2.0 * ((p1 + p1 * 0.9) / 2.0) * (1.0 - (p1 + p1 * 0.9) / 2.0))
                     + 0.841621 * SQRT(p1 * (1.0 - p1) + p1 * 0.9 * (1.0 - p1 * 0.9)), 2)
                 / NULLIF((p1 - p1 * 0.9) * (p1 - p1 * 0.9), 0.0)) AS BIGINT) AS required_per_arm
FROM base
"""


def ext_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion audit of basket sizes: variance-to-mean ratio of
    lineitems per order (index-of-dispersion; ~1 = Poisson, >1.5 =
    clumped demand that breaks Poisson capacity models). Exact integer
    moments over the per-order collapse; one scalar row."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("k"))
    agg = per.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("k").alias("s1"),
        F.sum(F.col("k") * F.col("k")).alias("s2"),
    )
    n = F.col("n_orders").cast("double")
    mean = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    return agg.select(
        "n_orders",
        F.round(mean, 6).alias("mean_lines"),
        F.round(var, 6).alias("var_lines"),
        F.round(var / mean, 6).alias("dispersion_index"),
        (var / mean > 1.5).alias("overdispersed"),
    )


EXT_DISPERSION_SQL = r"""
WITH per AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k FROM lineitem GROUP BY 1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(k) AS BIGINT) AS s1,
         CAST(SUM(k * k) AS BIGINT) AS s2
  FROM per
)
SELECT n_orders,
       ROUND(CAST(s1 AS DOUBLE) / n_orders, 6) AS mean_lines,
       ROUND(CAST(s2 AS DOUBLE) / n_orders
             - (CAST(s1 AS DOUBLE) / n_orders) * (CAST(s1 AS DOUBLE) / n_orders), 6)
         AS var_lines,
       ROUND((CAST(s2 AS DOUBLE) / n_orders
              - (CAST(s1 AS DOUBLE) / n_orders) * (CAST(s1 AS DOUBLE) / n_orders))
             / (CAST(s1 AS DOUBLE) / n_orders), 6) AS dispersion_index,
       (CAST(s2 AS DOUBLE) / n_orders
        - (CAST(s1 AS DOUBLE) / n_orders) * (CAST(s1 AS DOUBLE) / n_orders))
       / (CAST(s1 AS DOUBLE) / n_orders) > 1.5 AS overdispersed
FROM agg
"""


def ext_pareto_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail exponent of customer lifetime value: Pareto alpha by
    MLE over the tail above the 90th percentile (α = n_tail /
    Σ ln(x/x_min)) — quantifies revenue-concentration risk beyond what
    the Gini/top-decile summaries (X110/X117) show (α < 2 = infinite-
    variance territory).

    Scale shape: one per-customer collapse; the x_min threshold is a
    broadcast percentile scalar; the MLE is one filtered aggregate."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("ltv")
    )
    xmin = per.agg(F.expr("percentile(ltv, 0.9)").alias("xm"))
    tail = per.crossJoin(F.broadcast(xmin)).filter(F.col("ltv") > F.col("xm"))
    return tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.round(F.max("xm"), 2).alias("x_min"),
        F.round(
            F.count(F.lit(1)) / F.sum(F.log(F.col("ltv") / F.col("xm"))), 6
        ).alias("pareto_alpha"),
    )


EXT_PARETO_TAIL_SQL = r"""
WITH per AS (
  SELECT o_custkey,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS ltv
  FROM orders GROUP BY 1
),
xm AS (SELECT quantile_cont(ltv, 0.9) AS xm FROM per),
tail AS (SELECT ltv, xm FROM per CROSS JOIN xm WHERE ltv > xm)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
       ROUND(MAX(xm), 2) AS x_min,
       ROUND(COUNT(*) / SUM(LN(ltv / xm)), 6) AS pareto_alpha
FROM tail
"""


def ext_corpus_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level unigram entropy and perplexity (effective vocabulary
    size): H = ln N − Σc·ln(c)/N over token counts, perplexity = e^H —
    the one-number diversity summary that makes corpora comparable
    (dedup/filtering should RAISE it; template floods lower it).

    Scale shape: one token-count exchange; the entropy folds the
    O(vocab) counts with the exact ln-regrouping (no per-token p·ln p
    materialization)."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = counts.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("clogc"),
    )
    h = F.log(F.col("n_tokens").cast("double")) - F.col("clogc") / F.col("n_tokens")
    return agg.select(
        "vocab_size",
        "n_tokens",
        F.round(h, 6).alias("unigram_entropy_nats"),
        F.round(F.exp(h), 2).alias("perplexity"),
    )


EXT_CORPUS_PERPLEXITY_SQL = r"""
WITH counts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY 1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         SUM(CAST(c AS DOUBLE) * LN(c)) AS clogc
  FROM counts
)
SELECT vocab_size, n_tokens,
       ROUND(LN(n_tokens) - clogc / n_tokens, 6) AS unigram_entropy_nats,
       ROUND(EXP(LN(n_tokens) - clogc / n_tokens), 2) AS perplexity
FROM agg
"""


EXT_QUERIES.update(
    {
        "ext_power_analysis": ext_power_analysis,
        "ext_dispersion_index": ext_dispersion_index,
        "ext_pareto_tail": ext_pareto_tail,
        "ext_corpus_perplexity": ext_corpus_perplexity,
    }
)
EXT_ORACLES.update(
    {
        "ext_power_analysis": EXT_POWER_ANALYSIS_SQL,
        "ext_dispersion_index": EXT_DISPERSION_SQL,
        "ext_pareto_tail": EXT_PARETO_TAIL_SQL,
        "ext_corpus_perplexity": EXT_CORPUS_PERPLEXITY_SQL,
    }
)


# --- round-3 wave: shrinkage, calendar anomalies, vocabulary growth -----------


def ext_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes return-rate ranking of parts: per-part 'R'
    lineitem share shrunk toward the global rate with a k=20
    pseudo-count prior ((r + k·p0)/(n + k)) — the small-n correction
    that stops a 1-for-1 part from topping the list (the cold-start
    ranking problem). Top-25 by shrunk rate.

    Scale shape: one per-part collapse; the global prior is a broadcast
    scalar; the head is k-bounded."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("r"),
    )
    prior = per.agg(
        (F.sum("r").cast("double") / F.sum("n")).alias("p0")
    )
    k = 20.0
    shrunk = F.round(
        (F.col("r") + F.lit(k) * F.col("p0")) / (F.col("n") + F.lit(k)), 6
    )
    return (
        per.crossJoin(F.broadcast(prior))
        .select(
            "l_partkey",
            "n",
            "r",
            F.round(F.col("r") / F.col("n"), 6).alias("raw_rate"),
            shrunk.alias("shrunk_rate"),
        )
        .orderBy(F.col("shrunk_rate").desc(), "l_partkey")
        .limit(25)
    )


EXT_SHRUNK_RATES_SQL = r"""
WITH per AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM lineitem GROUP BY 1
),
prior AS (SELECT CAST(SUM(r) AS DOUBLE) / SUM(n) AS p0 FROM per)
SELECT l_partkey, n, r,
       ROUND(CAST(r AS DOUBLE) / n, 6) AS raw_rate,
       ROUND((r + 20.0 * p0) / (n + 20.0), 6) AS shrunk_rate
FROM per CROSS JOIN prior
ORDER BY shrunk_rate DESC, l_partkey LIMIT 25
"""


def ext_calendar_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar anomaly days: daily event-value totals more than 2
    population stddevs from their DAY-OF-WEEK mean (the X102 weekday
    profile as an expectation, X172's exact moments as the yardstick) —
    the holiday/outage detector that plain global z-scores miss when
    weekends differ structurally from weekdays.

    Scale shape: one exact-cent collapse to the day axis; dow moments
    are a 7-row frame broadcast back."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    daily = ev.groupBy("day").agg(F.sum("iv").alias("x"))
    daily = daily.withColumn("dow", ((F.dayofweek("day") + F.lit(5)) % 7) + 1)
    m = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    std = F.sqrt(F.col("s2").cast("double") / n - mean * mean)
    stats = m.select("dow", mean.alias("mu"), std.alias("sd"))
    return (
        daily.join(F.broadcast(stats), "dow")
        .select(
            F.col("day").cast("string").alias("day"),
            "dow",
            F.round(F.col("x").cast("double") / 100.0, 2).alias("daily_total"),
            F.round((F.col("x").cast("double") - F.col("mu")) / F.col("sd"), 4).alias("dow_z"),
            (F.abs((F.col("x").cast("double") - F.col("mu")) / F.col("sd")) > 2.0).alias("is_anomaly"),
        )
        .orderBy("day")
    )


EXT_CALENDAR_ANOMALIES_SQL = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
),
dowd AS (SELECT day, x, isodow(day) AS dow FROM daily),
m AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS s2
  FROM dowd GROUP BY 1
),
stats AS (
  SELECT dow, CAST(s1 AS DOUBLE) / n AS mu,
         SQRT(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
  FROM m
)
SELECT CAST(d.day AS VARCHAR) AS day, CAST(d.dow AS BIGINT) AS dow,
       ROUND(CAST(d.x AS DOUBLE) / 100.0, 2) AS daily_total,
       ROUND((CAST(d.x AS DOUBLE) - s.mu) / s.sd, 4) AS dow_z,
       ABS((CAST(d.x AS DOUBLE) - s.mu) / s.sd) > 2.0 AS is_anomaly
FROM dowd d JOIN stats s ON d.dow = s.dow
ORDER BY day
"""


def ext_heaps_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth estimate: distinct-type counts at the
    half corpus (doc_id below the median) vs the full corpus give the
    growth exponent beta = ln(V2/V1)/ln(N2/N1) — predicts how much NEW
    vocabulary more crawling buys (beta near 0 = saturated corpus,
    near 1 = every batch still novel).

    Scale shape: two conditional distinct aggregations over one token
    exchange; the median doc id is a broadcast scalar."""
    docs = _t(spark, sf_dir, "documents")
    med = docs.agg(F.expr("percentile(doc_id, 0.5)").alias("md"))
    toks = (
        docs.crossJoin(F.broadcast(med))
        .select(
            (F.col("doc_id") <= F.col("md")).alias("in_half"),
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    agg = toks.agg(
        F.count_distinct(F.when(F.col("in_half"), F.col("w"))).alias("v1"),
        F.count_distinct("w").alias("v2"),
        F.sum(F.when(F.col("in_half"), 1).otherwise(0)).alias("n1"),
        F.count(F.lit(1)).alias("n2"),
    )
    beta = (
        F.log(F.col("v2").cast("double") / F.col("v1"))
        / F.log(F.col("n2").cast("double") / F.col("n1"))
    )
    return agg.select(
        "v1", "v2", "n1", "n2", F.round(beta, 6).alias("heaps_beta")
    )


EXT_HEAPS_SQL = r"""
WITH med AS (SELECT quantile_cont(doc_id, 0.5) AS md FROM documents),
toks AS (
  SELECT doc_id <= md AS in_half, w FROM (
    SELECT doc_id, md,
           UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents CROSS JOIN med
  ) WHERE w <> ''
)
SELECT CAST(COUNT(DISTINCT CASE WHEN in_half THEN w END) AS BIGINT) AS v1,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS v2,
       CAST(SUM(CASE WHEN in_half THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(COUNT(*) AS BIGINT) AS n2,
       ROUND(LN(CAST(COUNT(DISTINCT w) AS DOUBLE)
                / COUNT(DISTINCT CASE WHEN in_half THEN w END))
             / LN(CAST(COUNT(*) AS DOUBLE)
                  / SUM(CASE WHEN in_half THEN 1 ELSE 0 END)), 6) AS heaps_beta
FROM toks
"""


EXT_QUERIES.update(
    {
        "ext_shrunk_return_rates": ext_shrunk_return_rates,
        "ext_calendar_anomalies": ext_calendar_anomalies,
        "ext_heaps_growth": ext_heaps_growth,
    }
)
EXT_ORACLES.update(
    {
        "ext_shrunk_return_rates": EXT_SHRUNK_RATES_SQL,
        "ext_calendar_anomalies": EXT_CALENDAR_ANOMALIES_SQL,
        "ext_heaps_growth": EXT_HEAPS_SQL,
    }
)


# --- round-3 wave: KMV sketches, bitmap-index distinct ------------------------


def ext_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-vocabulary estimate from a k-minimum-values
    sketch (k=256) next to the exact count: the mergeable fixed-size
    summary that lets a 100 TB corpus report per-shard vocabularies and
    combine them WITHOUT re-scanning (min-k of a union == min-k of the
    per-shard min-k's) — the set-sketch complement of the HLL registers
    (X156) that additionally supports resemblance (see ext_kmv_jaccard).

    Scale shape: distinct (source, hash) collapses map-side; the rank
    filter is WindowGroupLimit (each task forwards its local k smallest),
    so the exchange carries O(sources*k) rows. The exact column is one
    count_distinct for the audit — drop it in production."""
    from aircan_spark.ext import sketch as sk

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    minima = sk.kmv_minima(toks, "w", ["source"], k=256)
    est = sk.kmv_estimates(minima, ["source"], k=256)
    exact = toks.groupBy("source").agg(
        F.count_distinct("w").alias("exact_distinct")
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            F.round("kmv_distinct", 2).alias("kmv_distinct"),
            "exact_distinct",
            F.round(
                F.abs(F.col("kmv_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


EXT_KMV_DISTINCT_SQL = r"""
WITH tok AS (
  SELECT source, w FROM (
    SELECT source, UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> ''
),
hs AS (
  SELECT DISTINCT source, CAST(('0x' || SUBSTR(md5(w), 1, 12))::UBIGINT AS BIGINT) AS h
  FROM tok
),
mins AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hs
  ) WHERE rn <= 256
),
est AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS nm, MAX(h) AS hk
  FROM mins GROUP BY 1
),
ex AS (
  SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_distinct
  FROM tok GROUP BY 1
)
SELECT e.source,
       ROUND(CASE WHEN nm < 256 THEN CAST(nm AS DOUBLE)
                  ELSE 255.0 / (CAST(hk AS DOUBLE) / 281474976710656.0) END, 2)
         AS kmv_distinct,
       x.exact_distinct,
       ROUND(ABS(CASE WHEN nm < 256 THEN CAST(nm AS DOUBLE)
                      ELSE 255.0 / (CAST(hk AS DOUBLE) / 281474976710656.0) END
                 - x.exact_distinct) / x.exact_distinct, 4) AS rel_err
FROM est e JOIN ex x ON e.source = x.source
ORDER BY e.source
"""


def ext_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary resemblance from KMV sketches: union
    cardinality from the merged min-k, intersection by inclusion-
    exclusion, Jaccard = inter/union — next to the exact Jaccard for the
    audit. This is what sketches buy at 100 TB: comparing every pair of
    shards/feeds costs O(pairs * k), not O(pairs * vocab).

    Scale shape: sketches are built ONCE (O(sources*k) rows); the pair
    expansion, merge, and re-take all run on that tiny frame. The exact
    Jaccard audit is one equi-join of per-source distinct-token sets on
    the token (vocab-sized, ≪ corpus) — drop it in production."""
    from aircan_spark.ext import sketch as sk

    k = 256
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    # r13 note: persisting minima (and/or the exact-audit vocab) was
    # measured SLOWER (first 7.9 -> 10.3s with minima persisted; vocab
    # DISK_ONLY worse again) — the pair-expansion sides consume the
    # IDENTICAL subtree, which AQE stage reuse already dedupes, so the
    # persists only added fill jobs (17 -> 28/34). Left unpersisted on
    # purpose (the ext_waiting_suppliers lesson).
    minima = sk.kmv_minima(toks, "w", ["source"], k=k).select("source", "h")
    est = sk.kmv_estimates(minima, ["source"], k=k)
    sources = minima.select("source").distinct()
    pairs = (
        sources.select(F.col("source").alias("sa"))
        .crossJoin(sources.select(F.col("source").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    # union sketch: hashes of either side, distinct, re-take k smallest per pair
    side_a = F.broadcast(pairs).join(minima, pairs.sa == minima.source).select(
        "sa", "sb", "h"
    )
    side_b = F.broadcast(pairs).join(minima, pairs.sb == minima.source).select(
        "sa", "sb", "h"
    )
    u = side_a.unionByName(side_b).distinct()
    wkm = Window.partitionBy("sa", "sb").orderBy("h")
    umins = u.withColumn("rn", F.row_number().over(wkm)).filter(F.col("rn") <= k)
    uest = umins.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_mins"), F.max("h").alias("hk")
    )
    est_u = F.when(F.col("n_mins") < k, F.col("n_mins").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("hk").cast("double") / F.lit(sk.KMV_HASH_SPACE))
    )
    uest = uest.select("sa", "sb", est_u.alias("est_union"))
    ea = est.select(F.col("source").alias("sa"), F.col("kmv_distinct").alias("est_a"))
    eb = est.select(F.col("source").alias("sb"), F.col("kmv_distinct").alias("est_b"))
    kmv = (
        uest.join(F.broadcast(ea), "sa")
        .join(F.broadcast(eb), "sb")
        .select(
            "sa",
            "sb",
            F.round(
                F.greatest(
                    F.lit(0.0), F.col("est_a") + F.col("est_b") - F.col("est_union")
                )
                / F.col("est_union"),
                4,
            ).alias("kmv_jaccard"),
        )
    )
    # exact audit: per-source distinct token sets, equi-join on the token
    vocab = toks.distinct()
    inter = (
        vocab.alias("a")
        .join(vocab.alias("b"), F.col("a.w") == F.col("b.w"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    exact = (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("sa"), F.col("nv").alias("na"))),
            "sa",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("sb"), F.col("nv").alias("nb"))),
            "sb",
        )
        .select(
            "sa",
            "sb",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                4,
            ).alias("exact_jaccard"),
        )
    )
    return (
        kmv.join(exact, ["sa", "sb"])
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "kmv_jaccard",
            "exact_jaccard",
            F.round(F.abs(F.col("kmv_jaccard") - F.col("exact_jaccard")), 4).alias(
                "abs_err"
            ),
        )
        .orderBy("source_a", "source_b")
    )


EXT_KMV_JACCARD_SQL = r"""
WITH tok AS (
  SELECT source, w FROM (
    SELECT source, UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> ''
),
hs AS (
  SELECT DISTINCT source, CAST(('0x' || SUBSTR(md5(w), 1, 12))::UBIGINT AS BIGINT) AS h
  FROM tok
),
mins AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hs
  ) WHERE rn <= 256
),
est AS (
  SELECT source,
         CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 255.0 / (CAST(MAX(h) AS DOUBLE) / 281474976710656.0) END AS kd
  FROM mins GROUP BY 1
),
srcs AS (SELECT DISTINCT source FROM mins),
pairs AS (
  SELECT a.source AS sa, b.source AS sb FROM srcs a, srcs b WHERE a.source < b.source
),
u AS (
  SELECT DISTINCT sa, sb, h FROM (
    SELECT p.sa, p.sb, m.h FROM pairs p JOIN mins m ON m.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, m.h FROM pairs p JOIN mins m ON m.source = p.sb
  )
),
umins AS (
  SELECT sa, sb, h FROM (
    SELECT sa, sb, h, ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= 256
),
uest AS (
  SELECT sa, sb,
         CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
              ELSE 255.0 / (CAST(MAX(h) AS DOUBLE) / 281474976710656.0) END AS eu
  FROM umins GROUP BY 1, 2
),
kmv AS (
  SELECT u.sa, u.sb,
         ROUND(GREATEST(0.0, ea.kd + eb.kd - u.eu) / u.eu, 4) AS kmv_jaccard
  FROM uest u
  JOIN est ea ON ea.source = u.sa
  JOIN est eb ON eb.source = u.sb
),
vocab AS (SELECT DISTINCT source, w FROM tok),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM vocab GROUP BY 1),
exact AS (
  SELECT i.sa, i.sb,
         ROUND(CAST(i.n_inter AS DOUBLE) / (na.nv + nb.nv - i.n_inter), 4)
           AS exact_jaccard
  FROM inter i
  JOIN sizes na ON na.source = i.sa
  JOIN sizes nb ON nb.source = i.sb
)
SELECT k.sa AS source_a, k.sb AS source_b, k.kmv_jaccard, e.exact_jaccard,
       ROUND(ABS(k.kmv_jaccard - e.exact_jaccard), 4) AS abs_err
FROM kmv k JOIN exact e ON k.sa = e.sa AND k.sb = e.sb
ORDER BY source_a, source_b
"""


def ext_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per day AND per month from ONE bitmap-index
    pass: per (day, bucket) RoaringBitmap-style bitmaps built with the
    engine-native bitmap aggregates (JVM-side, whole-stage codegen), then
    daily counts by summing per-bucket popcounts and monthly counts by
    OR-merging the SAME bitmaps — the mergeable exact-distinct pattern
    that replaces two full re-scans (per-grain count_distinct) with one
    scan + tiny bitmap rollups at 100 TB.

    Output (grain, key, n_users) — 'day' rows from the bitmaps, 'month'
    rows from their OR-merge; both exactly equal the naive
    COUNT(DISTINCT) the oracle runs."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("user_id")
    )
    pos = ev.select(
        "day",
        F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
        F.bitmap_bit_position(F.col("user_id")).alias("pos"),
    )
    day_bm = pos.groupBy("day", "bkt").agg(
        F.bitmap_construct_agg(F.col("pos")).alias("bm")
    )
    daily = day_bm.groupBy("day").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_users")
    )
    monthly = (
        day_bm.select(F.trunc("day", "month").alias("mo"), "bkt", "bm")
        .groupBy("mo", "bkt")
        .agg(F.bitmap_or_agg(F.col("bm")).alias("bm"))
        .groupBy("mo")
        .agg(F.sum(F.bitmap_count(F.col("bm"))).alias("n_users"))
    )
    out = daily.select(
        F.lit("day").alias("grain"),
        F.col("day").cast("string").alias("key"),
        "n_users",
    ).unionByName(
        monthly.select(
            F.lit("month").alias("grain"),
            F.col("mo").cast("string").alias("key"),
            "n_users",
        )
    )
    return out.orderBy("grain", "key")


EXT_BITMAP_DISTINCT_SQL = r"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events)
SELECT grain, key, n_users FROM (
  SELECT 'day' AS grain, CAST(day AS VARCHAR) AS key,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ev GROUP BY day
  UNION ALL
  SELECT 'month' AS grain, CAST(date_trunc('month', day) AS VARCHAR) AS key,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ev GROUP BY date_trunc('month', day)
)
ORDER BY grain, key
"""


EXT_QUERIES.update(
    {
        "ext_kmv_distinct": ext_kmv_distinct,
        "ext_kmv_jaccard": ext_kmv_jaccard,
        "ext_bitmap_distinct": ext_bitmap_distinct,
    }
)
EXT_ORACLES.update(
    {
        "ext_kmv_distinct": EXT_KMV_DISTINCT_SQL,
        "ext_kmv_jaccard": EXT_KMV_JACCARD_SQL,
        "ext_bitmap_distinct": EXT_BITMAP_DISTINCT_SQL,
    }
)


