"""Declared-query waves: round-3 wave: completing the 22 TPC-H query shapes; round-3 wave: distribution drift, robust stats, shard planning; round-3 wave: corpus health + warehouse-classic classification; round-3 wave: incremental ingest dedup, correlation matrix, HDR sketch; round-3 wave: winnow overlap, embedding outliers, readability; round-3 wave: novelty, balancing, integrity; round-3 wave: information-theoretic + survival analytics; round-3 wave: dataset card, quantile norm, negatives, SQL surface.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w03 import *  # noqa: F401,F403


# --- round-3 wave: completing the 22 TPC-H query shapes -----------------------


def ext_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 flavor): for finished
    ('F') orders involving more than one supplier, find the supplier who
    was the ONLY one to ship late (> 90 days after the order date) and
    count such orders per supplier; top-25.

    Scale shape: Q21's EXISTS / NOT-EXISTS pair is collapsed into ONE
    per-order aggregation (distinct suppliers vs distinct late
    suppliers) — the scalable rewrite. lineitem is scanned and joined
    ONCE: the tagged frame collapses to (order, supplier, any_late)
    first, the per-order summary aggregates that already-collapsed
    frame, and the culprit filter joins the two on the SAME orderkey
    partitioning (no second fact-table scan — a naive two-branch reuse
    of the tagged frame would rescan lineitem). Supplier detail
    attaches by broadcast; the head is a k-bounded
    TakeOrderedAndProject, never a global sort.
    """
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    tagged = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .alias("late"),
    )
    # r12: per_os feeds both the per-order summary and the culprit
    # filter — but UNLIKE the pruning-specialized cases, both branches
    # consume the identical (l_orderkey, l_suppkey, late) aggregate, so
    # AQE runtime stage reuse already dedupes the subtree (the executed
    # plan carries ReusedQueryStage; test_waiting_suppliers_pushdown_
    # and_reuse pins it). A persist here only adds materialization cost
    # — measured and reverted.
    per_os = tagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("nl"),
    )
    culprit = per_os.filter(F.col("late")).join(
        per_order.filter((F.col("ns") > 1) & (F.col("nl") == 1)),
        "l_orderkey",
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        culprit.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_waiting_orders"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_waiting_orders")
        .orderBy(F.col("n_waiting_orders").desc(), "s_suppkey")
        .limit(25)
    )


EXT_WAITING_SUPPLIERS_SQL = r"""
WITH tagged AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS ns,
         COUNT(DISTINCT l_suppkey) FILTER (late) AS nl
  FROM tagged GROUP BY 1
),
culprit AS (
  SELECT DISTINCT t.l_orderkey, t.l_suppkey
  FROM tagged t JOIN per_order p ON t.l_orderkey = p.l_orderkey
  WHERE t.late AND p.ns > 1 AND p.nl = 1
)
SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS n_waiting_orders
FROM culprit c JOIN supplier s ON c.l_suppkey = s.s_suppkey
GROUP BY 1, 2
ORDER BY n_waiting_orders DESC, s_suppkey LIMIT 25
"""


def ext_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-share suppliers of promoted parts (TPC-H Q20 flavor):
    among 'small%'-named parts, suppliers whose 1996 shipped volume of a
    part exceeds 1.5x the fair per-supplier share of that part's total —
    Q20's correlated availqty > 0.5*SUM(l_quantity) threshold re-expressed
    against the tables this corpus carries (no partsupp table).

    Scale shape: the name-prefix part filter is scan-pushed and the
    filtered key set broadcasts into lineitem (part side shrinks ~20x
    before the join, the fact table never shuffles for it); volumes
    aggregate per (part, supplier) in one exchange; per-part totals are a
    second agg over the ALREADY-collapsed O(parts x suppliers-in-window)
    frame, joined back on the same part key. The correlated threshold is
    a column compare, never a per-row subquery.
    """
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    agg = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"))
    )
    totals = agg.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("q").alias("tq"), F.count(F.lit(1)).alias("ns")
    )
    excess = agg.join(
        totals, agg["l_partkey"] == totals["t_partkey"]
    ).filter(
        (F.col("ns") > 1)
        & (
            F.col("q").cast("double")
            > 1.5 * F.col("tq").cast("double") / F.col("ns")
        )
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        excess.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_excess_parts"),
            F.sum("q").alias("excess_qty_dec"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            "n_excess_parts",
            F.col("excess_qty_dec").cast("double").alias("excess_qty"),
        )
        .orderBy("s_suppkey")
    )


EXT_EXCESS_SHARE_SQL = r"""
WITH flt AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
),
agg AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS q
  FROM lineitem JOIN flt ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
tot AS (
  SELECT l_partkey, CAST(SUM(q) AS DECIMAL(38,2)) AS tq,
         CAST(COUNT(*) AS BIGINT) AS ns
  FROM agg GROUP BY 1
),
excess AS (
  SELECT a.l_suppkey, a.q
  FROM agg a JOIN tot t ON a.l_partkey = t.l_partkey
  WHERE t.ns > 1 AND CAST(a.q AS DOUBLE) > 1.5 * CAST(t.tq AS DOUBLE) / t.ns
)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_excess_parts,
       CAST(SUM(e.q) AS DOUBLE) AS excess_qty
FROM excess e
JOIN supplier s ON e.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
ORDER BY s_suppkey
"""


EXT_QUERIES.update(
    {
        "ext_waiting_suppliers": ext_waiting_suppliers,
        "ext_excess_share_suppliers": ext_excess_share_suppliers,
    }
)
EXT_ORACLES.update(
    {
        "ext_waiting_suppliers": EXT_WAITING_SUPPLIERS_SQL,
        "ext_excess_share_suppliers": EXT_EXCESS_SHARE_SQL,
    }
)


# --- round-3 wave: distribution drift, robust stats, shard planning -----------


def ext_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust scaling of event values: (value - median) / IQR —
    the outlier-immune sibling of z-score standardization (X51).

    Scale shape: one exchange for the O(groups) exact quantile bounds,
    broadcast back; the event rows never shuffle (see
    features.robust_scale docstring for the 100 TB approx_percentile
    swap)."""
    ev = _t(spark, sf_dir, "events")
    return (
        features.robust_scale(ev, ["event_type"], "value")
        .select("event_id", "event_type", "value", "robust_z")
        .orderBy("event_id")
    )


EXT_ROBUST_SCALE_SQL = r"""
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.5)  AS med,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN q.q3 - q.q1 > 0
            THEN ROUND((e.value - q.med) / (q.q3 - q.q1), 6) END AS robust_z
FROM events e JOIN q USING (event_type)
ORDER BY event_id
"""


_PSI_EDGES = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0]  # 8 bins


def _psi_bin(col):
    expr = None
    for i, e in enumerate(_PSI_EDGES):
        cond = col < e
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    return expr.otherwise(len(_PSI_EDGES))


def ext_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the first half
    of the month (reference) and the second (current) — THE
    feature-drift gate a training pipeline runs before every refresh
    (PSI < 0.1 stable, > 0.25 action).

    Scale shape: row-local fixed-edge binning (scan-fused, no
    data-dependent bucketing), one (type x 8-bin) partial-agged
    exchange, the full grid materialized by an O(types x bins) explode
    so empty bins still contribute their smoothed term, broadcast
    per-type totals. Laplace 0.5 smoothing keeps ln() finite and is
    mirrored exactly in the oracle."""
    cutoff = F.lit("2024-01-16").cast("timestamp")
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        _psi_bin(F.col("value")).alias("bin"),
        (F.col("ts") < cutoff).alias("is_ref"),
    )
    cells = ev.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("cur_n"),
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("ref_n").alias("ref_t"), F.sum("cur_n").alias("cur_t")
    )
    n_bins = len(_PSI_EDGES) + 1
    grid = totals.select(
        "event_type", "ref_t", "cur_t",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    full = grid.join(cells, ["event_type", "bin"], "left").select(
        "event_type", "ref_t", "cur_t", "bin",
        F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
    )
    p_ref = (F.col("ref_n") + 0.5) / (F.col("ref_t") + 0.5 * n_bins)
    p_cur = (F.col("cur_n") + 0.5) / (F.col("cur_t") + 0.5 * n_bins)
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        full.withColumn("__term", term)
        .groupBy("event_type")
        .agg(
            F.max("ref_t").alias("n_ref"),
            F.max("cur_t").alias("n_cur"),
            F.round(F.sum("__term"), 6).alias("psi"),
        )
        .orderBy("event_type")
    )


EXT_PSI_DRIFT_SQL = r"""
WITH ev AS (
  SELECT event_type,
         CASE WHEN value < 5 THEN 0 WHEN value < 10 THEN 1
              WHEN value < 20 THEN 2 WHEN value < 40 THEN 3
              WHEN value < 80 THEN 4 WHEN value < 160 THEN 5
              WHEN value < 320 THEN 6 ELSE 7 END AS bin,
         ts < TIMESTAMP '2024-01-16' AS is_ref
  FROM events
),
cells AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
         CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
  FROM ev GROUP BY 1, 2
),
totals AS (
  SELECT event_type, CAST(SUM(ref_n) AS BIGINT) AS ref_t,
         CAST(SUM(cur_n) AS BIGINT) AS cur_t
  FROM cells GROUP BY 1
),
grid AS (
  SELECT t.event_type, t.ref_t, t.cur_t, g.bin
  FROM totals t CROSS JOIN (SELECT UNNEST(range(8)) AS bin) g
),
full_grid AS (
  SELECT g.event_type, g.ref_t, g.cur_t, g.bin,
         COALESCE(c.ref_n, 0) AS ref_n, COALESCE(c.cur_n, 0) AS cur_n
  FROM grid g LEFT JOIN cells c
    ON g.event_type = c.event_type AND g.bin = c.bin
)
SELECT event_type, MAX(ref_t) AS n_ref, MAX(cur_t) AS n_cur,
       ROUND(SUM(
         ((cur_n + 0.5) / (cur_t + 4.0) - (ref_n + 0.5) / (ref_t + 4.0))
         * LN(((cur_n + 0.5) / (cur_t + 4.0)) / ((ref_n + 0.5) / (ref_t + 4.0)))
       ), 6) AS psi
FROM full_grid GROUP BY event_type ORDER BY event_type
"""


def ext_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the 'click' and
    'purchase' value distributions, computed on a fixed unit grid
    (bucket = ceil(value)) — the distribution-shift test a pipeline runs
    between data sources or time windows.

    Scale shape: exact KS needs a global sort of both samples; on the
    fixed grid it collapses to one O(grid) partial-agged exchange + a
    running sum over the ~500-bucket axis (a window over the GRID, never
    over data rows — same O(days)-axis pattern as the moving average).
    Grid resolution bounds the KS error at max|F'-F| <= max bucket mass.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.ceil("value").cast("long").alias("bucket"),
            (F.col("event_type") == "click").alias("is_a"),
        )
    )
    cells = ev.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("nb"),
    )
    totals = cells.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = cells.crossJoin(F.broadcast(totals)).select(
        "ta",
        "tb",
        (F.sum("na").over(w).cast("double") / F.col("ta")).alias("fa"),
        (F.sum("nb").over(w).cast("double") / F.col("tb")).alias("fb"),
    )
    return cdf.agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat"),
        F.max("ta").alias("n_a"),
        F.max("tb").alias("n_b"),
    )


EXT_KS_DRIFT_SQL = r"""
WITH ev AS (
  SELECT CAST(CEIL(value) AS BIGINT) AS bucket,
         event_type = 'click' AS is_a
  FROM events WHERE event_type IN ('click', 'purchase')
),
cells AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
  FROM ev GROUP BY 1
),
tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM cells),
cdf AS (
  SELECT ta, tb,
         CAST(SUM(na) OVER (ORDER BY bucket) AS DOUBLE) / ta AS fa,
         CAST(SUM(nb) OVER (ORDER BY bucket) AS DOUBLE) / tb AS fb
  FROM cells CROSS JOIN tot
)
SELECT ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat,
       MAX(ta) AS n_a, MAX(tb) AS n_b
FROM cdf
"""


def ext_dist_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moment sketch per event type: count and exact integer
    power sums (Sx..Sx4 over value scaled to cents) folded into mean /
    stddev / skewness / excess kurtosis — the algebraic
    partial-aggregable form (every sum map-side combines; two sketches
    merge by adding sums, which is how a 1000-executor rollup or a
    streaming maintenance job would keep it).

    Exactness: values carry 2 decimals, so cents are EXACT integers;
    sums stay in decimal(38,0) (iv^4 <= 5.8e18 fits a long per-term) —
    both engines produce bit-identical sums, and the double conversion
    happens once at the end. A naive SUM(pow(value, k)) of doubles
    would diverge in the last ulp with partial-agg order."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    iv = F.col("iv")
    # powers multiply in DECIMAL: iv^4 exceeds long range once values pass
    # ~548.00 (56021^4 > 2^63) — ANSI mode would throw at the larger SFs
    ivd = iv.cast("decimal(19,0)")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(iv.cast("decimal(38,0)")).alias("s1"),
        F.sum((ivd * ivd).cast("decimal(38,0)")).alias("s2"),
        F.sum((ivd * ivd * ivd).cast("decimal(38,0)")).alias("s3"),
        F.sum((ivd * ivd * ivd * ivd).cast("decimal(38,0)")).alias("s4"),
    )
    n = F.col("n").cast("double")
    # raw moments of the cent-scaled variable, then de-scale by 100^k
    m1 = F.col("s1").cast("double") / n / 1e2
    m2 = F.col("s2").cast("double") / n / 1e4
    m3 = F.col("s3").cast("double") / n / 1e6
    m4 = F.col("s4").cast("double") / n / 1e8
    c2 = m2 - m1 * m1
    c3 = m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1
    c4 = m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
    return agg.select(
        "event_type",
        "n",
        F.round(m1, 6).alias("mean"),
        F.round(F.sqrt(c2), 6).alias("stddev_pop"),
        F.round(c3 / F.pow(c2, 1.5), 6).alias("skewness"),
        F.round(c4 / (c2 * c2) - 3.0, 6).alias("kurtosis_excess"),
    ).orderBy("event_type")


EXT_DIST_MOMENTS_SQL = r"""
WITH ev AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS iv FROM events
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(iv AS HUGEINT)) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(iv AS HUGEINT) * iv) AS DECIMAL(38,0)) AS s2,
         CAST(SUM(CAST(iv AS HUGEINT) * iv * iv) AS DECIMAL(38,0)) AS s3,
         CAST(SUM(CAST(iv AS HUGEINT) * iv * iv * iv) AS DECIMAL(38,0)) AS s4
  FROM ev GROUP BY 1
),
m AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / n / 1e2 AS m1,
         CAST(s2 AS DOUBLE) / n / 1e4 AS m2,
         CAST(s3 AS DOUBLE) / n / 1e6 AS m3,
         CAST(s4 AS DOUBLE) / n / 1e8 AS m4
  FROM agg
)
SELECT event_type, n,
       ROUND(m1, 6) AS mean,
       ROUND(SQRT(m2 - m1*m1), 6) AS stddev_pop,
       ROUND((m3 - 3*m1*m2 + 2*m1*m1*m1) / POW(m2 - m1*m1, 1.5), 6) AS skewness,
       ROUND((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1)
             / ((m2 - m1*m1) * (m2 - m1*m1)) - 3.0, 6) AS kurtosis_excess
FROM m ORDER BY event_type
"""


def ext_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard planner: deterministic hash assignment of documents
    to 16 shards plus the per-shard manifest (docs, whitespace tokens,
    utf-8 bytes) a distributed training job reads to schedule epochs.

    Scale shape: the shard id is a row-local portable md5 bucket (zero
    shuffle to assign, stable under appends/subsetting like the
    train/val split); the manifest is one 16-group partial-agged
    exchange. Byte/token accounting is scan-fused."""
    from aircan_spark.ext.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.select(
            F.pmod(hash_bucket(F.col("doc_id"), seed=7), F.lit(16)).alias("shard"),
            toks.alias("__t"),
            F.octet_length("text").alias("__b"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("n_tokens"),
            F.sum("__b").alias("n_bytes"),
        )
        .orderBy("shard")
    )


EXT_SHARD_MANIFEST_SQL = r"""
WITH b AS (
  SELECT (('0x' || SUBSTR(md5('7-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
          % 10000) % 16 AS shard,
         LEN(string_split_regex(TRIM(text), '\s+')) AS t,
         strlen(text) AS bts
  FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t) AS BIGINT) AS n_tokens,
       CAST(SUM(bts) AS BIGINT) AS n_bytes
FROM b GROUP BY shard ORDER BY shard
"""


EXT_QUERIES.update(
    {
        "ext_robust_scale": ext_robust_scale,
        "ext_psi_drift": ext_psi_drift,
        "ext_ks_drift": ext_ks_drift,
        "ext_dist_moments": ext_dist_moments,
        "ext_shard_manifest": ext_shard_manifest,
    }
)
EXT_ORACLES.update(
    {
        "ext_robust_scale": EXT_ROBUST_SCALE_SQL,
        "ext_psi_drift": EXT_PSI_DRIFT_SQL,
        "ext_ks_drift": EXT_KS_DRIFT_SQL,
        "ext_dist_moments": EXT_DIST_MOMENTS_SQL,
        "ext_shard_manifest": EXT_SHARD_MANIFEST_SQL,
    }
)


def ext_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity proxy (see text.bigram_nll):
    context-aware quality scoring — word-salad detection the unigram
    model cannot do."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.bigram_nll(docs)
        .select("doc_id", "mean_bigram_nll", "n_bigrams")
        .orderBy("doc_id")
    )


EXT_BIGRAM_NLL_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS ws
  FROM documents
),
idx AS (
  SELECT doc_id, ws, UNNEST(range(1, len(ws))) AS i
  FROM toks WHERE len(ws) >= 2
),
pairs AS (
  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i + 1] AS gram FROM idx
),
big AS (SELECT gram, COUNT(*) AS cab FROM pairs GROUP BY 1),
ctx AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY 1),
v AS (
  SELECT COUNT(DISTINCT w) AS vs FROM (
    SELECT UNNEST(string_split(gram, ' ')) AS w FROM big
  )
),
sc AS (
  SELECT p.doc_id, -LN((b.cab + 0.5) / (c.c1 + 0.5 * v.vs)) AS nll
  FROM pairs p JOIN big b USING (gram) JOIN ctx c USING (w1) CROSS JOIN v
)
SELECT doc_id, ROUND(AVG(nll), 6) AS mean_bigram_nll,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM sc GROUP BY doc_id ORDER BY doc_id
"""


def ext_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib redundancy signal per document (text.compression_stats) —
    non-SQL-expressible (no deflate in DuckDB), rows-only gate;
    determinism + directional properties pinned in tests/test_ext.py."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.compression_stats(docs)
        .select("doc_id", "n_raw_bytes", "n_deflate_bytes", "compression_ratio")
        .orderBy("doc_id")
    )


def ext_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy name match (X72
    pairs) -> connected components (X41 hash-min propagation) ->
    cluster id + cluster size per customer; singleton customers keep
    their own id as the cluster. The full dedup-merge pipeline a
    master-data / golden-record job runs.

    Scale shape (r10 value-space collapse — the duplicate-heavy corpus
    lesson): instances collapse to DISTINCT names first (super-node =
    min custkey of the name group), the fuzzy block join and CC run
    over distinct names only, and labels expand back through one
    name-keyed join. EXACTLY equivalent to instance-level CC: same-name
    instances always share a block at distance 0 (one super-node), two
    distinct names edge iff they would at instance level (the block key
    derives from the name), and hash-min's component label — min
    super-node id = min group-min custkey — IS the instance-level min
    custkey. Verbatim-duplicated corpora (names are not salted by the
    replicator, and real MDM data is exactly this shape) made the
    instance graph quadratic in multiplicity: 100x-salted had ~7.4e7
    instance edges (2976s); the distinct-name graph has ~15k nodes.
    Fixture corpora have unique names, so the collapse is a semantic
    no-op there (devcheck bit-identical; the oracle still runs the
    instance-level recursive CTE, so every sweep is a cross-formulation
    equivalence proof)."""
    from aircan_spark.ext import entity

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # NULL names route around the collapse: a NULL block key never
    # equi-joins, so at instance level every NULL-named customer is its
    # own singleton — groupBy would instead merge them all (NULL=NULL in
    # grouping) and the name-keyed expansion join would then drop them
    named = cust.filter(F.col("c_name").isNotNull())
    # r12: `vals` feeds both sides of the blocked fuzzy join (executed
    # EAGERLY when CC checkpoints the edge list at construction) and the
    # label-expansion join — the distinct-name collapse re-ran per
    # consumer. Data-proportional -> DISK_ONLY.
    vals = share(
        named.groupBy("c_name").agg(
            F.min("c_custkey").alias("vid"), F.count(F.lit(1)).alias("vn")
        ),
        big=True,
    )
    vpairs = entity.fuzzy_self_join(
        vals, "vid", "c_name", max_dist=1, tail=2
    ).select("id_a", "id_b")
    comp = dedup.connected_components(vpairs)
    vlabeled = vals.join(
        comp.withColumnRenamed("id", "vid"), "vid", "left"
    ).select(
        "c_name",
        "vn",
        F.coalesce("component", F.col("vid")).alias("cluster"),
    )
    sizes = vlabeled.groupBy("cluster").agg(
        F.sum("vn").alias("cluster_size")
    )
    labeled = named.join(vlabeled.select("c_name", "cluster"), "c_name")
    # no broadcast hint on sizes: O(clusters) approaches O(customers)
    # when names are mostly unique (the no-duplicate regime) — let AQE
    # pick the strategy from runtime stats
    out = labeled.join(sizes, "cluster").select(
        "c_custkey", "cluster", "cluster_size"
    )
    null_singletons = cust.filter(F.col("c_name").isNull()).select(
        "c_custkey",
        F.col("c_custkey").alias("cluster"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    return out.unionByName(null_singletons).orderBy("c_custkey")


EXT_ENTITY_CLUSTERS_SQL = r"""
WITH RECURSIVE k AS (
  SELECT c_custkey AS id, c_name AS name,
         SUBSTR(c_name, 1, GREATEST(LENGTH(c_name) - 2, 0)) AS block
  FROM customer
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM k a JOIN k b ON a.block = b.block AND a.id < b.id
  WHERE levenshtein(a.name, b.name) <= 1
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, comp) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (
  SELECT id AS c_custkey, MIN(comp) AS cluster FROM reach GROUP BY id
),
sizes AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM lab GROUP BY 1
)
SELECT l.c_custkey, l.cluster, s.cluster_size
FROM lab l JOIN sizes s USING (cluster)
ORDER BY c_custkey
"""


EXT_QUERIES.update(
    {
        "ext_bigram_nll": ext_bigram_nll,
        "ext_compression_ratio": ext_compression_ratio,
        "ext_entity_clusters": ext_entity_clusters,
    }
)
EXT_ORACLES.update(
    {
        "ext_bigram_nll": EXT_BIGRAM_NLL_SQL,
        "ext_entity_clusters": EXT_ENTITY_CLUSTERS_SQL,
    }
)


# --- round-3 wave: corpus health + warehouse-classic classification -----------


def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between corpus sources: Jaccard similarity of
    the distinct-token sets for every source pair — the corpus-level
    contamination/redundancy map (two feeds with near-identical
    vocabulary are candidates for near-dup sweeps before training).

    Scale shape: one exchange builds distinct (source, token) pairs,
    collapsed to a token -> sorted-source-array inverted index (arrays
    bounded by the FEED count, not the corpus); pair intersections are
    a row-local HOF expansion over that index (never a token self-join
    whose hot tokens fan out quadratically in DATA size), and
    per-source vocabulary sizes derive from the SAME index subtree
    (AQE reuses the exchange) before broadcasting onto the
    O(sources^2) result."""
    docs = _t(spark, sf_dir, "documents")
    idx = (
        docs.select(
            "source",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .distinct()
        .groupBy("w")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
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
    inter = (
        idx.select(F.explode(combos).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = (
        idx.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("v").alias("v_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("v").alias("v_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "v_a",
            "v_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("v_a") + F.col("v_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


EXT_SOURCE_OVERLAP_SQL = r"""
WITH toks AS (
  SELECT DISTINCT source, w FROM (
    SELECT source,
           UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> ''
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM toks GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM toks a JOIN toks b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, sa.v AS v_a, sb.v AS v_b, i.n_common,
       ROUND(CAST(i.n_common AS DOUBLE) / (sa.v + sb.v - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
ORDER BY source_a, source_b
"""


def ext_encoding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-health audit: replacement-character (U+FFFD)
    document rate, mean non-ASCII ratio, mean C0-control ratio — the
    mojibake/double-decode detector a crawl pipeline runs per feed
    before text ever reaches tokenization. Row-local regexp counting,
    one O(sources) exchange."""
    docs = _t(spark, sf_dir, "documents")
    L = F.greatest(F.length("text"), F.lit(1)).cast("double")
    return (
        docs.select(
            "source",
            F.col("text").contains("�").cast("int").alias("has_repl"),
            (F.regexp_count(F.col("text"), F.lit(r"[^\x00-\x7F]")) / L).alias("nonascii"),
            (
                F.regexp_count(
                    F.col("text"), F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")
                )
                / L
            ).alias("control"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_repl").alias("n_replacement_docs"),
            F.round(F.avg("nonascii"), 6).alias("mean_nonascii_ratio"),
            F.round(F.avg("control"), 6).alias("mean_control_ratio"),
        )
        .orderBy("source")
    )


EXT_ENCODING_HEALTH_SQL = r"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_replacement_docs,
       ROUND(AVG(CAST(LEN(regexp_extract_all(text, '[^\x00-\x7F]')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1)), 6) AS mean_nonascii_ratio,
       ROUND(AVG(CAST(LEN(regexp_extract_all(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1)), 6) AS mean_control_ratio
FROM documents GROUP BY source ORDER BY source
"""


def ext_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory classification per part: revenue class (A =
    above the 95th percentile of per-part revenue, B = above the 80th,
    C = rest — the scale-safe quantile variant of cumulative-share ABC;
    the exact cumulative form is the ext_gini numbering pattern) and
    demand-variability class from the coefficient of variation of
    monthly shipped quantity (X <= 0.35 steady, Y <= 0.6, Z erratic).

    Scale shape: lineitem is scanned and exchanged ONCE into the
    (part, month) grid carrying BOTH quantity and revenue partials;
    per-part revenue and the CV moment sums are second-level aggs over
    that already-collapsed grid sharing an identical subtree (AQE
    reuses the shuffle stage, so the fact table is not rescanned for
    the second branch); the two scalar thresholds broadcast. No global
    sort, no per-part windows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("iq"),
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    # r12: the (part, month) grid feeds three branches (revenue rollup,
    # CV moments, and through `rev` the percentile thresholds); the
    # branches prune different columns (mrev vs mq), so their partial
    # aggregates — and exchanges — canonicalize differently and the
    # fact table was re-scanned per branch. DISK_ONLY persist (the
    # data-proportional discipline) computes the grid once.
    monthly = share(
        li.groupBy("l_partkey", "m")
        .agg(
            F.sum("iq").alias("mq"),
            F.sum("rev").cast("decimal(38,12)").alias("mrev"),
        ),
        big=True,
    )
    rev = monthly.groupBy("l_partkey").agg(
        F.sum("mrev").cast("decimal(38,12)").alias("revenue")
    )
    thr = rev.agg(
        F.expr("percentile(CAST(revenue AS DOUBLE), 0.95)").alias("t95"),
        F.expr("percentile(CAST(revenue AS DOUBLE), 0.80)").alias("t80"),
    )
    mq = F.col("mq")
    cvf = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_m"),
        F.sum(mq.cast("decimal(38,0)")).alias("s1"),
        F.sum(mq.cast("decimal(19,0)") * mq.cast("decimal(19,0)")).alias("s2"),
    )
    n = F.col("n_m").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    cv = F.sqrt(s2 / n - (s1 / n) * (s1 / n)) / (s1 / n)
    classified = (
        rev.join(cvf, "l_partkey")
        .crossJoin(F.broadcast(thr))
        .select(
            "l_partkey",
            F.col("revenue").cast("double").alias("revenue"),
            F.when(F.col("revenue").cast("double") > F.col("t95"), "A")
            .when(F.col("revenue").cast("double") > F.col("t80"), "B")
            .otherwise("C")
            .alias("abc_class"),
            F.round(cv, 6).alias("demand_cv"),
            F.when(cv <= 0.35, "X").when(cv <= 0.6, "Y").otherwise("Z").alias("xyz_class"),
        )
    )
    return classified.orderBy("l_partkey")


EXT_ABC_XYZ_SQL = r"""
WITH li AS (
  SELECT l_partkey, l_shipdate,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS iq,
         CAST(l_extendedprice AS DECIMAL(18,6))
           * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS rev
  FROM lineitem
),
rev AS (
  -- DECIMAL -> DOUBLE via VARCHAR (the repo's string-route discipline):
  -- DuckDB's direct DECIMAL(38,12)->DOUBLE cast divides int128 by 1e12
  -- in double and lands 1 ULP off correct rounding on ~0.4% of values,
  -- while Spark's BigDecimal conversion rounds correctly — the r9
  -- bit-exact sweep caught 8/2000 revenue cells diverging at sf0.01;
  -- VARCHAR->DOUBLE (strtod) is correctly rounded at any magnitude
  SELECT l_partkey,
         CAST(CAST(CAST(SUM(rev) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE)
           AS revenue
  FROM li GROUP BY 1
),
thr AS (
  SELECT quantile_cont(revenue, 0.95) AS t95,
         quantile_cont(revenue, 0.80) AS t80
  FROM rev
),
monthly AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
         CAST(SUM(iq) AS BIGINT) AS mq
  FROM li GROUP BY 1, 2
),
cvf AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_m,
         CAST(SUM(CAST(mq AS HUGEINT)) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(mq AS HUGEINT) * mq) AS DECIMAL(38,0)) AS s2
  FROM monthly GROUP BY 1
)
SELECT r.l_partkey AS l_partkey,
       r.revenue AS revenue,
       CASE WHEN r.revenue > t.t95 THEN 'A'
            WHEN r.revenue > t.t80 THEN 'B'
            ELSE 'C' END AS abc_class,
       ROUND(SQRT(CAST(c.s2 AS DOUBLE) / c.n_m
                  - (CAST(c.s1 AS DOUBLE) / c.n_m) * (CAST(c.s1 AS DOUBLE) / c.n_m))
             / (CAST(c.s1 AS DOUBLE) / c.n_m), 6) AS demand_cv,
       CASE WHEN SQRT(CAST(c.s2 AS DOUBLE) / c.n_m
                      - (CAST(c.s1 AS DOUBLE) / c.n_m) * (CAST(c.s1 AS DOUBLE) / c.n_m))
                 / (CAST(c.s1 AS DOUBLE) / c.n_m) <= 0.35 THEN 'X'
            WHEN SQRT(CAST(c.s2 AS DOUBLE) / c.n_m
                      - (CAST(c.s1 AS DOUBLE) / c.n_m) * (CAST(c.s1 AS DOUBLE) / c.n_m))
                 / (CAST(c.s1 AS DOUBLE) / c.n_m) <= 0.6 THEN 'Y'
            ELSE 'Z' END AS xyz_class
FROM rev r JOIN cvf c ON r.l_partkey = c.l_partkey
CROSS JOIN thr t
ORDER BY l_partkey
"""


def ext_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over parts co-purchased in the
    same order: support, directional confidences, and lift for the
    top-100 most frequent part pairs (min pair count 2) — the
    recommendation-mining classic, built on the X160 co-occurrence
    shape.

    Scale shape: the fact table is scanned ONCE and collapsed to
    per-order sorted item ARRAYS (one exchange); pair expansion is a
    row-local HOF over each basket (fan-out bounded by basket size
    squared, never item-keyed, no self-join), and the basket frame's
    identical subtree feeds pair counts, item counts, and the
    basket-count scalar (AQE reuses the shuffle stage across the three
    branches); k-bounded head."""
    li = _t(spark, sf_dir, "lineitem")
    # r12: the basket frame feeds pair expansion, item counts and the
    # basket-count scalar; per-branch pruning kept the three subtrees
    # from sharing a stage, so the distinct+collect_set pipeline ran
    # three times. Eager checkpoint (big=True: data-proportional
    # arrays -> DISK_ONLY/reliable, the r7 discipline) runs it once;
    # object-scoped, so ext_communities' textually identical basket
    # plan is NOT cross-query shared.
    from aircan_spark.data import checkpoint as _ckpt

    baskets = _ckpt(
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items")),
        big=True,
    )
    items_col = F.col("items")
    combos = F.flatten(
        F.transform(
            items_col,
            lambda x, i: F.transform(
                F.slice(items_col, i + 2, F.size(items_col)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(combos).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    items = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pairs.join(
            F.broadcast(items.select(F.col("l_partkey").alias("pa"), F.col("n_item").alias("n_a"))),
            "pa",
        )
        .join(
            F.broadcast(items.select(F.col("l_partkey").alias("pb"), F.col("n_item").alias("n_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "n_pair",
            F.round(F.col("n_pair").cast("double") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_pair").cast("double") / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("n_pair").cast("double") / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("n_pair").cast("double") * F.col("n_orders")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_pair").desc(), "pa", "pb")
        .limit(100)
    )


EXT_ASSOCIATION_RULES_SQL = r"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
items AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item FROM op GROUP BY 1),
tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op)
SELECT p.pa, p.pb, p.n_pair,
       ROUND(CAST(p.n_pair AS DOUBLE) / t.n_orders, 6) AS support,
       ROUND(CAST(p.n_pair AS DOUBLE) / ia.n_item, 6) AS conf_a_to_b,
       ROUND(CAST(p.n_pair AS DOUBLE) / ib.n_item, 6) AS conf_b_to_a,
       ROUND(CAST(p.n_pair AS DOUBLE) * t.n_orders / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
FROM pairs p
JOIN items ia ON p.pa = ia.l_partkey
JOIN items ib ON p.pb = ib.l_partkey
CROSS JOIN tot t
ORDER BY n_pair DESC, pa, pb LIMIT 100
"""


def ext_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order vs the
    corpus max date), frequency (order count), monetary (lifetime
    spend), each scored 1-5 by strict-greater comparison against the
    20/40/60/80th percentile thresholds — the classic CRM segmentation.

    Scale shape: one per-customer exchange; the 12 threshold scalars
    broadcast; scores are row-local CASE arithmetic (no NTILE — a
    global ntile would single-task the customer axis)."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary_dec"),
    )
    maxd = orders.agg(F.max("o_orderdate").alias("maxd"))
    per = per.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("maxd"), F.col("last_order")).alias("recency_days"),
        "frequency",
        F.col("monetary_dec").cast("double").alias("monetary"),
    )
    thr = per.agg(
        *[
            F.expr(f"percentile({c}, {q})").alias(f"{c[0]}{int(q * 100)}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (0.2, 0.4, 0.6, 0.8)
        ]
    )

    def score(col, pfx, invert=False):
        s = sum(
            (F.col(col) > F.col(f"{pfx}{q}")).cast("int") for q in (20, 40, 60, 80)
        )
        return (F.lit(5) - s) if invert else (F.lit(1) + s)

    return (
        per.crossJoin(F.broadcast(thr))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            F.round("monetary", 2).alias("monetary"),
            score("recency_days", "r", invert=True).alias("r_score"),
            score("frequency", "f").alias("f_score"),
            score("monetary", "m").alias("m_score"),
        )
        .withColumn(
            "segment",
            F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")),
        )
        .orderBy("o_custkey")
    )


EXT_RFM_SQL = r"""
WITH per AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
),
maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
base AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_order, maxd) AS INT) AS recency_days,
         frequency, monetary
  FROM per CROSS JOIN maxd
),
thr AS (
  SELECT quantile_cont(recency_days, 0.2) AS r20, quantile_cont(recency_days, 0.4) AS r40,
         quantile_cont(recency_days, 0.6) AS r60, quantile_cont(recency_days, 0.8) AS r80,
         quantile_cont(frequency, 0.2) AS f20, quantile_cont(frequency, 0.4) AS f40,
         quantile_cont(frequency, 0.6) AS f60, quantile_cont(frequency, 0.8) AS f80,
         quantile_cont(monetary, 0.2) AS m20, quantile_cont(monetary, 0.4) AS m40,
         quantile_cont(monetary, 0.6) AS m60, quantile_cont(monetary, 0.8) AS m80
  FROM base
)
SELECT b.o_custkey, b.recency_days, b.frequency, ROUND(b.monetary, 2) AS monetary,
       5 - ((b.recency_days > t.r20)::INT + (b.recency_days > t.r40)::INT
            + (b.recency_days > t.r60)::INT + (b.recency_days > t.r80)::INT) AS r_score,
       1 + ((b.frequency > t.f20)::INT + (b.frequency > t.f40)::INT
            + (b.frequency > t.f60)::INT + (b.frequency > t.f80)::INT) AS f_score,
       1 + ((b.monetary > t.m20)::INT + (b.monetary > t.m40)::INT
            + (b.monetary > t.m60)::INT + (b.monetary > t.m80)::INT) AS m_score,
       CAST(5 - ((b.recency_days > t.r20)::INT + (b.recency_days > t.r40)::INT
            + (b.recency_days > t.r60)::INT + (b.recency_days > t.r80)::INT) AS VARCHAR)
       || CAST(1 + ((b.frequency > t.f20)::INT + (b.frequency > t.f40)::INT
            + (b.frequency > t.f60)::INT + (b.frequency > t.f80)::INT) AS VARCHAR)
       || CAST(1 + ((b.monetary > t.m20)::INT + (b.monetary > t.m40)::INT
            + (b.monetary > t.m60)::INT + (b.monetary > t.m80)::INT) AS VARCHAR) AS segment
FROM base b CROSS JOIN thr t
ORDER BY o_custkey
"""


def ext_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over daily event value totals:
    positive CUSUM via the cumulative-sum-minus-running-minimum
    identity (s_t = S_t - min_{j<=t} S_j with S = cumsum(x - mean)),
    flagged where the statistic exceeds one population stddev — the
    monitoring primitive for level shifts in a metric stream.

    Scale shape: the data collapses to the O(days) axis in one exact
    integer-cent exchange; mean/std broadcast as scalars; the recursive
    CUSUM definition becomes two windows over the tiny DAY axis (the
    O(days)-axis window pattern, never over raw rows)."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    daily = ev.groupBy("day").agg(F.sum(F.col("iv").cast("decimal(38,0)")).alias("x"))
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        (F.col("sx").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            F.col("sxx").cast("double") / F.col("n")
            - (F.col("sx").cast("double") / F.col("n"))
            * (F.col("sx").cast("double") / F.col("n"))
        ).alias("std"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn("S", F.sum(F.col("x").cast("double") - F.col("mean")).over(w))
        .withColumn("S_min", F.min(F.least(F.col("S"), F.lit(0.0))).over(w))
    )
    return cum.select(
        F.col("day").cast("string").alias("day"),
        F.round(F.col("x").cast("double") / 100.0, 2).alias("daily_total"),
        F.round((F.col("S") - F.col("S_min")) / 100.0, 6).alias("cusum_pos"),
        ((F.col("S") - F.col("S_min")) > F.col("std")).alias("changepoint"),
    ).orderBy("day")


EXT_CUSUM_SQL = r"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, CAST(ROUND(value * 100) AS BIGINT) AS iv
  FROM events
),
daily AS (
  SELECT day, CAST(SUM(CAST(iv AS HUGEINT)) AS DECIMAL(38,0)) AS x
  FROM ev GROUP BY 1
),
stats AS (
  SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean,
         SQRT(CAST(SUM(x*x) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(x) AS DOUBLE) / COUNT(*)) * (CAST(SUM(x) AS DOUBLE) / COUNT(*))) AS std
  FROM daily
),
cum AS (
  SELECT d.day, d.x, s.mean, s.std,
         SUM(CAST(d.x AS DOUBLE) - s.mean) OVER (ORDER BY d.day) AS S
  FROM daily d CROSS JOIN stats s
),
cm AS (
  SELECT day, x, std, S,
         MIN(LEAST(S, 0.0)) OVER (ORDER BY day) AS S_min
  FROM cum
)
SELECT CAST(day AS VARCHAR) AS day,
       ROUND(CAST(x AS DOUBLE) / 100.0, 2) AS daily_total,
       ROUND((S - S_min) / 100.0, 6) AS cusum_pos,
       (S - S_min) > std AS changepoint
FROM cm ORDER BY day
"""


EXT_QUERIES.update(
    {
        "ext_source_overlap": ext_source_overlap,
        "ext_encoding_health": ext_encoding_health,
        "ext_abc_xyz": ext_abc_xyz,
        "ext_association_rules": ext_association_rules,
        "ext_rfm_segments": ext_rfm_segments,
        "ext_cusum_changepoint": ext_cusum_changepoint,
    }
)
EXT_ORACLES.update(
    {
        "ext_source_overlap": EXT_SOURCE_OVERLAP_SQL,
        "ext_encoding_health": EXT_ENCODING_HEALTH_SQL,
        "ext_abc_xyz": EXT_ABC_XYZ_SQL,
        "ext_association_rules": EXT_ASSOCIATION_RULES_SQL,
        "ext_rfm_segments": EXT_RFM_SQL,
        "ext_cusum_changepoint": EXT_CUSUM_SQL,
    }
)


# --- round-3 wave: incremental ingest dedup, correlation matrix, HDR sketch ---


def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup gate: for a NEW batch of documents
    (doc_id % 5 == 0 — a scale-invariant synthetic split), flag each
    doc as a duplicate of the EXISTING corpus (normalized-content hash
    already present) and/or a duplicate within its own batch (not the
    batch's first occurrence of the hash); `keep` is the admission
    decision. This is the nightly-crawl admission filter — dedup
    against 100 TB of history WITHOUT rescanning it (the corpus side
    collapses to its distinct hash set).

    Scale shape: corpus hashes collapse via one distinct on the hash
    key; the batch left-joins that set (equi-join on an 8-byte-able
    key), and within-batch firsts come from a min-id per hash on the
    SMALL batch only."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary")
    )
    hashed = docs.select("doc_id", h.alias("h"))
    corpus = hashed.filter(F.col("doc_id") % 5 != 0).select("h").distinct()
    batch = hashed.filter(F.col("doc_id") % 5 == 0)
    firsts = batch.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    return (
        batch.join(
            corpus.withColumn("__in_corpus", F.lit(True)), "h", "left"
        )
        .join(firsts, "h")
        .select(
            "doc_id",
            F.coalesce("__in_corpus", F.lit(False)).alias("is_corpus_dup"),
            (F.col("doc_id") != F.col("first_id")).alias("is_batch_dup"),
        )
        .withColumn(
            "keep", ~F.col("is_corpus_dup") & ~F.col("is_batch_dup")
        )
        .orderBy("doc_id")
    )


EXT_INCREMENTAL_DEDUP_SQL = r"""
WITH hashed AS (
  SELECT doc_id,
         md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS h
  FROM documents
),
corpus AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 5 <> 0),
batch AS (SELECT doc_id, h FROM hashed WHERE doc_id % 5 = 0),
firsts AS (SELECT h, MIN(doc_id) AS first_id FROM batch GROUP BY 1)
SELECT b.doc_id,
       (c.h IS NOT NULL) AS is_corpus_dup,
       (b.doc_id <> f.first_id) AS is_batch_dup,
       (c.h IS NULL AND b.doc_id = f.first_id) AS keep
FROM batch b
LEFT JOIN corpus c ON b.h = c.h
JOIN firsts f ON b.h = f.h
ORDER BY doc_id
"""


def ext_type_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series correlation matrix: Pearson correlation between the
    DAILY value totals of every event-type pair — the metric-coupling
    map (which KPIs move together) behind anomaly root-causing.

    Scale shape: raw events collapse to the O(days x types) grid in one
    integer-cent-exact exchange; the pair join is DAY-keyed over that
    tiny grid; correlations derive from exact decimal power sums in one
    double expression at the end (the X97 exactness discipline, lifted
    to the full matrix)."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    daily = ev.groupBy("day", "event_type").agg(F.sum("iv").alias("x"))
    a = daily.select("day", F.col("event_type").alias("type_a"), F.col("x").alias("xa"))
    b = daily.select("day", F.col("event_type").alias("type_b"), F.col("x").alias("xb"))
    pairs = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("xa").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("xb").cast("decimal(38,0)")).alias("sb"),
        F.sum(F.col("xa").cast("decimal(19,0)") * F.col("xb").cast("decimal(19,0)")).alias("sab"),
        F.sum(F.col("xa").cast("decimal(19,0)") * F.col("xa").cast("decimal(19,0)")).alias("saa"),
        F.sum(F.col("xb").cast("decimal(19,0)") * F.col("xb").cast("decimal(19,0)")).alias("sbb"),
    )
    n = F.col("n_days").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    corr = (n * sab - sa * sb) / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    return agg.select(
        "type_a", "type_b", "n_days", F.round(corr, 6).alias("corr")
    ).orderBy("type_a", "type_b")


EXT_TYPE_CORRELATIONS_SQL = r"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS iv
  FROM events
),
daily AS (
  SELECT day, event_type, CAST(SUM(iv) AS BIGINT) AS x
  FROM ev GROUP BY 1, 2
),
pairs AS (
  SELECT a.type_a, b.event_type AS type_b, a.xa, b.x AS xb
  FROM (SELECT day, event_type AS type_a, x AS xa FROM daily) a
  JOIN daily b ON a.day = b.day AND a.type_a < b.event_type
),
agg AS (
  SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(xa AS HUGEINT)) AS DECIMAL(38,0)) AS sa,
         CAST(SUM(CAST(xb AS HUGEINT)) AS DECIMAL(38,0)) AS sb,
         CAST(SUM(CAST(xa AS HUGEINT) * xb) AS DECIMAL(38,0)) AS sab,
         CAST(SUM(CAST(xa AS HUGEINT) * xa) AS DECIMAL(38,0)) AS saa,
         CAST(SUM(CAST(xb AS HUGEINT) * xb) AS DECIMAL(38,0)) AS sbb
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, n_days,
       ROUND((n_days * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / SQRT((n_days * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (n_days * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
         AS corr
FROM agg ORDER BY type_a, type_b
"""


def ext_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram-style quantile sketch per event type: values (as
    integer cents) bucket by (bit-width, top-4-bits) — pure INTEGER
    log2 bucketing, so the sketch is bit-identical in any engine (no
    libm ln() whose last ulp could flip a boundary bucket, the classic
    DDSketch portability trap). Counts are mergeable by addition;
    p50/p90/p99 read off the cumulated bucket walk at bucket midpoints
    (bounded relative error ~= 1/2^4 per bucket).

    Scale shape: one O(types x buckets) partial-agged exchange; the
    quantile walk is a window over the BUCKET axis (~40 rows per
    type)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("iv"),
    )
    scale_expr = (
        "CAST(POW(2.0, CAST(GREATEST(LENGTH(CONV(iv, 10, 2)) - 4, 0) AS DOUBLE))"
        " AS LONG)"
    )
    bucketed = ev.select(
        "event_type",
        F.expr(f"iv div {scale_expr}").alias("sub"),
        F.expr(scale_expr).alias("scale"),
    )
    cells = bucketed.groupBy("event_type", "sub", "scale").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # midpoint of [sub*scale, (sub+1)*scale) in original units
    mid = (
        (F.col("sub") * F.col("scale") + (F.col("sub") + 1) * F.col("scale"))
        .cast("double")
        / 2.0
        / 100.0
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("sub") * F.col("scale"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("event_type")
    walked = cells.select(
        "event_type",
        mid.alias("mid"),
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    out = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
    aggs = [
        F.round(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("mid")
                )
            ),
            6,
        ).alias(nm)
        for nm, q in out
    ]
    return (
        walked.groupBy("event_type")
        .agg(F.max("n").alias("n"), *aggs)
        .orderBy("event_type")
    )


EXT_HDR_QUANTILES_SQL = r"""
WITH ev AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS iv FROM events
),
bucketed AS (
  SELECT event_type,
         iv // CAST(POW(2.0, GREATEST(LENGTH(bin(iv)) - 4, 0)) AS BIGINT) AS sub,
         CAST(POW(2.0, GREATEST(LENGTH(bin(iv)) - 4, 0)) AS BIGINT) AS scale
  FROM ev
),
cells AS (
  SELECT event_type, sub, scale, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY 1, 2, 3
),
walked AS (
  SELECT event_type,
         CAST(sub * scale + (sub + 1) * scale AS DOUBLE) / 2.0 / 100.0 AS mid,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY sub * scale) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM cells
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN mid END), 6) AS p50,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.90 * n) THEN mid END), 6) AS p90,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN mid END), 6) AS p99
FROM walked GROUP BY event_type ORDER BY event_type
"""


EXT_QUERIES.update(
    {
        "ext_incremental_dedup": ext_incremental_dedup,
        "ext_type_correlations": ext_type_correlations,
        "ext_hdr_quantiles": ext_hdr_quantiles,
    }
)
EXT_ORACLES.update(
    {
        "ext_incremental_dedup": EXT_INCREMENTAL_DEDUP_SQL,
        "ext_type_correlations": EXT_TYPE_CORRELATIONS_SQL,
        "ext_hdr_quantiles": EXT_HDR_QUANTILES_SQL,
    }
)


# --- round-3 wave: winnow overlap, embedding outliers, readability ------------


def ext_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap (plagiarism-style) detection via MOD-p selected
    rolling fingerprints: hash every word 3-gram, keep hashes ≡ 0
    (mod 8) as each document's fingerprint set, and report pairs
    sharing >= 2 selected prints. Content-addressed like X164's
    containment but over a 1/8 SAMPLE of the shingle space — the
    winnowing trade: the inverted index (and its join) shrinks 8x while
    any shared run of >= 3 words still has a constant chance per
    selected window of surfacing the pair.

    The fingerprint here is an md5-derived 60-bit integer (NOT
    xxhash64 like text.rolling_fingerprints) so the whole selection
    replays exactly in any SQL engine. Scale shape: prints build
    row-locally, the hot-print guard (doc_freq <= 64) caps inverted-
    index fan-out, the pair join is print-keyed on bare ids."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup._shingle_array("text", 3)
    h = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")  # noqa: E731
    selected = F.array_distinct(
        F.filter(F.transform(sh, h), lambda x: F.pmod(x, F.lit(8)) == 0)
    )
    # r12: the fingerprint index feeds the df guard and both join sides;
    # un-materialized, the md5-per-shingle selection ran three times
    # (the md5+conv fingerprint is the query's dominant per-row kernel).
    # DISK_ONLY persist (data-proportional inverted index — the
    # ngram_jaccard_pairs discipline).
    pr = share(docs.select("doc_id", F.explode(selected).alias("p")), big=True)
    freq = pr.groupBy("p").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 64
    )
    kept = pr.join(freq.select("p"), "p")
    a = kept.select(F.col("doc_id").alias("id_a"), "p")
    b = kept.select(F.col("doc_id").alias("id_b"), "p")
    return (
        a.join(b, "p")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_prints"))
        .filter(F.col("n_shared_prints") >= 2)
        .orderBy("id_a", "id_b")
    )


EXT_WINNOW_OVERLAP_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(text), '\s+')) AS w,
         generate_subscripts(string_split_regex(TRIM(text), '\s+'), 1) AS i
  FROM documents
),
sh AS (
  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
pr AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || SUBSTR(md5(s), 1, 15))::UBIGINT AS BIGINT) AS p
  FROM sh
  WHERE ('0x' || SUBSTR(md5(s), 1, 15))::UBIGINT % 8 = 0
),
freq AS (SELECT p FROM pr GROUP BY p HAVING COUNT(*) <= 64)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_prints
FROM pr a JOIN freq fa ON a.p = fa.p
JOIN pr b ON a.p = b.p AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 2
ORDER BY id_a, id_b
"""


def ext_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding label-outlier audit — the mislabeled-sample detector:
    cosine of every vector to ITS OWN label's centroid, flagged when it
    falls below the label's 5th percentile. Low cosine to your own
    class centroid = probable labeling error or boundary sample; this
    is the curation sweep run before training a classifier head.

    Scale shape: centroids are the X38 decimal-exact means (rounded to
    6 BEFORE use, so both engines score against bit-identical
    centroids); the O(labels x dims) centroid table and O(labels)
    norms/thresholds broadcast; vectors meet them in one row-local-ish
    (vec_id-grouped) join — the corpus never shuffles on anything
    data-sized except the posexplode regroup."""
    emb = _t(spark, sf_dir, "embeddings")
    # r13 (guide §5): cent feeds the norm aggregate AND the per-vector
    # scoring join — un-persisted, the full-corpus centroid pass
    # (explode + decimal means) ran twice. Bounded (labels x dims) ->
    # default level.
    cent = share(
        vectors.label_centroids(emb).select("label", "pos", "centroid_val")
    )
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("centroid_val") * F.col("centroid_val")).alias("cn")
    )
    exploded = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    ).withColumn("pos", (F.col("pos0") + 1).cast("long"))
    per_vec = (
        exploded.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("centroid_val")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("vn"),
        )
    )
    # r13: scored feeds the per-label threshold percentile AND the final
    # flag join — un-persisted, the whole posexplode + centroid join +
    # regroup pipeline ran twice. Data-proportional (one row per vector)
    # -> DISK_ONLY.
    scored = share(
        per_vec.join(F.broadcast(cnorm), "label").select(
            "vec_id",
            "label",
            F.round(
                F.col("dot") / F.sqrt(F.col("vn") * F.col("cn")), 6
            ).alias("cos_to_centroid"),
        ),
        big=True,
    )
    thr = scored.groupBy("label").agg(
        F.expr("percentile(cos_to_centroid, 0.05)").alias("t05")
    )
    return (
        scored.join(F.broadcast(thr), "label")
        .select(
            "vec_id",
            "label",
            "cos_to_centroid",
            (F.col("cos_to_centroid") < F.col("t05")).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


EXT_LABEL_OUTLIERS_SQL = r"""
WITH u AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6) AS c
  FROM u GROUP BY label, pos
),
cnorm AS (SELECT label, SUM(c * c) AS cn FROM cent GROUP BY label),
per_vec AS (
  SELECT u.vec_id, u.label,
         SUM(u.v * cent.c) AS dot, SUM(u.v * u.v) AS vn
  FROM u JOIN cent ON u.label = cent.label AND u.pos = cent.pos
  GROUP BY 1, 2
),
scored AS (
  SELECT p.vec_id, p.label,
         ROUND(p.dot / SQRT(p.vn * n.cn), 6) AS cos_to_centroid
  FROM per_vec p JOIN cnorm n ON p.label = n.label
),
thr AS (
  SELECT label, quantile_cont(cos_to_centroid, 0.05) AS t05
  FROM scored GROUP BY label
)
SELECT s.vec_id, s.label, s.cos_to_centroid,
       s.cos_to_centroid < t.t05 AS is_outlier
FROM scored s JOIN thr t ON s.label = t.label
ORDER BY vec_id
"""


def ext_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease-style readability per document (vowel-group
    syllable proxy): 206.835 - 1.015*(words/sentences) -
    84.6*(syllable_groups/words) — the classic text-difficulty signal a
    curation pipeline buckets corpora by. All counts are row-local
    regexp scans fused into the parquet read; one O(docs) projection,
    zero shuffle before the output sort."""
    docs = _t(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    syll = F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllable_groups"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * words.cast("double") / sents
            - F.lit(84.6) * syll.cast("double") / words,
            4,
        ).alias("flesch_score"),
    ).orderBy("doc_id")


EXT_READABILITY_SQL = r"""
SELECT doc_id,
       LEN(string_split_regex(TRIM(text), '\s+')) AS n_words,
       GREATEST(LEN(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
       LEN(regexp_extract_all(LOWER(text), '[aeiouy]+')) AS n_syllable_groups,
       ROUND(206.835
             - 1.015 * CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS DOUBLE)
               / GREATEST(LEN(regexp_extract_all(text, '[.!?]+')), 1)
             - 84.6 * CAST(LEN(regexp_extract_all(LOWER(text), '[aeiouy]+')) AS DOUBLE)
               / LEN(string_split_regex(TRIM(text), '\s+')), 4) AS flesch_score
FROM documents ORDER BY doc_id
"""


EXT_QUERIES.update(
    {
        "ext_winnow_overlap": ext_winnow_overlap,
        "ext_label_outliers": ext_label_outliers,
        "ext_readability": ext_readability,
    }
)
EXT_ORACLES.update(
    {
        "ext_winnow_overlap": EXT_WINNOW_OVERLAP_SQL,
        "ext_label_outliers": EXT_LABEL_OUTLIERS_SQL,
        "ext_readability": EXT_READABILITY_SQL,
    }
)


# --- round-3 wave: novelty, balancing, integrity ------------------------------


def ext_kl_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty score: KL divergence of the document's
    unigram distribution from the corpus unigram distribution —
    high-KL docs use language the corpus doesn't (novel or noisy),
    low-KL docs are statistically generic; the diversity-vs-typicality
    axis a data-mixing pipeline samples along.

    Scale shape: ONE (doc, word) count exchange; the corpus word
    distribution DERIVES from that same table (Σ over docs — AQE
    reuses the stage rather than re-tokenizing), joins back on the
    word key, and the corpus-size scalar broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    dw = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    doc_len = dw.groupBy("doc_id").agg(F.sum("c").alias("dl"))
    corpus = dw.groupBy("w").agg(F.sum("c").alias("cw"))
    total = corpus.agg(F.sum("cw").alias("n"))
    scored = (
        dw.join(F.broadcast(corpus), "w")
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__term",
            (F.col("c") / F.col("dl"))
            * F.log(
                (F.col("c").cast("double") / F.col("dl"))
                / (F.col("cw").cast("double") / F.col("n"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("__term"), 6).alias("kl_novelty"),
            F.max("dl").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


EXT_KL_NOVELTY_SQL = r"""
WITH dw AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT doc_id,
           UNNEST(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY 1, 2
),
doc_len AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dl FROM dw GROUP BY 1),
corpus AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM dw GROUP BY 1),
total AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM corpus)
SELECT d.doc_id AS doc_id,
       ROUND(SUM((CAST(d.c AS DOUBLE) / l.dl)
                 * LN((CAST(d.c AS DOUBLE) / l.dl) / (CAST(c.cw AS DOUBLE) / t.n))), 6)
         AS kl_novelty,
       MAX(l.dl) AS n_tokens
FROM dw d
JOIN corpus c ON d.w = c.w
JOIN doc_len l ON d.doc_id = l.doc_id
CROSS JOIN total t
GROUP BY d.doc_id ORDER BY d.doc_id
"""


def ext_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: cap every language's documents at
    2x the MINORITY language's count, chosen in deterministic md5
    order — the imbalance fix applied before training a classifier on
    skewed labels (majority classes shrink, minority survives whole).

    Scale shape: class counts are one tiny agg whose min broadcasts
    back as the cap scalar; selection is row_number over (class, hash)
    — WindowGroupLimit prunes map-side once the cap is known, so no
    task ever holds more than cap rows per class."""
    from aircan_spark.ext.sampling import shuffle_key

    docs = _t(spark, sf_dir, "documents")
    cap = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).agg(
        (F.min("n") * 2).alias("cap")
    )
    w = Window.partitionBy("lang").orderBy(shuffle_key(F.col("doc_id"), 13))
    return (
        docs.withColumn("__r", F.row_number().over(w))
        .crossJoin(F.broadcast(cap))
        .filter(F.col("__r") <= F.col("cap"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


EXT_BALANCED_SAMPLE_SQL = r"""
WITH cap AS (
  SELECT MIN(n) * 2 AS cap FROM (
    SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1
  )
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('13-' || CAST(doc_id AS VARCHAR))
         ) AS r
  FROM documents
)
SELECT doc_id, lang FROM ranked CROSS JOIN cap
WHERE r <= cap ORDER BY doc_id
"""


def ext_integrity_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard data-integrity checksums for transfer/export
    validation: order-independent BIT_XOR of each document's
    md5-derived 60-bit content hash plus row counts, per the same 16
    portable hash shards as the X173 manifest. Receiving side recomputes
    the same two numbers and compares — any lost, duplicated, or
    corrupted row flips the checksum.

    Scale shape: row-local hashing, one 16-group partial-agged
    exchange; XOR is commutative/associative so partials combine in
    any order (the property that makes it a SHUFFLE-SAFE checksum,
    unlike a concatenation digest)."""
    from aircan_spark.ext.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    content_hash = F.conv(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    return (
        docs.select(
            F.pmod(hash_bucket(F.col("doc_id"), seed=7), F.lit(16)).alias("shard"),
            content_hash.alias("h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
        )
        .orderBy("shard")
    )


EXT_INTEGRITY_CHECKSUMS_SQL = r"""
WITH b AS (
  SELECT (('0x' || SUBSTR(md5('7-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
          % 10000) % 16 AS shard,
         CAST(('0x' || SUBSTR(md5(text), 1, 15))::UBIGINT AS BIGINT) AS h
  FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(BIT_XOR(h) AS BIGINT) AS xor_checksum
FROM b GROUP BY shard ORDER BY shard
"""


EXT_QUERIES.update(
    {
        "ext_kl_novelty": ext_kl_novelty,
        "ext_balanced_sample": ext_balanced_sample,
        "ext_integrity_checksums": ext_integrity_checksums,
    }
)
EXT_ORACLES.update(
    {
        "ext_kl_novelty": EXT_KL_NOVELTY_SQL,
        "ext_balanced_sample": EXT_BALANCED_SAMPLE_SQL,
        "ext_integrity_checksums": EXT_INTEGRITY_CHECKSUMS_SQL,
    }
)


def ext_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product communities by label propagation over the co-purchase
    graph (parts bought together in >= 2 orders): three synchronous
    LPA rounds with deterministic min-label tie-breaks — the
    category-discovery step recommendation pipelines run on the X181
    association graph. Communities are FINER than connected components
    (the LPA vote keeps dense clusters distinct where hash-min floods).

    Scale shape: edges come from the row-local basket-combo expansion
    (one fact scan); each LPA round is one O(nodes) label join + one
    (node,label) exchange + an argmax-by-struct (no per-node window
    sort); lineage checkpointed per round."""
    from aircan_spark.ext import graph

    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
    )
    items_col = F.col("items")
    combos = F.flatten(
        F.transform(
            items_col,
            lambda x, i: F.transform(
                F.slice(items_col, i + 2, F.size(items_col)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(combos).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
        .select("pa", "pb")
    )
    comm = graph.label_propagation(edges, "pa", "pb", iters=3)
    sizes = comm.groupBy("community").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return (
        comm.join(sizes, "community")
        .select("id", "community", "community_size")
        .orderBy("id")
    )


EXT_COMMUNITIES_SQL = r"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
sym AS (SELECT pa AS u, pb AS v FROM pairs UNION ALL SELECT pb, pa FROM pairs),
l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM sym),
v1 AS (
  SELECT s.u AS id, l.lbl, COUNT(*) AS cnt
  FROM sym s JOIN l0 l ON s.v = l.id GROUP BY 1, 2
),
l1 AS (
  SELECT id, lbl FROM (
    SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS r
    FROM v1
  ) WHERE r = 1
),
v2 AS (
  SELECT s.u AS id, l.lbl, COUNT(*) AS cnt
  FROM sym s JOIN l1 l ON s.v = l.id GROUP BY 1, 2
),
l2 AS (
  SELECT id, lbl FROM (
    SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS r
    FROM v2
  ) WHERE r = 1
),
v3 AS (
  SELECT s.u AS id, l.lbl, COUNT(*) AS cnt
  FROM sym s JOIN l2 l ON s.v = l.id GROUP BY 1, 2
),
l3 AS (
  SELECT id, lbl FROM (
    SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, lbl ASC) AS r
    FROM v3
  ) WHERE r = 1
),
sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n FROM l3 GROUP BY 1)
SELECT l3.id AS id, l3.lbl AS community, sizes.n AS community_size
FROM l3 JOIN sizes ON l3.lbl = sizes.lbl
ORDER BY id
"""


EXT_QUERIES.update({"ext_communities": ext_communities})
EXT_ORACLES.update({"ext_communities": EXT_COMMUNITIES_SQL})


# --- round-3 wave: information-theoretic + survival analytics -----------------


def ext_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and ISO weekday (plus the
    marginal entropies and the normalized coefficient) — the
    information-theoretic dependence audit: chi-square (X118) answers
    "are they dependent?", MI answers "by how many nats?", comparable
    across feature pairs for feature selection.

    Scale shape: one (type x 7-weekday) contingency exchange; margins
    and totals DERIVE from the cell table (no rescan); the final
    reduction is over O(cells) rows. Counts are exact integers; the one
    double expression rounds at the end."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (((F.dayofweek("ts") + F.lit(5)) % 7) + 1).alias("wd"),
    )
    # r13 (guide §5, the cramers_v pattern): cells feeds SIX subtrees
    # (the joined pass + mx/my/tot broadcast fills + the hx/hy entropy
    # margins), and per-branch pruning specializes each copy past
    # ReuseExchange — un-persisted, the events scan + contingency
    # exchange re-ran up to 6x per execution (16 textual scans in the
    # before plan). Bounded frame (n_types x 7 rows) -> default level.
    cells = share(ev.groupBy("event_type", "wd").agg(F.count(F.lit(1)).alias("c")))
    mx = cells.groupBy("event_type").agg(F.sum("c").alias("cx"))
    my = cells.groupBy("wd").agg(F.sum("c").alias("cy"))
    tot = cells.agg(F.sum("c").alias("n"))
    joined = (
        cells.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "wd")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n").cast("double")
    pxy = F.col("c") / n
    mi_term = pxy * F.log(pxy / ((F.col("cx") / n) * (F.col("cy") / n)))
    agg = joined.agg(
        F.max("n").alias("n_events"),
        F.sum(mi_term).alias("mi"),
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.sum(-(F.col("cx") / F.col("n")) * F.log(F.col("cx") / F.col("n"))).alias("h_type")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(-(F.col("cy") / F.col("n")) * F.log(F.col("cy") / F.col("n"))).alias("h_weekday")
    )
    return (
        agg.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n_events").cast("long").alias("n_events"),
            F.round("mi", 6).alias("mi_nats"),
            F.round("h_type", 6).alias("h_type"),
            F.round("h_weekday", 6).alias("h_weekday"),
            F.round(
                F.col("mi") / F.sqrt(F.col("h_type") * F.col("h_weekday")), 6
            ).alias("nmi"),
        )
    )


EXT_MUTUAL_INFORMATION_SQL = r"""
WITH ev AS (
  SELECT event_type, isodow(ts) AS wd FROM events
),
cells AS (
  SELECT event_type, wd, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2
),
mx AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
my AS (SELECT wd, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
mi AS (
  SELECT SUM((CAST(c.c AS DOUBLE) / t.n)
             * LN((CAST(c.c AS DOUBLE) / t.n)
                  / ((CAST(x.cx AS DOUBLE) / t.n) * (CAST(y.cy AS DOUBLE) / t.n)))) AS mi,
         MAX(t.n) AS n_events
  FROM cells c JOIN mx x ON c.event_type = x.event_type
  JOIN my y ON c.wd = y.wd CROSS JOIN tot t
),
hx AS (
  SELECT SUM(-(CAST(cx AS DOUBLE) / t.n) * LN(CAST(cx AS DOUBLE) / t.n)) AS h_type
  FROM mx CROSS JOIN tot t
),
hy AS (
  SELECT SUM(-(CAST(cy AS DOUBLE) / t.n) * LN(CAST(cy AS DOUBLE) / t.n)) AS h_weekday
  FROM my CROSS JOIN tot t
)
SELECT CAST(mi.n_events AS BIGINT) AS n_events,
       ROUND(mi.mi, 6) AS mi_nats,
       ROUND(hx.h_type, 6) AS h_type,
       ROUND(hy.h_weekday, 6) AS h_weekday,
       ROUND(mi.mi / SQRT(hx.h_type * hy.h_weekday), 6) AS nmi
FROM mi CROSS JOIN hx CROSS JOIN hy
"""


def ext_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: per user,
    duration = days from their first event to their first purchase
    (event) or to the corpus horizon (censored); S(t) steps down at
    each event day by (1 - d_t / n_at_risk_t) — THE churn/conversion
    time-to-event estimator, with censoring handled correctly (naive
    conversion-rate-by-day ignores users still at risk).

    Scale shape: users collapse in one exchange (min ts, min purchase
    ts); durations aggregate to the O(days) axis; risk sets and the
    product come from two windows over that tiny axis (product as
    exp(sum(ln)) — associative, engine-identical after rounding)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("hz"))
    dur = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("tp").isNotNull(),
            F.datediff(F.to_date("tp"), F.to_date("t0")),
        )
        .otherwise(F.datediff(F.col("hz"), F.to_date("t0")))
        .alias("t"),
        F.col("tp").isNotNull().alias("event"),
    )
    # r13 (guide §5): days feeds the broadcast total AND the risk walk —
    # un-persisted, the whole per_user collapse + horizon cross + day
    # aggregation re-ran for each (8 textual scans in the before plan).
    # Bounded frame (O(distinct days) rows) -> default level.
    days = share(
        dur.groupBy("t").agg(
            F.sum(F.when(F.col("event"), 1).otherwise(0)).alias("d"),
            F.sum(F.when(~F.col("event"), 1).otherwise(0)).alias("cens"),
        )
    )
    total = days.agg(F.sum(F.col("d") + F.col("cens")).alias("n_users"))
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = (
        days.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_users")
            - F.coalesce(F.sum(F.col("d") + F.col("cens")).over(w_prev), F.lit(0)),
        )
        .withColumn(
            "__f", F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
        )
        # a zero factor (everyone remaining converts) can only be the
        # terminal row; guard ln() and pin S(t) to exactly 0 there —
        # Spark's ln(0)=NULL would silently DROP the term from the sum
        .withColumn(
            "__zero",
            F.max(F.when(F.col("__f") <= 0.0, 1).otherwise(0)).over(w_cum),
        )
        .withColumn(
            "survival",
            F.when(F.col("__zero") == 1, F.lit(0.0)).otherwise(
                F.exp(
                    F.sum(
                        F.when(F.col("__f") > 0.0, F.log("__f")).otherwise(0.0)
                    ).over(w_cum)
                )
            ),
        )
    )
    return risk.filter(F.col("d") > 0).select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("cens").alias("n_censored"),
        F.round("survival", 6).alias("survival"),
    ).orderBy("t")


EXT_SURVIVAL_SQL = r"""
WITH per_user AS (
  SELECT user_id, MIN(ts) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY 1
),
hz AS (SELECT MAX(CAST(ts AS DATE)) AS hz FROM events),
dur AS (
  SELECT CASE WHEN tp IS NOT NULL
              THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
              ELSE date_diff('day', CAST(t0 AS DATE), hz) END AS t,
         tp IS NOT NULL AS event
  FROM per_user CROSS JOIN hz
),
days AS (
  SELECT t,
         CAST(SUM(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS cens
  FROM dur GROUP BY 1
),
total AS (SELECT CAST(SUM(d + cens) AS BIGINT) AS n_users FROM days),
risk AS (
  SELECT t, d, cens,
         n_users - COALESCE(SUM(d + cens) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM days CROSS JOIN total
),
surv AS (
  SELECT t, d, cens, n_risk,
         CASE WHEN MAX(CASE WHEN 1.0 - CAST(d AS DOUBLE) / n_risk <= 0 THEN 1 ELSE 0 END)
                   OVER cum = 1
              THEN 0.0
              ELSE EXP(SUM(CASE WHEN 1.0 - CAST(d AS DOUBLE) / n_risk > 0
                                THEN LN(1.0 - CAST(d AS DOUBLE) / n_risk)
                                ELSE 0.0 END) OVER cum) END AS survival
  FROM risk
  WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_events, cens AS n_censored,
       ROUND(survival, 6) AS survival
FROM surv WHERE d > 0 ORDER BY t
"""


EXT_QUERIES.update(
    {
        "ext_mutual_information": ext_mutual_information,
        "ext_survival_curve": ext_survival_curve,
    }
)
EXT_ORACLES.update(
    {
        "ext_mutual_information": EXT_MUTUAL_INFORMATION_SQL,
        "ext_survival_curve": EXT_SURVIVAL_SQL,
    }
)


# --- round-3 wave: dataset card, quantile norm, negatives, SQL surface --------


def ext_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card / datasheet for the document corpus: sizes,
    language/source cardinalities, token totals and median, exact-dup
    rate — the summary block a dataset release publishes, produced in
    one scan plus O(1) aggregates.

    Scale shape: a single partial-aggregable pass (counts, sums,
    distincts over scan-fused row-local projections); the token median
    is the only percentile and runs over the collapsed per-doc token
    counts."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    h = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary")
    )
    base = docs.select(
        toks.alias("t"),
        F.octet_length("text").alias("b"),
        h.alias("h"),
        "lang",
        "source",
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("t").alias("total_tokens"),
        F.sum("b").alias("total_bytes"),
        F.round(F.avg("t"), 4).alias("mean_doc_tokens"),
        F.expr("percentile(t, 0.5)").alias("median_doc_tokens"),
        F.round(
            F.lit(1.0)
            - F.count_distinct("h").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
    )


EXT_DATASET_CARD_SQL = r"""
WITH base AS (
  SELECT LEN(string_split_regex(TRIM(text), '\s+')) AS t,
         strlen(text) AS b,
         md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS h,
         lang, source
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(t) AS BIGINT) AS total_tokens,
       CAST(SUM(b) AS BIGINT) AS total_bytes,
       ROUND(AVG(t), 4) AS mean_doc_tokens,
       quantile_cont(t, 0.5) AS median_doc_tokens,
       ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6) AS exact_dup_rate
FROM base
"""


def ext_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of a per-document signal
    (length) WITHIN each language, via the X186 HDR integer-bucket CDF:
    each doc maps to (docs in smaller buckets + half its own bucket) /
    group size — a [0,1] percentile comparable across languages, the
    rank-normalization a mixing pipeline uses where z-scores break on
    heavy tails.

    Scale shape: this is how per-group percent_rank survives LOW-
    cardinality groups at 100 TB — no Window.partitionBy(lang) single-
    task sort; one (lang x bucket) exchange builds the CDF, which
    BROADCASTS back onto the rows (bucket granularity bounds the rank
    error at the bucket mass, same trade as X186)."""
    docs = _t(spark, sf_dir, "documents")
    scale_expr = (
        "CAST(POW(2.0, CAST(GREATEST(LENGTH(CONV(n_chars, 10, 2)) - 4, 0) AS DOUBLE))"
        " AS LONG)"
    )
    bucketed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.expr(f"n_chars div {scale_expr}") * F.expr(scale_expr)).alias("blo"),
    )
    cells = bucketed.groupBy("lang", "blo").agg(F.count(F.lit(1)).alias("c"))
    w_prev = (
        Window.partitionBy("lang")
        .orderBy("blo")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = Window.partitionBy("lang")
    cdf = cells.select(
        "lang",
        "blo",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("below"),
        F.col("c").alias("inb"),
        F.sum("c").over(tot).alias("n"),
    )
    return (
        bucketed.join(F.broadcast(cdf), ["lang", "blo"])
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(
                (F.col("below") + 0.5 * F.col("inb")) / F.col("n"), 6
            ).alias("pct"),
        )
        .orderBy("doc_id")
    )


EXT_QUANTILE_NORM_SQL = r"""
WITH bucketed AS (
  SELECT doc_id, lang, n_chars,
         (n_chars // CAST(POW(2.0, GREATEST(LENGTH(bin(n_chars)) - 4, 0)) AS BIGINT))
           * CAST(POW(2.0, GREATEST(LENGTH(bin(n_chars)) - 4, 0)) AS BIGINT) AS blo
  FROM documents
),
cells AS (
  SELECT lang, blo, CAST(COUNT(*) AS BIGINT) AS c
  FROM bucketed GROUP BY 1, 2
),
cdf AS (
  SELECT lang, blo,
         COALESCE(SUM(c) OVER (PARTITION BY lang ORDER BY blo
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         c AS inb,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM cells
)
SELECT b.doc_id, b.lang, b.n_chars,
       ROUND((f.below + 0.5 * f.inb) / f.n, 6) AS pct
FROM bucketed b JOIN cdf f ON b.lang = f.lang AND b.blo = f.blo
ORDER BY b.doc_id
"""


def ext_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document pairs with the next 2 documents on its md5 hash ring —
    pseudo-random, reproducible, and collision-free negatives without
    any RNG state or driver-side shuffle (the pairing a contrastive
    embedding run needs to be identical across retries and engines).

    Scale shape: the ring is partitioned into 64 hash buckets, so the
    lead() windows sort ~n/64 rows per task (no global window); the
    last rows of each bucket get NULL negatives (~128 of them corpus-
    wide), mirrored exactly in the oracle."""
    from aircan_spark.ext.sampling import hash_bucket, shuffle_key

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ringed = docs.select(
        "doc_id",
        F.pmod(hash_bucket(F.col("doc_id"), seed=29), F.lit(64)).alias("bk"),
        shuffle_key(F.col("doc_id"), 29).alias("hk"),
    )
    w = Window.partitionBy("bk").orderBy("hk")
    return ringed.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("neg_id_1"),
        F.lead("doc_id", 2).over(w).alias("neg_id_2"),
    ).orderBy("doc_id")


EXT_NEGATIVE_PAIRS_SQL = r"""
WITH ringed AS (
  SELECT doc_id,
         (('0x' || SUBSTR(md5('29-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
          % 10000) % 64 AS bk,
         md5('29-' || CAST(doc_id AS VARCHAR)) AS hk
  FROM documents
)
SELECT doc_id,
       LEAD(doc_id, 1) OVER (PARTITION BY bk ORDER BY hk) AS neg_id_1,
       LEAD(doc_id, 2) OVER (PARTITION BY bk ORDER BY hk) AS neg_id_2
FROM ringed ORDER BY doc_id
"""


_SQL_INTERFACE_QUERY = r"""
SELECT EXTRACT(YEAR FROM o_orderdate) AS yr, n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                 AS DECIMAL(38,12)) AS STRING) AS revenue,
       CAST(RANK() OVER (
         PARTITION BY EXTRACT(YEAR FROM o_orderdate)
         ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) DESC,
                  n_name
       ) AS BIGINT) AS rnk
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY EXTRACT(YEAR FROM o_orderdate), n_name
ORDER BY yr, rnk
"""


def ext_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface (aircan_spark.sqlapi): yearly revenue per nation
    with an in-year rank, submitted as ANSI SQL TEXT through spark.sql
    over the registered views — and the SAME string is the DuckDB
    oracle, so the dialect-portable SQL path is zero-drift by
    construction. Catalyst gives the identical pushdown/broadcast plan
    the DataFrame registry gets (the revenue decimal discipline matches
    X68)."""
    from aircan_spark import sqlapi

    return sqlapi.sql(spark, sf_dir, _SQL_INTERFACE_QUERY)


EXT_QUERIES.update(
    {
        "ext_dataset_card": ext_dataset_card,
        "ext_quantile_norm": ext_quantile_norm,
        "ext_negative_pairs": ext_negative_pairs,
        "ext_sql_interface": ext_sql_interface,
    }
)
EXT_ORACLES.update(
    {
        "ext_dataset_card": EXT_DATASET_CARD_SQL,
        "ext_quantile_norm": EXT_QUANTILE_NORM_SQL,
        "ext_negative_pairs": EXT_NEGATIVE_PAIRS_SQL,
        "ext_sql_interface": _SQL_INTERFACE_QUERY,
    }
)


