"""Declared-query waves: corpus statistics / relevance wave.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w01 import *  # noqa: F401,F403
from aircan_spark.frames import result_scope


# --- corpus statistics / relevance wave ------------------------------------------------


def ext_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus bigrams (collocation mining head)."""
    docs = _t(spark, sf_dir, "documents")
    return text.ngram_counts(docs, n=2, k=100).orderBy("rank")


EXT_NGRAM_TOPK_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS w,
         generate_subscripts(string_split_regex(TRIM(LOWER(text)), '\s+'), 1) AS i
  FROM documents
),
grams AS (
  SELECT a.w || ' ' || b.w AS ngram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
f AS (SELECT ngram, COUNT(*) AS freq FROM grams GROUP BY ngram)
SELECT ngram, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, ngram) AS BIGINT) AS rank
FROM f ORDER BY rank LIMIT 100
"""


BM25_QUERY_TERMS = ["join", "merge", "window"]


def ext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed 3-term query."""
    docs = _t(spark, sf_dir, "documents")
    return text.bm25_scores(docs, BM25_QUERY_TERMS).orderBy("doc_id")


EXT_BM25_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS w
  FROM documents
),
lens AS (SELECT doc_id, len(w) AS dl, w FROM toks),
scalars AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM lens),
words AS (
  SELECT doc_id, dl, unnest(w) AS word FROM lens
),
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
)
SELECT doc_id, ROUND(CAST(SUM(comp) AS DOUBLE), 6) AS score,
       COUNT(*) AS n_terms_matched
FROM comp GROUP BY doc_id ORDER BY doc_id
"""


def ext_rolling_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h per-user rolling count/sum/mean for every event."""
    ev = _t(spark, sf_dir, "events")
    return features.rolling_event_stats(ev, span_seconds=3600).orderBy("event_id")


EXT_ROLLING_EVENT_SQL = r"""
SELECT event_id, user_id,
       COUNT(value) OVER w AS win_count,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DECIMAL(24,6)) AS VARCHAR)
         AS win_sum,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / COUNT(value) OVER w, 6) AS win_mean
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def ext_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score of event values (broadcast moments,
    data rows never shuffle)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return features.zscore_normalize(ev, ["event_type"], "value").orderBy(
        "event_id"
    )


EXT_ZSCORE_SQL = r"""
WITH m AS (
  SELECT event_type,
         COUNT(value) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s1,
         SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0.0
            THEN ROUND((e.value - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       / SQRT((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                 / CAST(n AS DOUBLE))
                              / (CAST(n AS DOUBLE) - 1.0)), 6)
       END AS zscore
FROM events e JOIN m ON e.event_type = m.event_type
ORDER BY e.event_id
"""


def ext_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin histogram of order totals over [0, 500000]."""
    orders = _t(spark, sf_dir, "orders")
    return relational.histogram(orders, "o_totalprice", 0.0, 500000.0, 20).orderBy(
        "bin"
    )


EXT_HISTOGRAM_SQL = r"""
WITH b AS (
  SELECT LEAST(CAST(FLOOR((o_totalprice - 0.0) / 25000.0) AS BIGINT), 19) AS bin
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0.0 AND o_totalprice <= 500000.0
)
SELECT bin,
       ROUND(0.0 + bin * 25000.0, 6) AS bin_lo,
       ROUND(0.0 + (bin + 1) * 25000.0, 6) AS bin_hi,
       COUNT(*) AS n
FROM b GROUP BY bin ORDER BY bin
"""


def ext_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem counts + quantity totals cubed over (returnflag,
    linestatus): every subset of the two dimensions, ALL-labelled."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,6)").alias("qty"),
    )
    return relational.cube_counts(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").cast("decimal(24,6)").cast("string").alias("sum_qty"),
        ],
    ).orderBy("l_returnflag", "l_linestatus")


EXT_CUBE_SQL = r"""
SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(24,6)) AS VARCHAR)
         AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def ext_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus normalization: control chars -> spaces, whitespace
    collapsed, lowercased, trimmed (pure JVM regex, scan-fused)."""
    docs = _t(spark, sf_dir, "documents")
    return text.clean_text(docs).orderBy("doc_id")


EXT_CLEAN_TEXT_SQL = r"""
SELECT doc_id,
       TRIM(regexp_replace(
              regexp_replace(LOWER(text), '[\x00-\x1f\x7f-\x9f]', ' ', 'g'),
              '\s+', ' ', 'g')) AS clean
FROM documents ORDER BY doc_id
"""


def ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized event values (row-preserving outlier clamp,
    broadcast quantile bounds)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return relational.winsorize_by_group(
        ev, ["event_type"], "value", 0.05, 0.95, out_col="value_w"
    ).select("event_id", "event_type", "value_w").orderBy("event_id")


EXT_WINSORIZE_SQL = r"""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       CASE WHEN e.value IS NULL THEN NULL
            ELSE ROUND(GREATEST(LEAST(e.value, b.hi), b.lo), 6) END AS value_w
FROM events e JOIN b USING (event_type)
ORDER BY e.event_id
"""


def ext_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct-user cardinality (the HLL++ approx path is
    the 100 TB swap-in, property-tested for error bound)."""
    ev = _t(spark, sf_dir, "events")
    return relational.distinct_counts(
        ev, ["event_type"], "user_id", exact=True
    ).orderBy("event_type")


EXT_DISTINCT_COUNTS_SQL = r"""
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type ORDER BY event_type
"""


def ext_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT orders — LeftAnti physical join; the
    orders side filters to the urgent priority and projects to its key
    column only before the exchange (filter pushed below the join build).

    Non-vacuousness: the original "no orders at all" predicate returned
    0 rows at sf<=0.01 (every testdata customer has orders), so every
    small-SF gate passed vacuously — the exact trap the sweep now
    hard-fails. The urgent restriction exercises the same LeftAnti +
    key-projected-build plan and fires at every SF (18/203/1986 rows at
    sf0.001/0.01/0.1)."""
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cust.join(orders, "c_custkey", "left_anti")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
    )


EXT_ANTI_JOIN_SQL = r"""
SELECT c_custkey, c_nationkey FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
ORDER BY c_custkey
"""


def ext_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation membership algebra over customer vs supplier presence:
    INTERSECT / EXCEPT both ways, tagged and unioned. Each set op is a
    distinct-aggregate under the hood; the inputs are pre-projected to
    the single key column so the exchanges carry only nation keys."""
    cn = _t(spark, sf_dir, "customer").select("c_nationkey").distinct()
    sn = (
        _t(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("c_nationkey"))
        .distinct()
    )
    tagged = (
        cn.intersect(sn).withColumn("membership", F.lit("both"))
        .unionByName(cn.subtract(sn).withColumn("membership", F.lit("customer_only")))
        .unionByName(sn.subtract(cn).withColumn("membership", F.lit("supplier_only")))
    )
    return tagged.select(
        F.col("c_nationkey").alias("nationkey"), "membership"
    ).orderBy("nationkey")


EXT_SET_OPS_SQL = r"""
WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS membership FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
UNION ALL
SELECT nationkey, 'customer_only' FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
UNION ALL
SELECT nationkey, 'supplier_only' FROM (SELECT * FROM sn EXCEPT SELECT * FROM cn)
ORDER BY nationkey
"""


def ext_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON field extraction from the event props payload (one
    from_json parse per row, scan-fused)."""
    from aircan_spark.ext import semistructured

    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    return semistructured.json_fields(
        ev, "props", {"k": "bigint"}, keep=["event_id"]
    ).orderBy("event_id")


EXT_JSON_EXTRACT_SQL = r"""
SELECT event_id, CAST(props->>'k' AS BIGINT) AS k
FROM events ORDER BY event_id
"""


def ext_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy token-count packing into ~256-token packs
    within 8 portable hash buckets."""
    docs = _t(spark, sf_dir, "documents")
    return chunking.pack_documents(
        docs, seq_len=256, n_buckets=8, seed=42
    ).orderBy("doc_id")


EXT_PACK_DOCUMENTS_SQL = r"""
WITH d AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTR(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
              % 8 AS BIGINT) AS bucket,
         CAST(len(string_split_regex(TRIM(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, bucket, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM d
)
SELECT doc_id, bucket, n_tokens,
       CAST(FLOOR((cum - n_tokens) / 256.0) AS BIGINT) AS pack_id
FROM c ORDER BY doc_id
"""


MIXTURE_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}


def ext_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixture: per-source sampling rates building a
    target training mix (hash-decided, subset-stable, zero shuffle)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.mixture_sample(
        docs, "doc_id", "source", MIXTURE_RATES
    ).orderBy("doc_id")


EXT_MIXTURE_SAMPLE_SQL = r"""
SELECT doc_id, source
FROM documents
WHERE CAST(('0x' || SUBSTR(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           % 10000 AS DOUBLE)
      < (CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.75
                     WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.25
                     ELSE 0.0 END) * 10000
ORDER BY doc_id
"""


def ext_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition: doc counts, char totals, and shares
    (exact integer division, broadcast global totals)."""
    docs = _t(spark, sf_dir, "documents")
    return relational.group_share(docs, ["source"], "n_chars").orderBy("source")


EXT_CORPUS_MIX_SQL = r"""
WITH per AS (
  SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS w
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n) AS tn, SUM(w) AS tw FROM per)
SELECT source, n, w,
       ROUND(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS share,
       ROUND(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight_share
FROM per CROSS JOIN tot ORDER BY source
"""


def ext_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: event counts per type AND per day (no
    cross cells) in one Expand + single hash agg."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").cast("string").alias("day")
    )
    return relational.grouping_sets_counts(
        ev,
        [["event_type"], ["day"]],
        [F.count(F.lit(1)).alias("n_events")],
    ).orderBy("event_type", "day")


EXT_GROUPING_SETS_SQL = r"""
WITH e AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events
)
SELECT COALESCE(day, 'ALL') AS day,
       COALESCE(event_type, 'ALL') AS event_type,
       COUNT(*) AS n_events
FROM e GROUP BY GROUPING SETS ((event_type), (day))
ORDER BY event_type, day
"""


def ext_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: each user's most recent event (ts desc,
    event_id desc tie-break) — WindowGroupLimit bounds the shuffle at
    one row per key per task."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    return (
        relational.latest_by_key(ev, ["user_id"], "ts", "event_id")
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


EXT_LATEST_BY_KEY_SQL = r"""
SELECT user_id, event_id, event_type
FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id
"""


def ext_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding of document lengths via broadcast thresholds (the
    scale-safe alternative to a single-partition global NTILE)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return relational.quantile_buckets(docs, "n_chars", 10).orderBy("doc_id")


EXT_QUANTILE_BUCKETS_SQL = r"""
WITH b AS (
  SELECT list_transform(
           quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           q -> ROUND(q, 6)) AS bounds
  FROM documents
)
SELECT doc_id, n_chars,
       CAST(len(list_filter(b.bounds, x -> n_chars > x)) AS BIGINT) AS bucket
FROM documents CROSS JOIN b
ORDER BY doc_id
"""


def ext_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (per-vector scale, 4x
    storage cut; codes emitted as a portable comma-joined string)."""
    emb = _t(spark, sf_dir, "embeddings")
    from aircan_spark.ext import vectors as V

    return V.quantize_int8(emb).orderBy("vec_id")


EXT_QUANTIZE_SQL = r"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> ABS(x))) / 127.0 AS scale0
  FROM v
)
SELECT vec_id,
       ROUND(scale0, 9) AS scale,
       CASE WHEN scale0 > 0.0
            THEN array_to_string(
                   list_transform(e, x -> CAST(ROUND(x / scale0) AS BIGINT)), ',')
            ELSE array_to_string(list_transform(e, x -> 0), ',')
       END AS qvec
FROM s ORDER BY vec_id
"""


def ext_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-flavor star join: 1996 revenue by nation within one
    region — lineitem |><| orders |><| customer |><| nation |><| region
    with a decimal-exact revenue aggregate.

    Scale shape: the date filter prunes orders AT THE SCAN (parquet
    predicate pushdown), nation/region are explicit broadcasts, customer
    is left to AQE (broadcast at small SF, shuffle join at 100 TB), and
    the lineitem->orders equi-join is the single big exchange. Revenue
    accumulates in DECIMAL so the result is order-independent."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum("rev").cast("decimal(38,12)").cast("string").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("n_name")
    )


EXT_STAR_JOIN_SQL = r"""
SELECT n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                 AS DECIMAL(38,12)) AS VARCHAR) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
GROUP BY n_name ORDER BY n_name
"""


def ext_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust spread per event type: median absolute deviation via the
    pandas GROUPED_AGG UDAF surface (sort-internal, order-independent)."""
    ev = _t(spark, sf_dir, "events")
    return features.mad_by_group(ev, ["event_type"], "value").orderBy("event_type")


EXT_MAD_SQL = r"""
WITH m AS (
  SELECT event_type, median(value) AS md FROM events GROUP BY event_type
)
SELECT e.event_type, ROUND(median(ABS(e.value - m.md)), 6) AS mad
FROM events e JOIN m USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""


def ext_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: customer-name pairs within edit distance 1,
    blocked on the name minus its last 2 chars (equi-join on the block
    key, levenshtein verify inside blocks only).

    AUDIT FORM (r11): deliberately unbounded — output is genuinely
    quadratic in verbatim name multiplicity. The declared scale path is
    ext_fuzzy_join_groups (queries_w50): the same blocked join over
    DISTINCT names with multiplicity-weighted pair counts, whose oracle
    materializes these instance pairs (cross-formulation proof)."""
    from aircan_spark.ext import entity

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        entity.fuzzy_self_join(cust, "c_custkey", "c_name", max_dist=1, tail=2)
        .select("id_a", "id_b", "dist")
        .orderBy("id_a", "id_b")
    )


EXT_FUZZY_JOIN_SQL = r"""
WITH k AS (
  SELECT c_custkey AS id, c_name AS name,
         SUBSTR(c_name, 1, GREATEST(LENGTH(c_name) - 2, 0)) AS block
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM k a JOIN k b ON a.block = b.block AND a.id < b.id
WHERE levenshtein(a.name, b.name) <= 1
ORDER BY id_a, id_b
"""


def ext_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of orders (nulls / distinct / min / max
    per column, stack-unpivoted)."""
    from aircan_spark import profile as P

    orders = _t(spark, sf_dir, "orders")
    return P.profile(
        orders, ["o_orderkey", "o_custkey", "o_totalprice"]
    ).orderBy("column")


EXT_PROFILE_SQL = r"""
WITH w AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ok,
         COUNT(DISTINCT o_orderkey) AS nd_ok,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_ok,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_ok,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ck,
         COUNT(DISTINCT o_custkey) AS nd_ck,
         CAST(MIN(o_custkey) AS VARCHAR) AS min_ck,
         CAST(MAX(o_custkey) AS VARCHAR) AS max_ck,
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_tp,
         COUNT(DISTINCT o_totalprice) AS nd_tp,
         CAST(MIN(o_totalprice) AS VARCHAR) AS min_tp,
         CAST(MAX(o_totalprice) AS VARCHAR) AS max_tp
  FROM orders
)
SELECT 'o_orderkey' AS "column", n AS n_rows, nulls_ok AS n_nulls,
       nd_ok AS n_distinct, min_ok AS min_value, max_ok AS max_value FROM w
UNION ALL
SELECT 'o_custkey', n, nulls_ck, nd_ck, min_ck, max_ck FROM w
UNION ALL
SELECT 'o_totalprice', n, nulls_tp, nd_tp, min_tp, max_tp FROM w
ORDER BY "column"
"""


def ext_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governed export: customer names replaced by salted SHA-256 tokens
    (referentially stable, row-local, zero shuffle)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return text.pseudonymize(cust, ["c_name"], salt="pepper-1").orderBy(
        "c_custkey"
    )


EXT_PSEUDONYMIZE_SQL = r"""
SELECT c_custkey,
       CASE WHEN c_name IS NULL THEN NULL
            ELSE sha256('pepper-1' || c_name) END AS c_name_token
FROM customer ORDER BY c_custkey
"""


def ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution funnel: daily purchase counts split by whether a
    same-user click preceded the purchase within 1 hour — COMPOSED from
    the bucketed ``range_join`` (clicks explode into <= 2 time buckets;
    no per-user cross product) plus a distinct + left join back.

    The composition is the point: funnel analytics at 100 TB is a
    bounded interval join, never a sort of each user's full history."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    pairs = relational.range_join(
        purchases,
        clicks,
        on="user_id",
        lower="-1 hours",
        upper="0 seconds",
        right_cols=["click_id"],
    )
    attributed = pairs.select("event_id").distinct().withColumn(
        "__attr", F.lit(1)
    )
    return (
        purchases.join(attributed, "event_id", "left")
        .groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.coalesce(F.col("__attr"), F.lit(0))).alias("n_attributed"),
        )
        .withColumn(
            "attribution_rate",
            F.round(F.col("n_attributed") / F.col("n_purchases"), 6),
        )
        .orderBy("day")
    )


EXT_FUNNEL_SQL = r"""
WITH p AS (
  SELECT event_id, user_id, ts, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
  FROM events WHERE event_type = 'purchase'
),
a AS (
  SELECT p.day,
         CASE WHEN EXISTS (
           SELECT 1 FROM events c
           WHERE c.event_type = 'click' AND c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
         ) THEN 1 ELSE 0 END AS attr
  FROM p
)
SELECT day, COUNT(*) AS n_purchases, CAST(SUM(attr) AS BIGINT) AS n_attributed,
       ROUND(CAST(SUM(attr) AS DOUBLE) / COUNT(*), 6) AS attribution_rate
FROM a GROUP BY day ORDER BY day
"""


def ext_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    distinct actives per (cohort_week, weeks_since). Two hash aggregates
    (first-seen per user, distinct actives per cell) joined on the user
    key — no per-user window, no global sort."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("d")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("d")).cast("date").alias("w")
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff("w", "cohort_week") / 7).cast("long").alias("weeks_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


EXT_RETENTION_SQL = r"""
WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
c AS (
  SELECT user_id, CAST(date_trunc('week', MIN(d)) AS DATE) AS cohort_week
  FROM e GROUP BY user_id
),
a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', d) AS DATE) AS w FROM e)
SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
       CAST(date_diff('day', cohort_week, w) / 7 AS BIGINT) AS weeks_since,
       COUNT(DISTINCT a.user_id) AS n_active_users
FROM a JOIN c ON a.user_id = c.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def ext_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization: a session breaks after a 30-minute
    silence per user. lag + conditional flag + running sum, all inside
    per-user windows, then one hash aggregate per (user, session).

    Scale shape: every window is PARTITIONED BY user_id — one hash
    exchange on the user key, per-key sorts only (no global sort, no
    single-partition window). Timestamps compare natively (no epoch
    truncation) so sub-second gaps are exact; outputs are epoch micros
    (BIGINT) for engine-independent value hashing."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        flagged.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
        .orderBy("user_id", "session_idx")
    )


EXT_SESSIONIZE_SQL = r"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM sessioned GROUP BY user_id, session_idx ORDER BY user_id, session_idx
"""


def ext_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled daily event counts over a generated date spine
    (min..max day). The spine comes from a 1-row bounds aggregate +
    ``sequence``/``explode`` — generated, never stored — and the daily
    aggregate (tiny: one row per day) is explicitly broadcast onto it.

    Scale shape: the only exchange over the big table is the daily
    count's partial agg; the spine join moves O(days) rows."""
    ev = _t(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    daily = ev.groupBy("d").agg(F.count(F.lit(1)).alias("n_events"))
    spine = (
        ev.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("d"))
    )
    return (
        spine.join(F.broadcast(daily), "d", "left")
        .select(
            F.col("d").cast("string").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("day")
    )


EXT_GAP_FILL_SQL = r"""
WITH e AS (SELECT CAST(ts AS DATE) AS d FROM events),
b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM e),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM b
),
daily AS (SELECT d, COUNT(*) AS n_events FROM e GROUP BY d)
SELECT CAST(spine.d AS VARCHAR) AS day,
       COALESCE(daily.n_events, 0) AS n_events
FROM spine LEFT JOIN daily ON spine.d = daily.d
ORDER BY day
"""


def ext_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavor pricing summary: per (returnflag, linestatus)
    decimal-exact sums of qty / base price / discounted price / charge
    plus row counts, under a shipdate cutoff.

    Scale shape: the cutoff filter pushes to the parquet scan, the
    4-column projection prunes the read, and everything else is ONE
    partial+final hash aggregate over a handful of groups — the map-side
    combine shrinks the shuffle to O(groups x partitions). DECIMAL
    accumulation makes the sums order-independent across engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    d = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    one = F.lit(1).cast("decimal(18,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("decimal(38,6)").cast("string").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("decimal(38,6)").cast("string").alias("sum_base_price"),
            F.sum(d("l_extendedprice") * (one - d("l_discount")))
            .cast("decimal(38,12)").cast("string").alias("sum_disc_price"),
            F.sum(d("l_extendedprice") * (one - d("l_discount")) * (one + d("l_tax")))
            .cast("decimal(38,18)").cast("string").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


EXT_PRICING_SUMMARY_SQL = r"""
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                 AS DECIMAL(38,12)) AS VARCHAR) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
                     * (CAST(1 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6))))
                 AS DECIMAL(38,18)) AS VARCHAR) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def ext_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-flavor: top-20 customers by returned-item revenue.
    lineitem(R) |><| orders -> per-customer decimal revenue -> join
    customer -> global top-k.

    Scale shape: the returnflag filter pushes to the scan; the one big
    exchange is lineitem->orders on orderkey; per-customer revenue is a
    hash agg (small output), so the customer join's left side is already
    reduced and AQE can broadcast it; the final top-20 compiles to
    TakeOrderedAndProject (per-task heaps, no global sort)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    per_cust = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum("rev").cast("decimal(38,12)").alias("_rev"),
            F.count(F.lit(1)).alias("n_return_items"),
        )
    )
    return (
        per_cust.join(cust, per_cust["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.col("_rev").cast("string").alias("revenue"),
            "n_return_items",
            F.col("_rev").alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), "c_custkey")
        .limit(20)
        .drop("_ord")
    )


EXT_TOP_CUSTOMERS_SQL = r"""
SELECT c_custkey, c_name, c_mktsegment,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                 AS DECIMAL(38,12)) AS VARCHAR) AS revenue,
       COUNT(*) AS n_return_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                  * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
              AS DECIMAL(38,12)) DESC, c_custkey
LIMIT 20
"""


def ext_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-flavor existence query: orders with at least one lineitem
    shipped >60 days after the order date, counted by priority — a LEFT
    SEMI join (equi on orderkey + residual date condition).

    Scale shape: semi join never duplicates or widens the left side (the
    probe stops at first match), both scans project 2-3 columns, and the
    priority count is a tiny hash agg. One exchange on orderkey."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


EXT_LATE_ORDERS_SQL = r"""
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def ext_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral sequence extraction: the first 20 events (by
    time) joined into a `view>click>purchase` path string — the
    sequence-mining / session-replay input shape for training pipelines.

    Scale shape: a row_number filter per user BEFORE the collect caps
    every group at 20 rows (WindowGroupLimit pushes the cap into the
    shuffle), so collect_list is bounded — never an unbounded per-user
    array. One exchange on user_id serves both the window and the agg."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first20 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    return (
        first20.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("seq"),
            F.count(F.lit(1)).alias("n_seq"),
        )
        .orderBy("user_id")
    )


EXT_EVENT_SEQUENCES_SQL = r"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id,
       string_agg(event_type, '>' ORDER BY rn) AS seq,
       COUNT(*) AS n_seq
FROM ranked WHERE rn <= 20
GROUP BY user_id ORDER BY user_id
"""


def ext_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (k=5 docs per source) ordered by
    a portable md5 hash — the subset-stable 'show me 5 examples of every
    source' primitive (engine-independent, re-runnable, no rand()).

    Scale shape: row_number over (source, hash order) with the <=k
    filter compiles to WindowGroupLimit — per-task group limits run
    BEFORE the exchange, so the shuffle carries O(k x groups), not the
    corpus."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("source", "doc_id")
    keyed = docs.withColumn(
        "sample_key", F.md5(F.concat(F.lit("7-"), F.col("doc_id").cast("string")))
    )
    w = Window.partitionBy("source").orderBy("sample_key", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", F.col("rn").alias("rank"), "doc_id", "sample_key")
        .orderBy("source", "rank")
    )


EXT_GROUP_SAMPLE_SQL = r"""
WITH keyed AS (
  SELECT source, doc_id,
         md5('7-' || CAST(doc_id AS VARCHAR)) AS sample_key
  FROM documents
),
ranked AS (
  SELECT source, doc_id, sample_key,
         row_number() OVER (PARTITION BY source ORDER BY sample_key, doc_id) AS rn
  FROM keyed
)
SELECT source, rn AS rank, doc_id, sample_key
FROM ranked WHERE rn <= 5 ORDER BY source, rank
"""


def ext_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-flavor conditional-aggregate share: PROMO parts' slice
    of March-1996 revenue — CASE-gated decimal sums in ONE aggregate
    (never two passes), share derived from the exact decimals.

    Scale shape: the shipdate window pushes to the lineitem scan before
    the join; part joins on partkey (AQE broadcasts at small SF, shuffle
    join at scale — part is a data-sized table, not a guaranteed-small
    dim); the global agg is a 1-row partial+final."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    ).select(
        "l_partkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    agg = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(F.lit(0).cast("decimal(18,6)")))
            .cast("decimal(38,12)").alias("_promo"),
            F.sum("rev").cast("decimal(38,12)").alias("_total"),
        )
    )
    return agg.select(
        F.col("_promo").cast("string").alias("promo_revenue"),
        F.col("_total").cast("string").alias("total_revenue"),
        F.round(
            F.col("_promo").cast("double") / F.col("_total").cast("double") * 100, 6
        ).alias("promo_share_pct"),
    )


EXT_PROMO_SHARE_SQL = r"""
WITH j AS (
  SELECT p_type,
         CAST(l_extendedprice AS DECIMAL(18,6))
         * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
    AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
),
a AS (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(38,12)) AS p,
         CAST(SUM(rev) AS DECIMAL(38,12)) AS t
  FROM j
)
SELECT CAST(p AS VARCHAR) AS promo_revenue,
       CAST(t AS VARCHAR) AS total_revenue,
       ROUND(CAST(p AS DOUBLE) / CAST(t AS DOUBLE) * 100, 6) AS promo_share_pct
FROM a
"""


def ext_next_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap analysis: lead() per user gives time-to-next-event,
    aggregated to a mean gap per event_type. The mean is derived from an
    exact decimal micros sum / count (float avg is accumulation-order
    dependent across engines — SNIPPETS cross-engine lesson).

    Scale shape: lead() runs in per-user windows (one exchange on
    user_id), then a tiny per-type hash agg."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "gap_us", F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum(F.col("gap_us").cast("decimal(27,0)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


EXT_NEXT_EVENT_GAP_SQL = r"""
WITH g AS (
  SELECT event_type,
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
         - epoch_us(ts) AS gap_us
  FROM events
)
SELECT event_type, COUNT(*) AS n_gaps,
       ROUND(CAST(SUM(CAST(gap_us AS DECIMAL(27,0))) AS DOUBLE) / COUNT(*), 6) AS avg_gap_us,
       MAX(gap_us) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@result_scope
def ext_segment_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative ranking inside each market segment: percent_rank + ntile
    quartiles over account balance (custkey tie-break makes every rank
    row-unique and both engines' ntile deterministic).

    Scale shape: NOT ``Window.partitionBy(segment)`` — segments are a
    fixed small set, so that window sorts millions of rows per segment in
    one task at scale. Instead: range-partitioned GLOBAL numbering ordered
    by (segment, balance desc, custkey) via rownum.py's partition-offset
    scheme, then the in-segment row number is global_i minus the segment's
    broadcast start offset. The ordering is row-unique, so rank ==
    row_number and percent_rank/ntile reduce to closed-form arithmetic on
    (rn, segment size) — bit-equal to the window functions, parallel at
    any size."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    numbered = with_row_number(
        cust,
        column="_gi",
        order_by=[F.col("c_mktsegment"), F.col("c_acctbal").desc(), F.col("c_custkey")],
    )
    seg = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("_n"))
    seg = seg.select(
        "c_mktsegment",
        "_n",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("c_mktsegment").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
    )
    rn = F.col("_gi") - F.col("_off")
    n = F.col("_n")
    # percent_rank = (rank-1)/(n-1); row-unique order => rank == rn
    pct = F.when(n > 1, F.round((rn - 1) / (n - 1), 6)).otherwise(F.lit(0.0))
    # ntile(4): first (n%4) buckets get ceil(n/4) rows, the rest floor(n/4)
    q, r = F.floor(n / 4), n % 4
    boundary = r * (q + 1)
    quartile = F.when(rn <= boundary, F.floor((rn - 1) / (q + 1)) + 1).otherwise(
        r + F.floor((rn - boundary - 1) / q) + 1
    ).cast("int")
    return (
        numbered.join(F.broadcast(seg), "c_mktsegment")
        .withColumn("pct_rank", pct)
        .withColumn("quartile", quartile)
        .select("c_custkey", "c_mktsegment", "c_acctbal", "pct_rank", "quartile")
        .orderBy("c_mktsegment", F.col("c_acctbal").desc(), "c_custkey")
    )


EXT_SEGMENT_RANK_SQL = r"""
SELECT c_custkey, c_mktsegment, c_acctbal,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ntile(4) OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
ORDER BY c_mktsegment, c_acctbal DESC, c_custkey
"""


def ext_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative daily order revenue: decimal day sums, then a running
    total over the ORDERED DAY AXIS.

    Scale shape: the expensive part (per-day revenue) is a partial+final
    hash agg over the big table; the unpartitioned running-total window
    runs AFTER aggregation over O(days) rows — a global window over raw
    orders would serialize, over the day axis it's bounded and fine at
    any SF. Decimal accumulation keeps the cumsum order-independent."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("price"),
    )
    daily = orders.groupBy("day").agg(
        F.sum("price").cast("decimal(38,6)").alias("day_revenue")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.withColumn(
            "cum_revenue", F.sum("day_revenue").over(w).cast("decimal(38,6)")
        )
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("day_revenue").cast("string").alias("day_revenue"),
            F.col("cum_revenue").cast("string").alias("cum_revenue"),
        )
        .orderBy("day")
    )


EXT_RUNNING_REVENUE_SQL = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS day_revenue
  FROM orders GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(day_revenue AS VARCHAR) AS day_revenue,
       CAST(CAST(SUM(day_revenue) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DECIMAL(38,6)) AS VARCHAR) AS cum_revenue
FROM daily ORDER BY day
"""


def ext_partitioned_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink round-trip: documents written
    ``source=<v>/part-*.parquet``, read back with a partition-column
    filter, aggregated per source.

    Scale shape: the read-back filter resolves against DIRECTORY NAMES
    (PartitionFilters in the scan node — asserted in
    tests/test_sources_validate_export.py); files outside the three
    selected sources are never opened. This is the layout contract every
    downstream engine (Spark/Trino/Hive/DuckDB) prunes on."""
    import hashlib
    import tempfile

    from aircan_spark.export import export_partitioned

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    # stable per-sf output dir: overwrite-mode re-runs reuse it (no /tmp
    # accumulation across driver invocations)
    out = os.path.join(
        tempfile.gettempdir(),
        "aircan_part_export_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    export_partitioned(docs, out, ["source"])
    back = read_parquet(spark, out).filter(
        F.col("source").isin("src1", "src2", "src3")
    )
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


EXT_PARTITIONED_EXPORT_SQL = r"""
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE source IN ('src1', 'src2', 'src3')
GROUP BY source ORDER BY source
"""


def ext_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7/Q9-flavor supplier volume: revenue by supplier nation and
    ship year. lineitem joins supplier on suppkey (data-sized table —
    shuffle join at scale, AQE broadcasts at small SF), nation is an
    explicit broadcast; decimal-exact revenue.

    Scale shape: 3-column lineitem projection, one orderkey-free exchange
    (suppkey), tiny (nation x year) hash agg output."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", "ship_year")
        .agg(
            F.sum("rev").cast("decimal(38,12)").cast("string").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("n_name", "ship_year")
    )


EXT_SUPPLIER_VOLUME_SQL = r"""
SELECT n_name, EXTRACT(YEAR FROM l_shipdate) AS ship_year,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                 AS DECIMAL(38,12)) AS VARCHAR) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name, ship_year ORDER BY n_name, ship_year
"""


def ext_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stream reconciliation: daily click vs purchase counts FULL
    OUTER joined on the day axis, absent sides zero-filled, with the
    imbalance delta — the audit query for 'did sink B receive everything
    source A sent'.

    Scale shape: both inputs aggregate FIRST (partial+final hash aggs);
    the full-outer join runs over two O(days) frames, never raw events.
    Full outer can't broadcast — but at O(days) rows the sort-merge is
    trivial at any SF."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("day").agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("day").agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return (
        clicks.join(purchases, "day", "full_outer")
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            (
                F.coalesce("n_clicks", F.lit(0))
                - F.coalesce("n_purchases", F.lit(0))
            ).alias("delta"),
        )
        .orderBy("day")
    )


EXT_RECONCILE_SQL = r"""
WITH c AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1
),
p AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT CAST(COALESCE(c.day, p.day) AS VARCHAR) AS day,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_purchases, 0) AS n_purchases,
       COALESCE(n_clicks, 0) - COALESCE(n_purchases, 0) AS delta
FROM c FULL OUTER JOIN p ON c.day = p.day
ORDER BY day
"""


def ext_union_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two projections of documents with
    DIFFERENT column sets combined via ``unionByName(allowMissing
    Columns=True)`` — the batch-boundary schema-drift append the
    reference handles with its recreate-vs-append decision tree (D4),
    expressed as a single relational op (missing columns null-filled,
    matched BY NAME, never by position).

    Scale shape: union is a zero-shuffle concatenation of scans; the
    final ordering is the only exchange."""
    docs = _t(spark, sf_dir, "documents")
    old_batch = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "n_chars"
    )
    new_batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "lang"
    )
    return (
        old_batch.unionByName(new_batch, allowMissingColumns=True)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce("lang", F.lit("?")).alias("lang"),
        )
        .orderBy("doc_id")
    )


EXT_UNION_EVOLVE_SQL = r"""
SELECT doc_id, source, n_chars, COALESCE(lang, '?') AS lang
FROM (
  SELECT doc_id, source, n_chars, NULL AS lang
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL BY NAME
  SELECT doc_id, source, NULL AS n_chars, lang
  FROM documents WHERE doc_id % 2 = 1
)
ORDER BY doc_id
"""


def ext_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (streaming.py::stream_enrich)
    in batch-parity mode: events left-join the customer dim (broadcast —
    the stream side never shuffles), unmatched users fall back to
    'unknown', then segment x event_type counts."""
    from aircan_spark.streaming import stream_enrich

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream_enrich(
        ev,
        cust,
        on=("user_id", "c_custkey"),
        dim_cols=["c_mktsegment"],
        default={"c_mktsegment": "unknown"},
    )
    return (
        enriched.groupBy(
            F.col("c_mktsegment").alias("segment"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("segment", "event_type")
    )


EXT_STREAM_ENRICH_SQL = r"""
SELECT COALESCE(c_mktsegment, 'unknown') AS segment, event_type,
       COUNT(*) AS n_events
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY segment, event_type
"""


def ext_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmin/argmax per group: the event carrying the
    smallest / largest value per event_type, via MIN/MAX over a
    (value, event_id) struct — lexicographic struct ordering gives an
    exact tie-break inside ONE hash aggregate (no window, no self-join).

    Scale shape: partial min/max structs combine map-side; the shuffle
    carries one struct per (partition, group)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    lo = F.min(F.struct("value", "event_id"))
    hi = F.max(F.struct("value", "event_id"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(lo["value"], 6).alias("min_value"),
            lo["event_id"].alias("min_event_id"),
            F.round(hi["value"], 6).alias("max_value"),
            hi["event_id"].alias("max_event_id"),
        )
        .orderBy("event_type")
    )


EXT_ARGMINMAX_SQL = r"""
SELECT event_type,
       ROUND((MIN({'value': value, 'event_id': event_id})).value, 6) AS min_value,
       (MIN({'value': value, 'event_id': event_id})).event_id AS min_event_id,
       ROUND((MAX({'value': value, 'event_id': event_id})).value, 6) AS max_value,
       (MAX({'value': value, 'event_id': event_id})).event_id AS max_event_id
FROM events GROUP BY event_type ORDER BY event_type
"""


def ext_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: the most frequent lang per source (count agg,
    then row_number over (count DESC, lang) — built-in MODE() leaves tie
    choice engine-defined, the explicit ranking does not).

    Scale shape: the heavy input collapses in the first hash agg
    ((source, lang) cells); the window ranks O(cells) rows with a
    WindowGroupLimit cap."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("source", "lang")
    cells = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "lang")
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("mode_lang"), F.col("n").alias("n_docs"))
        .orderBy("source")
    )


EXT_MODE_SQL = r"""
WITH cells AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
),
ranked AS (
  SELECT source, lang, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn
  FROM cells
)
SELECT source, lang AS mode_lang, n AS n_docs
FROM ranked WHERE rn = 1 ORDER BY source
"""


def ext_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation funnel — exact dedup, length filter,
    quality filter — as ONE declarative plan: every per-doc flag is
    computed in a single projection pass, the dedup representative is one
    row_number over the fingerprint key, and all four stage counts fall
    out of ONE conditional-sum aggregate.

    Scale shape: one scan of the corpus, one exchange (fingerprint), one
    tiny global agg. The naive form (filter + count per stage) scans the
    corpus four times; this is the composition argument for an engine
    with declarative plans."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    flagged = docs.select(
        "doc_id",
        "n_chars",
        F.md5(norm).alias("fp"),
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
        .alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", "[^0-9]", ""))
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("digit_ratio"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    staged = flagged.withColumn(
        "is_rep", (F.row_number().over(w) == 1).cast("int")
    ).select(
        "is_rep",
        (F.col("n_chars").between(100, 20000)).cast("int").alias("len_ok"),
        ((F.col("digit_ratio") < 0.3) & (F.col("n_tokens") >= 20))
        .cast("int")
        .alias("qual_ok"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("is_rep").alias("n_after_dedup"),
        F.sum(F.col("is_rep") * F.col("len_ok")).alias("n_after_length"),
        F.sum(F.col("is_rep") * F.col("len_ok") * F.col("qual_ok")).alias(
            "n_retained"
        ),
        F.round(
            F.sum(F.col("is_rep") * F.col("len_ok") * F.col("qual_ok"))
            / F.count(F.lit(1)),
            6,
        ).alias("retention_rate"),
    )


EXT_CURATION_FUNNEL_SQL = r"""
WITH flagged AS (
  SELECT doc_id, n_chars,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         / GREATEST(length(text), 1) AS digit_ratio
  FROM documents
),
staged AS (
  SELECT CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
              THEN 1 ELSE 0 END AS is_rep,
         CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1 ELSE 0 END AS len_ok,
         CASE WHEN digit_ratio < 0.3 AND n_tokens >= 20 THEN 1 ELSE 0 END AS qual_ok
  FROM flagged
)
SELECT COUNT(*) AS n_total,
       CAST(SUM(is_rep) AS BIGINT) AS n_after_dedup,
       CAST(SUM(is_rep * len_ok) AS BIGINT) AS n_after_length,
       CAST(SUM(is_rep * len_ok * qual_ok) AS BIGINT) AS n_retained,
       ROUND(CAST(SUM(is_rep * len_ok * qual_ok) AS DOUBLE) / COUNT(*), 6) AS retention_rate
FROM staged
"""


def ext_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per returnflag,
    derived from EXACT decimal moments (n, Σx, Σy, Σxy, Σx², Σy²) —
    native corr() accumulates in floating point and differs in the last
    ulps between engines/partitionings; decimal moments make the result
    bit-identical and order-independent.

    Scale shape: one partial+final hash agg; the moments are algebraic,
    so map-side combine applies."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(15,3)").alias("x"),
        F.col("l_extendedprice").cast("decimal(15,3)").alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    corr = (m["n"] * m["sxy"] - m["sx"] * m["sy"]) / F.sqrt(
        (m["n"] * m["sxx"] - m["sx"] * m["sx"])
        * (m["n"] * m["syy"] - m["sy"] * m["sy"])
    )
    return m.select(
        "l_returnflag",
        m["n"].cast("long").alias("n_rows"),
        F.round(corr, 6).alias("qty_price_corr"),
    ).orderBy("l_returnflag")


EXT_CORRELATION_SQL = r"""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,3))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,3))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,3)) * CAST(l_extendedprice AS DECIMAL(15,3))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,3)) * CAST(l_quantity AS DECIMAL(15,3))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,3)) * CAST(l_extendedprice AS DECIMAL(15,3))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS qty_price_corr
FROM m ORDER BY l_returnflag
"""


def ext_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily order revenue: decimal day
    sums, then a rows-bounded window over the ORDERED DAY AXIS (sum/count
    over the trailing frame — exact decimal numerator).

    Scale shape: like ext_running_revenue, the unpartitioned window runs
    over the O(days) aggregate, never raw orders."""
    from pyspark.sql.window import Window

    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_totalprice").cast("decimal(18,6)").alias("price"),
        )
        .groupBy("day")
        .agg(F.sum("price").cast("decimal(38,6)").alias("day_revenue"))
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return (
        daily.withColumn(
            "ma7",
            F.round(
                F.sum("day_revenue").over(w).cast("double")
                / F.count(F.lit(1)).over(w),
                6,
            ),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("day_revenue").cast("string").alias("day_revenue"),
            "ma7",
        )
        .orderBy("day")
    )


EXT_MOVING_AVG_SQL = r"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS day_revenue
  FROM orders GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day,
       CAST(day_revenue AS VARCHAR) AS day_revenue,
       ROUND(CAST(SUM(day_revenue) OVER w AS DOUBLE) / COUNT(*) OVER w, 6) AS ma7
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day
"""


def ext_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: month-axis decimal sums,
    lag(12) over the ordered month axis, growth percent from the exact
    decimals (NULL for the first year — no prior-year base).

    Scale shape: the lag window runs over O(months) aggregated rows."""
    from pyspark.sql.window import Window

    monthly = (
        _t(spark, sf_dir, "orders")
        .select(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.col("o_totalprice").cast("decimal(18,6)").alias("price"),
        )
        .groupBy("month")
        .agg(F.sum("price").cast("decimal(38,6)").alias("revenue"))
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue", 12).over(w)
    return (
        monthly.withColumn(
            "yoy_pct",
            F.round(
                (F.col("revenue").cast("double") - prev.cast("double"))
                / prev.cast("double")
                * 100,
                6,
            ),
        )
        .select(
            F.col("month").cast("string").alias("month"),
            F.col("revenue").cast("string").alias("revenue"),
            "yoy_pct",
        )
        .orderBy("month")
    )


EXT_YOY_SQL = r"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS revenue
  FROM orders GROUP BY 1
)
SELECT CAST(month AS VARCHAR) AS month,
       CAST(revenue AS VARCHAR) AS revenue,
       ROUND((CAST(revenue AS DOUBLE) - CAST(lag(revenue, 12) OVER (ORDER BY month) AS DOUBLE))
             / CAST(lag(revenue, 12) OVER (ORDER BY month) AS DOUBLE) * 100, 6) AS yoy_pct
FROM monthly ORDER BY month
"""


def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (segment, nation): every
    equivalence class with its size and a below-k flag (k=5), plus the
    governed-export decision input — the per-class rows that would need
    suppression or generalization.

    Scale shape: one hash agg over the QI combination; the audit output
    is O(distinct QI combos), never row-level."""
    cust = _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey")
    return (
        cust.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .withColumn("below_k", (F.col("class_size") < 5).cast("int"))
        .orderBy("c_mktsegment", "c_nationkey")
    )


EXT_K_ANONYMITY_SQL = r"""
SELECT c_mktsegment, c_nationkey, COUNT(*) AS class_size,
       CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS below_k
FROM customer
GROUP BY c_mktsegment, c_nationkey
ORDER BY c_mktsegment, c_nationkey
"""


def ext_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 derivation from a change log:
    each user's value history becomes versioned validity ranges —
    valid_from = the change timestamp, valid_to = the NEXT change (NULL
    for the current version). One lead() in per-key windows.

    Scale shape: one exchange on the entity key; per-key sorts only.
    Epoch-micros outputs for engine-independent hashing."""
    from pyspark.sql.window import Window

    changes = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    ).select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id",
            F.round("value", 6).alias("value"),
            F.unix_micros("ts").alias("valid_from_us"),
            F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
            (F.lead("ts").over(w).isNull()).cast("int").alias("is_current"),
        )
        .orderBy("user_id", "valid_from_us")
    )


EXT_SCD2_SQL = r"""
SELECT user_id, ROUND(value, 6) AS value,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w) AS valid_to_us,
       CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
FROM events
WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, valid_from_us
"""


def ext_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage heatmap axes: event counts per (ISO weekday, hour) cell —
    the load-profile / anomaly-baseline primitive. Spark ``weekday()``
    (0=Monday) aligned to DuckDB ``isodow - 1``.

    Scale shape: one partial+final hash agg into a fixed 7x24 output."""
    ev = _t(spark, sf_dir, "events").select(
        F.weekday("ts").cast("long").alias("weekday"),
        F.hour("ts").cast("long").alias("hour"),
    )
    return (
        ev.groupBy("weekday", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("weekday", "hour")
    )


EXT_WEEKDAY_PROFILE_SQL = r"""
SELECT isodow(ts) - 1 AS weekday, EXTRACT(HOUR FROM ts) AS hour,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2 ORDER BY weekday, hour
"""


def ext_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key forward-fill imputation: error events carry no valid
    measurement (masked to NULL), each takes the user's most recent
    prior value — ``last(..., ignorenulls)`` over a trailing per-user
    window, the standard gap-imputation primitive for sensor/telemetry
    prep.

    Scale shape: one exchange on user_id, per-key ordered scan; the
    trailing frame keeps state O(1) per row."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    masked = ev.withColumn(
        "v",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        masked.select(
            "user_id",
            "event_id",
            (F.col("event_type") == "error").cast("int").alias("was_masked"),
            F.round(F.last("v", ignorenulls=True).over(w), 6).alias("value_ffill"),
        )
        .orderBy("user_id", "event_id")
    )


EXT_FORWARD_FILL_SQL = r"""
SELECT user_id, event_id,
       CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS was_masked,
       ROUND(LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value_ffill
FROM events ORDER BY user_id, event_id
"""


def ext_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality audit for orders |><| lineitem on orderkey:
    per-side row/distinct-key counts, max per-key multiplicity, and the
    EXACT join output size — the 'will this join explode' check run
    before committing to a shuffle at scale.

    Scale shape: two hash aggs (one per side, keyed by the join key) and
    a join of the two small per-key count frames; the predicted size is
    Σ cnt_l × cnt_r — no execution of the audited join itself."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    lc = li.groupBy("k").agg(F.count(F.lit(1)).alias("cl"))
    oc = orders.groupBy("k").agg(F.count(F.lit(1)).alias("cr"))
    joined = lc.join(oc, "k", "inner")
    return (
        joined.agg(
            F.sum("cl").alias("_left_matched"),
            F.sum("cr").alias("_right_matched"),
            F.max("cl").alias("max_left_multiplicity"),
            F.max("cr").alias("max_right_multiplicity"),
            F.sum(F.col("cl") * F.col("cr")).alias("join_output_rows"),
            F.count(F.lit(1)).alias("n_matched_keys"),
        )
        .select(
            "n_matched_keys",
            "max_left_multiplicity",
            "max_right_multiplicity",
            "join_output_rows",
        )
    )


EXT_JOIN_AUDIT_SQL = r"""
WITH lc AS (SELECT l_orderkey AS k, COUNT(*) AS cl FROM lineitem GROUP BY 1),
oc AS (SELECT o_orderkey AS k, COUNT(*) AS cr FROM orders GROUP BY 1),
j AS (SELECT cl, cr FROM lc JOIN oc USING (k))
SELECT COUNT(*) AS n_matched_keys,
       MAX(cl) AS max_left_multiplicity,
       MAX(cr) AS max_right_multiplicity,
       CAST(SUM(cl * cr) AS BIGINT) AS join_output_rows
FROM j
"""


def ext_ri_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan foreign keys per relation
    (lineitem->orders on orderkey, orders->customer on custkey) as LEFT
    ANTI joins, reported as one long-format frame.

    Scale shape: anti joins never widen the probe side; each relation is
    one equi-exchange; counts are tiny aggregates."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    li_orphans = li.join(
        orders.select("o_orderkey"), li["l_orderkey"] == orders["o_orderkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_orphans"))
    ord_orphans = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_orphans"))
    return (
        li_orphans.select(
            F.lit("lineitem->orders").alias("relation"), "n_orphans"
        )
        .unionAll(
            ord_orphans.select(
                F.lit("orders->customer").alias("relation"), "n_orphans"
            )
        )
        .orderBy("relation")
    )


EXT_RI_CHECK_SQL = r"""
SELECT 'lineitem->orders' AS relation,
       (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
ORDER BY relation
"""


def ext_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/staleness audit: latest event per type vs the global
    watermark, lag in seconds — the 'is source X falling behind' monitor.

    Scale shape: one tiny per-type MAX agg; the global max derives from
    the same aggregate (no second scan — a window over the O(types)
    frame)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    per_type = ev.groupBy("event_type").agg(
        F.unix_micros(F.max("ts")).alias("latest_us")
    )
    w = Window.partitionBy()
    return (
        per_type.withColumn("global_latest_us", F.max("latest_us").over(w))
        .select(
            "event_type",
            "latest_us",
            # floor on BOTH engines: DuckDB's double->bigint cast rounds,
            # Spark's truncates — explicit floor removes the ambiguity
            F.floor((F.col("global_latest_us") - F.col("latest_us")) / 1_000_000)
            .cast("long")
            .alias("lag_seconds"),
        )
        .orderBy("event_type")
    )


EXT_FRESHNESS_SQL = r"""
WITH per_type AS (
  SELECT event_type, epoch_us(MAX(ts)) AS latest_us FROM events GROUP BY 1
)
SELECT event_type, latest_us,
       CAST(FLOOR((MAX(latest_us) OVER () - latest_us) / 1000000) AS BIGINT) AS lag_seconds
FROM per_type ORDER BY event_type
"""


def ext_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit: per market segment, exact-interpolated
    Q1/Q3 of account balance, 1.5-IQR fences, and the out-of-fence count
    — two passes (tiny fence agg broadcast back onto the rows), the
    standard distribution-drift gate.

    Scale shape: pass 1 is a per-group percentile agg (O(groups) out);
    pass 2 re-scans with the broadcast fences — data rows never shuffle."""
    cust = _t(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    fences = cust.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile("c_acctbal", F.lit(0.75)), 4).alias("q3"),
    )
    flagged = cust.join(F.broadcast(fences), "c_mktsegment")
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        flagged.groupBy("c_mktsegment", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                ((F.col("c_acctbal") < lo) | (F.col("c_acctbal") > hi)).cast("int")
            ).alias("n_outliers"),
        )
        .orderBy("c_mktsegment")
    )


EXT_IQR_SQL = r"""
WITH fences AS (
  SELECT c_mktsegment,
         ROUND(quantile_cont(c_acctbal, 0.25), 4) AS q1,
         ROUND(quantile_cont(c_acctbal, 0.75), 4) AS q3
  FROM customer GROUP BY 1
)
SELECT c.c_mktsegment, q1, q3, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN c.c_acctbal < q1 - 1.5 * (q3 - q1)
                  OR c.c_acctbal > q3 + 1.5 * (q3 - q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM customer c JOIN fences f ON c.c_mktsegment = f.c_mktsegment
GROUP BY c.c_mktsegment, q1, q3 ORDER BY c.c_mktsegment
"""


def ext_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: per-user consecutive event-type
    bigrams (lag in per-user time order), counted globally with each
    source state's outgoing probability — the Markov-chain input for
    sequence modeling / funnel discovery.

    Scale shape: lag() in per-user windows (one exchange on user_id),
    then a tiny (types x types) hash agg; probabilities derive from a
    window over the O(types²) aggregate."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    counts = bigrams.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("from_type")
    return (
        counts.withColumn(
            "p", F.round(F.col("n") / F.sum("n").over(wt), 6)
        )
        .orderBy("from_type", "to_type")
    )


EXT_TRANSITIONS_SQL = r"""
WITH bigrams AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM bigrams WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM counts ORDER BY from_type, to_type
"""


def ext_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical diversity: corpus type-token ratio and mean
    token length from ROW-LOCAL array HOFs (no explode, no shuffle per
    token), aggregated as exact integer moments with one final division.

    Scale shape: the entire per-doc computation is a projection; the only
    exchange is the per-language final agg."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("lang", F.trim("text").alias("t"))
        # blank docs: split('', '\s+') yields [''] (n_tok=1), so the
        # n_tok>0 guard below can't exclude them — match the oracle's
        # explicit whitespace-only pre-filter
        .filter(F.length(F.col("t")) > 0)
    )
    toks = F.split(F.col("t"), r"\s+")
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.length(F.regexp_replace("t", r"\s+", "")).alias("n_alpha"),
    ).filter(F.col("n_tok") > 0)
    # ratio-of-sums (integer moments, ONE final division) — a mean of
    # per-row decimal quotients would expose engine-specific division
    # scales; integer sums are exact everywhere
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("n_types").cast("double") / F.sum("n_tok"), 6
            ).alias("corpus_ttr"),
            F.round(
                F.sum("n_alpha").cast("double") / F.sum("n_tok"), 6
            ).alias("mean_token_len"),
        )
        .orderBy("lang")
    )


EXT_LEXICAL_SQL = r"""
WITH per_doc AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
         len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_types,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_alpha
  FROM documents WHERE length(trim(text)) > 0
)
SELECT lang, COUNT(*) AS n_docs,
       ROUND(CAST(SUM(n_types) AS DOUBLE) / SUM(n_tok), 6) AS corpus_ttr,
       ROUND(CAST(SUM(n_alpha) AS DOUBLE) / SUM(n_tok), 6) AS mean_token_len
FROM per_doc WHERE n_tok > 0
GROUP BY lang ORDER BY lang
"""


def ext_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: the share of segment
    revenue held by its top-decile customers (per-customer decimal
    revenue -> per-segment P90 threshold -> conditional share).

    Scale shape: the raw tables collapse to per-customer revenue first
    (one orderkey exchange + one custkey agg); the percentile + share
    passes run over the O(customers) aggregate with broadcast
    thresholds — raw rows are touched once."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # r13 (guide §5, the ext_gini shape): per_cust feeds the P90
    # threshold pass AND the tagged share pass — un-persisted, the
    # 3-table join + custkey aggregation ran twice. Data-proportional
    # (one row per customer) -> DISK_ONLY.
    per_cust = share(
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("rev").cast("decimal(38,6)").alias("crev")),
        big=True,
    )
    thresholds = per_cust.groupBy("c_mktsegment").agg(
        F.round(F.percentile(F.col("crev").cast("double"), F.lit(0.9)), 4).alias("p90")
    )
    tagged = per_cust.join(F.broadcast(thresholds), "c_mktsegment")
    return (
        tagged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.when(F.col("crev").cast("double") >= F.col("p90"), F.col("crev"))
                .otherwise(F.lit(0).cast("decimal(38,6)"))
            ).cast("decimal(38,6)").alias("_top"),
            F.sum("crev").cast("decimal(38,6)").alias("_total"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            F.round(
                F.col("_top").cast("double") / F.col("_total").cast("double"), 6
            ).alias("top_decile_share"),
        )
        .orderBy("c_mktsegment")
    )


EXT_PARETO_SQL = r"""
WITH per_cust AS (
  SELECT c_mktsegment, c_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                  * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
              AS DECIMAL(38,6)) AS crev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
t AS (
  SELECT c_mktsegment, ROUND(quantile_cont(CAST(crev AS DOUBLE), 0.9), 4) AS p90
  FROM per_cust GROUP BY 1
)
SELECT p.c_mktsegment, COUNT(*) AS n_customers,
       ROUND(CAST(CAST(SUM(CASE WHEN CAST(crev AS DOUBLE) >= p90 THEN crev
                                ELSE CAST(0 AS DECIMAL(38,6)) END) AS DECIMAL(38,6)) AS DOUBLE)
             / CAST(CAST(SUM(crev) AS DECIMAL(38,6)) AS DOUBLE), 6) AS top_decile_share
FROM per_cust p JOIN t ON p.c_mktsegment = t.c_mktsegment
GROUP BY p.c_mktsegment ORDER BY p.c_mktsegment
"""


def ext_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT active users per day. Distinct counts are
    NOT mergeable from daily distincts — the exact path compacts events
    to the (day, user) pair frame first, then counts each pair into the
    <= 7 trailing days it belongs to via a generated day offset (pairs
    explode x7, but pairs << raw events).

    At 100 TB the same query swaps the exact pair explode for
    ``hll_sketch_agg`` per day + ``hll_union_agg`` over the trailing
    window (mergeable sketches — see ext_distinct_counts for the HLL
    surface); the exact form IS the oracle here."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    pairs = ev.distinct()
    days = ev.select("d").distinct()
    contrib = pairs.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "d"
    ).select("user_id", F.date_add("d", F.col("off")).alias("day"))
    return (
        contrib.join(days, contrib["day"] == days["d"])
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("n_active_7d"))
        .select(F.col("day").cast("string").alias("day"), "n_active_7d")
        .orderBy("day")
    )


EXT_ROLLING_DISTINCT_SQL = r"""
WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
contrib AS (
  SELECT user_id, d + CAST(off AS INTEGER) AS day
  FROM pairs, (SELECT unnest(generate_series(0, 6)) AS off)
)
SELECT CAST(days.d AS VARCHAR) AS day,
       COUNT(DISTINCT user_id) AS n_active_7d
FROM contrib JOIN days ON contrib.day = days.d
GROUP BY days.d ORDER BY day
"""


EXT_QUERIES.update({
    "ext_pareto_share": ext_pareto_share,
    "ext_rolling_distinct": ext_rolling_distinct,
    "ext_transitions": ext_transitions,
    "ext_lexical_diversity": ext_lexical_diversity,
    "ext_freshness": ext_freshness,
    "ext_iqr_outliers": ext_iqr_outliers,
    "ext_join_audit": ext_join_audit,
    "ext_ri_check": ext_ri_check,
    "ext_weekday_profile": ext_weekday_profile,
    "ext_forward_fill": ext_forward_fill,
    "ext_k_anonymity": ext_k_anonymity,
    "ext_scd2": ext_scd2,
    "ext_correlation": ext_correlation,
    "ext_moving_avg": ext_moving_avg,
    "ext_yoy_growth": ext_yoy_growth,
    "ext_curation_funnel": ext_curation_funnel,
    "ext_stream_enrich": ext_stream_enrich,
    "ext_argminmax": ext_argminmax,
    "ext_mode_by_group": ext_mode_by_group,
    "ext_reconcile": ext_reconcile,
    "ext_union_evolve": ext_union_evolve,
    "ext_partitioned_export": ext_partitioned_export,
    "ext_supplier_volume": ext_supplier_volume,
    "ext_next_event_gap": ext_next_event_gap,
    "ext_segment_rank": ext_segment_rank,
    "ext_running_revenue": ext_running_revenue,
    "ext_late_orders": ext_late_orders,
    "ext_event_sequences": ext_event_sequences,
    "ext_group_sample": ext_group_sample,
    "ext_promo_share": ext_promo_share,
    "ext_sessionize": ext_sessionize,
    "ext_gap_fill": ext_gap_fill,
    "ext_pricing_summary": ext_pricing_summary,
    "ext_top_customers": ext_top_customers,
    "ext_funnel": ext_funnel,
    "ext_retention": ext_retention,
    "ext_pseudonymize": ext_pseudonymize,
    "ext_fuzzy_join": ext_fuzzy_join,
    "ext_profile": ext_profile,
    "ext_mad": ext_mad,
    "ext_star_join": ext_star_join,
    "ext_grouping_sets": ext_grouping_sets,
    "ext_latest_by_key": ext_latest_by_key,
    "ext_quantile_buckets": ext_quantile_buckets,
    "ext_quantize_embeddings": ext_quantize_embeddings,
    "ext_json_extract": ext_json_extract,
    "ext_pack_documents": ext_pack_documents,
    "ext_mixture_sample": ext_mixture_sample,
    "ext_corpus_mix": ext_corpus_mix,
    "ext_clean_text": ext_clean_text,
    "ext_winsorize": ext_winsorize,
    "ext_distinct_counts": ext_distinct_counts,
    "ext_anti_join": ext_anti_join,
    "ext_set_ops": ext_set_ops,
    "ext_ngram_topk": ext_ngram_topk,
    "ext_bm25": ext_bm25,
    "ext_rolling_event_stats": ext_rolling_event_stats,
    "ext_zscore": ext_zscore,
    "ext_histogram": ext_histogram,
    "ext_cube_agg": ext_cube_agg,
    "ext_text_stats": ext_text_stats,
    "ext_quality_score": ext_quality_score,
    "ext_lang_id": ext_lang_id,
    "ext_fingerprint": ext_fingerprint,
    "ext_stopword_ratio": ext_stopword_ratio,
    "ext_rolling_fingerprint": ext_rolling_fingerprint,
    "ext_repetition_stats": ext_repetition_stats,
    "ext_pii_stats": ext_pii_stats,
    "ext_asof_join": ext_asof_join,
    "ext_range_join": ext_range_join,
    "ext_topk_per_group": ext_topk_per_group,
    "ext_rollup_agg": ext_rollup_agg,
    "ext_percentiles": ext_percentiles,
    "ext_shuffle": ext_shuffle,
    "ext_hash_split": ext_hash_split,
    "ext_stratified_sample": ext_stratified_sample,
    "ext_chunk_documents": ext_chunk_documents,
    "ext_vector_norms": ext_vector_norms,
    "ext_label_centroids": ext_label_centroids,
    "ext_tf_idf": ext_tf_idf,
    "ext_length_filter": ext_length_filter,
    "ext_event_features": ext_event_features,
    "ext_pivot_counts": ext_pivot_counts,
    "ext_weighted_sample": ext_weighted_sample,
    "ext_dedup_groups": ext_dedup_groups,
    "ext_decontaminate": ext_decontaminate,
    "ext_vocab_topk": ext_vocab_topk,
    "ext_dedup_exact": ext_dedup_exact,
    "ext_dedup_ngram_jaccard": ext_dedup_ngram_jaccard,
    "ext_dedup_minhash": ext_dedup_minhash,
    "ext_dedup_simhash": ext_dedup_simhash,
    "ext_dedup_embedding": ext_dedup_embedding,
    "ext_dedup_embedding_lsh": ext_dedup_embedding_lsh,
    "ext_sim_topk_brute": ext_sim_topk_brute,
    "ext_sim_topk_lsh": ext_sim_topk_lsh,
    "ext_sim_topk_ivf": ext_sim_topk_ivf,
    "ext_sim_topk_pq": ext_sim_topk_pq,
    "ext_stream_window_counts": ext_stream_window_counts,
    "ext_stream_sessions": ext_stream_sessions,
    "ext_mm_byte_features": ext_mm_byte_features,
    "ext_mm_resize": ext_mm_resize,
})

# minhash/simhash/LSH ANN are non-SQL-expressible (algorithm-specific
# candidate generation) -> rows-only check; everything else has an oracle.
EXT_ORACLES.update({
    "ext_pareto_share": EXT_PARETO_SQL,
    "ext_rolling_distinct": EXT_ROLLING_DISTINCT_SQL,
    "ext_transitions": EXT_TRANSITIONS_SQL,
    "ext_lexical_diversity": EXT_LEXICAL_SQL,
    "ext_freshness": EXT_FRESHNESS_SQL,
    "ext_iqr_outliers": EXT_IQR_SQL,
    "ext_join_audit": EXT_JOIN_AUDIT_SQL,
    "ext_ri_check": EXT_RI_CHECK_SQL,
    "ext_weekday_profile": EXT_WEEKDAY_PROFILE_SQL,
    "ext_forward_fill": EXT_FORWARD_FILL_SQL,
    "ext_k_anonymity": EXT_K_ANONYMITY_SQL,
    "ext_scd2": EXT_SCD2_SQL,
    "ext_correlation": EXT_CORRELATION_SQL,
    "ext_moving_avg": EXT_MOVING_AVG_SQL,
    "ext_yoy_growth": EXT_YOY_SQL,
    "ext_curation_funnel": EXT_CURATION_FUNNEL_SQL,
    "ext_stream_enrich": EXT_STREAM_ENRICH_SQL,
    "ext_argminmax": EXT_ARGMINMAX_SQL,
    "ext_mode_by_group": EXT_MODE_SQL,
    "ext_reconcile": EXT_RECONCILE_SQL,
    "ext_union_evolve": EXT_UNION_EVOLVE_SQL,
    "ext_partitioned_export": EXT_PARTITIONED_EXPORT_SQL,
    "ext_supplier_volume": EXT_SUPPLIER_VOLUME_SQL,
    "ext_next_event_gap": EXT_NEXT_EVENT_GAP_SQL,
    "ext_segment_rank": EXT_SEGMENT_RANK_SQL,
    "ext_running_revenue": EXT_RUNNING_REVENUE_SQL,
    "ext_late_orders": EXT_LATE_ORDERS_SQL,
    "ext_event_sequences": EXT_EVENT_SEQUENCES_SQL,
    "ext_group_sample": EXT_GROUP_SAMPLE_SQL,
    "ext_promo_share": EXT_PROMO_SHARE_SQL,
    "ext_sessionize": EXT_SESSIONIZE_SQL,
    "ext_gap_fill": EXT_GAP_FILL_SQL,
    "ext_pricing_summary": EXT_PRICING_SUMMARY_SQL,
    "ext_top_customers": EXT_TOP_CUSTOMERS_SQL,
    "ext_funnel": EXT_FUNNEL_SQL,
    "ext_retention": EXT_RETENTION_SQL,
    "ext_pseudonymize": EXT_PSEUDONYMIZE_SQL,
    "ext_fuzzy_join": EXT_FUZZY_JOIN_SQL,
    "ext_profile": EXT_PROFILE_SQL,
    "ext_mad": EXT_MAD_SQL,
    "ext_star_join": EXT_STAR_JOIN_SQL,
    "ext_grouping_sets": EXT_GROUPING_SETS_SQL,
    "ext_latest_by_key": EXT_LATEST_BY_KEY_SQL,
    "ext_quantile_buckets": EXT_QUANTILE_BUCKETS_SQL,
    "ext_quantize_embeddings": EXT_QUANTIZE_SQL,
    "ext_json_extract": EXT_JSON_EXTRACT_SQL,
    "ext_pack_documents": EXT_PACK_DOCUMENTS_SQL,
    "ext_mixture_sample": EXT_MIXTURE_SAMPLE_SQL,
    "ext_corpus_mix": EXT_CORPUS_MIX_SQL,
    "ext_clean_text": EXT_CLEAN_TEXT_SQL,
    "ext_winsorize": EXT_WINSORIZE_SQL,
    "ext_distinct_counts": EXT_DISTINCT_COUNTS_SQL,
    "ext_anti_join": EXT_ANTI_JOIN_SQL,
    "ext_set_ops": EXT_SET_OPS_SQL,
    "ext_ngram_topk": EXT_NGRAM_TOPK_SQL,
    "ext_bm25": EXT_BM25_SQL,
    "ext_rolling_event_stats": EXT_ROLLING_EVENT_SQL,
    "ext_zscore": EXT_ZSCORE_SQL,
    "ext_histogram": EXT_HISTOGRAM_SQL,
    "ext_cube_agg": EXT_CUBE_SQL,
    "ext_stream_window_counts": EXT_STREAM_WINDOW_SQL,
    "ext_stream_sessions": EXT_STREAM_SESSIONS_SQL,
    "ext_text_stats": EXT_TEXT_STATS_SQL,
    "ext_quality_score": EXT_QUALITY_SQL,
    "ext_lang_id": EXT_LANG_ID_SQL,
    "ext_fingerprint": EXT_FINGERPRINT_SQL,
    "ext_rolling_fingerprint": EXT_ROLLING_FINGERPRINT_SQL,
    "ext_stopword_ratio": EXT_STOPWORD_SQL,
    "ext_repetition_stats": EXT_REPETITION_SQL,
    "ext_pii_stats": EXT_PII_SQL,
    "ext_asof_join": EXT_ASOF_SQL,
    "ext_range_join": EXT_RANGE_JOIN_SQL,
    "ext_topk_per_group": EXT_TOPK_SQL,
    "ext_rollup_agg": EXT_ROLLUP_SQL,
    "ext_percentiles": EXT_PERCENTILES_SQL,
    "ext_shuffle": EXT_SHUFFLE_SQL,
    "ext_hash_split": EXT_HASH_SPLIT_SQL,
    "ext_stratified_sample": EXT_STRATIFIED_SQL,
    "ext_chunk_documents": EXT_CHUNK_SQL,
    "ext_vector_norms": EXT_VECTOR_NORMS_SQL,
    "ext_label_centroids": EXT_LABEL_CENTROIDS_SQL,
    "ext_tf_idf": EXT_TF_IDF_SQL,
    "ext_length_filter": EXT_LENGTH_FILTER_SQL,
    "ext_event_features": EXT_EVENT_FEATURES_SQL,
    "ext_pivot_counts": EXT_PIVOT_SQL,
    "ext_weighted_sample": EXT_WEIGHTED_SAMPLE_SQL,
    "ext_dedup_groups": EXT_DEDUP_GROUPS_SQL,
    "ext_decontaminate": EXT_DECONTAMINATE_SQL,
    "ext_vocab_topk": EXT_VOCAB_TOPK_SQL,
    "ext_dedup_exact": EXT_DEDUP_EXACT_SQL,
    "ext_dedup_ngram_jaccard": EXT_DEDUP_JACCARD_SQL,
    "ext_dedup_embedding": EXT_DEDUP_EMBEDDING_SQL,
    "ext_sim_topk_brute": EXT_SIM_TOPK_SQL,
    "ext_mm_byte_features": EXT_MM_BYTES_SQL,
    "ext_mm_resize": EXT_MM_RESIZE_SQL,
})


