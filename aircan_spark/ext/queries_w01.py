"""Declared-query waves: text analysis; temporal / relational; sampling / chunking / vectors; dedup; similarity search; streaming (batch-parity execution of the streaming plan); multimodal plumbing.

Split from the former ext/queries.py monolith — code unchanged; each
wave updates the shared registries in aircan_spark.ext._qcommon at
import time (see that module for the ordering contract).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401


# --- text analysis ------------------------------------------------------------


def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.text_stats(docs).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_regex_tokens", "n_punct",
        "n_digits", "mean_token_len",
    ).orderBy("doc_id")


EXT_TEXT_STATS_SQL = r"""
SELECT doc_id,
       LENGTH(text) AS n_chars_calc,
       LEN(string_split_regex(TRIM(text), '\s+')) AS n_tokens,
       LEN(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_regex_tokens,
       LEN(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS n_punct,
       LEN(regexp_extract_all(text, '[0-9]')) AS n_digits,
       ROUND(CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
             / CAST(GREATEST(LEN(string_split_regex(TRIM(text), '\s+')), 1) AS DOUBLE),
             4) AS mean_token_len
FROM documents ORDER BY doc_id
"""


def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.quality_score(docs).select("doc_id", "quality").orderBy("doc_id")


EXT_QUALITY_SQL = r"""
SELECT doc_id,
       ROUND(
         LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
         * (1.0 - CAST(LEN(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE)
                  / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
         * (1.0 - CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                  / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)),
         4) AS quality
FROM documents ORDER BY doc_id
"""


def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.lang_id(docs).select(
        "doc_id", "score_de", "score_en", "score_es", "score_fr", "pred_lang"
    ).orderBy("doc_id")


EXT_LANG_ID_SQL = r"""
WITH scored AS (
  SELECT doc_id,
         LEN(regexp_extract_all(LOWER(text), '\b(der|und|das|nicht)\b')) AS score_de,
         LEN(regexp_extract_all(LOWER(text), '\b(the|and|of|is)\b')) AS score_en,
         LEN(regexp_extract_all(LOWER(text), '\b(el|los|una|que)\b')) AS score_es,
         LEN(regexp_extract_all(LOWER(text), '\b(le|et|les|dans)\b')) AS score_fr
  FROM documents
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
       CASE
         WHEN GREATEST(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
         WHEN score_de = GREATEST(score_de, score_en, score_es, score_fr) THEN 'de'
         WHEN score_en = GREATEST(score_de, score_en, score_es, score_fr) THEN 'en'
         WHEN score_es = GREATEST(score_de, score_en, score_es, score_fr) THEN 'es'
         ELSE 'fr'
       END AS pred_lang
FROM scored ORDER BY doc_id
"""


def ext_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.stopword_stats(docs).select(
        "doc_id", "n_stopwords", "stopword_ratio"
    ).orderBy("doc_id")


EXT_STOPWORD_SQL = r"""
SELECT doc_id,
       LEN(regexp_extract_all(LOWER(text),
           '\b(the|and|of|to|in|is|that|it|for|was|on|are|as|with|at|by|an|be|this|have)\b')) AS n_stopwords,
       ROUND(CAST(LEN(regexp_extract_all(LOWER(text),
           '\b(the|and|of|to|in|is|that|it|for|was|on|are|as|with|at|by|an|be|this|have)\b')) AS DOUBLE)
             / CAST(GREATEST(LEN(string_split_regex(TRIM(text), '\s+')), 1) AS DOUBLE), 4) AS stopword_ratio
FROM documents ORDER BY doc_id
"""


def ext_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOD-p rolling fingerprint sets, PORTABLE form: prints are the
    md5-derived 60-bit integers the winnowing overlap query (X187)
    established, so the whole selection — shingle, hash, mod-8 select,
    sort, digest — replays exactly in DuckDB and the query carries a
    full value oracle (promoted off rows-only in r10; the xxhash64 form
    remains the library default for scale, covered by overlap tests).

    The raw array<long> column is collapsed to a scalar md5 digest so every
    harness can canonicalize the output (a raw array column crashes
    pandas-based sorters — round-2 driver red)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.rolling_fingerprints(docs, portable=True)
        .select(
            "doc_id",
            F.size("fingerprints").alias("n_prints"),
            F.md5(F.array_join("fingerprints", ",")).alias("prints_digest"),
        )
        .orderBy("doc_id")
    )


EXT_ROLLING_FINGERPRINT_SQL = r"""
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
  UNION ALL
  -- Spark's _shingle_array emits ONE whole-text shingle (words joined by
  -- single spaces; '' for empty text) when a doc has < 3 words — the
  -- positional 3-gram joins above produce none there, so mirror it
  SELECT doc_id,
         array_to_string(string_split_regex(TRIM(text), '\s+'), ' ') AS s
  FROM documents
  WHERE LEN(string_split_regex(TRIM(text), '\s+')) < 3
),
pr AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || SUBSTR(md5(s), 1, 15))::UBIGINT AS BIGINT) AS p
  FROM sh
  WHERE ('0x' || SUBSTR(md5(s), 1, 15))::UBIGINT % 8 = 0
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_prints,
         string_agg(CAST(p AS VARCHAR), ',' ORDER BY p) AS joined
  FROM pr GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_prints, 0) AS INTEGER) AS n_prints,
       md5(COALESCE(a.joined, '')) AS prints_digest
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id
"""


def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fp_md5").orderBy("doc_id")


EXT_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g'))) AS fp_md5
FROM documents ORDER BY doc_id
"""


def ext_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_stats(docs).orderBy("doc_id")


EXT_REPETITION_SQL = r"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS word
  FROM documents
),
cnt AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_words,
       COUNT(*) AS n_distinct_words,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4) AS dup_word_ratio,
       ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4) AS top_word_ratio
FROM cnt GROUP BY doc_id ORDER BY doc_id
"""


def ext_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.pii_stats(docs).select(
        "doc_id", "n_emails", "n_urls", "n_ipv4", "n_digit_runs"
    ).orderBy("doc_id")


EXT_PII_SQL = r"""
SELECT doc_id,
       LEN(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS n_emails,
       LEN(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
       LEN(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
       LEN(regexp_extract_all(text, '[0-9][0-9][0-9]+')) AS n_digit_runs
FROM documents ORDER BY doc_id
"""


# --- temporal / relational -------------------------------------------------------


def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the most recent purchase by the same user at or
    before the click (backward as-of join) — the stream-alignment primitive
    feature pipelines need and Spark lacks natively."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = relational.asof_join(
        clicks, purchases, on="user_id", right_cols=["event_id", "value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("event_id_right").alias("purchase_event_id"),
        F.round("value_right", 2).alias("purchase_value"),
    ).orderBy("event_id")


EXT_ASOF_SQL = r"""
SELECT c.event_id, c.user_id,
       p.event_id AS purchase_event_id,
       ROUND(p.value, 2) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
"""


def ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within the 10 minutes before each error, per user — bounded
    interval join (bucketed equi-join, never a per-key cross product),
    aggregated to a count per error event."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click")
    pairs = relational.range_join(
        errors,
        clicks,
        on="user_id",
        lower="-10 minutes",
        upper="0 seconds",
        right_cols=["event_id"],
    )
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks_10m")
    )
    return (
        errors.select("event_id")
        .join(counts, "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_clicks_10m", F.lit(0)).alias("n_clicks_10m"),
        )
        .orderBy("event_id")
    )


EXT_RANGE_JOIN_SQL = r"""
SELECT e.event_id, COUNT(c.event_id) AS n_clicks_10m
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND c.ts >= e.ts - INTERVAL '10 minutes'
 AND c.ts < e.ts
GROUP BY e.event_id ORDER BY e.event_id
"""


def ext_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest documents per language — rank-limit pushdown
    (WindowGroupLimit) keeps the shuffle at O(k x groups)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        relational.topk_per_group(
            docs, ["lang"], "n_chars", 3, tie_break="doc_id"
        )
        .select("lang", "doc_id", "n_chars", "rank")
        .orderBy("lang", "rank")
    )


EXT_TOPK_SQL = r"""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY n_chars DESC, doc_id
         ) AS BIGINT) AS rank
  FROM documents
)
SELECT lang, doc_id, n_chars, rank
FROM ranked WHERE rank <= 3 ORDER BY lang, rank
"""


def ext_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts/values rolled up over (event_type, day) with subtotal
    and grand-total rows (Expand + one partial-aggregated hash agg)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").cast("string").alias("day"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    return (
        relational.rollup_counts(
            ev,
            ["event_type", "day"],
            [
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").cast("decimal(24,6)").cast("string").alias("sum_value"),
            ],
        )
        .orderBy("event_type", "day")
    )


EXT_ROLLUP_SQL = r"""
WITH e AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(value AS DECIMAL(18,6)) AS value
  FROM events
)
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(day, 'ALL') AS day,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(value) AS DECIMAL(24,6)) AS VARCHAR) AS sum_value
FROM e GROUP BY ROLLUP (event_type, day)
ORDER BY event_type, day
"""


def ext_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quantiles (exact continuous
    interpolation; the approx_percentile sketch is the 100 TB path)."""
    docs = _t(spark, sf_dir, "documents")
    return relational.grouped_percentiles(docs, ["lang"], "n_chars").orderBy("lang")


EXT_PERCENTILES_SQL = r"""
SELECT lang,
       ROUND(quantile_cont(n_chars, 0.25), 4) AS p25,
       ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
       ROUND(quantile_cont(n_chars, 0.75), 4) AS p75
FROM documents GROUP BY lang ORDER BY lang
"""


def ext_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 5-95% length band filter — the outlier-trimming corpus
    filter; bounds broadcast, data rows never shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return (
        relational.filter_by_group_quantiles(docs, ["lang"], "n_chars")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


EXT_LENGTH_FILTER_SQL = r"""
WITH p AS (
  SELECT lang,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY lang
)
SELECT doc_id, lang, n_chars
FROM documents JOIN p USING (lang)
WHERE n_chars >= lo AND n_chars <= hi
ORDER BY doc_id
"""


def ext_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.tf_idf(docs).orderBy("doc_id", "word")


EXT_TF_IDF_SQL = r"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
dfreq AS (SELECT word, COUNT(*) AS doc_freq FROM tf GROUP BY word),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.word, tf.tf, dfreq.doc_freq,
       ROUND(tf.tf * (LN((n.n_docs + 1.0) / (dfreq.doc_freq + 1.0)) + 1.0), 6)
         AS tf_idf
FROM tf JOIN dfreq USING (word) CROSS JOIN n
ORDER BY doc_id, word
"""


def ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.vocab_topk(docs, k=100).orderBy("rank")


EXT_VOCAB_TOPK_SQL = r"""
WITH w AS (
  SELECT unnest(string_split_regex(TRIM(LOWER(text)), '\s+')) AS word
  FROM documents
),
f AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word)
SELECT word, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rank
FROM f ORDER BY rank LIMIT 100
"""


def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag corpus docs sharing any word 3-gram
    with the held-out slice (doc_id % 50 == 0). The eval shingle set
    broadcasts; the corpus side never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    return dedup.contamination_flags(docs, eval_df, n=3).orderBy("doc_id")


EXT_DECONTAMINATE_SQL = r"""
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
esh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
hits AS (
  SELECT doc_id, COUNT(*) AS n
  FROM sh JOIN esh USING (shingle)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(hits.n, 0) AS n_contaminated_shingles,
       COALESCE(hits.n, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
ORDER BY d.doc_id
"""


def ext_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (exact n-gram Jaccard) clustered into components via
    iterative hash-min label propagation, every document assigned a group
    and the minimum id marked representative. The oracle computes the same
    components with a recursive CTE — an iterative Spark algorithm checked
    value-for-value against declarative SQL.

    max_doc_freq=64 (r10): the hot-shingle guard the library always had,
    now applied — it never binds at any committed fixture (max shingle
    doc-freq 25 at sf0.1, oracle mirrors the prune) and bounds the
    inverted-index candidate work at scale (salted-30x: sum(df^2) 1.1e9
    unguarded vs 1.0e7 at df<=64)."""
    docs = _t(spark, sf_dir, "documents")
    # dedup_groups checkpoints its edge list EAGERLY, so the returned plan
    # no longer reads the inverted index; unreleased, the CacheManager pins
    # it for the session (r11 endurance finding: 36.5 MB/query at 10x)
    with scope():
        pairs = dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_doc_freq=dedup.HOT_SHINGLE_MAX_DF
        )
        return dedup.dedup_groups(docs, pairs).orderBy("doc_id")


EXT_DEDUP_GROUPS_SQL = rf"""
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
)
SELECT id AS doc_id, MIN(comp) AS component,
       (id = MIN(comp)) AS is_representative
FROM reach GROUP BY id ORDER BY doc_id
"""


# --- sampling / chunking / vectors ----------------------------------------------


def ext_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order (md5(seed,id) sort key) — the
    reproducible pre-training data ordering."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.deterministic_shuffle(docs, "doc_id", seed=42).select(
        "doc_id", "shuffle_key"
    )


EXT_SHUFFLE_SQL = r"""
SELECT doc_id, md5('42-' || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents ORDER BY shuffle_key
"""


def ext_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_split(docs, "doc_id", seed=42).select(
        "doc_id", "split"
    ).orderBy("doc_id")


EXT_HASH_SPLIT_SQL = r"""
WITH b AS (
  SELECT doc_id,
         ('0x' || SUBSTR(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           % 10000 AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.stratified_sample(docs, ["lang"], 5, "doc_id", seed=42)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


EXT_STRATIFIED_SQL = r"""
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('42-' || CAST(doc_id AS VARCHAR))
         ) AS rn
  FROM documents
)
SELECT lang, doc_id FROM ranked WHERE rn <= 5 ORDER BY lang, doc_id
"""


def ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return chunking.chunk_documents(
        docs, chunk_size=32, overlap=4
    ).orderBy("doc_id", "chunk_id")


EXT_CHUNK_SQL = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS words
  FROM documents
),
s AS (
  SELECT doc_id, words,
         unnest(generate_series(0, GREATEST(LEN(words) - 1, 0), 28)) AS st
  FROM w
)
SELECT doc_id,
       st // 28 AS chunk_id,
       LEN(list_slice(words, st + 1, st + 32)) AS n_chunk_tokens,
       array_to_string(list_slice(words, st + 1, st + 32), ' ') AS chunk_text
FROM s ORDER BY doc_id, chunk_id
"""


def ext_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return vectors.vector_norms(emb).orderBy("vec_id")


EXT_VECTOR_NORMS_SQL = r"""
SELECT vec_id,
       LEN(embedding) AS dim,
       ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> x * x))), 6) AS l2_norm
FROM embeddings ORDER BY vec_id
"""


def ext_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return vectors.label_centroids(emb).orderBy("label", "pos")


EXT_LABEL_CENTROIDS_SQL = r"""
WITH u AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(CAST(embedding AS DOUBLE[])) AS DECIMAL(20,10)) AS v
  FROM embeddings
)
SELECT label, pos,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS centroid_val,
       COUNT(*) AS n_vectors
FROM u GROUP BY label, pos
ORDER BY label, pos
"""


def ext_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency/frequency/accumulation features (lag + cumulative
    windows in one shuffle)."""
    ev = _t(spark, sf_dir, "events")
    return features.user_event_features(ev).orderBy("event_id")


EXT_EVENT_FEATURES_SQL = r"""
SELECT event_id, user_id,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS micros_since_prev,
       COUNT(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
         AS n_prev_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                 OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DECIMAL(24,6)) AS VARCHAR) AS cum_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


def ext_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cats = ["click", "error", "purchase", "signup", "view"]
    return relational.pivot_counts(ev, ["user_id"], "event_type", cats).orderBy(
        "user_id"
    )


EXT_PIVOT_SQL = r"""
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY user_id ORDER BY user_id
"""


def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep each document with
    probability min(n_chars/300, 1) — longer documents kept more often,
    decided per-row by portable hash (no RNG state, subset-stable)."""
    docs = _t(spark, sf_dir, "documents")
    prob = F.least(F.col("n_chars") / 300.0, F.lit(1.0))
    return (
        sampling.bernoulli_sample(docs, "doc_id", prob, seed=42)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


EXT_WEIGHTED_SAMPLE_SQL = r"""
SELECT doc_id, n_chars
FROM documents
WHERE CAST(('0x' || SUBSTR(md5('42-' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           % 10000 AS DOUBLE)
      < LEAST(n_chars / 300.0, 1.0) * 10000
ORDER BY doc_id
"""


# --- dedup -------------------------------------------------------------------------


def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).orderBy("doc_id")


EXT_DEDUP_EXACT_SQL = r"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(TRIM(regexp_replace(LOWER(text), '\s+', ' ', 'g')))
ORDER BY doc_id
"""


def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs with the df<=64 hot-shingle guard
    (r10 — fixture-inert, oracle-mirrored; see ext_dedup_groups).

    AUDIT FORM (r11): on a verbatim-replicated corpus the guard prunes
    the whole instance index (every shingle df >= multiplicity) and the
    pair output that survives is multiplicity-quadratic; the declared
    scale path is ext_dedup_ngram_groups (queries_w50) — exact-dedup
    collapse first, Jaccard + components over distinct contents."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, max_doc_freq=dedup.HOT_SHINGLE_MAX_DF
    )


EXT_DEDUP_JACCARD_SQL = rf"""
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
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {dedup.HOT_SHINGLE_MAX_DF}),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
  FROM sh x JOIN rare rx ON x.shingle = rx.shingle
  JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         ROUND(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON inter.id_a = sa.doc_id
  JOIN sizes sb ON inter.id_b = sb.doc_id
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.3 ORDER BY id_a, id_b
"""


def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIT FORM (r11): emits instance pairs, whose count is inherently
    O(multiplicity^2) on duplicate-heavy corpora. The declared scale
    path is ext_dedup_minhash_groups (queries_w50) — the value-space
    aggregate proven pair-equivalent in tests."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_pairs(docs, threshold=0.3)


def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIT FORM (r11): emits instance pairs (145.5M rows at the salted
    100x rung — true output, but a full materialization for any
    consumer). The declared scale path is ext_dedup_simhash_groups
    (queries_w50)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=3)


def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine dedup — the ORACLE BASELINE (O(n²),
    driver-collected corpus matrix; verification scale only, HARD-CAPPED
    at dedup.BRUTE_PAIRS_MAX_VECTORS so it cannot be invoked at scale).
    The declared 100 TB path is ``ext_dedup_embedding_lsh`` below."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_pairs(emb, threshold=0.4, lsh_bits=0)


def ext_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for embedding near-dup: multi-table hyperplane LSH
    bucket equi-join (no all-pairs, no driver-side corpus matrix). Output
    is a high-recall subset of ``ext_dedup_embedding`` (recall measured in
    tests/test_ext.py) — rows-only contract, the exact query stays the
    oracle baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    # 6 bits x 24 tables: at cosine 0.4 the per-bit collision prob is
    # ~0.63, so table hit-rate ~0.63^6=0.06 and recall 1-(1-0.06)^24~0.79
    # on worst-case (exactly-at-threshold) pairs; higher-cosine dupes are
    # found with near-certainty. Bits dial bucket size (candidate volume),
    # tables dial recall. n_vecs rides corpus_count (footer, 0 jobs) so repeated
    # builds don't rescan the corpus at construction time.
    return dedup.embedding_pairs(
        emb,
        threshold=0.4,
        lsh_bits=6,
        num_tables=24,
        n_vecs=corpus_count(spark, sf_dir, "embeddings"),
    )


EXT_DEDUP_EMBEDDING_SQL = r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.4 ORDER BY id_a, id_b
"""


# --- similarity search ---------------------------------------------------------------


def ext_sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_topk(emb, queries, k=5)


EXT_SIM_TOPK_SQL = r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine
  FROM q CROSS JOIN e c
  WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def ext_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries, k=5, bits=8)


def ext_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        emb, queries, k=5, nlist=16, nprobe=4,
        n_rows=corpus_count(spark, sf_dir, "embeddings"),
    )


def ext_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus scanned as m-byte codes (16x
    compression at fp32/dim-64 with 8-bit codes), asymmetric-distance
    scoring via per-query lookup tables, then exact cosine rerank of the
    per-query ADC top-50 (refine — the IVFADC+R pattern; recall@5 vs
    the brute cosine baseline 0.26 -> 0.98 at the fixture seeds, r11).
    ksub=256 is the standard 8-bit-per-subspace budget (16 -> 256 lifted
    the un-refined ADC recall 0.26 -> 0.56 alone). Rows-only contract;
    recall bars pinned in tests/test_round11_ann_recall.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    books = similarity.pq_train(
        emb, m=16, ksub=256, seed=42,
        n_rows=corpus_count(spark, sf_dir, "embeddings"),
    )
    return similarity.pq_topk(emb, queries, books, k=5, refine=50)


# --- streaming (batch-parity execution of the streaming plan) -------------------------


def ext_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming windowed aggregation (streaming.py) run in batch mode —
    the SAME plan degrades gracefully on a bounded frame, which is what
    makes it oracle-checkable. value goes through DECIMAL so the sum does
    not depend on float accumulation order across engines."""
    from aircan_spark.streaming import windowed_event_counts

    events = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    return (
        windowed_event_counts(events, window_duration="1 hour")
        .withColumn("sum_value", F.col("sum_value").cast("decimal(24,6)").cast("string"))
        .orderBy("window_start", "event_type")
    )


def ext_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user, batch-parity mode. The oracle
    is the classic gaps-and-islands rewrite — same sessions, computed with
    window functions instead of session state."""
    from aircan_spark.streaming import sessionized_activity

    events = _t(spark, sf_dir, "events")
    return sessionized_activity(events, gap="30 minutes").orderBy(
        "user_id", "session_start"
    )


EXT_STREAM_SESSIONS_SQL = r"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM ordered
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


EXT_STREAM_WINDOW_SQL = r"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DECIMAL(24,6)) AS VARCHAR) AS sum_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


# --- multimodal plumbing ---------------------------------------------------------------


def ext_mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary(docs, "doc_id", "text", "text/plain")
    return (
        multimodal.byte_features(media)
        .select("media_id", "n_bytes", "first_byte")
        .orderBy("media_id")
    )


EXT_MM_BYTES_SQL = r"""
SELECT doc_id AS media_id,
       CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes,
       ascii(SUBSTR(text, 1, 1)) AS first_byte
FROM documents ORDER BY media_id
"""


def ext_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, end-to-end and oracle-checked (no ``fake=``):
    per document a deterministic gradient BMP is synthesized
    (W=16+id%17, H=16+id%13, gray value (x*7+y*13+id)%256), pushed through
    the real decode→nearest-neighbor-resize→re-encode kernel
    (multimodal.decode_pixels/nn_resize/encode_bmp), decoded AGAIN from
    the resized BMP bytes, and summarized as the mean sampled gray value.
    Nearest-neighbor sampling at floor((i+0.5)*src/8) is closed-form, so
    DuckDB replays the whole pipeline without touching a single image
    byte — the oracle checks the codec round-trip AND the resample
    geometry. All kernels are partition-local mapInPandas (no shuffle)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_bmp(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                w, h = 16 + did % 17, 16 + did % 13
                x = np.arange(w, dtype="int64")[None, :]
                y = np.arange(h, dtype="int64")[:, None]
                gray = ((x * 7 + y * 13 + int(did)) % 256).astype("u1")
                rgb = np.repeat(gray[:, :, None], 3, axis=2)
                ids.append(did)
                blobs.append(multimodal.encode_bmp(rgb))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_bmp, "media_id bigint, content binary")
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


EXT_MM_RESIZE_SQL = r"""
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h FROM documents
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
       ROUND(AVG((sx * 7 + sy * 13 + doc_id) % 256), 6) AS pixel_mean
FROM sampled GROUP BY doc_id ORDER BY media_id
"""


