"""Text analysis operators — token counting, quality scoring, language ID,
document fingerprinting.

All pure built-in `pyspark.sql.functions` (JVM-side, whole-stage codegen —
no Python in the hot path), so they scan 100 TB of documents at parquet
reader speed. Patterns are kept RE2/Java-regex-portable so the same
expressions serve as DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aircan_spark.frames import share

# BPE-ish word/punctuation tokenizer: alnum runs or single non-space symbols.
TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
PUNCT_PATTERN = r"[.,;:!?'\"()\[\]{}-]"

# Marker stopwords per language, deliberately disjoint sets. The heuristic
# is a tiny n-gram/stopword scorer — deterministic and SQL-portable.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "und", "das", "nicht"],
    "en": ["the", "and", "of", "is"],
    "es": ["el", "los", "una", "que"],
    "fr": ["le", "et", "les", "dans"],
}


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(col), r"\s+"))


def regex_token_count(col: Column) -> Column:
    """BPE-ish token count (alnum runs + individual symbols)."""
    return _count_matches(col, TOKEN_PATTERN)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, whitespace tokens, regex tokens, punct
    count, digit count, mean token length."""
    c = F.col(text_col)
    n_tokens = token_count(c)
    return df.withColumns(
        {
            "n_chars_calc": F.length(c),
            "n_tokens": n_tokens,
            "n_regex_tokens": regex_token_count(c),
            "n_punct": _count_matches(c, PUNCT_PATTERN),
            "n_digits": _count_matches(c, r"[0-9]"),
            "mean_token_len": F.round(
                (F.length(F.regexp_replace(c, r"\s+", "")).cast("double"))
                / F.greatest(n_tokens, F.lit(1)).cast("double"),
                4,
            ),
        }
    )


# Compact English stopword list for ratio features (C4/Gopher-style rules
# use "contains >= 2 stopwords" as a natural-language signal).
STOPWORDS = [
    "the", "and", "of", "to", "in", "is", "that", "it", "for", "was",
    "on", "are", "as", "with", "at", "by", "an", "be", "this", "have",
]


def stopword_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword count and ratio (stopword tokens / whitespace tokens) —
    the classic natural-language-ness signal for corpus filtering."""
    c = F.col(text_col)
    n_stop = _count_matches(F.lower(c), r"\b(" + "|".join(STOPWORDS) + r")\b")
    ratio = F.round(
        n_stop.cast("double") / F.greatest(token_count(c), F.lit(1)).cast("double"), 4
    )
    return df.withColumns({"n_stopwords": n_stop, "stopword_ratio": ratio})


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length saturation x (1 - punct
    density) x (1 - digit density). The shape (ratio-based filters) follows
    published web-corpus cleaning pipelines (C4/Gopher-style rules)."""
    c = F.col(text_col)
    n_chars = F.greatest(F.length(c), F.lit(1)).cast("double")
    length_part = F.least(F.length(c).cast("double") / F.lit(200.0), F.lit(1.0))
    punct_density = _count_matches(c, PUNCT_PATTERN).cast("double") / n_chars
    digit_density = _count_matches(c, r"[0-9]").cast("double") / n_chars
    score = length_part * (F.lit(1.0) - punct_density) * (F.lit(1.0) - digit_density)
    return df.withColumn("quality", F.round(score, 4))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID via marker-stopword counts; argmax with deterministic
    alphabetical tie-break; 'und' (undetermined) when no marker hits."""
    c = F.lower(F.col(text_col))
    scores = {
        f"score_{lang}": _count_matches(c, r"\b(" + "|".join(markers) + r")\b")
        for lang, markers in LANG_MARKERS.items()
    }
    out = df.withColumns(scores)
    langs = sorted(LANG_MARKERS)  # alphabetical tie-break order
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: total / distinct word
    counts, duplicate-word ratio, and most-frequent-word fraction.

    Shape: explode -> two cascaded groupBys — both aggregate with map-side
    partial combine, so the shuffles carry (doc, word, partial-count) then
    (doc, partials) rather than raw tokens. Row-local alternatives
    (``F.aggregate`` mode-finding) are O(distinct x total) per document and
    blow up on long documents; this shape is linear and skew-safe."""
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("__w"),
    )
    per_word = words.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__c"))
    return (
        per_word.groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("__c").alias("__top"),
        )
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            F.round(
                F.lit(1.0)
                - F.col("n_distinct_words").cast("double")
                / F.col("n_words").cast("double"),
                4,
            ).alias("dup_word_ratio"),
            F.round(
                F.col("__top").cast("double") / F.col("n_words").cast("double"), 4
            ).alias("top_word_ratio"),
        )
    )


# RE2/Java-portable PII-ish patterns (no backreferences, no lookaround).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
URL_PATTERN = r"https?://[^\s]+"
IPV4_PATTERN = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
DIGIT_RUN_PATTERN = r"[0-9][0-9][0-9]+"


def pii_stats(
    df: DataFrame, text_col: str = "text", redact: bool = False
) -> DataFrame:
    """Counts of PII-ish spans (emails, URLs, IPv4s, >= 3-digit runs) per
    document — the filter signals a corpus-cleaning pipeline keys on.
    ``redact=True`` additionally rewrites the text with typed placeholder
    tags. Pure JVM regex — whole-stage codegen, no Python in the path."""
    c = F.col(text_col)
    out = df.withColumns(
        {
            "n_emails": _count_matches(c, EMAIL_PATTERN),
            "n_urls": _count_matches(c, URL_PATTERN),
            "n_ipv4": _count_matches(c, IPV4_PATTERN),
            "n_digit_runs": _count_matches(c, DIGIT_RUN_PATTERN),
        }
    )
    if redact:
        red = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
        red = F.regexp_replace(red, URL_PATTERN, "<URL>")
        red = F.regexp_replace(red, IPV4_PATTERN, "<IP>")
        out = out.withColumn("text_redacted", red)
    return out


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace,
    trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints over normalized text:
    - ``fp_md5``: cross-engine-portable content hash;
    - ``fp_xx64``: xxhash64 — cheaper at scale, Spark-native (no SQL
      oracle; covered by property tests instead)."""
    norm = normalize_text(F.col(text_col))
    return df.withColumns(
        {"fp_md5": F.md5(norm.cast("binary")), "fp_xx64": F.xxhash64(norm)}
    )


def rolling_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    mod: int = 8,
    portable: bool = False,
) -> DataFrame:
    """MOD-p selected rolling fingerprints (the winnowing-family scheme):
    hash every word n-gram window as it rolls over the document, keep the
    hashes ≡ 0 (mod ``mod``) as the document's fingerprint set. Two
    documents sharing a run of >= n words share the run's selected prints,
    so overlap detection needs only a set intersection — ~1/mod of the
    shingle count per doc, content-addressed (position-independent).

    ``portable=False`` hashes with xxhash64 (JVM-native, cheapest at
    scale, no SQL analog); ``portable=True`` uses the md5-derived 60-bit
    integer the winnowing overlap query (X187) established — every
    selection then replays exactly in any SQL engine with an md5
    function, at the cost of the heavier hash. Selection QUALITY is
    identical (both are uniform over the shingle space; the sets differ
    because the hashes do).

    Row-local: one pass builds the shingle hashes, a filter selects, sort
    canonicalizes. Output: (id, array<long> sorted distinct prints)."""
    from aircan_spark.ext.dedup import _shingle_array

    if portable:
        hasher = lambda s: F.conv(  # noqa: E731
            F.substring(F.md5(s), 1, 15), 16, 10
        ).cast("long")
    else:
        hasher = lambda s: F.xxhash64(s)  # noqa: E731
    hashes = F.transform(_shingle_array(text_col, n), hasher)
    selected = F.array_sort(
        F.array_distinct(F.filter(hashes, lambda h: F.pmod(h, F.lit(mod)) == 0))
    )
    return df.select(F.col(id_col), selected.alias("fingerprints"))


def tf_idf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(document, term) TF-IDF with smoothed IDF
    (``ln((N+1)/(df+1)) + 1``, the sklearn convention): returns
    (id, word, tf, doc_freq, tf_idf).

    Two partial-aggregated groupBys (term frequency, then document
    frequency) and one join on the term — the corpus-size scalar N rides
    along via a 1-row cross join so the whole computation stays in the
    plan (no driver collect). The term join is the only wide exchange and
    its key cardinality is the vocabulary, not the corpus."""
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("word"),
    )
    tf = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    idf = (
        F.log(
            (F.col("__n").cast("double") + 1.0)
            / (F.col("doc_freq").cast("double") + 1.0)
        )
        + 1.0
    )
    return (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "word",
            "tf",
            "doc_freq",
            F.round(F.col("tf").cast("double") * idf, 6).alias("tf_idf"),
        )
    )


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 100
) -> DataFrame:
    """Top-k corpus vocabulary by frequency (the Zipf-curve head):
    (word, freq, rank), rank 1 = most frequent, ties broken
    alphabetically.

    The global sort + limit compiles to TakeOrderedAndProject — each task
    keeps its local top-k and only k rows reach the driver-side heap, so
    the full vocabulary (easily 1e8 words at web scale) never sorts or
    collects; the rank window then runs over k rows only."""
    from pyspark.sql import Window

    freq = (
        df.select(
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    head = freq.orderBy(F.col("freq").desc(), "word").limit(k)
    w = Window.orderBy(F.col("freq").desc(), "word")
    return head.withColumn("rank", F.row_number().over(w).cast("long"))


def ngram_counts(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 100
) -> DataFrame:
    """Top-k word n-grams by corpus frequency: (ngram, freq, rank), ties
    broken lexicographically. The collocation/phrase-mining counterpart of
    ``vocab_topk``.

    The n-gram arrays are built row-locally with higher-order functions
    (slice + array_join — no self-join on token position), then one
    partial-aggregated groupBy counts them; the global sort+limit compiles
    to TakeOrderedAndProject so only k rows ever leave the executors."""
    from pyspark.sql import Window

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    grams = F.when(
        F.size(words) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")),
    ).otherwise(F.array())
    freq = (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    head = freq.orderBy(F.col("freq").desc(), "ngram").limit(k)
    w = Window.orderBy(F.col("freq").desc(), "ngram")
    return head.withColumn("rank", F.row_number().over(w).cast("long"))


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query
    terms: (id, score) for docs matching >= 1 term, score rounded to 6.
    IDF is the Lucene non-negative form ``ln(1 + (N-df+0.5)/(df+0.5))``.

    Scale shape: the term filter lands BEFORE the tf groupBy, so the only
    wide shuffle carries (doc, matched-term) rows — docs without query
    terms never shuffle. Corpus scalars (N, total token count -> avgdl)
    ride along as a broadcast 1-row frame, and per-term doc frequencies
    (<= |query| rows) broadcast back; nothing collects to the driver.
    Per-term score components are cast to DECIMAL before the per-doc sum
    so the total is independent of partial-aggregation order."""
    toks = df.select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks"),
    )
    lens = toks.select(id_col, F.size("__toks").alias("dl"), F.col("__toks"))
    scalars = lens.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("dl").cast("long")).alias("__total_dl"),
    )
    # Filter INSIDE the array before exploding: the Generate emits only
    # query-term hits (a handful per doc), not every corpus token — a
    # post-explode filter can't be pushed back above the Generate.
    terms = list(query_terms)
    matches = F.filter(
        F.col("__toks"), lambda w: w.isin(terms)
    )
    words = lens.select(id_col, "dl", F.explode(matches).alias("word"))
    tf = words.groupBy(id_col, "dl", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = F.col("__n").cast("double")
    avgdl = F.col("__total_dl").cast("double") / n
    idf = F.log(
        1.0
        + (n - F.col("doc_freq").cast("double") + 0.5)
        / (F.col("doc_freq").cast("double") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    comp = (
        idf
        * tf_d
        * (k1 + 1.0)
        / (tf_d + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl))
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(scalars))
        .withColumn("__comp", comp.cast("decimal(27,12)"))
        .groupBy(id_col)
        .agg(
            F.round(F.sum("__comp").cast("double"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )


def clean_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean",
) -> DataFrame:
    """Canonical corpus cleaning: lowercase, map C0/C1 control chars to
    spaces (preserving token boundaries from tabs/newlines), collapse
    all whitespace runs to single spaces, trim. The normalization pass
    that precedes tokenization/dedup so byte-level noise doesn't
    fragment the vocabulary or defeat exact-hash dedup.

    Entirely row-local JVM regex (whole-stage codegen, no UDF, no
    shuffle) — at 100 TB this runs at scan speed fused into whatever
    consumes it."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col(text_col)), "[\\x00-\\x1f\\x7f-\\x9f]", " "
            ),
            "\\s+",
            " ",
        )
    )
    return df.select(F.col(id_col), cleaned.alias(out_col))


def pseudonymize(
    df: DataFrame,
    cols: list[str],
    salt: str,
    keep: list[str] | None = None,
) -> DataFrame:
    """Governed export: replace identifier columns with salted SHA-256
    digests — referentially stable (the same value maps to the same
    token, so joins still work) but not reversible without the salt.
    NULLs stay NULL. Row-local projection: zero shuffle, codegen-fused.

    The salt must be managed as a secret; rotating it breaks referential
    continuity across exports by design."""
    keep = keep if keep is not None else [c for c in df.columns if c not in cols]
    return df.select(
        *keep,
        *[
            F.when(
                F.col(c).isNotNull(),
                F.sha2(F.concat(F.lit(salt), F.col(c).cast("string")), 256),
            ).alias(f"{c}_token")
            for c in cols
        ],
    )


def strip_markup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Markup removal for web-scraped corpora: HTML tags, a fixed set of
    common entities, and markdown links (keeping the anchor text), then
    whitespace collapse. Pure regexp chain — scan-fused, JVM-side, no
    UDF; every pattern avoids lookaround so the same regexes run under
    RE2-family engines (the oracle replays them verbatim).

    Adds ``text_clean`` next to the original column."""
    c = F.col(text_col)
    # order matters: md links before tag strip (anchor text survives),
    # entities after tags (so &lt;b&gt; does not become a live tag)
    c = F.regexp_replace(c, r"\[([^\]]*)\]\([^)]*\)", r"$1")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, rep in (
        ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
        ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn("text_clean", c)


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    postings_cap: int = 20,
) -> DataFrame:
    """Posting-list construction (the search-index build pass): per word,
    document frequency and the first ``postings_cap`` doc ids ascending.

    Scale shape: the full df count and the capped posting head are split
    into two aggregates over the same (word, doc) exchange — the head
    goes through a WindowGroupLimit rank (each map task forwards at most
    cap rows per word), so a stop-word's posting list never materializes
    beyond the cap anywhere."""
    from pyspark.sql import Window

    pairs = (
        df.select(
            F.col(id_col).alias("did"),
            F.explode(
                F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    dfreq = pairs.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("word").orderBy("did")
    head = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= postings_cap)
        .groupBy("word")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("did")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return (
        dfreq.filter(F.col("df") >= min_df)
        .join(head, "word")
        .select("word", "df", "postings_head")
    )


def unigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document mean negative log-likelihood under a corpus unigram
    model — the cheap perplexity-proxy quality signal (high NLL = tokens
    the corpus finds surprising = boilerplate/noise/foreign text).

    Model: top-``vocab_size`` words by corpus frequency (ties broken by
    word — deterministic vocab), add-one smoothing over N tokens;
    out-of-vocabulary tokens score as an unseen word (count 0). The
    vocabulary + scalars broadcast into the token join — the corpus
    exchanges tokens once for counting, documents never shuffle for
    scoring."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy(F.col("cnt").desc(), "w")
    vocab = counts.withColumn("__r", F.row_number().over(wv)).filter(
        F.col("__r") <= vocab_size
    ).select("w", "cnt")
    scalars = toks.agg(F.count(F.lit(1)).alias("n_tokens")).crossJoin(
        vocab.agg(F.count(F.lit(1)).alias("v_size"))
    )
    scored = (
        toks.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "__nll",
            -F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("n_tokens") + F.col("v_size") + 1).cast("double")
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("__nll"), 6).alias("mean_nll"),
        F.count(F.lit(1)).alias("n_tokens_doc"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p from corpus unigram and
    bigram counts — the phrase-mining signal (high PMI = words that
    co-occur far more than chance, e.g. named entities, idioms).

    Shape: one token exchange for unigram counts, one bigram exchange
    (row-local HOF shingling — no token-level explode for bigram
    construction), two broadcast joins of the modest count tables, and a
    k-bounded TakeOrderedAndProject head. ``min_count`` suppresses the
    noisy low-frequency tail (PMI's classic bias). PMI is rounded to 6
    BEFORE ranking so rank order cannot depend on float ulp."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    toks = df.select(F.explode(words).alias("w")).filter(F.col("w") != "")
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    n_tokens = toks.count()

    idx = F.sequence(F.lit(0), F.size(words) - 2)
    grams = (
        df.select(
            F.explode(
                F.when(
                    F.size(words) >= 2,
                    F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, 2), " ")),
                ).otherwise(F.array())
            ).alias("gram")
        )
    )
    big = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cab")).filter(
        F.col("cab") >= min_count
    )
    n_bigrams = grams.count()

    w1 = F.split(F.col("gram"), " ")[0]
    w2 = F.split(F.col("gram"), " ")[1]
    scored = (
        big.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))), "w2")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("cab").cast("double") / F.lit(float(n_bigrams)))
                    / (
                        (F.col("c1").cast("double") / F.lit(float(n_tokens)))
                        * (F.col("c2").cast("double") / F.lit(float(n_tokens)))
                    )
                ),
                6,
            ),
        )
    )
    return (
        scored.select("gram", "cab", "pmi")
        .orderBy(F.col("pmi").desc(), "gram")
        .limit(k)
    )


def bigram_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_smooth: float = 0.5,
) -> DataFrame:
    """Per-document mean negative log-likelihood under a corpus bigram
    model with add-k smoothing — the context-aware upgrade of the
    unigram perplexity proxy (X155): word-salad documents whose
    individual words are common but whose SEQUENCES are not score high
    here and normal there.

    Model: P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V), counts from the
    corpus itself, V = distinct tokens observed in bigram positions.
    Shape: bigrams are built row-locally (array HOFs — no token-level
    explode to construct them) and counted in one exchange; context
    counts c(w1) and the vocabulary scalar V both DERIVE from that
    O(bigram-types) count table (c(w1) = Σ over grams starting with w1)
    instead of re-tokenizing the corpus, so the documents are scanned
    exactly twice (model build + scoring) rather than four times; at
    100 TB the tokenized pair frame would be checkpointed once and
    both sides read it. Documents with fewer than two tokens have no
    bigrams and drop out (mirrored in the oracle)."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(0), F.size(words) - 2)
    pairs = (
        df.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size(words) >= 2,
                    F.transform(
                        idx, lambda i: F.array_join(F.slice(words, i + 1, 2), " ")
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        .withColumn("w1", F.split(F.col("gram"), " ")[0])
    )
    # r12: the bigram-type count table feeds three branches (context
    # counts, vocabulary scalar, scoring join); un-materialized, each
    # branch re-ran the tokenize+explode+count pipeline. DISK_ONLY
    # persist (vocabulary-sized, data-proportional) — the corpus is now
    # tokenized exactly twice (model build + scoring), as documented.
    big = share(pairs.groupBy("gram").agg(F.count(F.lit(1)).alias("cab")), big=True)
    ctx = (
        big.withColumn("w1", F.split(F.col("gram"), " ")[0])
        .groupBy("w1")
        .agg(F.sum("cab").alias("c1"))
    )
    vsize = (
        big.select(F.explode(F.split(F.col("gram"), " ")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    scored = (
        pairs.join(big, "gram")
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vsize))
        .withColumn(
            "__nll",
            -F.log(
                (F.col("cab") + F.lit(k_smooth))
                / (F.col("c1") + F.lit(k_smooth) * F.col("v"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("__nll"), 6).alias("mean_bigram_nll"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def compression_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib-deflate redundancy signal per document: raw vs compressed
    byte counts and their ratio — the Gopher/RefinedWeb-family quality
    filter (ratio near 0 = templated/repetitive boilerplate, ratio
    near or above 1 = high-entropy noise; natural prose sits between).

    Engine shape: Arrow-batched ``mapInPandas`` over stdlib zlib —
    deterministic for a fixed level, embarrassingly parallel, zero
    shuffle, no JVM round-trip per row. Not SQL-expressible, so the
    declared query takes the rows-only gate; determinism and
    directional properties are pinned in tests/test_ext.py."""
    import zlib

    import pandas as pd

    out_schema = (
        f"{id_col} long, n_raw_bytes long, n_deflate_bytes long, "
        "compression_ratio double"
    )

    def _batches(it):
        for pdf in it:
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n_raw = raw.map(len)
            n_def = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_raw_bytes": n_raw,
                    "n_deflate_bytes": n_def,
                    "compression_ratio": (
                        n_def / n_raw.clip(lower=1)
                    ).round(6),
                }
            )

    return df.select(id_col, text_col).mapInPandas(_batches, out_schema)
