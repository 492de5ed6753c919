"""Declared-query wave (round 11): GROUP-CONTRACT siblings for the
pair-emission dedup family — r10 VERDICT item #2.

When true near-dup multiplicity is m per content family, emitting
instance pairs is inherently O(m^2) OUTPUT (ext_dedup_simhash produced
145.5M pair rows at the 100x rung; a verbatim-duplicated corpus pushes
every pair query into that regime). The library already owns the fix
shape — value-space counting (ext_image_near_dup's histogram, r10's
entity collapse, fs_linkage's pattern counts): collapse instances to
DISTINCT RAW CONTENTS first (dedup.content_collapse — one map-side-
combining shuffle), run the near-dup machinery over distinct contents,
and emit bounded aggregates weighted by multiplicities (cross-content
ca*cb + within-content C(c,2), DECIMAL sums). These four queries are
the DECLARED SCALE PATH for duplicate-heavy corpora; the pair forms
stay registered as the audit form (their docstrings say so as of this
round).

Oracle status:
- ext_fuzzy_join_groups / ext_dedup_ngram_groups: full DuckDB oracles
  that MATERIALIZE INSTANCE PAIRS and aggregate them — every sweep is a
  cross-formulation equivalence proof (the image_near_dup pattern).
- ext_dedup_simhash_groups / ext_dedup_minhash_groups: rows-only (the
  xxhash64 signatures are not SQL-expressible — same contract as their
  pair forms); tests/test_round11_group_contracts.py pins
  groups == GROUP-BY-aggregated pair output on fixtures and on a
  planted duplicate-heavy corpus.

Split-wave module per the _qcommon ordering contract; updates the
shared EXT_QUERIES/EXT_ORACLES registries at import time.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.frames import scope


def ext_dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup HISTOGRAM in distinct-value space — the scale
    contract for ext_dedup_simhash (which emits the instance pairs and
    is O(m^2) output on duplicate-heavy corpora).

    Plan: collapse to distinct raw contents (multiplicity-weighted),
    signature per distinct content, collapse again to distinct SIMHASH
    VALUES with summed counts, run the SAME 4x16-bit pigeonhole band
    join over the value set, and weight surviving value pairs by ca*cb
    (+ within-value C(c,2) at hamming 0). Output: one row per hamming
    distance 0..3 — identical integers to GROUP BY hamming over the
    pair form, with O(n) + O(|values|^2) work instead of O(pairs).
    Weights ride DECIMAL (counts are ~n/|values|; ca*cb sums cross 2^63
    near sf~3000 in int64 — the image_near_dup audit)."""
    docs = _t(spark, sf_dir, "documents")
    # r12: `vals` feeds THREE branches (both band-join sides + the
    # within term) — un-persisted, the whole collapse+signature pipeline
    # re-ran per branch. vals is NARROW (simhash, count) so the persist
    # is cheap; `g` itself is deliberately NOT persisted — full-text
    # rows at DISK_ONLY cost more to serialize+re-read than recomputing
    # the map-side-combined collapse from columnar parquet (measured
    # A/B).
    g = dedup.content_collapse(docs)
    sigs = dedup.simhash_signatures(g).join(
        g.select("doc_id", "n_copies"), "doc_id"
    )
    vals = share(sigs.groupBy("simhash").agg(F.sum("n_copies").alias("c")), big=True)
    width, bands = 16, 4
    banded = vals.select(
        "simhash",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("simhash", "c", "bb.band", "bb.bucket")
    a = banded.select(
        F.col("simhash").alias("sh_a"), F.col("c").alias("ca"), "band", "bucket"
    )
    b = banded.select(
        F.col("simhash").alias("sh_b"), F.col("c").alias("cb"), "band", "bucket"
    )
    cross = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "ca", "sh_b", "cb")
        .distinct()
        .select(
            F.expr("bit_count(sh_a ^ sh_b)").alias("hamming"),
            F.expr("CAST(ca AS DECIMAL(19,0)) * cb").alias("w"),
        )
        .filter(F.col("hamming") <= 3)
    )
    within = vals.filter(F.col("c") > 1).select(
        F.lit(0).alias("hamming"),
        F.expr("CAST(c AS DECIMAL(19,0)) * (c - 1) / 2").alias("w"),
    )
    return (
        cross.unionByName(within)
        .groupBy("hamming")
        .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("n_pairs"))
        .orderBy("hamming")
    )


def ext_dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pair counts per estimated-Jaccard level, in
    distinct-content space — the scale contract for ext_dedup_minhash.

    Plan: collapse to distinct raw contents, one 64-hash signature per
    content, band (16x4) over DISTINCT CONTENTS, estimate Jaccard on
    candidate content pairs, and weight by ca*cb (+ within-content
    C(c,2) at est 1.0 — identical docs agree on all 64 hashes). The
    est_jaccard axis has <= 65 distinct values (k-agreement fractions of
    64, each exactly representable), so the output is bounded no matter
    the corpus. Identical integers to GROUP BY est_jaccard over the pair
    form at any multiplicity."""
    docs = _t(spark, sf_dir, "documents")
    # r12: the narrow (doc_id, n_copies) projection feeds both
    # count-attach joins + the within term — persist IT (cheap rows),
    # not full-text `g` (full-text DISK_ONLY rows cost more to
    # serialize+re-read than recomputing the map-side-combined collapse
    # from parquet — measured A/B). The signature build inside
    # minhash_pairs persists its own index.
    g = dedup.content_collapse(docs)
    pairs = dedup.minhash_pairs(g, threshold=0.3)
    counts = share(g.select("doc_id", "n_copies"), big=True)
    cross = (
        pairs.join(counts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_copies", "ca"), "id_a")
        .join(counts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_copies", "cb"), "id_b")
        .select(
            "est_jaccard",
            F.expr("CAST(ca AS DECIMAL(19,0)) * cb").alias("w"),
        )
    )
    within = counts.filter(F.col("n_copies") > 1).select(
        F.lit(1.0).alias("est_jaccard"),
        F.expr("CAST(n_copies AS DECIMAL(19,0)) * (n_copies - 1) / 2").alias("w"),
    )
    return (
        cross.unionByName(within)
        .groupBy("est_jaccard")
        .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("n_pairs"))
        .orderBy("est_jaccard")
    )


def ext_dedup_ngram_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup COMPONENTS over the exact-dedup-collapsed corpus — the
    scale contract for the ngram-Jaccard family on duplicate-heavy data.

    ext_dedup_groups applies the df<=64 hot-shingle guard at INSTANCE
    level, so verbatim replication (every shingle's doc-freq >=
    multiplicity) prunes the whole index and recall collapses to
    singletons — the guard protects the plan but destroys the answer in
    exactly the regime a dedup job runs in. The production shape is
    exact-dedup FIRST: collapse to distinct raw contents, compute
    Jaccard pairs + hash-min components over DISTINCT CONTENTS (df
    measured in content space, where the guard means "shared by >64
    distinct texts" — a real stopword signal, not a copy count), then
    expand labels to all instances through one content-keyed join.
    Output is O(n) rows: (doc_id, component, is_representative), with
    component = min doc_id of the component (hash-min over min-id reps
    reproduces instance-level min ids exactly — the entity_clusters
    collapse argument). NULL-text docs collapse to one content group
    (GROUP BY NULL=NULL on both engines, mirrored in the oracle)."""
    docs = _t(spark, sf_dir, "documents")
    # r12 note: `g` is consumed by the shingle build, the dedup_groups
    # singleton join and the label expansion, but persisting it was
    # measured SLOWER — full-text rows at DISK_ONLY cost more to
    # serialize+re-read than recomputing the one map-side-combined
    # collapse shuffle from columnar parquet. Left unpersisted on
    # purpose.
    g = dedup.content_collapse(docs)
    # CC checkpoints the distinct-content edges eagerly — the scope then
    # releases the inverted index's session pin (r11 endurance finding)
    with scope():
        pairs = dedup.ngram_jaccard_pairs(
            g, n=3, threshold=0.3, max_doc_freq=dedup.HOT_SHINGLE_MAX_DF
        )
        comps = dedup.dedup_groups(g, pairs).select(
            F.col("doc_id").alias("__rep"), F.col("component").alias("__comp")
        )
    # expansion join keyed on the content HASH (16-byte key instead of the
    # full text in the widest shuffle); eqNullSafe routes the NULL-text
    # content group (md5(NULL) IS NULL) to its single collapsed row
    labeled = (
        g.select(F.md5(F.col("text").cast("binary")).alias("__lh"), "doc_id")
        .join(comps, F.col("doc_id") == F.col("__rep"))
        .select("__lh", "__comp")
    )
    return (
        docs.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("__dh")
        )
        .join(labeled, F.col("__dh").eqNullSafe(F.col("__lh")), "left")
        .select(
            "doc_id",
            F.col("__comp").alias("component"),
            (F.col("doc_id") == F.col("__comp")).alias("is_representative"),
        )
        .orderBy("doc_id")
    )


EXT_DEDUP_NGRAM_GROUPS_SQL = rf"""
WITH RECURSIVE
g AS (
  SELECT MIN(doc_id) AS doc_id, text, COUNT(*) AS n_copies
  FROM documents GROUP BY text
),
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(text), '\s+')) AS w,
         generate_subscripts(string_split_regex(TRIM(text), '\s+'), 1) AS i
  FROM g
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
  SELECT doc_id, doc_id FROM g
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
),
rep_comp AS (SELECT id AS rep, MIN(comp) AS component FROM reach GROUP BY id),
doc_rep AS (
  SELECT d.doc_id, g.doc_id AS rep
  FROM documents d
  JOIN g ON d.text IS NOT DISTINCT FROM g.text
)
SELECT dr.doc_id,
       rc.component,
       (dr.doc_id = rc.component) AS is_representative
FROM doc_rep dr JOIN rep_comp rc ON dr.rep = rc.rep
ORDER BY dr.doc_id
"""


def ext_fuzzy_join_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match pair counts per edit distance, in distinct-NAME space
    — the scale contract for ext_fuzzy_join (builder-documented as
    deliberately unbounded: verbatim-replicated names make its instance
    pair output multiplicity-quadratic).

    Plan: collapse customers to distinct names with multiplicities, run
    the SAME blocked levenshtein self-join over distinct names (the
    entity_clusters collapse), and report (dist, n_pairs) with
    cross-name weight ca*cb and within-name C(c,2) at dist 0. NULL
    names are excluded exactly as the pair form's block equi-join
    excludes them (mirrored WHERE in the oracle — the fs_linkage NULL
    lesson). The oracle materializes instance pairs and aggregates, so
    every sweep proves the collapse equivalent."""
    from aircan_spark.ext import entity

    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .filter(F.col("c_name").isNotNull())
    )
    # r12: `names` feeds both sides of the blocked levenshtein self-join,
    # both count-attach joins and the within term — the distinct-name
    # collapse re-ran per consumer. Data-proportional -> DISK_ONLY.
    names = share(
        cust.groupBy("c_name").agg(
            F.min("c_custkey").alias("name_id"), F.count(F.lit(1)).alias("c")
        ),
        big=True,
    )
    pairs = entity.fuzzy_self_join(names, "name_id", "c_name", max_dist=1, tail=2)
    counts = names.select("name_id", "c")
    cross = (
        pairs.select("id_a", "id_b", "dist")
        .join(counts.withColumnRenamed("name_id", "id_a").withColumnRenamed("c", "ca"), "id_a")
        .join(counts.withColumnRenamed("name_id", "id_b").withColumnRenamed("c", "cb"), "id_b")
        .select(
            F.col("dist").cast("long").alias("dist"),
            F.expr("CAST(ca AS DECIMAL(19,0)) * cb").alias("w"),
        )
    )
    within = counts.filter(F.col("c") > 1).select(
        F.lit(0).cast("long").alias("dist"),
        F.expr("CAST(c AS DECIMAL(19,0)) * (c - 1) / 2").alias("w"),
    )
    return (
        cross.unionByName(within)
        .groupBy("dist")
        .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("n_pairs"))
        .orderBy("dist")
    )


EXT_FUZZY_JOIN_GROUPS_SQL = r"""
WITH k AS (
  SELECT c_custkey AS id, c_name AS name,
         SUBSTR(c_name, 1, GREATEST(LENGTH(c_name) - 2, 0)) AS block
  FROM customer WHERE c_name IS NOT NULL
),
pairs AS (
  SELECT CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
  FROM k a JOIN k b ON a.block = b.block AND a.id < b.id
  WHERE levenshtein(a.name, b.name) <= 1
)
SELECT dist, COUNT(*) AS n_pairs
FROM pairs GROUP BY dist ORDER BY dist
"""


def ext_dedup_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pair counts per cosine level, in distinct-
    VECTOR space — the scale contract for ext_dedup_embedding_lsh
    (10.57M instance pairs with GC pressure at verbatim-100x, where
    exact-copy vectors stack every LSH bucket multiplicity deep).

    Plan: collapse to distinct embeddings (bit-identical float arrays —
    verbatim replication is exact-copy by construction), run the SAME
    multi-table LSH bucket join over distinct vectors with the adaptive
    bit count derived from the INSTANCE corpus size (the audit form's
    bucket structure, so the candidate sets match exactly), and weight:
    cross-vector ca*cb at the kernel's cosine, within-vector C(c,2) at
    cosine 1.0 (identical vectors share all buckets; the einsum kernel's
    self-cosine rounds to 1.0 at 6 digits). Rows-only contract (the
    hyperplane buckets are not SQL-expressible — same as the pair form);
    tests pin groups == GROUP BY cosine over the pair output."""
    emb = _t(spark, sf_dir, "embeddings")
    # r12: the narrow (vec_id, c) projection feeds both count-attach
    # joins + the within term — persist IT. Persisting full `g`
    # (vector arrays at DISK_ONLY) was measured SLOWER than recomputing
    # the collapse from parquet (serialized-row re-reads beat columnar
    # decode nowhere); the pair kernel's own wide consumers stay on the
    # recompute path by design.
    g = emb.groupBy("embedding").agg(
        F.min("vec_id").alias("vec_id"), F.count(F.lit(1)).alias("c")
    )
    n_instances = corpus_count(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_pairs(
        g, threshold=0.4, lsh_bits=6, num_tables=24, n_vecs=n_instances
    )
    counts = share(g.select("vec_id", "c"), big=True)
    cross = (
        pairs.join(
            counts.withColumnRenamed("vec_id", "id_a").withColumnRenamed("c", "ca"),
            "id_a",
        )
        .join(
            counts.withColumnRenamed("vec_id", "id_b").withColumnRenamed("c", "cb"),
            "id_b",
        )
        .select("cosine", F.expr("CAST(ca AS DECIMAL(19,0)) * cb").alias("w"))
    )
    within = counts.filter(F.col("c") > 1).select(
        F.lit(1.0).alias("cosine"),
        F.expr("CAST(c AS DECIMAL(19,0)) * (c - 1) / 2").alias("w"),
    )
    return (
        cross.unionByName(within)
        .groupBy("cosine")
        .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("n_pairs"))
        .orderBy("cosine")
    )


def ext_dup_threshold_curve_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X-family threshold-sensitivity curve computed over the
    exact-dedup-collapsed corpus — the duplicate-heavy path for
    ext_dup_threshold_curve, whose instance-level df<=64 guard returns
    a 0-row curve at verbatim multiplicity > 64 (measured on the
    verbatim-100x stressor) exactly when a dedup owner most needs the
    evidence. Collapse to distinct raw contents first, run the SAME
    banded Jaccard curve over distinct contents (guard in content
    space), and weight each band: cross-content ca*cb at its band,
    within-content C(c,2) at band 20 (identical contents have Jaccard
    exactly 1.0) — restricted to contents that HAVE shingles, mirroring
    the pair form's join semantics (a NULL-text doc never pairs).
    Cumulative counts ride the 21-row band axis. Fully oracled: the
    DuckDB mirror performs the identical collapse + weighted curve."""
    from aircan_spark.skew import blocked_self_pairs

    docs = _t(spark, sf_dir, "documents")
    # r12 note: `g` stays unpersisted on purpose — full-text rows at
    # DISK_ONLY were measured slower than recomputing the collapse from
    # parquet. The narrow (doc_id, n_copies) projection is persisted
    # below instead.
    g = dedup.content_collapse(docs)
    # DISK_ONLY persist (r12): blocked_self_pairs runs an EAGER stats
    # pass over the guarded index at construction time, and the main
    # plan then consumes the same shingle subtree three more ways
    # (sizes / rare / pair join). Un-persisted, the stats action
    # recomputed the whole collapse+shingle+distinct pipeline once per
    # build on top of the main run. Same contract as the pair family's
    # inverted indexes (data-proportional -> DISK_ONLY).
    sh = share(dedup.shingles(g).filter(F.col("shingle").isNotNull()), big=True)
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
    # narrow (doc_id, n_copies) rows feed BOTH count-attach joins — one
    # collapse run materialized cheaply instead of two recomputes.
    counts = share(g.select("doc_id", "n_copies"), big=True)
    ju = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .join(
            counts.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "n_copies", "ca"
            ),
            "id_a",
        )
        .join(
            counts.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "n_copies", "cb"
            ),
            "id_b",
        )
        .select(
            "i", (F.col("na") + F.col("nb") - F.col("i")).alias("u"), "ca", "cb"
        )
        .filter(F.col("i") * 20 >= F.col("u"))
        .select(
            F.expr("(20 * i) div u").cast("long").alias("band"),
            F.expr("CAST(ca AS DECIMAL(19,0)) * cb").alias("w"),
        )
    )
    within = (
        counts.join(sizes, "doc_id")  # shingle-bearing contents only
        .filter(F.col("n_copies") > 1)
        .select(
            F.lit(20).cast("long").alias("band"),
            F.expr(
                "CAST(n_copies AS DECIMAL(19,0)) * (n_copies - 1) / 2"
            ).alias("w"),
        )
    )
    binned = (
        ju.unionByName(within)
        .groupBy("band")
        .agg(F.expr("CAST(SUM(w) AS BIGINT)").alias("n_pairs"))
    )
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


EXT_DUP_THRESHOLD_COLLAPSED_SQL = rf"""
WITH g AS (
  SELECT MIN(doc_id) AS doc_id, text, COUNT(*) AS n_copies
  FROM documents GROUP BY text
),
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(TRIM(text), '\s+')) AS w,
         generate_subscripts(string_split_regex(TRIM(text), '\s+'), 1) AS i
  FROM g
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
cross_w AS (
  SELECT CAST((20 * i) // (sa.n + sb.n - i) AS BIGINT) AS band,
         CAST(ga.n_copies AS HUGEINT) * gb.n_copies AS w
  FROM inter
  JOIN sizes sa ON inter.id_a = sa.doc_id
  JOIN sizes sb ON inter.id_b = sb.doc_id
  JOIN g ga ON inter.id_a = ga.doc_id
  JOIN g gb ON inter.id_b = gb.doc_id
  WHERE i * 20 >= sa.n + sb.n - i
),
within_w AS (
  SELECT CAST(20 AS BIGINT) AS band,
         CAST(g.n_copies AS HUGEINT) * (g.n_copies - 1) // 2 AS w
  FROM g JOIN sizes ON g.doc_id = sizes.doc_id
  WHERE g.n_copies > 1
),
binned AS (
  SELECT band, CAST(SUM(w) AS BIGINT) AS n_pairs
  FROM (SELECT * FROM cross_w UNION ALL SELECT * FROM within_w)
  GROUP BY band
)
SELECT band,
       ROUND(band * 0.05, 2) AS thr_lo,
       n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY band DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_pairs_at_or_above
FROM binned ORDER BY band
"""


EXT_QUERIES.update(
    {
        "ext_dedup_simhash_groups": ext_dedup_simhash_groups,
        "ext_dedup_minhash_groups": ext_dedup_minhash_groups,
        "ext_dedup_ngram_groups": ext_dedup_ngram_groups,
        "ext_fuzzy_join_groups": ext_fuzzy_join_groups,
        "ext_dedup_embedding_groups": ext_dedup_embedding_groups,
        "ext_dup_threshold_curve_collapsed": ext_dup_threshold_curve_collapsed,
    }
)
EXT_ORACLES.update(
    {
        "ext_dedup_ngram_groups": EXT_DEDUP_NGRAM_GROUPS_SQL,
        "ext_fuzzy_join_groups": EXT_FUZZY_JOIN_GROUPS_SQL,
        "ext_dup_threshold_curve_collapsed": EXT_DUP_THRESHOLD_COLLAPSED_SQL,
    }
)
