"""Deduplication operators — exact through approximate.

Five strategies, each a different point on the accuracy/cost curve, all
expressed as DataFrame plans that scale by bucketing rather than all-pairs
comparison:

- ``exact_dedup``          hash-groupBy on normalized content       O(n)
- ``ngram_jaccard_pairs``  exact set Jaccard via shared-shingle
                           candidate join (inverted index)          O(pairs sharing a shingle)
- ``minhash_pairs``        MinHash signatures + LSH banding         O(n·k + collisions)
- ``simhash_pairs``        64-bit SimHash + band join + hamming     O(n + collisions)
- ``embedding_pairs``      cosine near-dup via hyperplane-LSH
                           buckets (exact brute option for oracle)  O(n²/2^bits) approx

Shuffle notes for 100 TB: the shingle inverted index is the classic skew
hazard (stopword shingles fan out quadratically) — ``max_doc_freq`` prunes
shingles that occur in too many documents before the self-join, the same
trick production near-dup pipelines use; LSH band joins shuffle fixed-size
keys (band hash), so their fan-in is controlled by band width choice, not
data skew.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aircan_spark.data import checkpoint
from aircan_spark.frames import share

from aircan_spark.ext.text import normalize_text

# Hard cap on the brute (lsh_bits=0) embedding_pairs baseline — ~the
# measured brute-vs-LSH crossover (PERFORMANCE.md); above this the
# driver-side O(n²) collect is both slower than LSH and a memory hazard.
BRUTE_PAIRS_MAX_VECTORS = 50_000

# The declared-query hot-shingle doc-frequency guard (r10): shingles in
# more than this many documents are pruned from inverted-index pair joins.
# Chosen at 2.56x the max shingle doc-freq observed at sf0.1 (25), so it
# never binds at any committed fixture, while bounding candidate work at
# scale (salted-30x: sum(df^2) 1.1e9 unguarded vs 1.0e7 here). The value
# is interpolated into the DuckDB oracle strings — change it HERE and the
# Spark queries and oracles move together.
HOT_SHINGLE_MAX_DF = 64


def rare_shingles(
    sh: DataFrame, max_doc_freq: int, shingle_col: str = "shingle"
) -> DataFrame:
    """Shingles occurring in at most ``max_doc_freq`` documents — the
    join-key whitelist of the hot-shingle guard (one partial-agg scan of
    the inverted index)."""
    return (
        sh.groupBy(shingle_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select(shingle_col)
    )


def guarded_stats(
    sh: DataFrame,
    max_doc_freq: int,
    shingle_col: str = "shingle",
) -> tuple[DataFrame, tuple[int, int]]:
    """One doc-frequency aggregation over the inverted index yields BOTH
    guard artifacts the pair join needs: the rare-shingle whitelist
    (df <= max_doc_freq, the ``rare_shingles`` result) and
    ``blocked_self_pairs``' sizing scalars over the GUARDED index
    (sum(df^2), max(df) over the rare shingles).

    Before (r12 batch-4 measurement): the guard cost THREE index
    aggregations per query — ``rare_shingles`` recomputed per consumer
    branch, plus ``blocked_self_pairs``' eager stats pass, which
    re-executed the whole guard JOIN (sh ⨝ rare → groupBy(shingle) →
    agg) just to re-derive the per-shingle counts the guard had already
    computed. Now the df counts are computed once, persisted, and both
    artifacts are filters over them (guide §1.2: find the fixed costs).

    Equivalence: for a rare shingle, its per-block row count in the
    guarded index IS its df (the whitelist join keeps every (id,
    shingle) row of a surviving shingle), so sum(df^2)/max(df) over
    ``df <= max_doc_freq`` equals what blocked_self_pairs' own pass
    computes over the joined frame. NULL shingles (NULL-text docs) are
    excluded here because an equi-join key of NULL never survives the
    guard join — counting them would inflate ``work`` relative to the
    in-function pass.

    The df-counts frame (one row per distinct shingle) is
    ``frames.share``d big, like the inverted index itself: the caller's
    ``frames.scope()`` releases it."""
    counts = share(
        sh.filter(F.col(shingle_col).isNotNull())
        .groupBy(shingle_col)
        .agg(F.count(F.lit(1)).alias("__df")),
        big=True,
    )
    row = (
        counts.filter(F.col("__df") <= max_doc_freq)
        .agg(
            F.sum(F.col("__df") * F.col("__df")).alias("work"),
            F.max("__df").alias("max_block"),
        )
        .collect()[0]
    )
    rare = counts.filter(F.col("__df") <= max_doc_freq).select(shingle_col)
    return rare, (int(row["work"] or 0), int(row["max_block"] or 0))


# --- exact -------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id representative per exact (normalized) content
    hash. One shuffle (groupBy on the hash)."""
    h = F.md5(normalize_text(F.col(text_col)).cast("binary"))
    return (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__h")
        .select(id_col, "n_copies")
    )


# --- shingling helpers ----------------------------------------------------------


def _shingle_array(text_col: str, n: int):
    """Word n-gram array via higher-order functions — no explode needed to
    BUILD the shingles (stays row-local, zero shuffle)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    return F.when(
        F.size(words) >= n,
        F.transform(
            idx,
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per document."""
    return (
        df.select(id_col, F.explode(_shingle_array(text_col, n)).alias("shingle"))
        .distinct()
    )


# --- exact n-gram Jaccard -----------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_doc_freq: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for all pairs sharing >= 1
    shingle. Inverted-index self-join: only colliding pairs are scored,
    never the full cross product.

    ``max_doc_freq`` prunes shingles occurring in more than that many
    documents before the join — the skew guard for web-scale corpora
    (a shingle in 1M docs would alone produce 5·10^11 candidate pairs).

    ``hash_shingles=True`` replaces each shingle string with its xxhash64
    long before the self-join — the scale path: the widest shuffle (the
    inverted index) carries 8-byte keys instead of ~n-word strings, at the
    cost of a vanishing collision probability (~1e-9 per doc pair at 1e5
    shingles/doc). Kept off by default so the result is exactly the string
    Jaccard the DuckDB oracle computes.

    The inverted index (and the guard's df counts) are ``frames.share``d
    big. Spark's CacheManager holds cached plans by STRONG reference — no
    GC ever frees them — and the returned frame is lazy, so a caller
    opens a ``frames.scope()`` around building AND materializing the
    pairs (the CC family checkpoints them eagerly); outside a scope the
    pins are the caller's.
    """
    sh = shingles(df, id_col, text_col, n)
    if hash_shingles:
        sh = sh.select(id_col, F.xxhash64("shingle").alias("shingle"))
    # the inverted index is DATA-PROPORTIONAL (rows x shingles): DISK_ONLY,
    # never the default deserialized-in-heap cache — at the 30x corpus the
    # cached index monopolized the unified memory pool's protected storage
    # region and starved the pair join's sorters into UNABLE_TO_ACQUIRE_MEMORY
    sh = share(sh, big=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))

    joinable = sh
    stats = None
    if max_doc_freq is not None:
        # r12 batch 4: the whitelist AND blocked_self_pairs' sizing
        # scalars from ONE persisted df-counts pass — previously the
        # eager stats pass re-executed the guard join (sh ⨝ rare →
        # groupBy → agg) on top of the per-branch rare recomputes
        rare, stats = guarded_stats(sh, max_doc_freq)
        joinable = sh.join(rare, "shingle")

    # inverted-index self-join with DERIVED parallelism: shuffle
    # partitions sized from sum(df^2) over shingles, and any shingle
    # whose own collision work exceeds one task's budget is
    # triangular-split (skew.py blocked_self_pairs) — max_doc_freq
    # remains the recall-trading cap, this is the no-recall-loss
    # counterpart that keeps uncapped runs alive at clone-heavy scale
    from aircan_spark.skew import blocked_self_pairs

    inter = (
        blocked_self_pairs(joinable, "shingle", id_col, stats=stats)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("set_size", "size_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("set_size", "size_b")
    jac = F.col("intersection").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("intersection")
    ).cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def content_collapse(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Collapse a corpus to one row per distinct RAW content: (min id as
    representative, the shared text, multiplicity). The exact-dedup pass
    every production near-dup pipeline runs FIRST, exposed as the library
    primitive behind the group-contract dedup queries (r11).

    Why raw text (not normalized): the pair-emission queries shingle/
    hash the raw text, so equivalence between a pair query and its
    group-contract sibling (cross-group weight ca*cb + within-group
    C(c,2)) holds exactly only when "same group" means "identical token
    stream". Verbatim replication — the regime where pair output goes
    multiplicity-quadratic — is raw-identical by definition.

    Scale shape: groupBy on md5(text) — ONE shuffle whose map-side
    partial aggregation collapses duplicates before they move, so the
    shuffle volume is ~distinct contents, not corpus rows. min(text) is
    exact (the text is constant within an md5 group)."""
    return (
        df.withColumn("__ch", F.md5(F.col(text_col).cast("binary")))
        .groupBy("__ch")
        .agg(
            F.min(id_col).alias(id_col),
            F.min(text_col).alias(text_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__ch")
    )


# --- MinHash + LSH --------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """k MinHash values per doc.

    Each shingle STRING is hashed exactly once (xxhash64); the k hash
    functions are derived by re-hashing that 8-byte value with k seeds —
    long-input hashing is ~100x cheaper than string hashing, so total work
    is one string pass + k cheap mixes per shingle. Shingles are exploded
    and minimized with groupBy: partial aggregation runs map-side, so the
    shuffle carries only num_hashes longs per document regardless of
    document length — the scale-safe shape. (A row-local formulation would
    be shuffle-free but Catalyst's project-collapsing inlines the shingle
    expression into every one of the k aggregates, recomputing the
    split/slice/join pipeline k times per row.)"""
    sh = _shingle_array(text_col, n)
    hashed = df.select(
        F.col(id_col), F.explode(F.transform(sh, lambda s: F.xxhash64(s))).alias("__h")
    )
    mins = [
        F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("signature"),
        )
    )


def minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.3,
) -> DataFrame:
    """Candidate pairs via LSH banding, verified with the signature-level
    Jaccard estimate (fraction of agreeing hashes).

    bands=16, rows/band=4 -> S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5; pairs
    well below come out of banding rarely, well above almost surely.
    """
    rows_per_band = num_hashes // bands
    # data-proportional (docs x num_hashes): DISK_ONLY, never heap-cached;
    # released by the caller's scope — see ngram_jaccard_pairs
    sigs = share(minhash_signatures(df, id_col, text_col, n, num_hashes), big=True)

    # Band buckets derived row-local from signature slices; the candidate
    # join and its dedup carry ONLY (band, bucket, id) — signatures (64
    # longs each) stay out of the widest shuffle and are re-attached by id
    # afterwards, when the pair set is already collision-sized.
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.hash(
                        F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )

    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .orderBy("id_a", "id_b")
    )


# --- SimHash ----------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash: per token xxhash64; each signature bit is the sign
    of the sum of (+1/-1) contributions across tokens.

    Tokens are hashed once, exploded, and the per-bit contribution sums are
    computed as ``bits`` partial aggregates in one groupBy — map-side
    combine keeps the shuffle at ``bits`` longs per document. (A row-local
    fold per bit would re-tokenize and re-hash the text ``bits`` times —
    Catalyst inlines the shared subexpression into every fold.)"""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    hashed = df.select(
        F.col(id_col), F.explode(F.transform(words, lambda w: F.xxhash64(w))).alias("__h")
    )
    sums = [
        F.sum(F.when(F.getbit(F.col("__h"), F.lit(i)) == 1, 1).otherwise(-1)).alias(
            f"__s{i}"
        )
        for i in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*sums)
    # bits are disjoint -> assemble with bitwise OR of shifted bit values;
    # shiftleft instead of a 1<<i literal: 1<<63 would overflow a Java
    # long on the py4j boundary
    sig = F.lit(0).cast("long")
    for i in range(bits):
        bit = F.when(F.col(f"__s{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Candidates via
    band join: with 4 bands of 16 bits, any pair within hamming distance 3
    must agree exactly on >= 1 band (pigeonhole) — so banding loses no
    true pair while avoiding the n² comparison."""
    width = 64 // bands
    # data-proportional (one row per doc): DISK_ONLY, never heap-cached;
    # released by the caller's scope — see ngram_jaccard_pairs
    sigs = share(simhash_signatures(df, id_col, text_col), big=True)
    banded = sigs.select(
        id_col,
        "simhash",
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
    ).select(id_col, "simhash", "bb.band", "bb.bucket")

    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bucket")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


# --- embedding cosine near-dup ---------------------------------------------------------


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    return dot / (na * nb)


def hyperplane_bucket_udf(planes: np.ndarray):
    """Vectorized multi-table hyperplane LSH bucketing.

    ``planes`` has shape (num_tables, bits, dim). Returns a Pandas UDF
    mapping an array<double> vector column to array<bigint> of one bucket
    id per table: bucket bit i = sign of the projection onto plane i. The
    whole batch is one numpy matmul (batch x dim) @ (dim x tables*bits) —
    Arrow-batched, no per-element expression trees. Collision probability
    per table for angle θ is (1-θ/π)^bits; OR-amplification over L tables
    lifts recall to 1-(1-p)^L — the standard tradeoff dial."""
    from pyspark.sql.functions import pandas_udf

    num_tables, bits, dim = planes.shape
    flat = np.ascontiguousarray(
        planes.reshape(num_tables * bits, dim).T.astype("float64")
    )
    weights = 1 << np.arange(bits, dtype="int64")

    @pandas_udf("array<bigint>")
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype="float64")
        proj = mat @ flat
        signs = proj.reshape(len(vs), num_tables, bits) > 0
        vals = (signs * weights).sum(axis=2, dtype="int64")
        return pd.Series(vals.tolist())

    return buckets


def adaptive_lsh_bits(n_vecs: int, floor_bits: int, occupancy: int = 32) -> int:
    """Corpus-adaptive hyperplane-LSH bit count: enough sign bits that
    mean bucket occupancy stays <= ``occupancy`` (bits =
    max(floor, ceil(log2(n/occupancy)))). Fixed bits mean occupancy —
    and the candidate join + pair-vector attach shuffle — grow
    quadratically with the corpus (the r9 salted-30x ENOSPC). Yields the
    caller's floor at every committed fixture size (500 vecs -> floor,
    2000 -> 6 with the declared floor 6), so fixture outputs are
    unchanged."""
    import math

    return max(floor_bits, math.ceil(math.log2(max(n_vecs, 2) / occupancy)))


def embedding_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    lsh_bits: int = 0,
    num_tables: int = 8,
    seed: int = 42,
    n_vecs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity.

    ``lsh_bits=0``: exact brute-force over all pairs (the oracle-checkable
    baseline; O(n²) — fine for verification scale).
    ``lsh_bits=b``: multi-table random-hyperplane LSH — per table, vectors
    bucket by the sign bits of projections onto fixed pseudo-random planes;
    only same-(table,bucket) pairs are scored, exactly. At scale the bucket
    equi-join replaces the cross product; ``num_tables`` dials recall
    (1-(1-p)^L) against candidate volume.

    CORPUS-ADAPTIVE BITS: ``lsh_bits`` is the floor; the effective bit
    count grows with the corpus so mean bucket occupancy stays <= ~32
    (bits = max(lsh_bits, ceil(log2(n/32)))). A FIXED bit count keeps a
    fixed number of buckets, so occupancy — and with it the candidate
    join AND the pair-vector re-attach shuffle — grows QUADRATICALLY
    with corpus size: measured at the salted-30x full-registry smoke
    (r9), 60k vectors at the historical fixed 6 bits produced ~6.8e8
    candidate pairs whose ~1KB/row attach shuffle filled the spill disk
    (SPILL_OUT_OF_MEMORY: No space left on device). The adaptive floor
    yields exactly the historical bits at every committed fixture SF
    (500 vecs -> 4 [recall-test floor], 2000 -> 6), so declared outputs
    are unchanged there; beyond, occupancy is bounded at any corpus
    size. The standard LSH tradeoff applies: at-threshold pairs need
    more tables for the same recall as bits grow, while high-cosine
    near-dups (the dedup target, per-bit p >= ~0.85) stay
    near-certain: p(hit) = 1-(1-p^bits)^tables.
    """
    vecs = df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    if lsh_bits > 0:
        # corpus size for the adaptive bit count: callers that already
        # know it (the declared query rides the footer corpus_count) pass
        # n_vecs so construction stays lazy — an in-function count() here
        # rescanned the immutable parquet on every rebuild and charged the
        # scan to CONSTRUCTION, outside warm timings (r9 ADVICE)
        lsh_bits = adaptive_lsh_bits(
            n_vecs if n_vecs is not None else df.count(), lsh_bits
        )
        dim = len(df.select(vec_col).first()[0])
        planes = np.random.default_rng(seed).standard_normal(
            (num_tables, lsh_bits, dim)
        )
        buckets = hyperplane_bucket_udf(planes)
        bucketed = vecs.select(
            id_col, F.posexplode(buckets(F.col("v"))).alias("table", "bucket")
        )
        # bucket-join BARE ids (vectors would fan out x num_tables through
        # the shuffle), dedup the candidate pairs, then re-attach vectors
        # once per side — the same dedup-before-re-attach shape minhash uses
        a = bucketed.select(F.col(id_col).alias("id_a"), "table", "bucket")
        b = bucketed.select(F.col(id_col).alias("id_b"), "table", "bucket")
        cand = (
            a.join(b, ["table", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # re-attach vectors once per side, then score each Arrow batch of
        # candidate pairs with ONE vectorized numpy kernel (einsum row-dot
        # / norm product). einsum's sequential per-pair reduction and the
        # brute kernel's blocked BLAS dgemm are NOT bit-identical in
        # general — a 1-ULP pre-round divergence on a ROUND(x,6) boundary
        # cosine could flip the 6th decimal; post-ROUND equality with the
        # exact path is EMPIRICALLY pinned at the fixture SFs
        # (tests/test_ext.py pair-by-pair + the three sweep scales), not
        # guaranteed by the arithmetic. This replaced
        # a Catalyst zip_with/aggregate fold that evaluated an interpreted
        # lambda per ELEMENT: at sf0.1 that was ~3e7 lambda evals and the
        # whole-registry warm top spot (4.4s); the kernel scores the same
        # pairs in batched SIMD. Same prefilter slack as the brute kernel
        # so post-round boundary pairs survive into the exact filter.
        va = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
        vb = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
        attached = cand.join(va, "id_a").join(vb, "id_b")
        prefilter = threshold - 1e-6

        def score_pairs(batches):
            for block in batches:
                if not len(block):
                    continue
                a = np.array(block["va"].tolist(), dtype="float64")
                b = np.array(block["vb"].tolist(), dtype="float64")
                sims = np.einsum("ij,ij->i", a, b) / (
                    np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
                )
                keep = sims >= prefilter
                yield pd.DataFrame(
                    {
                        "id_a": block["id_a"].to_numpy(dtype="int64")[keep],
                        "id_b": block["id_b"].to_numpy(dtype="int64")[keep],
                        "cosine": sims[keep],
                    }
                )

        scored = attached.mapInPandas(
            score_pairs, schema="id_a bigint, id_b bigint, cosine double"
        ).withColumn("cosine", F.round("cosine", 6))
    else:
        # Exact all-pairs, vectorized: each input batch is scored against
        # the full corpus matrix with one numpy matmul. The corpus is
        # materialized driver-side and closure-broadcast — this is the
        # ORACLE-ONLY verification baseline (O(n^2) by definition); the
        # 100 TB path is lsh_bits>0, whose candidate join scales with
        # bucket occupancy. Guarded so the driver-side collect can never
        # run beyond verification scale: past the measured ~30k-vector
        # LSH crossover (PERFORMANCE.md) the brute path is strictly worse
        # AND holds the whole corpus on the driver.
        n_vecs = vecs.count()
        if n_vecs > BRUTE_PAIRS_MAX_VECTORS:
            raise ValueError(
                f"embedding_pairs(lsh_bits=0) is the oracle-only brute "
                f"baseline (driver-side O(n²) collect) and is capped at "
                f"{BRUTE_PAIRS_MAX_VECTORS} vectors; got {n_vecs}. Use "
                f"lsh_bits>0 (the LSH scale path) for real corpora."
            )
        pdf = vecs.toPandas()
        ids_full = pdf[id_col].to_numpy(dtype="int64")
        mat = np.array(pdf["v"].tolist(), dtype="float64")
        norms = np.linalg.norm(mat, axis=1)
        # slack below the threshold so post-round boundary pairs survive
        # into the exact Spark-side filter
        prefilter = threshold - 1e-6

        def score_blocks(batches):
            for block in batches:
                if not len(block):
                    continue
                ids_b = block[id_col].to_numpy(dtype="int64")
                bm = np.array(block["v"].tolist(), dtype="float64")
                sims = (bm @ mat.T) / (
                    np.linalg.norm(bm, axis=1)[:, None] * norms[None, :]
                )
                keep = (ids_b[:, None] < ids_full[None, :]) & (sims >= prefilter)
                ai, bj = np.nonzero(keep)
                yield pd.DataFrame(
                    {"id_a": ids_b[ai], "id_b": ids_full[bj], "cosine": sims[ai, bj]}
                )

        scored = vecs.mapInPandas(
            score_blocks, schema="id_a bigint, id_b bigint, cosine double"
        ).withColumn("cosine", F.round("cosine", 6))

    return (
        scored.filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )


# --- pair graph -> dedup groups ---------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph (the step that
    turns near-dup PAIRS into dedup GROUPS): returns (id, component) where
    component is the minimum id reachable from the node.

    Hash-min label propagation: every node starts labelled with its own
    id; each round, nodes adopt the minimum label among themselves and
    their neighbors; converged when no label changes. Each round is one
    equi-join + partial-aggregated groupBy — O(diameter) rounds, and
    near-dup graphs are shallow (clusters are cliques or near-cliques, so
    2-3 rounds typical). Labels are cached per round and lineage is
    truncated with localCheckpoint so the plan does not grow with the
    iteration count (the classic iterative-Spark trap).

    At web scale the same loop holds (shuffle keyed by node id); if
    diameters grow, the large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") converges in
    O(log² n) rounds — the escalation path if this ever raises on real
    graphs. Hash-min needs O(diameter) rounds, so a graph deeper than
    ``max_iter`` CANNOT be labelled correctly by this loop; rather than
    silently returning partially-propagated (wrong) components, the loop
    raises when the final round still changed labels.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    # materialize the edge list once: it joins into EVERY iteration, and its
    # upstream plan (e.g. a jaccard candidate join) must not be re-executed
    # per round. big=True: the edge list is DATA-PROPORTIONAL (a clone-heavy
    # corpus explodes it quadratically), so it must never sit in the heap as
    # deserialized localCheckpoint blocks — DISK_ONLY in local mode (the r7
    # 30x OOM), reliable checkpoint on a cluster
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(lambda d: checkpoint(d, big=True))
    nodes = sym.select(F.col("src").alias("id")).distinct()
    # r12 (guide §5): per-round frames are checkpointed LAZILY — the
    # round's convergence count below is the materializing action, so
    # each iteration submits ONE job instead of two (eager checkpoint
    # job + count job). Blocks/truncation identical to the eager form.
    comp = nodes.withColumn("component", F.col("id")).transform(
        lambda d: checkpoint(d, eager=False)
    )

    for _ in range(max_iter):
        nbr_min = (
            sym.join(comp, sym["dst"] == comp["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        # carry the improved-this-round flag through the checkpoint so the
        # convergence check is a filter over materialized rows, not a
        # second join
        stepped = (
            comp.join(nbr_min, comp["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("component"),
                (
                    F.col("nbr_component").isNotNull()
                    & (F.col("nbr_component") < F.col("component"))
                ).alias("__changed"),
            )
            .transform(lambda d: checkpoint(d, eager=False))
        )
        # this count materializes the lazy checkpoint (all partitions —
        # count never short-circuits) AND returns the convergence flag:
        # one job per round
        changed = stepped.filter(F.col("__changed")).count()
        comp = stepped.drop("__changed")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds ({changed} labels still changing): the "
            f"graph's diameter exceeds the round budget. Raise max_iter, "
            f"or for deep graphs use a large-star/small-star formulation "
            f"(O(log² n) rounds) instead of hash-min."
        )
    return comp


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Assign every document to its near-dup component and mark the
    representative (minimum id): (id, component, is_representative).
    Documents with no near-dup pair form singleton components. The
    downstream corpus filter is `filter(is_representative)`."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        df.select(id_col)
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .withColumn(
            "is_representative", F.col(id_col) == F.col("component")
        )
    )


# --- eval-set decontamination ------------------------------------------------------


def contamination_flags(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
    hash_shingles: bool = False,
) -> DataFrame:
    """Flag training documents that share >= ``min_overlap`` word n-grams
    with ANY evaluation document — the decontamination pass run before
    training so benchmark text does not leak into the corpus (production
    pipelines use n ~ 8-13; the default suits short fixture docs).

    Returns (id, n_contaminated_shingles, contaminated) for every train
    row. The eval shingle set is deduplicated and joined once; eval sets
    are tiny next to a training corpus, so at scale that side broadcasts
    and the train side never shuffles. ``hash_shingles=True`` joins on
    8-byte xxhash64 keys instead of strings (same trade-off as
    ``ngram_jaccard_pairs``)."""
    tsh = shingles(train, id_col, text_col, n)
    esh = shingles(eval_df, id_col, text_col, n).select("shingle").distinct()
    if hash_shingles:
        tsh = tsh.select(id_col, F.xxhash64("shingle").alias("shingle"))
        esh = esh.select(F.xxhash64("shingle").alias("shingle")).distinct()
    hits = (
        tsh.join(F.broadcast(esh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_shingles", F.lit(0)).alias(
                "n_contaminated_shingles"
            ),
            (
                F.coalesce("n_contaminated_shingles", F.lit(0)) >= min_overlap
            ).alias("contaminated"),
        )
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide repeated-line removal (the CCNet/C4 curation pass):
    a line survives only at its FIRST occurrence in corpus order
    (ascending ``id_col``, then position within the document); later
    copies — boilerplate headers, navigation chrome, license blocks —
    are dropped and each document's text is reconstructed from its
    surviving lines.

    Scale shape: one exchange keyed by the line text (high cardinality —
    no hot partition beyond genuinely viral lines), first-occurrence via
    row_number inside each line's group, reconstruction via a groupBy on
    the doc id with a row-local sort of (pos, line) structs. Returns
    (id, text_kept, n_lines_kept, n_lines_dropped)."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("did"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    w = Window.partitionBy("line").orderBy("did", "pos")
    marked = lines.withColumn("__rn", F.row_number().over(w))
    kept = marked.filter(F.col("__rn") == 1)
    rebuilt = kept.groupBy("did").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text_kept"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy("did").agg(F.count(F.lit(1)).alias("__n_total"))
    return (
        totals.join(rebuilt, "did", "left")
        .select(
            F.col("did").alias(id_col),
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
            (F.col("__n_total") - F.coalesce("n_lines_kept", F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the DEEP-GRAPH escalation path ``connected_components`` (hash-min,
    O(diameter) rounds) points at: converges in O(log² n) rounds
    regardless of diameter, so kilometre-long chains label in a handful
    of passes instead of thousands.

    Per round (each a groupBy + join, both partial-aggregated):
    - large-star: every node u links its LARGER neighbors to
      m = min(N(u) ∪ {u});
    - small-star: on edges directed big→small, every node links its
      smaller neighbors (and itself) to the minimum.
    Fixed point = star forests: every edge is (node, component-min).
    Equivalence with hash-min is property-tested on random graphs,
    chains, and stars. Like hash-min, raises RuntimeError when no fixed
    point is reached within ``max_iter`` rounds instead of returning the
    partial stars as components."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    e = (
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        # data-proportional edge frames never live as deserialized heap
        # blocks (see connected_components / checkpoint(big=True))
        .transform(lambda d: checkpoint(d, big=True))
    )
    prev_count = -1
    for _ in range(max_iter):
        # large-star over symmetric neighborhoods
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )
        # small-star on big->small directed edges
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("node"), F.col("m"))
            .union(mins2.select(F.col("u").alias("node"), F.col("m")))
            .filter(F.col("node") != F.col("m"))
            .select(F.greatest("node", "m").alias("u"), F.least("node", "m").alias("v"))
            .distinct()
            .transform(lambda d: checkpoint(d, big=True))
        )
        # fixed point: star edges already point at component minima — the
        # edge set stops changing; count-equality then set-equality check
        n = ss.count()
        done = n == prev_count and ss.exceptAll(e).isEmpty()
        prev_count = n
        e = ss
        if done:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within max_iter="
            f"{max_iter} rounds: the star edge set was still changing. "
            f"Raise max_iter."
        )
    # final stars: u -> component min v; minima label themselves
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("id"), F.col("v").alias("component")))
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle CONTAINMENT
    |A ∩ B| / |A| — catches documents largely CONTAINED in another
    (quotes, scrapes with added chrome, partial copies) that symmetric
    Jaccard misses when sizes differ wildly. Emits both directions of
    each overlapping pair that clear the threshold.

    Same inverted-index candidate join as ``ngram_jaccard_pairs`` (and the
    same ``max_doc_freq`` hot-shingle guard); only the scoring divisor
    changes — cost is identical.

    Guarded semantics: with ``max_doc_freq`` set, BOTH the intersection
    and the divisor are computed over the pruned (df <= max_doc_freq,
    i.e. discriminative) shingle universe — containment of A's
    *distinctive* content in B. Hot boilerplate shingles carry no
    containment signal, and pruning only the numerator would silently
    deflate every score (a fully-contained doc whose shingles are
    merely popular would stop matching). Documents with zero
    discriminative shingles drop out of the result. With the guard off,
    behavior is the original full-universe containment, unchanged."""
    # inverted index again (see ngram_jaccard_pairs): DISK_ONLY
    sh = share(shingles(df, id_col, text_col, n), big=True)

    joinable = sh
    if max_doc_freq is not None:
        # r12: the guarded index feeds THREE consumers (sizes + both join
        # sides); un-persisted, the rare-shingle agg + df-filter join
        # re-ran per consumer (per-branch pruning defeats stage reuse on
        # the sizes branch, which shuffles by id instead of shingle).
        # Data-proportional -> DISK_ONLY, like the index itself.
        joinable = share(sh.join(rare_shingles(sh, max_doc_freq), "shingle"), big=True)
    sizes = joinable.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))

    a = joinable.withColumnRenamed(id_col, "id_a")
    b = joinable.withColumnRenamed(id_col, "id_b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("set_size", "size_a")
    containment = F.round(
        F.col("intersection").cast("double") / F.col("size_a").cast("double"), 6
    )
    return (
        inter.join(sa, "id_a")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
        .orderBy("id_a", "id_b")
    )
