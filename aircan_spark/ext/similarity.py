"""Similarity search over embedding columns — brute-force and LSH-bucketed
approximate nearest neighbor.

Shapes:
- ``brute_topk``: query set broadcast against the corpus, cosine per pair,
  per-query top-k via a window PARTITIONED BY query id (parallel across
  queries — never a global sort). The exact baseline.
- ``lsh_topk``: random-hyperplane buckets with multi-probe (query probes
  its own bucket plus all 1-bit-flip neighbors), rerank candidates
  exactly. The 100 TB path: candidate generation is a bucket equi-join,
  so cost scales with bucket occupancy, not corpus size x queries.
"""

from __future__ import annotations

import contextlib
import ctypes
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aircan_spark.ext.dedup import _cosine

# --- BLAS threadpool control for the driver-side trainers -----------------------------
#
# The Lloyd loops in pq_train/_train_centroids multiply SKINNY matrices
# ((sample_n x dsub) @ (dsub x ksub), dsub as small as 4). OpenBLAS
# dispatches its full threadpool (one thread per core — 32 here) at every
# such call; for these shapes the split/spin-wait overhead dwarfs the
# arithmetic, and under CPU contention the spin-waiting collapses
# completely (measured r13: the 20-iter x 16-subspace assign loop 80.9s at
# 32 BLAS threads vs 10.6s at 1, same host window; quiet-host matmul
# 30ms threaded vs 1.3ms single — the r12 "pq_train 6.4s -> 25s cold"
# regression). Pinning the pool to 1 thread for the trainer loops is the
# standard fix (what threadpoolctl does; implemented directly here since
# the sandbox has no threadpoolctl). BIT-IDENTICAL by measurement: dgemm
# at 1 vs 2 vs 32 threads returned byte-equal outputs for every trainer
# shape (threading splits the output matrix; each element's k-dim
# summation order is unchanged), re-pinned by tests/test_round13_opt.py.
_BLAS_CONTROLS: list | None = None


def _blas_thread_controls() -> list:
    """(getter, setter) pairs for every OpenBLAS mapped into this process.

    Resolution is by /proc/self/maps (the library numpy actually loaded,
    whatever its wheel mangles the soname to), with the plain and the
    64-suffixed symbol spellings tried. Returns [] on any platform where
    this does not apply — callers degrade to a no-op."""
    global _BLAS_CONTROLS
    if _BLAS_CONTROLS is None:
        controls = []
        try:
            with open("/proc/self/maps") as fh:
                paths = sorted(
                    {
                        line.split()[-1]
                        for line in fh
                        if "openblas" in line.lower() and line.split()[-1].startswith("/")
                    }
                )
            for p in paths:
                try:
                    lib = ctypes.CDLL(p)
                except OSError:
                    continue
                for suffix in ("", "64_", "_64"):
                    getter = getattr(lib, f"openblas_get_num_threads{suffix}", None)
                    setter = getattr(lib, f"openblas_set_num_threads{suffix}", None)
                    if getter is not None and setter is not None:
                        getter.restype = ctypes.c_int
                        setter.argtypes = [ctypes.c_int]
                        controls.append((getter, setter))
                        break
        except OSError:
            pass
        _BLAS_CONTROLS = controls
    return _BLAS_CONTROLS


# One pin for the whole process: the first of any overlapping
# _single_thread_blas entries saves the pool sizes and pins them to 1, the
# last exit restores them. Saving per entry would let two threads
# interleave (A saves 32, B saves A's 1, A restores 32, B restores 1) into
# a pool left at 1 thread for the rest of the session.
_BLAS_PIN_LOCK = threading.Lock()
_BLAS_PINS = 0
_BLAS_SAVED: list = []


@contextlib.contextmanager
def _single_thread_blas():
    """Pin every process BLAS pool to 1 thread for the duration; restore
    the original value when the last overlapping use exits. No-op when no
    controllable BLAS is found."""
    global _BLAS_PINS
    with _BLAS_PIN_LOCK:
        if _BLAS_PINS == 0:
            _BLAS_SAVED.clear()
            for getter, setter in _blas_thread_controls():
                try:
                    _BLAS_SAVED.append((setter, int(getter())))
                    setter(1)
                except Exception:
                    continue
        _BLAS_PINS += 1
    try:
        yield
    finally:
        with _BLAS_PIN_LOCK:
            _BLAS_PINS -= 1
            if _BLAS_PINS == 0:
                for setter, n in _BLAS_SAVED:
                    try:
                        setter(n)
                    except Exception:
                        pass


def _as_double(df: DataFrame, id_col: str, vec_col: str, out: str) -> DataFrame:
    return df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(out)
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine.

    The query side is expected small (it is broadcast); the corpus streams.
    Ties broken by neighbor id for determinism.
    """
    query_id_col = query_id_col or id_col
    c = _as_double(corpus, id_col, vec_col, "cv").withColumnRenamed(id_col, "neighbor_id")
    q = _as_double(queries, query_id_col, vec_col, "qv").withColumnRenamed(
        query_id_col, "query_id"
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("cv")), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    bits: int = 8,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane-LSH bucket join with 1-bit
    multi-probe on the query side, exact rerank of candidates.

    Recall dials: more ``num_tables`` (OR-amplification, 1-(1-p)^L) or
    fewer ``bits`` (bigger buckets). Candidate generation stays an
    equi-join on (table, bucket) — cost follows bucket occupancy, not
    corpus x queries.
    """
    from aircan_spark.ext.dedup import hyperplane_bucket_udf

    query_id_col = query_id_col or id_col
    dim = len(corpus.select(vec_col).first()[0])
    planes = np.random.default_rng(seed).standard_normal((num_tables, bits, dim))
    buckets = hyperplane_bucket_udf(planes)

    c = (
        _as_double(corpus, id_col, vec_col, "cv")
        .withColumnRenamed(id_col, "neighbor_id")
        .select(
            "neighbor_id", "cv",
            F.posexplode(buckets(F.col("cv"))).alias("table", "bucket"),
        )
    )
    q = (
        _as_double(queries, query_id_col, vec_col, "qv")
        .withColumnRenamed(query_id_col, "query_id")
        .select(
            "query_id", "qv",
            F.posexplode(buckets(F.col("qv"))).alias("table", "bucket0"),
        )
    )
    # multi-probe: own bucket + every 1-bit flip, per table
    probes = F.array(
        F.col("bucket0"),
        *[F.col("bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
    )
    q = q.withColumn("bucket", F.explode(probes)).drop("bucket0")

    cand = (
        F.broadcast(q)
        .join(c, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .distinct()
    )
    scored = cand.withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("cv")), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# a modulus-filtered survivor set with fewer distinct vectors than this
# is treated as degenerate (duplicate-heavy corpus whose few distinct hash
# values mostly missed the modulus): fall back to the distinct-value set.
# 256 is ~16x the declared queries' nlist/ksub (=16) and a tiny fraction
# of the 16_384 default sample, so a distinct-content corpus never trips it.
MIN_DISTINCT_SURVIVORS = 256


def _sample_matrix(
    corpus: DataFrame,
    vec_col: str,
    sample_size: int,
    seed: int,
    n_rows: int | None = None,
) -> np.ndarray:
    """Partition-invariant bounded training sample, as a float64 matrix.

    The old path (Bernoulli ``sample(fraction, seed)`` + ``toPandas()``) was
    partition-DEPENDENT twice over: Spark seeds the Bernoulli RNG per
    partition (different partition count -> different sampled subset) and
    ``toPandas`` delivers rows in partition order (different order -> the
    numpy trainer's init choice and float accumulation order drift). That
    made the three ANN trainers the only 3/468 queries whose outputs changed
    with ``spark.sql.shuffle.partitions`` (PARTITION_DETERMINISM_r09).

    This path selects and orders rows by CONTENT hash only:

    1. size the corpus — the caller's ``n_rows`` when provided (the
       wrappers pass the footer ``corpus_count``, so repeated trainer
       builds never re-count), else one ``count()`` job (footer-stat
       cheap only on raw parquet scans; derived/repartitioned frames pay
       a real scan — which is why callers should thread ``n_rows``) —
       and derive a modulus ``M ~= total/sample_size``;
    2. map-side filter ``xxhash64(vec, seed) % M == 0`` — a deterministic
       function of each row's value, so the subset is identical at any
       partition count, and only ~sample_size..2*sample_size rows survive
       (scale-safe: nothing corpus-sized ever moves);
    3. canonical ``orderBy(hash, vec).limit(sample_size)`` over the small
       survivor set, so the driver receives the SAME rows in the SAME order
       regardless of partitioning (ties are bit-identical duplicate vectors,
       for which order is immaterial).

    The numpy Lloyd iterations downstream are then a pure function of this
    matrix — the whole training becomes partition-invariant."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    hashed = corpus.select(v).withColumn("h", F.xxhash64(F.col("v"), F.lit(seed)))
    total = n_rows if n_rows is not None else corpus.count()
    modulus = max(1, total // max(sample_size, 1))
    sample = None
    if modulus > 1:
        filtered = hashed.filter(F.pmod(F.col("h"), F.lit(modulus)) == 0)
        sample = filtered.orderBy("h", "v").limit(sample_size).toPandas()
        if len(sample) == 0 or sample["h"].nunique() < min(
            MIN_DISTINCT_SURVIVORS, sample_size
        ):
            # duplicate-heavy corpora collapse to few distinct hash VALUES
            # (duplicates share one hash), so the modulus can miss every
            # value — or catch only 1-2, leaving a near-degenerate
            # duplicate sample that trains worse centroids than no sample
            # at all. Either way fall back to the distinct-value set:
            # map-side partial aggregation keeps distinct() cheap exactly
            # when this fires (few distinct values), and the choice stays
            # content-canonical (survivor distinct-count is a pure
            # function of corpus content, so the fallback decision is
            # partition-invariant too).
            sample = None
    if sample is None:
        base = hashed.distinct() if modulus > 1 else hashed
        sample = base.orderBy("h", "v").limit(sample_size).toPandas()
    if len(sample) == 0:
        raise ValueError("cannot build an ANN training sample from an empty corpus")
    return np.array(sample["v"].tolist(), dtype="float64")


def _lloyd_assign(sub: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Nearest-centroid ids via the expanded-square identity (the ||x||^2
    term is constant per row and drops out of the argmin)."""
    return (
        (cents * cents).sum(axis=1)[None, :] - 2.0 * (sub @ cents.T)
    ).argmin(axis=1)


def _kmeanspp_init(x: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """Greedy k-means++ seeding (Arthur & Vassilvitskii 2007): first center
    uniform, each next drawn proportional to squared distance from the
    nearest chosen center. Deterministic given (x, rng state) — and the
    matrix arrives canonically ordered (``_sample_matrix``), so the init is
    partition-invariant too. O(k*n) distances, driver-side numpy."""
    n = len(x)
    k = min(k, n)
    idx = [int(rng.integers(n))]
    d2 = ((x - x[idx[0]]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        tot = d2.sum()
        if tot <= 0.0:  # every remaining point equals a chosen center
            nxt = int(rng.integers(n))
        else:
            nxt = int(rng.choice(n, p=d2 / tot))
        idx.append(nxt)
        d2 = np.minimum(d2, ((x - x[nxt]) ** 2).sum(axis=1))
    return x[idx].copy()


def _train_centroids(
    corpus: DataFrame,
    vec_col: str,
    nlist: int,
    seed: int,
    sample_size: int = 16_384,
    iters: int = 25,
    n_rows: int | None = None,
    sample_mat: np.ndarray | None = None,
) -> np.ndarray:
    """Sample-based spherical k-means (Lloyd) for the IVF coarse quantizer.

    IVF training is sample-based by construction — a bounded sample comes to
    the driver (``sample_size`` rows max, independent of corpus size) and a
    few numpy Lloyd iterations produce ``nlist`` L2-normalized centroids.
    At 100 TB the sample is still ``sample_size`` rows: training cost does
    not scale with the corpus. The 16_384 default is ~1000x the declared
    queries' nlist=16 (k-means wants ~1000 samples per centroid); size it
    up proportionally for large nlist. It also exceeds every committed
    fixture corpus (<= 2000 vectors), so fixtures collect whole in
    canonical order — bit-identical to any larger setting. The sample is content-hash selected and
    canonically ordered (``_sample_matrix``), so training is a pure function
    of corpus content — invariant to partition count. Thread ``n_rows``
    (the caller's known/cached corpus size) to skip the sampler's count
    job — trainers typically receive derived frames where count() is a
    full scan, not a footer read. ``sample_mat`` supplies the canonical
    sample precomputed (r12: a query training BOTH an IVF quantizer and
    PQ codebooks over the same corpus/seed was collecting the identical
    sample twice) — copied before the in-place normalization so a shared
    matrix is never mutated; must be exactly ``_sample_matrix(corpus,
    vec_col, sample_size, seed, n_rows)`` for results to be unchanged."""
    mat = (
        sample_mat.copy()
        if sample_mat is not None
        else _sample_matrix(corpus, vec_col, sample_size, seed, n_rows=n_rows)
    )
    mat /= np.maximum(np.linalg.norm(mat, axis=1)[:, None], 1e-12)
    rng = np.random.default_rng(seed)
    # NOT thread-pinned (r13): the (n x dim) @ (dim x nlist) assign matmul
    # here is measured NON-bit-identical across OpenBLAS thread counts at
    # the committed corpus sizes ((500|1000|2000, 64) @ (64, 16) differ in
    # the last ulp — threading splits the k=64 reduction), so pinning it
    # would silently change IVF cell assignments mid-optimization round.
    # It is also cheap (25 small matmuls total, ~100 MFLOP) — pq_train's
    # 320 ksub=256 matmuls were the regression, and THOSE pin safely
    # (d=4 never splits the reduction; see pq_train).
    cents = _kmeanspp_init(mat, nlist, rng)
    for _ in range(iters):
        assign = (mat @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _assign_udf(cents: np.ndarray, nprobe: int):
    """Pandas UDF: vector -> the ``nprobe`` nearest centroid ids (by cosine;
    centroids are unit-norm so the dot product ranks identically)."""
    from pyspark.sql.functions import pandas_udf

    ct = np.ascontiguousarray(cents.T)

    @pandas_udf("array<int>")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype="float64")
        mat /= np.maximum(np.linalg.norm(mat, axis=1)[:, None], 1e-12)
        sims = mat @ ct
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype("int32")
        return pd.Series(top.tolist())

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are bucketed by
    nearest k-means centroid (one cell each); each query probes its
    ``nprobe`` nearest cells and reranks the union exactly.

    The scale shape: candidate generation is an equi-join on the cell id,
    so per-query work is ~``nprobe/nlist`` of the corpus; recall rises with
    ``nprobe`` (= brute force at nprobe=nlist). Centroid training reads a
    bounded sample (never the full corpus); the centroid matrix ships to
    executors inside the UDF closure (nlist x dim floats)."""
    query_id_col = query_id_col or id_col
    cents = _train_centroids(corpus, vec_col, nlist, seed, n_rows=n_rows)

    c_assign = _assign_udf(cents, 1)
    q_assign = _assign_udf(cents, nprobe)

    c = (
        _as_double(corpus, id_col, vec_col, "cv")
        .withColumnRenamed(id_col, "neighbor_id")
        .withColumn("cell", c_assign(F.col("cv"))[0])
    )
    q = (
        _as_double(queries, query_id_col, vec_col, "qv")
        .withColumnRenamed(query_id_col, "query_id")
        .withColumn("cell", F.explode(q_assign(F.col("qv"))))
    )
    cand = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = cand.withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("cv")), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# --- product quantization (the compression half of IVF-PQ) ---------------------------


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 16_384,
    iters: int = 20,
    seed: int = 42,
    n_rows: int | None = None,
    sample_mat: np.ndarray | None = None,
) -> np.ndarray:
    """Train product-quantization codebooks: split the vector into ``m``
    subspaces, k-means each subspace to ``ksub`` centroids. Returns
    (m, ksub, dim/m) float64 — a few KB that ships in UDF closures.

    Like IVF centroid training, reads a BOUNDED sample to the driver
    (``sample_size`` rows regardless of corpus size) via the
    partition-invariant content-hash sampler (``_sample_matrix``);
    encoding cost at 100 TB is row-local. ``n_rows`` skips the sampler's
    sizing count when the caller already knows the corpus size.
    ``sample_mat`` supplies the canonical sample precomputed (see
    ``_train_centroids`` — this function only reads it, never writes);
    must be exactly ``_sample_matrix(corpus, vec_col, sample_size, seed,
    n_rows)`` for results to be unchanged."""
    mat = (
        sample_mat
        if sample_mat is not None
        else _sample_matrix(corpus, vec_col, sample_size, seed, n_rows=n_rows)
    )
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    # single-thread BLAS: the (n x dsub) @ (dsub x ksub) matmuls (dsub as
    # small as 4) collapse under OpenBLAS's full threadpool — 7.6x slower
    # measured (see _single_thread_blas). Bit-identical, test-pinned.
    with _single_thread_blas():
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            cents = _kmeanspp_init(sub, ksub, rng)
            for _ in range(iters):
                # argmin_c ||x-c||^2 == argmin_c (||c||^2 - 2 x.c): one matmul
                # instead of the (n, ksub, dsub) broadcast cube, and the
                # centroid update is one bincount-normalized scatter-add —
                # at the declared ksub=256 budget this turns a 63s
                # driver-side train into ~5s (measured, r11). Deterministic:
                # pure ndarray ops on the canonical sample.
                assign = _lloyd_assign(sub, cents)
                sums = np.zeros_like(cents)
                np.add.at(sums, assign, sub)
                counts = np.bincount(assign, minlength=len(cents))
                nz = counts > 0
                cents[nz] = sums[nz] / counts[nz][:, None]
            books[s, : len(cents)] = cents
            if len(cents) < ksub:  # degenerate tiny sample: repeat last centroid
                books[s, len(cents):] = cents[-1]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to m uint8 codes (argmin centroid per subspace) —
    dim*4 bytes -> m bytes (32x at dim=64, m=8, fp32). Row-local Arrow
    batches; the codebook rides the closure."""
    m, ksub, dsub = codebooks.shape
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(codebooks)

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype="float64")
        codes = np.empty((len(mat), m), dtype="int32")
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            # argmin via ||c||^2 - 2 x.c (matmul) — same 16x win as the
            # trainer at ksub=256, per Arrow batch on the executors
            codes[:, s] = (
                (books[s] * books[s]).sum(axis=1)[None, :]
                - 2.0 * (sub @ books[s].T)
            ).argmin(axis=1)
        return pd.Series(codes.tolist())

    return df.select(F.col(id_col), encode(F.col(vec_col)).alias("pq_code"))


def _exact_refine(
    scored: DataFrame,
    corpus: DataFrame,
    queries_qv: DataFrame,
    k: int,
    refine: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC-then-rerank (the 'IVFADC+R' refinement, Jégou et al. 2011):
    keep the ``refine`` best candidates per query by PQ distance, fetch
    their FULL vectors (one broadcast-filtered scan of the corpus — the
    candidate id set is k*queries*refine rows, always broadcastable),
    and rerank exactly by cosine. ADC only has to land the true
    neighbors in its top-``refine``, not its top-k, which is a far
    weaker ask of the quantizer — measured on the sf0.1 fixture:
    pq 0.26 -> 0.98, ivfpq 0.24 -> 0.58 recall@5 (the ivfpq ceiling is
    the nprobe=4/16 cell probe itself).

    Scale shape: the PQ-scored frame collapses through a per-query
    WindowGroupLimit before anything wide happens; the refine join
    streams the corpus once more but moves only candidate rows."""
    w_pre = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    pre = (
        scored.withColumn("prerank", F.row_number().over(w_pre))
        .filter(F.col("prerank") <= refine)
        .select("query_id", "neighbor_id")
    )
    cv = _as_double(corpus, id_col, vec_col, "cv").withColumnRenamed(
        id_col, "neighbor_id"
    )
    exact = (
        cv.join(F.broadcast(pre), "neighbor_id")
        .join(F.broadcast(queries_qv), "query_id")
        .withColumn("cosine", F.round(_cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    refine: int = 0,
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC PQ distance: the query stays full-
    precision; each corpus vector is its m-byte code; distance is m table
    lookups into the query's per-subspace distance table (computed once
    per query against ksub centroids — not against the corpus).

    Scale shape: corpus is touched only through its codes (32x smaller
    scan); per-(query, vector) work is m adds. The per-query rank prunes
    with WindowGroupLimit. This is the scoring half of IVF-PQ — compose
    with ivf_topk's cell probe to also cut the candidate count.

    ``refine`` > 0 switches on exact cosine reranking of the per-query
    ADC top-``refine`` (see ``_exact_refine``); the output then carries
    ``cosine`` instead of ``pq_dist``."""
    query_id_col = query_id_col or id_col
    m, ksub, dsub = codebooks.shape
    codes = pq_encode(corpus, codebooks, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    q = _as_double(queries, query_id_col, vec_col, "qv").withColumnRenamed(
        query_id_col, "query_id"
    )
    books = np.ascontiguousarray(codebooks)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def dist_table(vs: pd.Series) -> pd.Series:
        # per query: flattened (m x ksub) table of squared distances from
        # the query's s-th subvector to every centroid of subspace s
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype="float64")
        out = np.empty((len(mat), m * ksub))
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            out[:, s * ksub : (s + 1) * ksub] = (
                (sub[:, None, :] - books[s][None, :, :]) ** 2
            ).sum(axis=2)
        return pd.Series(out.tolist())

    qt = q.withColumn("dt", dist_table(F.col("qv")))
    # adc = sum over subspaces of dt[s*ksub + code[s]] — row-local HOF over
    # the zipped (subspace index, code) pairs
    pairs = F.broadcast(qt.select("query_id", "dt")).crossJoin(codes)
    idx = F.transform(
        F.col("pq_code"), lambda c, i: F.element_at(F.col("dt"), i * ksub + c + 1)
    )
    scored = pairs.withColumn(
        "pq_dist", F.round(F.aggregate(idx, F.lit(0.0), lambda a, x: a + x), 6)
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    if refine > 0:
        return _exact_refine(
            scored, corpus, q.select("query_id", "qv"), k, refine, id_col, vec_col
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_dist", "rank")
        .orderBy("query_id", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    n_rows: int | None = None,
    refine: int = 0,
    sample_mat: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ: the production ANN layout — IVF cell probing cuts the
    CANDIDATE COUNT (~nprobe/nlist of the corpus per query), PQ codes cut
    the BYTES PER CANDIDATE (m bytes instead of dim floats), asymmetric
    distance tables make scoring m adds per candidate.

    Scale shape: the corpus is materialized once as (cell, code) — a
    row-local projection; per-query work is an equi-join on probed cells
    against codes, no full vectors move. Both training steps (IVF
    centroids, PQ codebooks) read bounded samples.

    ``refine`` > 0 adds the exact top-``refine`` cosine rerank
    (``_exact_refine``) — with it, recall is bounded only by the cell
    probe, not the quantizer; output carries ``cosine``."""
    query_id_col = query_id_col or id_col
    m, ksub, dsub = codebooks.shape
    cents = _train_centroids(
        corpus, vec_col, nlist, seed, n_rows=n_rows, sample_mat=sample_mat
    )
    c_assign = _assign_udf(cents, 1)
    q_assign = _assign_udf(cents, nprobe)

    codes = (
        pq_encode(corpus, codebooks, id_col, vec_col)
        .withColumnRenamed(id_col, "neighbor_id")
        .join(
            _as_double(corpus, id_col, vec_col, "cv")
            .select(F.col(id_col).alias("neighbor_id"), c_assign(F.col("cv"))[0].alias("cell")),
            "neighbor_id",
        )
    )
    q = _as_double(queries, query_id_col, vec_col, "qv").withColumnRenamed(
        query_id_col, "query_id"
    )
    books = np.ascontiguousarray(codebooks)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def dist_table(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype="float64")
        out = np.empty((len(mat), m * ksub))
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            out[:, s * ksub : (s + 1) * ksub] = (
                (sub[:, None, :] - books[s][None, :, :]) ** 2
            ).sum(axis=2)
        return pd.Series(out.tolist())

    qt = q.select(
        "query_id", dist_table(F.col("qv")).alias("dt"),
        F.explode(q_assign(F.col("qv"))).alias("cell"),
    )
    cand = F.broadcast(qt).join(codes, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    idx = F.transform(
        F.col("pq_code"), lambda c, i: F.element_at(F.col("dt"), i * ksub + c + 1)
    )
    scored = cand.withColumn(
        "pq_dist", F.round(F.aggregate(idx, F.lit(0.0), lambda a, x: a + x), 6)
    )
    if refine > 0:
        return _exact_refine(
            scored, corpus, q.select("query_id", "qv"), k, refine, id_col, vec_col
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_dist", "rank")
        .orderBy("query_id", "rank")
    )
