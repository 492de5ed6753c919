"""Round-12 optimization invariants (batch 4).

guarded_stats collapses the hot-shingle guard's three index
aggregations (rare whitelist per consumer + blocked_self_pairs' eager
stats pass over the guard JOIN) into one persisted df-counts pass. The
optimization is only legal if both artifacts are EXACTLY what the old
passes computed — these tests pin that equivalence on a fixture that
exercises the edge cases the fixtures' documents tables do not: NULL
shingles (NULL-text docs) and a hot shingle at the guard boundary.
"""

from pyspark.sql import functions as F

from aircan_spark.frames import scope


def _index_fixture(spark):
    # inverted-index rows: shingle s0 is HOT (df 5 > max_doc_freq 3),
    # s1 df 3 (at the boundary), s2 df 2, s3 df 1, plus NULL-shingle
    # rows (NULL-text docs) that an equi-join can never pair
    rows = []
    for d in range(5):
        rows.append((d, "s0"))
    for d in range(3):
        rows.append((10 + d, "s1"))
    for d in range(2):
        rows.append((20 + d, "s2"))
    rows.append((30, "s3"))
    # df(NULL) = 3 <= max_doc_freq, so rare_shingles would KEEP the NULL
    # group and a naive stats pass over the whitelist would count 3^2=9
    # extra work — the test fails if guarded_stats ever counts NULLs
    rows += [(40, None), (41, None), (42, None)]
    return spark.createDataFrame(rows, "doc_id bigint, shingle string")


def test_guarded_stats_matches_legacy_passes(spark):
    from aircan_spark.ext.dedup import guarded_stats, rare_shingles

    sh = _index_fixture(spark)
    with scope():
        rare, (work, max_block) = guarded_stats(sh, 3)

        # whitelist identical to rare_shingles — including the NULL group
        # DIFFERENCE being invisible: rare_shingles keeps the NULL row
        # (df 3 <= 3 passes its filter) but a NULL key never survives the
        # guard equi-join, so the whitelists agree exactly on every row
        # that can ever match
        got = sorted(r[0] for r in rare.collect())
        want = sorted(
            r[0]
            for r in rare_shingles(sh, 3).collect()
            if r[0] is not None
        )
        assert got == want == ["s1", "s2", "s3"]

        # sizing scalars identical to blocked_self_pairs' own eager pass
        # over the guarded join: per-block counts of (sh ⨝ rare) are the
        # rare shingles' dfs — sum(df^2) = 9 + 4 + 1, max(df) = 3
        joined = sh.join(rare, "shingle")
        counts = joined.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
        row = counts.agg(
            F.sum(F.col("c") * F.col("c")).alias("w"), F.max("c").alias("m")
        ).collect()[0]
        assert (work, max_block) == (int(row["w"]), int(row["m"])) == (14, 3)


def test_blocked_self_pairs_precomputed_stats_row_identical(spark):
    """stats= passthrough must produce the same pair set as the
    in-function stats pass — including when the supplied max_block
    forces the triangular split path."""
    from aircan_spark.skew import blocked_self_pairs

    rows = [(i, "B1") for i in range(40)] + [(100 + i, "B2") for i in range(3)]
    keyed = spark.createDataFrame(rows, "id bigint, blk string")
    want = sorted(
        map(
            tuple,
            blocked_self_pairs(
                keyed, "blk", "id", target_pairs_per_task=50
            ).collect(),
        )
    )
    # identical scalars supplied by the caller: same s/p derivation,
    # same rows
    got = sorted(
        map(
            tuple,
            blocked_self_pairs(
                keyed,
                "blk",
                "id",
                target_pairs_per_task=50,
                stats=(40 * 40 + 3 * 3, 40),
            ).collect(),
        )
    )
    assert got == want
    assert len(got) == 40 * 39 // 2 + 3


def test_ngram_jaccard_pairs_single_stats_job(spark):
    """The guarded pair builder must not launch the legacy re-join
    stats job: exactly one eager collect happens at construction (the
    df-counts agg), and the returned pairs are unchanged."""
    from aircan_spark.ext.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap here"),
            (4, None),
        ],
        "doc_id bigint, text string",
    )
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    with scope():
        pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_doc_freq=64)
        got = [tuple(r) for r in pairs.collect()]
        # the scope holds the index AND the df-counts frame, and
        # releases both on exit
        assert len(persisted() - before) == 2
    # only what the test added: an RDD an earlier test left may be
    # dropped by the ContextCleaner inside this window
    assert not (persisted() - before)
    assert len(got) == 1
    id_a, id_b, jac = got[0]
    assert (id_a, id_b) == (1, 2) and 0.3 <= jac <= 1.0
