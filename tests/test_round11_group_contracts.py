"""Round-11 group-contract siblings (r10 VERDICT #2): the value-space
aggregate queries must equal the GROUP-BY aggregation of their pair-
emitting audit forms — on the committed fixtures AND on a planted
duplicate-heavy corpus (verbatim multiplicity, the regime where pair
output is m^2-quadratic and the collapse is the declared scale path).

The equivalence argument each test pins:
- cross-content instance pairs expand to ca*cb per content pair (both
  contents' docs pair independently; candidate generation over values
  sees exactly the band/block collisions the instance form sees);
- within-content instance pairs are C(c,2) at the degenerate metric
  value (hamming 0 / est_jaccard 1.0 / dist 0) because identical inputs
  share every band/block.
"""

from __future__ import annotations

import pytest
from conftest import table_dir
from pyspark.sql import functions as F

import aircan_spark.ext.queries as Q

SF = "/root/testdata/sf0.001"


def _dup_heavy_docs(spark, reps: int = 7):
    """A verbatim-duplicate corpus: 12 distinct contents (3 near-dup
    families sharing most trigrams + filler singletons), each replicated
    ``reps`` times with distinct doc_ids — multiplicity-quadratic pair
    output, tiny distinct space."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "the quick brown fox jumps over the lazy dog near the river bend",
        "the quick brown fox leaps over the lazy dog near the river bank",
        "pack my box with five dozen liquor jugs before the night ends",
        "pack my box with five dozen liquor jugs before the night falls",
        "sphinx of black quartz judge my vow said the old museum guide",
        "sphinx of black quartz judge my vow said the wise museum guide",
        "a completely unrelated sentence about distributed query engines",
        "another unrelated sentence mentioning columnar parquet layouts",
        "yet another filler document with its own distinct vocabulary set",
        "short doc",
        "",
    ]
    rows = []
    did = 0
    for r in range(reps):
        for t in base:
            rows.append((did, t))
            did += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def _dup_heavy_cust(spark, reps: int = 6):
    names = [
        "Customer#000000001",
        "Customer#000000002",
        "Customer#00000000x",  # dist 1 from neither (block differs in tail only)
        "Supplier#000000001",
        "Customer#000000091",
    ]
    rows = []
    k = 0
    for r in range(reps):
        for nm in names:
            rows.append((k, nm))
            k += 1
    rows.append((k, None))  # NULL name: excluded by both forms
    rows.append((k + 1, None))
    return spark.createDataFrame(rows, "c_custkey long, c_name string")


def _hist(df, key, val="n_pairs"):
    return {tuple(r[k] for k in key): r[val] for r in df.collect()}


def _agg_pairs(pairs, metric):
    return {
        (r[metric],): r["n"]
        for r in pairs.groupBy(metric).agg(F.count(F.lit(1)).alias("n")).collect()
    }


@pytest.mark.parametrize("corpus", ["fixture", "dup_heavy"])
def test_simhash_groups_equals_aggregated_pairs(spark, tmp_path, corpus):
    sf = SF
    if corpus == "dup_heavy":
        sf = table_dir(tmp_path, SF, documents=_dup_heavy_docs(spark))
    groups = _hist(Q.ext_dedup_simhash_groups(spark, sf), ("hamming",))
    pairs = _agg_pairs(Q.ext_dedup_simhash(spark, sf), "hamming")
    assert groups == pairs
    if corpus == "dup_heavy":
        # multiplicity floor: 12 contents x C(7,2) within-pairs at hamming 0
        assert groups.get((0,), 0) >= 12 * 21


@pytest.mark.parametrize("corpus", ["fixture", "dup_heavy"])
def test_minhash_groups_equals_aggregated_pairs(spark, tmp_path, corpus):
    sf = SF
    if corpus == "dup_heavy":
        sf = table_dir(tmp_path, SF, documents=_dup_heavy_docs(spark))
    groups = _hist(Q.ext_dedup_minhash_groups(spark, sf), ("est_jaccard",))
    pairs = _agg_pairs(Q.ext_dedup_minhash(spark, sf), "est_jaccard")
    assert groups == pairs
    if corpus == "dup_heavy":
        assert groups.get((1.0,), 0) >= 12 * 21


@pytest.mark.parametrize("corpus", ["fixture", "dup_heavy"])
def test_fuzzy_join_groups_equals_aggregated_pairs(spark, tmp_path, corpus):
    sf = SF
    if corpus == "dup_heavy":
        sf = table_dir(tmp_path, SF, customer=_dup_heavy_cust(spark))
    groups = _hist(Q.ext_fuzzy_join_groups(spark, sf), ("dist",))
    pairs = _agg_pairs(Q.ext_fuzzy_join(spark, sf), "dist")
    assert groups == pairs
    if corpus == "dup_heavy":
        # 5 names x C(6,2) verbatim pairs at dist 0; the two NULL-name
        # rows must NOT contribute a C(2,2) within-group pair
        assert groups[(0,)] == 5 * 15


def test_ngram_groups_collapse_survives_verbatim_replication(spark, tmp_path):
    """The instance-level ext_dedup_groups loses ALL edges on a verbatim
    corpus (every shingle's instance df >= multiplicity > guard), while
    the collapsed sibling keeps the true near-dup components and groups
    verbatim copies — the exact recall failure the group contract fixes."""
    reps = 70  # past HOT_SHINGLE_MAX_DF=64: every instance-level shingle
    # doc-freq is >= 70, so the guard prunes the ENTIRE instance index
    sf = table_dir(tmp_path, SF, documents=_dup_heavy_docs(spark, reps=reps))

    collapsed = Q.ext_dedup_ngram_groups(spark, sf).collect()
    comp = {r.doc_id: r.component for r in collapsed}
    assert len(collapsed) == 12 * reps
    # verbatim copies always share a component (exact-dedup collapse):
    # doc ids i and i+12 are the same content in adjacent replicas
    for i in range(12 * (reps - 1)):
        assert comp[i] == comp[i + 12]
    # the three fox variants (ids 0,1,2) are near-dups (jaccard >= 0.3
    # over trigrams) -> one component spanning all 3 x 7 instances
    assert comp[0] == comp[1] == comp[2] == 0
    # unrelated fillers stay separate
    assert comp[7] not in (comp[0], comp[3], comp[5])

    # the instance-level form on the same corpus: singletons only — at
    # multiplicity 70 every shingle's instance doc-freq exceeds the
    # df<=64 guard (including the <3-word contents' whole-text shingle),
    # the index is fully pruned and recall collapses to zero. This IS
    # the failure the collapsed sibling exists to fix.
    instance = Q.ext_dedup_groups(spark, sf).collect()
    assert all(r.is_representative for r in instance)


def _dup_heavy_emb(spark, reps: int = 9, n_base: int = 40, dim: int = 16):
    import random

    rnd = random.Random(7)
    base = [
        [round(rnd.uniform(-1, 1), 3) for _ in range(dim)] for _ in range(n_base)
    ]
    # plant a few exact near-dup partners so the cross-vector path emits
    base[1] = [x for x in base[0]]
    base[1][0] = round(base[1][0] + 0.01, 3)
    rows = []
    vid = 0
    for _ in range(reps):
        for v in base:
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("corpus", ["fixture", "dup_heavy"])
def test_embedding_groups_equals_aggregated_pairs(spark, tmp_path, corpus):
    sf = SF
    if corpus == "dup_heavy":
        sf = table_dir(tmp_path, SF, embeddings=_dup_heavy_emb(spark))
    groups = _hist(Q.ext_dedup_embedding_groups(spark, sf), ("cosine",))
    pairs = _agg_pairs(Q.ext_dedup_embedding_lsh(spark, sf), "cosine")
    assert groups == pairs
    if corpus == "dup_heavy":
        # 40 distinct vectors (39 after... all distinct) x C(9,2) within-
        # pairs at cosine 1.0, plus whatever cross near-dups qualify
        assert groups.get((1.0,), 0) >= 40 * 36


def test_content_collapse_contract(spark):
    from aircan_spark.ext import dedup

    df = spark.createDataFrame(
        [(3, "a b c"), (1, "a b c"), (2, "x y"), (4, None), (9, None)],
        "doc_id long, text string",
    )
    got = {
        r.text: (r.doc_id, r.n_copies)
        for r in dedup.content_collapse(df).collect()
    }
    assert got == {"a b c": (1, 2), "x y": (2, 1), None: (4, 2)}
