"""Round-11: the CacheManager pin class. A lazy pair query persists an
index frame whose lifetime its consumer owns, and the CacheManager holds
it by STRONG reference, so no GC frees it. Pin both halves: outside a
scope the pin survives GC; the ``frames.scope`` it is built in releases
it at exit, with no clearCache.
"""

from __future__ import annotations

import gc
import time

from conftest import table_dir


def _persisted_ids(spark):
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _docs(spark, word):
    return spark.createDataFrame(
        [(i, f"alpha beta {word} delta {i} epsilon zeta") for i in range(300)],
        "doc_id long, text string",
    )


def test_scope_drains_the_pair_index_pin(spark):
    from aircan_spark.ext import dedup
    from aircan_spark.frames import scope

    before = _persisted_ids(spark)
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, "gamma"), n=3, threshold=0.1)
    pairs.count()  # materialize -> the DISK_ONLY index is now populated
    del pairs
    # the pin survives both GCs: CacheManager holds it strongly
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    pinned = _persisted_ids(spark) - before
    assert pinned

    with scope():
        pairs = dedup.ngram_jaccard_pairs(_docs(spark, "kappa"), n=3, threshold=0.1)
        pairs.count()
    assert _persisted_ids(spark) - before == pinned
    spark.catalog.clearCache()  # the first half's caller-owned pin


def test_cc_family_releases_in_function(spark, tmp_path, sf_dir):
    """The CC-family queries unpersist their inverted index during
    construction (their eager edge checkpoint makes it dead weight) —
    building AND running one must leave the CacheManager empty."""
    import aircan_spark.ext.queries as Q

    docs = spark.createDataFrame(
        [(i, f"one two three four five {i % 7} six") for i in range(100)],
        "doc_id long, text string",
    )
    sf = table_dir(tmp_path, sf_dir, documents=docs)
    Q.ext_dedup_groups(spark, sf).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
