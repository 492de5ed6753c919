"""Declared-query wave (round 6): the two targeted-delete engine ops —
X224's full-rewrite ParquetTable.delete and X194's bucket-pruned
BucketedParquetTable.delete — get driver-checkable batch-parity records.
The delete itself is an engine op (snapshot rewrite, manifest commit),
but its OBSERVABLE RESULT is pure relational algebra: survivors =
orders LEFT ANTI the key set, with `_id` numbering assigned BEFORE the
delete (so per-group MAX(_id) proves ids are preserved, not renumbered)
and the op's return value equal to the key set's row count. Both facts
replay in one SQL statement, so a wrong anti-join, a renumbering bug,
or a bucket-pruning miss shifts the hash.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.
"""

from __future__ import annotations

from functools import partial

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w48 import *  # noqa: F401,F403
from aircan_spark.ext.queries_w46 import _run_maintenance  # noqa: F401


_DELETE_PARITY_SQL = r"""
WITH numbered AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
  FROM orders
),
surv AS (SELECT * FROM numbered WHERE o_orderkey % 7 <> 3)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(MAX(rid) AS BIGINT) AS max_id,
       CAST((SELECT COUNT(*) FROM numbered WHERE o_orderkey % 7 = 3) AS BIGINT)
         AS n_deleted
FROM surv GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def _delete_parity(spark: SparkSession, sf_dir: str, bucketed: bool) -> DataFrame:
    """Shared harness: load orders into a fresh table (numbered by
    o_orderkey — the A1/P1 path), run the REAL delete of keys with
    o_orderkey % 7 == 3, and summarize the survivors per order status
    with the preserved _id maxima and the op's reported delete count."""
    import tempfile

    from aircan_spark.rownum import with_row_number

    orders = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    numbered = with_row_number(orders, column="_id", order_by=["o_orderkey"])
    wh = tempfile.mkdtemp(prefix="aircan_r6_delete_wh_")
    if bucketed:
        from aircan_spark.bucketed import BucketedParquetTable

        table = BucketedParquetTable(
            spark, wh, "t", keys=["o_orderkey"], num_buckets=16
        )
        delete = table.delete
    else:
        from aircan_spark.table import ParquetTable

        table = ParquetTable(spark, wh, "t")
        delete = partial(table.delete, keys=["o_orderkey"])
    table.overwrite(numbered)
    n_del = delete(orders.filter(F.expr("o_orderkey % 7 = 3")).select("o_orderkey"))
    table.vacuum(keep_versions=1)
    # vacuum retires the pre-delete version immediately (read() below is
    # lazy but only ever reads the CURRENT version's files) — repeated
    # sweep/bench invocations previously accumulated two full orders
    # copies per run (the temp-dir class commit 09159e6 fixed for the
    # streaming harnesses), and at production scale the doomed version
    # lingering is exactly what a GDPR delete must not do.
    surv = table.read()
    return (
        surv.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias(
                "total_cents"
            ),
            F.max("_id").cast("bigint").alias("max_id"),
        )
        .withColumn("n_deleted", F.lit(int(n_del)).cast("bigint"))
        .orderBy("o_orderstatus")
    )


def ext_table_delete_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X224 as a driver-checkable query: REAL ParquetTable.delete (LEFT
    ANTI snapshot rewrite, versioned commit). See _delete_parity."""
    return _delete_parity(spark, sf_dir, bucketed=False)


def ext_bucketed_delete_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X194 as a driver-checkable query: REAL BucketedParquetTable.delete
    — the bucket-pruned GDPR path (only buckets hosting doomed keys are
    rewritten; at 16 buckets and keys spread across all residues every
    bucket is touched here, but the same summary catches a pruning bug
    that drops or spares the wrong bucket). See _delete_parity."""
    return _delete_parity(spark, sf_dir, bucketed=True)


EXT_QUERIES.update(
    {
        "ext_table_delete_parity": ext_table_delete_parity,
        "ext_bucketed_delete_parity": ext_bucketed_delete_parity,
    }
)
EXT_ORACLES.update(
    {
        "ext_table_delete_parity": _DELETE_PARITY_SQL,
        "ext_bucketed_delete_parity": _DELETE_PARITY_SQL,
    }
)


def ext_stream_moments_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X213 as a driver-checkable query — the LAST no-declared-query
    SURVEY row: REAL streaming keyed-moments maintenance (per-user
    (n, Σx, Σx²) partials, full-outer ADD merge through the
    atomic-pointer exactly-once machinery) over events staged as 2
    one-file micro-batches. Determinism: value is pre-scaled to integer
    cents carried as float64 (floor(v*100+0.5)); cents ≤ ~6e4 so Σx² ≤
    ~3e14 < 2^53 at any test SF — every partial sum is an exact
    integer-valued double, the add-merge is order-free, and the final
    state casts to BIGINT bit-stably. The oracle rebuilds the same
    moments in one grouped pass (the ADD merge law: per-batch partials
    sum to corpus partials regardless of batch split). Runs on the
    SHARED five-maintainer stream (the cents pre-scale is applied at
    staging time in the shared backlog, r7 verdict item #4); the
    full-outer ADD merge is unchanged."""
    from aircan_spark.ext.queries_w46 import _shared_sketch_states
    from aircan_spark.streaming import read_sketch_state

    state = read_sketch_state(
        spark, _shared_sketch_states(spark, sf_dir)["moments"]
    )
    return (
        state.select(
            F.col("key").alias("user_id"),
            F.col("n").cast("bigint").alias("n_events"),
            F.col("s1").cast("bigint").alias("sum_cents"),
            F.col("s2").cast("bigint").alias("sum_cents_sq"),
        )
        .orderBy("user_id")
    )


EXT_STREAM_MOMENTS_STATE_SQL = r"""
WITH c AS (
  SELECT user_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(SUM(cents * cents) AS BIGINT) AS sum_cents_sq
FROM c GROUP BY user_id ORDER BY user_id
"""


EXT_QUERIES.update({"ext_stream_moments_state": ext_stream_moments_state})
EXT_ORACLES.update({"ext_stream_moments_state": EXT_STREAM_MOMENTS_STATE_SQL})
