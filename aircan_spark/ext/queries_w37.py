"""Declared-query waves: round-5 wave: within-part segment price
premium; round-5 wave: weekly top-k churn; round-5 wave: storage
encoding advisor.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Determinism: premiums quantize per-part differences to integer cents
before averaging; top-k sets use count-then-key ranking; run counts
are exact integers over an explicit full-value canonical order
(the data's (orderkey, linenumber) is not unique).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w36 import *  # noqa: F401,F403


# --- round-5 wave: within-part segment price premium --------------------------------


def ext_segment_price_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do AUTOMOBILE-segment customers pay more for the SAME part? The
    within-part paired comparison (mean unit price for AUTOMOBILE
    minus mean for everyone else, per part, averaged over parts both
    groups bought) next to the naive unpaired premium — the gap
    between the two is exactly the part-mix effect that makes naive
    price comparisons lie. Per-part differences quantize to integer
    cents before averaging.

    Scale shape: one joined pass to (part, is_auto) exact sums, a
    per-part pairing on the O(parts) axis, one scalar agg."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
        .join(
            _t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                (F.col("c_mktsegment") == "AUTOMOBILE").cast("int").alias("auto"),
            ),
            "o_custkey",
        )
        .select(
            "l_partkey",
            "auto",
            F.expr(
                "CAST(ROUND(l_extendedprice/l_quantity*100) AS BIGINT)"
            ).alias("uc"),
        )
    )
    # r13 (guide §5): cells feeds both pairing sides and (below) the
    # global sums — un-persisted, the 3-table join + (part, auto)
    # aggregation ran 3x (cells twice + a separate glob pass over li).
    # Data-proportional (O(parts) rows) -> DISK_ONLY.
    cells = share(
        li.groupBy("l_partkey", "auto").agg(
            F.count(F.lit(1)).alias("n"), F.sum("uc").alias("s")
        ),
        big=True,
    )
    a = cells.filter("auto = 1").select(
        "l_partkey", F.col("n").alias("na"), F.col("s").alias("sa")
    )
    b = cells.filter("auto = 0").select(
        "l_partkey", F.col("n").alias("nb"), F.col("s").alias("sb")
    )
    paired = a.join(b, "l_partkey").select(
        F.expr(
            "CAST(ROUND(CAST(sa AS DOUBLE)/na - CAST(sb AS DOUBLE)/nb)"
            " AS BIGINT)"
        ).alias("dq")
    )
    # r13: the global sums FOLD over the persisted cells instead of
    # re-scanning li — exact integer identity (SUM of per-part integer
    # sums/counts == the row-level sums; addition is associative over
    # BIGINT), so the result is unchanged while the third full join
    # pass disappears.
    glob = cells.agg(
        F.expr("SUM(CASE WHEN auto = 1 THEN s ELSE 0 END)").alias("gsa"),
        F.expr("SUM(CASE WHEN auto = 1 THEN n ELSE 0 END)").alias("gna"),
        F.expr("SUM(CASE WHEN auto = 0 THEN s ELSE 0 END)").alias("gsb"),
        F.expr("SUM(CASE WHEN auto = 0 THEN n ELSE 0 END)").alias("gnb"),
    )
    return (
        paired.agg(
            F.count(F.lit(1)).alias("n_paired_parts"),
            F.expr("ROUND(CAST(SUM(dq) AS DOUBLE)/COUNT(*)/1e2, 4)").alias(
                "paired_premium"
            ),
            F.expr("ROUND(AVG(CAST(dq > 0 AS DOUBLE)), 6)").alias(
                "share_parts_premium_pos"
            ),
        )
        .crossJoin(F.broadcast(glob))
        .select(
            "n_paired_parts",
            "paired_premium",
            "share_parts_premium_pos",
            F.expr(
                "ROUND((CAST(gsa AS DOUBLE)/gna - CAST(gsb AS DOUBLE)/gnb)/1e2, 4)"
            ).alias("naive_premium"),
        )
    )


EXT_SEGMENT_PRICE_PREMIUM_SQL = r"""
WITH li AS (
  SELECT l.l_partkey,
         CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS auto,
         CAST(ROUND(l_extendedprice/l_quantity*100) AS BIGINT) AS uc
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
),
cells AS (
  SELECT l_partkey, auto,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(uc) AS BIGINT) AS s
  FROM li GROUP BY 1, 2
),
paired AS (
  SELECT CAST(ROUND(CAST(a.s AS DOUBLE)/a.n - CAST(b.s AS DOUBLE)/b.n)
              AS BIGINT) AS dq
  FROM (SELECT * FROM cells WHERE auto = 1) a
  JOIN (SELECT * FROM cells WHERE auto = 0) b ON b.l_partkey = a.l_partkey
),
gstats AS (
  SELECT CAST(SUM(CASE WHEN auto = 1 THEN uc ELSE 0 END) AS BIGINT) AS gsa,
         CAST(SUM(CAST(auto = 1 AS BIGINT)) AS BIGINT) AS gna,
         CAST(SUM(CASE WHEN auto = 0 THEN uc ELSE 0 END) AS BIGINT) AS gsb,
         CAST(SUM(CAST(auto = 0 AS BIGINT)) AS BIGINT) AS gnb
  FROM li
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_paired_parts,
       ROUND(CAST(SUM(dq) AS DOUBLE)/COUNT(*)/1e2, 4) AS paired_premium,
       ROUND(AVG(CAST(dq > 0 AS DOUBLE)), 6) AS share_parts_premium_pos,
       (SELECT ROUND((CAST(gsa AS DOUBLE)/gna - CAST(gsb AS DOUBLE)/gnb)/1e2, 4)
        FROM gstats) AS naive_premium
FROM paired
"""


EXT_QUERIES.update({"ext_segment_price_premium": ext_segment_price_premium})
EXT_ORACLES.update({"ext_segment_price_premium": EXT_SEGMENT_PRICE_PREMIUM_SQL})


# --- round-5 wave: weekly top-k churn ------------------------------------------------


def ext_topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week stability of the item top-10: Jaccard overlap of
    consecutive weeks' top-10 item sets and the count of newcomers —
    the ranking-churn measurement that separates a stable catalog
    from a trend-driven one (X120's momentum ranks items; this scores
    the LIST's volatility). Ranking is count-desc with item tie-break;
    the per-week top-10 prunes via WindowGroupLimit before any join.

    Scale shape: one (week, item) rollup, per-week window head, then
    a tiny top-set self-join on consecutive weeks."""
    wi = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(
                "CAST(DATEDIFF(CAST(ts AS DATE), DATE'2024-01-01') DIV 7 AS BIGINT)"
            ).alias("wk"),
            F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .groupBy("wk", "item")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ww = Window.partitionBy("wk").orderBy(F.col("c").desc(), "item")
    # r12: the weekly top-10 feeds three branches (both sides of the
    # consecutive-week join + sizes); un-materialized, the events JSON
    # rollup + window ran per branch. Bounded frame (10 rows/week) —
    # lazy persist at the default level.
    top = share(
        wi.withColumn("rk", F.row_number().over(ww))
        .filter("rk <= 10")
    )
    a = top.select("wk", "item")
    b = top.select((F.col("wk") - 1).alias("wk"), F.col("item").alias("item_b"))
    inter = (
        a.join(b, [a.wk == b.wk, a.item == b.item_b], "inner")
        .groupBy(a.wk)
        .agg(F.count(F.lit(1)).alias("ninter"))
    )
    sizes = top.groupBy("wk").agg(F.count(F.lit(1)).alias("sz"))
    nxt = sizes.select((F.col("wk") - 1).alias("wk"), F.col("sz").alias("sz_next"))
    return (
        sizes.join(nxt, "wk")
        .join(inter, "wk", "left")
        .select(
            "wk",
            F.expr("COALESCE(ninter, 0L)").alias("n_common"),
            F.expr("sz_next - COALESCE(ninter, 0L)").alias("n_new"),
            F.expr(
                "ROUND(CAST(COALESCE(ninter, 0L) AS DOUBLE)"
                "/(sz + sz_next - COALESCE(ninter, 0L)), 6)"
            ).alias("jaccard"),
        )
        .orderBy("wk")
    )


EXT_TOPK_CHURN_SQL = r"""
WITH wi AS (
  SELECT DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS wk,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item,
         COUNT(*) AS c
  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
  GROUP BY 1, 2
),
top AS (
  SELECT wk, item,
         ROW_NUMBER() OVER (PARTITION BY wk ORDER BY c DESC, item) AS rk
  FROM wi QUALIFY rk <= 10
),
inter AS (
  SELECT a.wk, COUNT(*) AS ninter
  FROM top a JOIN top b ON b.wk = a.wk + 1 AND b.item = a.item
  GROUP BY a.wk
),
sizes AS (SELECT wk, CAST(COUNT(*) AS BIGINT) AS sz FROM top GROUP BY wk)
SELECT s.wk,
       CAST(COALESCE(i.ninter, 0) AS BIGINT) AS n_common,
       CAST(n.sz - COALESCE(i.ninter, 0) AS BIGINT) AS n_new,
       ROUND(CAST(COALESCE(i.ninter, 0) AS DOUBLE)
             /(s.sz + n.sz - COALESCE(i.ninter, 0)), 6) AS jaccard
FROM sizes s
JOIN sizes n ON n.wk = s.wk + 1
LEFT JOIN inter i ON i.wk = s.wk
ORDER BY s.wk
"""


EXT_QUERIES.update({"ext_topk_churn": ext_topk_churn})
EXT_ORACLES.update({"ext_topk_churn": EXT_TOPK_CHURN_SQL})


# --- round-5 wave: storage encoding advisor ------------------------------------------


def ext_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor for lineitem: per column, the distinct
    count and the run structure in a canonical within-order sort
    ((l_orderkey, l_linenumber) is NOT unique here, so the order key
    appends the audited values themselves, making run counts
    permutation-invariant) — runs counted WITHIN order partitions
    (boundary-exact, shuffles by key instead of a global sort) — mapped to a
    dictionary / RLE / plain recommendation by the standard
    thresholds. The layout audit that explains parquet size diffs
    and motivates Z-ordering (X153) before anyone re-sorts a table.

    Scale shape: one per-order window pass computing all column run
    flags together, one rollup; distincts are per-column hash aggs."""
    cols = ["l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"]
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", *cols
    )
    # (l_orderkey, l_linenumber) is NOT unique in this data; the full
    # value tie-break makes the canonical order (and thus run counts)
    # permutation-invariant in both engines
    for c in cols:
        li = li.withColumn(
            f"chg_{c}",
            F.expr(
                f"CAST(LAG({c}) OVER (PARTITION BY l_orderkey"
                f" ORDER BY l_linenumber, l_shipdate, l_quantity, l_returnflag, l_linestatus, l_extendedprice) IS DISTINCT FROM {c} AS LONG)"
            ),
        )
    # r12: the single-row stats frame feeds the four per-column union
    # branches; un-materialized, the full window + aggregate pass over
    # lineitem ran once PER BRANCH. One-row frame — lazy persist.
    runs = share(
        li.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"chg_{c}").alias(f"runs_{c}") for c in cols],
            *[F.countDistinct(c).alias(f"nd_{c}") for c in cols],
        )
    )
    rows = None
    for c in cols:
        r = runs.select(
            F.lit(c).alias("column_name"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"runs_{c}").alias("n_runs"),
            F.expr(f"ROUND(CAST(n AS DOUBLE)/runs_{c}, 4)").alias("avg_run_len"),
            F.expr(
                f"CASE WHEN nd_{c} <= 100 THEN 'dictionary'"
                f" WHEN CAST(n AS DOUBLE)/runs_{c} >= 2.0 THEN 'rle'"
                " ELSE 'plain' END"
            ).alias("advice"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("column_name")


EXT_ENCODING_ADVISOR_SQL = r"""
WITH flagged AS (
  SELECT
    CAST(LAG(l_returnflag) OVER w IS DISTINCT FROM l_returnflag AS BIGINT)
      AS chg_l_returnflag,
    CAST(LAG(l_linestatus) OVER w IS DISTINCT FROM l_linestatus AS BIGINT)
      AS chg_l_linestatus,
    CAST(LAG(l_shipdate) OVER w IS DISTINCT FROM l_shipdate AS BIGINT)
      AS chg_l_shipdate,
    CAST(LAG(l_quantity) OVER w IS DISTINCT FROM l_quantity AS BIGINT)
      AS chg_l_quantity,
    l_returnflag, l_linestatus, l_shipdate, l_quantity
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_shipdate, l_quantity, l_returnflag, l_linestatus, l_extendedprice)
),
runs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(chg_l_returnflag) AS BIGINT) AS runs_l_returnflag,
         CAST(SUM(chg_l_linestatus) AS BIGINT) AS runs_l_linestatus,
         CAST(SUM(chg_l_shipdate) AS BIGINT) AS runs_l_shipdate,
         CAST(SUM(chg_l_quantity) AS BIGINT) AS runs_l_quantity,
         CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd_l_returnflag,
         CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS nd_l_linestatus,
         CAST(COUNT(DISTINCT l_shipdate) AS BIGINT) AS nd_l_shipdate,
         CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS nd_l_quantity
  FROM flagged
)
, longf AS (
  SELECT 'l_returnflag' AS column_name, nd_l_returnflag AS n_distinct,
         runs_l_returnflag AS n_runs, n FROM runs
  UNION ALL
  SELECT 'l_linestatus', nd_l_linestatus, runs_l_linestatus, n FROM runs
  UNION ALL
  SELECT 'l_shipdate', nd_l_shipdate, runs_l_shipdate, n FROM runs
  UNION ALL
  SELECT 'l_quantity', nd_l_quantity, runs_l_quantity, n FROM runs
)
SELECT column_name, n_distinct, n_runs,
       ROUND(CAST(n AS DOUBLE)/n_runs, 4) AS avg_run_len,
       CASE WHEN n_distinct <= 100 THEN 'dictionary'
            WHEN CAST(n AS DOUBLE)/n_runs >= 2.0 THEN 'rle'
            ELSE 'plain' END AS advice
FROM longf
ORDER BY column_name
"""


EXT_QUERIES.update({"ext_encoding_advisor": ext_encoding_advisor})
EXT_ORACLES.update({"ext_encoding_advisor": EXT_ENCODING_ADVISOR_SQL})
