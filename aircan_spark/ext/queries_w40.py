"""Declared-query waves: round-5 wave: global transitivity; round-5
wave: rich-club coefficient; round-5 wave: HITS hubs/authorities.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Determinism: all three run on the shared X161 co-occurrence graph
(exact integer edges); HITS scores quantize to integer micro-units
after every normalization, so the 3-round iteration is bit-identical
in both engines.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w03 import _COOC_EDGES_SQL, _cooc_edges  # noqa: F401
from aircan_spark.ext.queries_w39 import *  # noqa: F401,F403


# --- round-5 wave: global transitivity -----------------------------------------------


def ext_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (clustering coefficient) of the X161
    co-occurrence graph: 3 x triangles / wedges — how often 'two items
    sharing a neighbor' closes into a triangle, the one-number
    cohesion summary that X161's raw triangle count cannot give
    because it lacks the wedge denominator. Triangles reuse the
    min-vertex wedge join; wedges come from exact degree counts.

    Scale shape: the same bounded co-occurrence edge build as X161,
    one degree agg, one wedge-closing equi-join."""
    edges = _cooc_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("COALESCE(SUM(d*(d - 1) DIV 2), 0L)").alias("n_wedges"),
    )
    e1 = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    tri = (
        e1.alias("a")
        .join(
            e1.alias("b"),
            F.expr("b.u = a.u AND b.v > a.v"),
        )
        .join(
            e1.alias("c"),
            F.expr("c.u = a.v AND c.v = b.v"),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    ecount = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        wedges.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ecount))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.expr(
                "CASE WHEN n_wedges > 0 THEN"
                " ROUND(3.0*n_triangles/n_wedges, 6)"
                " ELSE CAST(NULL AS DOUBLE) END"
            ).alias("transitivity"),
        )
    )


EXT_TRANSITIVITY_SQL = (
    "WITH " + _COOC_EDGES_SQL + r""",
deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
wedges AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM(d*(d - 1) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
),
ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0 THEN
         ROUND(3.0*n_triangles/n_wedges, 6)
       ELSE CAST(NULL AS DOUBLE) END AS transitivity
FROM wedges CROSS JOIN tri CROSS JOIN ec
"""
)


EXT_QUERIES.update({"ext_transitivity": ext_transitivity})
EXT_ORACLES.update({"ext_transitivity": EXT_TRANSITIVITY_SQL})


# --- round-5 wave: rich-club coefficient ---------------------------------------------


def ext_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-occurrence graph: do the
    top-decile-degree items preferentially link to EACH OTHER? The
    edge density among rich nodes over its maximum, next to the global
    density — a normalized ratio above 1 is the elite-clique structure
    assortativity (X286) can only hint at. The degree threshold is
    the exact nearest-rank 90th percentile off the collapsed degree
    axis.

    Scale shape: degree agg, an O(distinct degrees) threshold sweep,
    one semi-filtered edge count."""
    edges = _cooc_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    dvals = deg.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = dvals.withColumn("cc", F.sum("c").over(wv)).withColumn(
        "n", F.sum("c").over(wall)
    )
    d90 = cum.filter("10*cc >= 9*n").agg(F.min("d").alias("d90"))
    rich = deg.crossJoin(F.broadcast(d90)).filter("d >= d90").select("src")
    e_rich = (
        edges.join(rich.select(F.col("src")), "src", "left_semi")
        .join(rich.select(F.col("src").alias("dst")), "dst", "left_semi")
        .agg(F.count(F.lit(1)).alias("e_rich"))
    )
    stats = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    nr = rich.agg(F.count(F.lit(1)).alias("n_rich"))
    ec = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(ec))
        .crossJoin(F.broadcast(e_rich))
        .select(
            "n_nodes",
            "n_rich",
            "n_edges",
            "e_rich",
            F.expr(
                "CASE WHEN n_rich >= 2 THEN"
                " ROUND(2.0*e_rich/(CAST(n_rich AS DOUBLE)*(n_rich - 1)), 6)"
                " END"
            ).alias("rich_density"),
            F.expr(
                "CASE WHEN n_nodes >= 2 THEN"
                " ROUND(2.0*n_edges/(CAST(n_nodes AS DOUBLE)*(n_nodes - 1)), 6)"
                " END"
            ).alias("global_density"),
        )
    )


EXT_RICH_CLUB_SQL = (
    "WITH " + _COOC_EDGES_SQL + r""",
deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
dvals AS (SELECT d, COUNT(*) AS c FROM deg GROUP BY d),
cum AS (
  SELECT d,
         SUM(c) OVER (ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
         SUM(c) OVER () AS n
  FROM dvals
),
d90 AS (SELECT MIN(d) AS d90 FROM cum WHERE 10*cc >= 9*n),
rich AS (SELECT node FROM deg CROSS JOIN d90 WHERE d >= d90),
er AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS e_rich
  FROM edges e
  WHERE e.u IN (SELECT node FROM rich) AND e.v IN (SELECT node FROM rich)
),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rich FROM rich),
ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_nodes, n_rich, n_edges, e_rich,
       CASE WHEN n_rich >= 2 THEN
         ROUND(2.0*e_rich/(CAST(n_rich AS DOUBLE)*(n_rich - 1)), 6) END
         AS rich_density,
       CASE WHEN n_nodes >= 2 THEN
         ROUND(2.0*n_edges/(CAST(n_nodes AS DOUBLE)*(n_nodes - 1)), 6) END
         AS global_density
FROM stats CROSS JOIN nr CROSS JOIN ec CROSS JOIN er
"""
)


EXT_QUERIES.update({"ext_rich_club": ext_rich_club})
EXT_ORACLES.update({"ext_rich_club": EXT_RICH_CLUB_SQL})


# --- round-5 wave: HITS hubs/authorities ---------------------------------------------


def ext_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the user -> item bipartite engagement graph, 3 unrolled
    iterations: users are hubs, items authorities; each round sums
    partner scores and renormalizes by the max, quantized to integer
    micro-units so both engines iterate on identical numbers — the
    mutually-recursive counterpart of X162's PageRank (which ranks by
    random-walk mass; HITS separates curator-value from
    destination-value). Top-10 authorities with count-then-key
    tie-breaks.

    Scale shape: three (edge join + agg) rounds on the exact bipartite
    edge list; score tables are O(items)/O(users). The edge list (a
    data-proportional frame, joined 6x across the unrolled rounds) is
    persisted DISK_ONLY once; each round's raw score frame is
    lineage-truncated (localCheckpoint locally / reliable checkpoint on
    a configured cluster dir), so the normalizing max is an O(1) scalar
    over a materialized O(users)/O(items) frame instead of a broadcast
    subtree that re-derives the whole iteration chain — without this
    the max-subtree recompute grows with every round (4-6.7s warm
    standalone before; ~3.0s after, the residual being the events-scan
    JSON extraction and 14 small-job scheduling)."""
    from aircan_spark.data import checkpoint

    edges = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
        # hash-partition by user_id ONCE: the hub-score join and the
        # user groupBy in every round then run exchange-free on the
        # persisted partitioning (InMemoryRelation preserves it), so
        # each round's only shuffle is the O(items) authority regroup
        .repartition("user_id")
    )
    with scope():
        edges = share(edges, big=True)
        # a0 = 1e6 for every item
        a = edges.select("item").distinct().withColumn(
            "a", F.lit(1000000).cast("long")
        )
        for _ in range(3):
            # authority table = the items axis (a bounded catalog —
            # the broadcastable side at any corpus scale)
            # r12 (guide §5): lazy checkpoint — the max-collect below is
            # the materializing action (1 job per half-round, not 2)
            h_raw = checkpoint(
                edges.join(F.broadcast(a), "item")
                .groupBy("user_id")
                .agg(F.sum("a").alias("hr")),
                eager=False,
            )
            # bounded scalar (1 row) — same double math as the old
            # broadcast-column divide, value-identical
            # explicit None check: `or 1` would also rewrite a legitimate
            # 0 max (distinct behaviors — NULL means the edge list is
            # empty; 0 can only mean an all-zero authority row, which the
            # old broadcast-column divide propagated as NULL, not 1)
            hm = h_raw.agg(F.max("hr").alias("m")).collect()[0]["m"]
            hm = 1 if hm is None else hm
            h = h_raw.select(
                "user_id",
                F.expr(
                    f"CAST(ROUND(CAST(hr AS DOUBLE)/{int(hm)}*1e6) AS BIGINT)"
                ).alias("h"),
            )
            a_raw = checkpoint(
                edges.join(h, "user_id")
                .groupBy("item")
                .agg(F.sum("h").alias("ar")),
                eager=False,
            )
            am = a_raw.agg(F.max("ar").alias("m")).collect()[0]["m"] or 1
            a = a_raw.select(
                "item",
                F.expr(
                    f"CAST(ROUND(CAST(ar AS DOUBLE)/{int(am)}*1e6) AS BIGINT)"
                ).alias("a"),
            )
        return (
            a.select("item", F.expr("ROUND(a/1e6, 6)").alias("authority"))
            .orderBy(F.col("authority").desc(), "item")
            .limit(10)
        )


EXT_HITS_SQL = r"""
WITH edges AS (
  SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events WHERE json_extract(props, '$.k') IS NOT NULL
),
a0 AS (SELECT DISTINCT item, CAST(1000000 AS BIGINT) AS a FROM edges),
h1r AS (
  SELECT e.user_id, CAST(SUM(a.a) AS BIGINT) AS hr
  FROM edges e JOIN a0 a ON a.item = e.item GROUP BY e.user_id
),
h1 AS (
  SELECT user_id,
         CAST(ROUND(CAST(hr AS DOUBLE)/(SELECT MAX(hr) FROM h1r)*1e6) AS BIGINT)
           AS h
  FROM h1r
),
a1r AS (
  SELECT e.item, CAST(SUM(h.h) AS BIGINT) AS ar
  FROM edges e JOIN h1 h ON h.user_id = e.user_id GROUP BY e.item
),
a1 AS (
  SELECT item,
         CAST(ROUND(CAST(ar AS DOUBLE)/(SELECT MAX(ar) FROM a1r)*1e6) AS BIGINT)
           AS a
  FROM a1r
),
h2r AS (
  SELECT e.user_id, CAST(SUM(a.a) AS BIGINT) AS hr
  FROM edges e JOIN a1 a ON a.item = e.item GROUP BY e.user_id
),
h2 AS (
  SELECT user_id,
         CAST(ROUND(CAST(hr AS DOUBLE)/(SELECT MAX(hr) FROM h2r)*1e6) AS BIGINT)
           AS h
  FROM h2r
),
a2r AS (
  SELECT e.item, CAST(SUM(h.h) AS BIGINT) AS ar
  FROM edges e JOIN h2 h ON h.user_id = e.user_id GROUP BY e.item
),
a2 AS (
  SELECT item,
         CAST(ROUND(CAST(ar AS DOUBLE)/(SELECT MAX(ar) FROM a2r)*1e6) AS BIGINT)
           AS a
  FROM a2r
),
h3r AS (
  SELECT e.user_id, CAST(SUM(a.a) AS BIGINT) AS hr
  FROM edges e JOIN a2 a ON a.item = e.item GROUP BY e.user_id
),
h3 AS (
  SELECT user_id,
         CAST(ROUND(CAST(hr AS DOUBLE)/(SELECT MAX(hr) FROM h3r)*1e6) AS BIGINT)
           AS h
  FROM h3r
),
a3r AS (
  SELECT e.item, CAST(SUM(h.h) AS BIGINT) AS ar
  FROM edges e JOIN h3 h ON h.user_id = e.user_id GROUP BY e.item
),
a3 AS (
  SELECT item,
         CAST(ROUND(CAST(ar AS DOUBLE)/(SELECT MAX(ar) FROM a3r)*1e6) AS BIGINT)
           AS a
  FROM a3r
)
SELECT item, ROUND(a/1e6, 6) AS authority
FROM a3 ORDER BY authority DESC, item LIMIT 10
"""


EXT_QUERIES.update({"ext_hits": ext_hits})
EXT_ORACLES.update({"ext_hits": EXT_HITS_SQL})
