"""Declared-query waves: round-5 wave: graph cohesion (fixed-round k-core
peel, local clustering coefficients); round-5 wave: exact largest-remainder
allocation; round-5 wave: image histogram uniformity audit; round-5 wave:
zone-map (data-skipping) effectiveness audit; round-5 wave: additive
seasonal decomposition over the day axis.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Determinism: same rules as queries_w10 — exact integer sums through
identical double expression trees; float literals in e-notation (Spark
parses 1.5 as DECIMAL, diverging from DuckDB); no order-dependent float
aggregation (the image chi-square uses the sum-of-squares identity to
stay integer until one final division).
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w03 import _COOC_EDGES_SQL, _cooc_edges
from aircan_spark.ext.queries_w10 import *  # noqa: F401,F403


# --- round-5 wave: fixed-round k-core peel ------------------------------------


def ext_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peel rounds toward the 3-core of the item co-occurrence
    graph: each round drops vertices whose degree in the CURRENT induced
    subgraph is < 3, then recomputes induced degrees — the standard
    dense-subgraph / spam-cluster extractor. A FIXED round count makes
    the operator deterministic and lets the oracle unroll the identical
    three rounds as chained CTEs (same shape as ext_pagerank's unrolled
    iterations); on converged graphs 3 rounds IS the 3-core, otherwise
    it is the documented 3-round approximation.

    Scale shape: each round is one semi-join + one hash agg on the edge
    list (O(E)); rounds are a fixed constant — no data-dependent loop.
    The edge list is checkpointed ONCE (inside _cooc_edges as of r12)
    so the peel rounds reuse the materialized frame instead of
    re-running the user-pair self-join per round (the
    iterative-tiny-frame lesson from ext_pca_power)."""
    edges = _cooc_edges(spark, sf_dir)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    active = sym.select(F.col("src").alias("id")).distinct()
    deg = None
    for _ in range(3):
        ind = sym.join(
            active.select(F.col("id").alias("src")), "src"
        ).join(active.select(F.col("id").alias("dst")), "dst")
        deg = ind.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        active = deg.filter(F.col("deg") >= 3).select(F.col("src").alias("id"))
    final = sym.join(active.select(F.col("id").alias("src")), "src").join(
        active.select(F.col("id").alias("dst")), "dst"
    )
    return (
        final.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .orderBy("id")
    )


EXT_KCORE_SQL = (
    "WITH " + _COOC_EDGES_SQL.strip() + r""",
a0 AS (SELECT DISTINCT u AS id FROM sym),
d1 AS (
  SELECT s.u, COUNT(*) AS deg FROM sym s
  JOIN a0 x ON s.u = x.id JOIN a0 y ON s.v = y.id GROUP BY s.u
),
a1 AS (SELECT u AS id FROM d1 WHERE deg >= 3),
d2 AS (
  SELECT s.u, COUNT(*) AS deg FROM sym s
  JOIN a1 x ON s.u = x.id JOIN a1 y ON s.v = y.id GROUP BY s.u
),
a2 AS (SELECT u AS id FROM d2 WHERE deg >= 3),
d3 AS (
  SELECT s.u, COUNT(*) AS deg FROM sym s
  JOIN a2 x ON s.u = x.id JOIN a2 y ON s.v = y.id GROUP BY s.u
),
a3 AS (SELECT u AS id FROM d3 WHERE deg >= 3)
SELECT s.u AS id, COUNT(*) AS core_deg
FROM sym s JOIN a3 x ON s.u = x.id JOIN a3 y ON s.v = y.id
GROUP BY s.u ORDER BY id
"""
)


EXT_QUERIES.update({"ext_kcore": ext_kcore})
EXT_ORACLES.update({"ext_kcore": EXT_KCORE_SQL})


# --- round-5 wave: local clustering coefficients ------------------------------


def ext_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex of the co-occurrence graph
    (triangles through v over wedge count) plus the graph average — the
    community-tightness profile that separates hub-and-spoke items from
    clique items. Triangles per vertex come from ordered neighbor-pair
    expansion closed by one equi-join against the canonical edge list;
    cc = 2T/(deg*(deg-1)) is row-local.

    Scale shape: neighbor-pair expansion is quadratic per vertex degree —
    bounded here because _cooc_edges thresholds support (capped
    adaptive, 40 users at sf>=0.01);
    for unbounded graphs swap in the per-edge wedge form (same join
    skeleton keyed by edge instead of vertex). The edge list is
    checkpointed once (inside _cooc_edges as of r12) — deg, wedges and
    the closing join all reuse it."""
    edges = _cooc_edges(spark, sf_dir)  # src < dst
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    nb = sym.select(F.col("src").alias("v"), F.col("dst").alias("n"))
    wedge = (
        nb.alias("a")
        .join(nb.alias("b"), "v")
        .filter(F.expr("a.n < b.n"))
        .select("v", F.col("a.n").alias("src"), F.col("b.n").alias("dst"))
    )
    tri = (
        wedge.join(edges, ["src", "dst"])
        .groupBy(F.col("v").alias("id"))
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    per = (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce("tri", F.lit(0)).alias("tri"),
        )
        .select(
            "id",
            "deg",
            "tri",
            F.expr(
                "CASE WHEN deg >= 2 THEN ROUND(CAST(2*tri AS DOUBLE)/(deg*(deg - 1)), 6)"
                " ELSE CAST(0 AS DOUBLE) END"
            ).alias("cc"),
        )
    )
    return per.orderBy("id")


EXT_CLUSTERING_COEFF_SQL = (
    "WITH " + _COOC_EDGES_SQL.strip() + r""",
deg AS (SELECT u AS id, COUNT(*) AS deg FROM sym GROUP BY u),
tri AS (
  SELECT a.u AS id, COUNT(*) AS tri
  FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v
  JOIN edges e ON e.u = a.v AND e.v = b.v
  GROUP BY a.u
)
SELECT d.id, d.deg, COALESCE(t.tri, 0) AS tri,
       CASE WHEN d.deg >= 2 THEN ROUND(CAST(2*COALESCE(t.tri, 0) AS DOUBLE)/(d.deg*(d.deg - 1)), 6)
            ELSE CAST(0 AS DOUBLE) END AS cc
FROM deg d LEFT JOIN tri t ON d.id = t.id
ORDER BY d.id
"""
)


EXT_QUERIES.update({"ext_clustering_coeff": ext_clustering_coeff})
EXT_ORACLES.update({"ext_clustering_coeff": EXT_CLUSTERING_COEFF_SQL})


# --- round-5 wave: largest-remainder allocation -------------------------------


def ext_seat_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact largest-remainder (Hamilton) apportionment of 1000 budget
    units across nations proportional to customer order revenue — the
    integer allocation primitive behind sampling budgets, shard quotas
    and capacity splits. ALL arithmetic is integer: base = rev*1000 DIV
    total, remainders rev*1000 MOD total ranked (desc, nationkey asc for
    the deterministic tie-break), one extra unit to the top
    (1000 - sum(base)) remainders. Guaranteed to sum to exactly 1000.

    Scale shape: revenue agg over the fact; apportionment math and the
    remainder rank run on the O(nations) frame."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)").alias("cents")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    # r13 (guide §5): rev feeds the total scalar, the deficit pass
    # and the ranked pass — un-persisted, the orders join + nation
    # exchange ran 3x. Bounded (O(nations) rows) -> default level.
    rev = share(
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy("c_nationkey")
        .agg(F.sum("cents").alias("rev"))
    )
    tot = rev.agg(F.sum("rev").alias("tot"))
    base = (
        rev.join(F.broadcast(tot))
        .select(
            "c_nationkey",
            "rev",
            F.expr("CAST(rev*1000 AS BIGINT) DIV tot").alias("base"),
            F.expr("CAST(rev*1000 AS BIGINT) % tot").alias("rem"),
        )
    )
    w = Window.orderBy(F.col("rem").desc(), F.col("c_nationkey").asc())
    deficit = base.agg(F.expr("CAST(1000 - SUM(base) AS BIGINT)").alias("extra"))
    ranked = base.withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(deficit))
        .select(
            F.col("c_nationkey").alias("n_nationkey"),
            F.expr("ROUND(rev/1e2, 2)").alias("revenue"),
            F.expr("CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)").alias(
                "seats"
            ),
        )
        .join(F.broadcast(nation.select(F.col("c_nationkey").alias("n_nationkey"), "n_name")), "n_nationkey")
        .select("n_nationkey", "n_name", "revenue", "seats")
        .orderBy("n_nationkey")
    )


EXT_SEAT_ALLOCATION_SQL = r"""
WITH rev AS (
  SELECT c_nationkey,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey
),
tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM rev),
base AS (
  SELECT c_nationkey, rev,
         CAST(rev*1000 AS BIGINT) // tot AS base,
         CAST(rev*1000 AS BIGINT) % tot AS rem
  FROM rev CROSS JOIN tot
),
deficit AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS extra FROM base),
ranked AS (
  SELECT c_nationkey, rev, base, rem,
         ROW_NUMBER() OVER (ORDER BY rem DESC, c_nationkey ASC) AS rk
  FROM base
)
SELECT r.c_nationkey AS n_nationkey, n.n_name,
       ROUND(r.rev/1e2, 2) AS revenue,
       CAST(r.base + CASE WHEN r.rk <= d.extra THEN 1 ELSE 0 END AS BIGINT) AS seats
FROM ranked r CROSS JOIN deficit d
JOIN nation n ON n.n_nationkey = r.c_nationkey
ORDER BY n_nationkey
"""


EXT_QUERIES.update({"ext_seat_allocation": ext_seat_allocation})
EXT_ORACLES.update({"ext_seat_allocation": EXT_SEAT_ALLOCATION_SQL})


# --- round-5 wave: image histogram uniformity audit ---------------------------


def ext_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 8-bin luminance histogram + chi-square distance from the
    uniform histogram, through the REAL decode path (BMP fixtures ->
    decode_pixels -> numpy bincount) — the exposure/contrast triage pass
    of an image-corpus curation pipeline. The chi-square against uniform
    uses the sum-of-squares identity chi2 = 8*sum(o_b^2)/n - n, so the
    per-image statistic is INTEGER until one final division (no float
    sum over bins in either engine); the dominant bin is the lowest
    argmax (numpy argmax first-hit == SQL min-over-maxcount).

    Scale shape: fixture synthesis + decode + histogram are partition-
    local mapInPandas (zero shuffle); oracle replays the gradient pixels
    closed-form on a generate_series grid."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def hist(batches):
        import numpy as np

        from aircan_spark.ext import multimodal

        for pdf in batches:
            ids, npx, chi2, dom = [], [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 16 + did % 9, 16 + did % 7
                x = np.arange(w, dtype="int64")[None, :]
                y = np.arange(h, dtype="int64")[:, None]
                gray = ((x * 11 + y * 5 + did) % 256).astype("u1")
                rgb = np.repeat(gray[:, :, None], 3, axis=2)
                px = multimodal.decode_pixels(multimodal.encode_bmp(rgb))
                bins = np.bincount(px[:, :, 0].reshape(-1) >> 5, minlength=8)
                n = int(bins.sum())
                ssq = int((bins.astype("int64") ** 2).sum())
                ids.append(did)
                npx.append(n)
                chi2.append(round(8.0 * ssq / n - n, 6))
                dom.append(int(bins.argmax()))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "n_pixels": npx,
                    "chi2_uniform": chi2,
                    "dominant_bin": dom,
                }
            )

    return docs.mapInPandas(
        hist, "media_id bigint, n_pixels bigint, chi2_uniform double, dominant_bin int"
    ).orderBy("media_id")


EXT_IMAGE_HISTOGRAM_SQL = r"""
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 9 AS w, 16 + doc_id % 7 AS h FROM documents
),
px AS (
  SELECT d.doc_id,
         ((gx.i*11 + gy.j*5 + d.doc_id) % 256) // 32 AS bin
  FROM dims d, generate_series(0, 23) gx(i), generate_series(0, 22) gy(j)
  WHERE gx.i < d.w AND gy.j < d.h
),
bins AS (SELECT doc_id, bin, COUNT(*) AS o FROM px GROUP BY 1, 2),
stats AS (
  SELECT doc_id, CAST(SUM(o) AS BIGINT) AS n, CAST(SUM(o*o) AS BIGINT) AS ssq
  FROM bins GROUP BY doc_id
),
dom AS (
  SELECT doc_id, CAST(MIN(bin) AS INTEGER) AS dominant_bin
  FROM (
    SELECT doc_id, bin,
           RANK() OVER (PARTITION BY doc_id ORDER BY o DESC) AS rk
    FROM bins
  ) WHERE rk = 1 GROUP BY doc_id
)
SELECT s.doc_id AS media_id, s.n AS n_pixels,
       ROUND(8e0*s.ssq/s.n - s.n, 6) AS chi2_uniform,
       d.dominant_bin
FROM stats s JOIN dom d USING (doc_id)
ORDER BY media_id
"""


EXT_QUERIES.update({"ext_image_histogram": ext_image_histogram})
EXT_ORACLES.update({"ext_image_histogram": EXT_IMAGE_HISTOGRAM_SQL})


# --- round-5 wave: zone-map (data-skipping) effectiveness audit ---------------


def ext_zone_map_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning simulation: logical zones of 256 consecutive
    order keys carry (min, max) orderdate stats; for each 1996 quarter
    predicate the audit reports how many zones a min/max-pruning scan
    would touch, the rows it would read, and the rows that actually
    match — the data-skipping effectiveness measure that tells you
    whether the table's physical order serves its query pattern (here:
    keys roughly track dates, so pruning works; a shuffled layout would
    score scan_efficiency near the selectivity floor).

    Scale shape: one zone aggregate (hash agg on key DIV 256) + four
    conditional re-aggregates of the O(zones) frame; exact match counts
    from one conditional agg over orders."""
    orders = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(o_orderkey DIV 256 AS BIGINT)").alias("zone"),
        "o_orderdate",
    )
    # r13 (guide §5): the zone stats fed four per-quarter conditional
    # re-aggregations (orders scan + zone exchange x4) and the exact
    # match counts scanned orders four MORE times. zones persists
    # DISK_ONLY (data-proportional: one row per 256-key zone); the four
    # per-quarter match counts fold into ONE conditional pass whose
    # per-quarter sums are selected per output row — identical integer
    # sums, one orders scan instead of four.
    zones = share(
        orders.groupBy("zone").agg(
            F.min("o_orderdate").alias("zmin"),
            F.max("o_orderdate").alias("zmax"),
            F.count(F.lit(1)).alias("zrows"),
        ),
        big=True,
    )
    quarters = [
        ("1996Q1", "1996-01-01", "1996-03-31"),
        ("1996Q2", "1996-04-01", "1996-06-30"),
        ("1996Q3", "1996-07-01", "1996-09-30"),
        ("1996Q4", "1996-10-01", "1996-12-31"),
    ]
    match_all = share(
        orders.agg(
            *[
                F.sum(
                    F.expr(
                        f"CASE WHEN o_orderdate >= DATE'{lo}'"
                        f" AND o_orderdate <= DATE'{hi}' THEN 1 ELSE 0 END"
                    )
                ).alias(f"m_{label}")
                for label, lo, hi in quarters
            ],
            F.count(F.lit(1)).alias("rows_total"),
        )
    )
    outs = []
    for label, lo, hi in quarters:
        zagg = zones.agg(
            F.lit(label).alias("quarter"),
            F.count(F.lit(1)).alias("zones_total"),
            F.sum(
                F.expr(
                    f"CASE WHEN zmax >= DATE'{lo}' AND zmin <= DATE'{hi}'"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("zones_scanned"),
            F.sum(
                F.expr(
                    f"CASE WHEN zmax >= DATE'{lo}' AND zmin <= DATE'{hi}'"
                    " THEN zrows ELSE 0 END"
                )
            ).alias("rows_scanned"),
        )
        match = match_all.select(
            F.col(f"m_{label}").alias("rows_matched"), "rows_total"
        )
        outs.append(zagg.join(match))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "quarter",
        "zones_total",
        "zones_scanned",
        "rows_scanned",
        "rows_matched",
        "rows_total",
        F.expr("ROUND(CAST(rows_matched AS DOUBLE)/rows_total, 6)").alias(
            "selectivity"
        ),
        F.expr(
            "ROUND(CASE WHEN rows_scanned > 0"
            " THEN CAST(rows_matched AS DOUBLE)/rows_scanned"
            " ELSE CAST(1 AS DOUBLE) END, 6)"
        ).alias("scan_efficiency"),
    ).orderBy("quarter")


def _zone_quarter_sql(label: str, lo: str, hi: str) -> str:
    return f"""
SELECT '{label}' AS quarter, z.zones_total, z.zones_scanned, z.rows_scanned,
       m.rows_matched, m.rows_total,
       ROUND(CAST(m.rows_matched AS DOUBLE)/m.rows_total, 6) AS selectivity,
       ROUND(CASE WHEN z.rows_scanned > 0
             THEN CAST(m.rows_matched AS DOUBLE)/z.rows_scanned
             ELSE CAST(1 AS DOUBLE) END, 6) AS scan_efficiency
FROM (
  SELECT COUNT(*) AS zones_total,
         CAST(SUM(CASE WHEN zmax >= DATE '{lo}' AND zmin <= DATE '{hi}' THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
         CAST(SUM(CASE WHEN zmax >= DATE '{lo}' AND zmin <= DATE '{hi}' THEN zrows ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM (
    SELECT o_orderkey // 256 AS zone, MIN(o_orderdate) AS zmin,
           MAX(o_orderdate) AS zmax, COUNT(*) AS zrows
    FROM orders GROUP BY 1
  )
) z
CROSS JOIN (
  SELECT CAST(SUM(CASE WHEN o_orderdate >= DATE '{lo}' AND o_orderdate <= DATE '{hi}' THEN 1 ELSE 0 END) AS BIGINT) AS rows_matched,
         COUNT(*) AS rows_total
  FROM orders
) m
"""


EXT_ZONE_MAP_AUDIT_SQL = (
    "\nUNION ALL\n".join(
        _zone_quarter_sql(label, lo, hi)
        for label, lo, hi in [
            ("1996Q1", "1996-01-01", "1996-03-31"),
            ("1996Q2", "1996-04-01", "1996-06-30"),
            ("1996Q3", "1996-07-01", "1996-09-30"),
            ("1996Q4", "1996-10-01", "1996-12-31"),
        ]
    )
    + "\nORDER BY quarter"
)


EXT_QUERIES.update({"ext_zone_map_audit": ext_zone_map_audit})
EXT_ORACLES.update({"ext_zone_map_audit": EXT_ZONE_MAP_AUDIT_SQL})


# --- round-5 wave: additive seasonal decomposition ----------------------------


def ext_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily event revenue into
    trend + weekly seasonal + residual: trend = centered 7-day moving
    average, seasonal = per-weekday mean of the detrended series,
    residual = remainder — the explainable decomposition behind anomaly
    baselines. Exactness: daily revenue is integer cents; the 7-day
    window SUM stays integer, so "detrended x7" (7*c - sum7) is integer,
    weekday seasonal means are single divisions of integer sums, and the
    weekday index is epoch-day arithmetic (engine-independent, no
    dayofweek convention risk). Only full 7-day windows decompose.

    Scale shape: one day-axis hash agg over the fact; windows and the
    weekday agg run on the O(days) axis."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr("CAST(ts AS DATE)").alias("day"),
            F.expr("CAST(ROUND(value*100) AS BIGINT)").alias("iv"),
        )
        .groupBy("day")
        .agg(F.sum("iv").alias("c"))
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "c",
        F.sum("c").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("w7"),
        F.expr("(DATEDIFF(day, DATE'2024-01-01') % 7 + 7) % 7").alias("dow"),
    ).filter(F.col("w7") == 7)
    detr = t.select("day", "dow", "c", "s7", F.expr("7*c - s7").alias("d7"))
    seas = detr.groupBy("dow").agg(
        F.sum("d7").alias("sd7"), F.count(F.lit(1)).alias("nd")
    )
    return (
        detr.join(F.broadcast(seas), "dow")
        .select(
            "day",
            F.expr("ROUND(c/1e2, 2)").alias("revenue"),
            F.expr("ROUND(s7/7e2, 6)").alias("trend"),
            F.expr("ROUND(CAST(sd7 AS DOUBLE)/(7e2*nd), 6)").alias("seasonal"),
            F.expr(
                "ROUND(c/1e2 - s7/7e2 - CAST(sd7 AS DOUBLE)/(7e2*nd), 6)"
            ).alias("residual"),
        )
        .orderBy("day")
    )


EXT_SEASONAL_DECOMPOSE_SQL = r"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS c
  FROM events GROUP BY 1
),
t AS (
  SELECT day, c,
         CAST(SUM(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
         COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7,
         (DATEDIFF('day', DATE '2024-01-01', day) % 7 + 7) % 7 AS dow
  FROM daily
),
detr AS (
  SELECT day, dow, c, s7, 7*c - s7 AS d7 FROM t WHERE w7 = 7
),
seas AS (
  SELECT dow, CAST(SUM(d7) AS BIGINT) AS sd7, COUNT(*) AS nd FROM detr GROUP BY dow
)
SELECT d.day,
       ROUND(d.c/1e2, 2) AS revenue,
       ROUND(d.s7/7e2, 6) AS trend,
       ROUND(CAST(s.sd7 AS DOUBLE)/(7e2*s.nd), 6) AS seasonal,
       ROUND(d.c/1e2 - d.s7/7e2 - CAST(s.sd7 AS DOUBLE)/(7e2*s.nd), 6) AS residual
FROM detr d JOIN seas s USING (dow)
ORDER BY day
"""


EXT_QUERIES.update({"ext_seasonal_decompose": ext_seasonal_decompose})
EXT_ORACLES.update({"ext_seasonal_decompose": EXT_SEASONAL_DECOMPOSE_SQL})
