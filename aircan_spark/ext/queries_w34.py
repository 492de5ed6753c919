"""Declared-query waves: round-5 wave: Davies-Bouldin cluster quality;
round-5 wave: Moran's I spatial autocorrelation; round-5 wave:
intraclass correlation (ICC).

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.

Determinism: every cross-row float sum is quantized to exact integer
units first (embedding components, squared distances); Moran's I and
the ICC reduce to exact BIGINT moments combined on tiny axes.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w33 import *  # noqa: F401,F403


# --- round-5 wave: Davies-Bouldin index ---------------------------------------------


def ext_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index of the labeled embedding clusters: mean
    over clusters of the worst (s_i + s_j) / d_ij ratio — low means
    tight, well-separated clusters; the internal-quality counterpart
    of X256's silhouette that needs only centroids and scatters, so it
    stays cheap at any corpus size. Embedding components quantize to
    integer micro-units and every squared-distance term quantizes to
    1e-12 units before summing, so no float accumulation order exists.

    Scale shape: explode-once, per-(label,pos) exact centroid sums, a
    join-back for member scatters, then all pairwise work on the
    O(labels^2) axis."""
    q = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.expr("CAST(ROUND(CAST(v AS DOUBLE)*1e6) AS BIGINT)").alias("vq"),
    )
    # r13 (guide §5): cent feeds the member-scatter join and BOTH sides
    # of the centroid-distance pair join — un-persisted, the full-corpus
    # explode + centroid exchange ran 3x. Bounded (labels x dims) ->
    # default level.
    cent = share(
        q.groupBy("label", "pos").agg(
            F.sum("vq").alias("s"), F.count(F.lit(1)).alias("n")
        ).select(
            "label", "pos", F.expr("CAST(s AS DOUBLE)/n/1e6").alias("c"), "n"
        )
    )
    member_terms = q.join(cent.select("label", "pos", "c"), ["label", "pos"]).select(
        "vec_id",
        "label",
        F.expr(
            "CAST(ROUND(POW(CAST(vq AS DOUBLE)/1e6 - c, 2)*1e12) AS BIGINT)"
        ).alias("tq"),
    )
    dists = member_terms.groupBy("vec_id", "label").agg(
        F.expr(
            "CAST(ROUND(SQRT(CAST(SUM(tq) AS DOUBLE)/1e12)*1e6) AS BIGINT)"
        ).alias("dq")
    )
    # r13: scatter feeds both ratio-join sides — un-persisted, the whole
    # member-distance chain (explode join + two regroups) ran twice.
    # Bounded (O(labels) rows) -> default level.
    scatter = share(
        dists.groupBy("label").agg(
            F.expr("CAST(SUM(dq) AS DOUBLE)/COUNT(*)/1e6").alias("s_i"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    ca = cent.select(F.col("label").alias("la"), "pos", F.col("c").alias("c_a"))
    cb = cent.select(F.col("label").alias("lb"), "pos", F.col("c").alias("c_b"))
    cdist = (
        ca.join(cb, "pos")
        .filter("la < lb")
        .select(
            "la",
            "lb",
            F.expr("CAST(ROUND(POW(c_a - c_b, 2)*1e12) AS BIGINT)").alias("tq"),
        )
        .groupBy("la", "lb")
        .agg(
            F.expr("SQRT(CAST(SUM(tq) AS DOUBLE)/1e12)").alias("d_ij")
        )
    )
    both = cdist.unionByName(
        cdist.select(
            F.col("lb").alias("la"), F.col("la").alias("lb"), "d_ij"
        )
    )
    ratios = (
        both.join(scatter.select(F.col("label").alias("la"), F.col("s_i").alias("sa")), "la")
        .join(scatter.select(F.col("label").alias("lb"), F.col("s_i").alias("sb")), "lb")
        .select("la", F.expr("(sa + sb)/d_ij").alias("r"))
    )
    per_label = ratios.groupBy("la").agg(F.max("r").alias("worst_r"))
    return per_label.agg(
        F.count(F.lit(1)).alias("n_labels"),
        F.expr("ROUND(AVG(worst_r), 4)").alias("davies_bouldin"),
        F.expr("ROUND(MAX(worst_r), 4)").alias("worst_pair_ratio"),
    )


EXT_DAVIES_BOULDIN_SQL = r"""
WITH q AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE)*1e6) AS BIGINT) AS vq
  FROM embeddings
),
cent AS (
  SELECT label, pos, CAST(SUM(vq) AS DOUBLE)/COUNT(*)/1e6 AS c
  FROM q GROUP BY label, pos
),
member_terms AS (
  SELECT q.vec_id, q.label,
         CAST(ROUND(POW(CAST(q.vq AS DOUBLE)/1e6 - c.c, 2)*1e12) AS BIGINT) AS tq
  FROM q JOIN cent c ON c.label = q.label AND c.pos = q.pos
),
dists AS (
  SELECT vec_id, label,
         CAST(ROUND(SQRT(CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE)/1e12)*1e6)
              AS BIGINT) AS dq
  FROM member_terms GROUP BY vec_id, label
),
scatter AS (
  SELECT label, CAST(CAST(SUM(dq) AS BIGINT) AS DOUBLE)/COUNT(*)/1e6 AS s_i
  FROM dists GROUP BY label
),
cdist AS (
  SELECT a.label AS la, b.label AS lb,
         SQRT(CAST(CAST(SUM(CAST(ROUND(POW(a.c - b.c, 2)*1e12) AS BIGINT))
              AS BIGINT) AS DOUBLE)/1e12) AS d_ij
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
),
sym AS (
  SELECT la, lb, d_ij FROM cdist
  UNION ALL
  SELECT lb AS la, la AS lb, d_ij FROM cdist
),
ratios AS (
  SELECT bo.la, (sa.s_i + sb.s_i)/bo.d_ij AS r
  FROM sym bo
  JOIN scatter sa ON sa.label = bo.la
  JOIN scatter sb ON sb.label = bo.lb
),
per_label AS (SELECT la, MAX(r) AS worst_r FROM ratios GROUP BY la)
SELECT COUNT(*) AS n_labels,
       ROUND(AVG(worst_r), 4) AS davies_bouldin,
       ROUND(MAX(worst_r), 4) AS worst_pair_ratio
FROM per_label
"""


EXT_QUERIES.update({"ext_davies_bouldin": ext_davies_bouldin})
EXT_ORACLES.update({"ext_davies_bouldin": EXT_DAVIES_BOULDIN_SQL})


# --- round-5 wave: Moran's I spatial autocorrelation ----------------------------------


def ext_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation of per-nation revenue under
    the same-region adjacency: do neighboring markets move together?
    I = (n/W) * sum_ij w_ij (x_i - xbar)(x_j - xbar) / sum (x_i-xbar)^2,
    with w_ij = 1 for distinct same-region nations. The same-region
    block structure collapses the double sum to per-region identities
    ((sum dev)^2 - sum dev^2), so everything runs on the O(nations)
    axis with exact integer revenue.

    Scale shape: fact-to-nation rollup (one shuffle), then O(25)
    arithmetic."""
    rev = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
        .groupBy("c_nationkey")
        .agg(F.sum(F.expr("CAST(ROUND(o_totalprice*100) AS BIGINT)")).alias("xc"))
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
    )
    x = rev.join(F.broadcast(nat), "c_nationkey")
    tot = x.agg(
        F.count(F.lit(1)).alias("n"), F.sum("xc").alias("sx")
    )
    dev = x.crossJoin(F.broadcast(tot)).select(
        "n_regionkey",
        "n",
        F.expr("CAST(xc AS DOUBLE) - CAST(sx AS DOUBLE)/n").alias("d"),
    )
    reg = dev.groupBy("n_regionkey").agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("nr"),
        F.sum("d").alias("sd"),
        F.sum(F.expr("d*d")).alias("sdd"),
    )
    return reg.agg(
        F.max("n").alias("n_nations"),
        F.expr(
            "ROUND((MAX(n)/SUM(CAST(nr*(nr - 1) AS DOUBLE)))"
            "*SUM(sd*sd - sdd)/SUM(sdd), 6)"
        ).alias("morans_i"),
        F.expr("CAST(ROUND(-1e6/(MAX(n) - 1)) AS BIGINT)").alias("expected_i_x1e6"),
    )


EXT_MORANS_I_SQL = r"""
WITH rev AS (
  SELECT c.c_nationkey,
         CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS xc
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey
),
x AS (
  SELECT r.c_nationkey, r.xc, n.n_regionkey
  FROM rev r JOIN nation n ON n.n_nationkey = r.c_nationkey
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xc) AS BIGINT) AS sx FROM x),
dev AS (
  SELECT n_regionkey, t.n,
         CAST(xc AS DOUBLE) - CAST(sx AS DOUBLE)/t.n AS d
  FROM x CROSS JOIN tot t
),
reg AS (
  SELECT n_regionkey, MAX(n) AS n, COUNT(*) AS nr,
         SUM(d) AS sd, SUM(d*d) AS sdd
  FROM dev GROUP BY n_regionkey
)
SELECT CAST(MAX(n) AS BIGINT) AS n_nations,
       ROUND((MAX(n)/SUM(CAST(nr*(nr - 1) AS DOUBLE)))
             *SUM(sd*sd - sdd)/SUM(sdd), 6) AS morans_i,
       CAST(ROUND(-1e6/(MAX(n) - 1)) AS BIGINT) AS expected_i_x1e6
FROM reg
"""


EXT_QUERIES.update({"ext_morans_i": ext_morans_i})
EXT_ORACLES.update({"ext_morans_i": EXT_MORANS_I_SQL})


# --- round-5 wave: intraclass correlation (ICC) ---------------------------------------


def ext_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects intraclass correlation of event values
    within users: how much of the value variance is explained by WHO
    the user is — the clustering-strength number that decides whether
    experiment analyses need clustered standard errors (X274's CUPED
    and X212's t-test both assume it is small). Unbalanced-design
    ICC(1) with the standard n0 group-size adjustment; every sum of
    squares reduces to exact BIGINT per-user moments.

    Scale shape: one per-user moment pass, one scalar agg, O(1)
    arithmetic."""
    per_user = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("ni"),
            F.sum(F.expr("CAST(ROUND(value*100) AS BIGINT)")).alias("si"),
            F.sum(
                F.expr(
                    "CAST(ROUND(value*100) AS BIGINT)"
                    "*CAST(ROUND(value*100) AS BIGINT)"
                )
            ).alias("qi"),
        )
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("ni").alias("N"),
        F.sum("si").alias("S"),
        F.sum("qi").alias("Q"),
        F.sum(F.expr("ni*ni")).alias("nn"),
        F.sum(F.expr("CAST(si AS DOUBLE)*si/ni")).alias("between_term"),
    )
    fit = m.select(
        "g",
        "N",
        F.expr("(between_term - CAST(S AS DOUBLE)*S/N)/(g - 1)").alias("msb"),
        F.expr("(CAST(Q AS DOUBLE) - between_term)/(N - g)").alias("msw"),
        F.expr(
            "(CAST(N AS DOUBLE) - CAST(nn AS DOUBLE)/N)/(g - 1)"
        ).alias("n0"),
    )
    return fit.select(
        F.col("g").alias("n_users"),
        F.col("N").alias("n_events"),
        F.expr("ROUND(msb/1e4, 4)").alias("ms_between"),
        F.expr("ROUND(msw/1e4, 4)").alias("ms_within"),
        F.expr("ROUND(n0, 4)").alias("avg_group_size_adj"),
        F.expr("ROUND((msb - msw)/(msb + (n0 - 1)*msw), 6)").alias("icc1"),
    )


EXT_ICC_SQL = r"""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS ni,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS si,
         CAST(SUM(CAST(ROUND(value*100) AS BIGINT)
                  *CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS qi
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS g,
         CAST(SUM(ni) AS BIGINT) AS N,
         CAST(SUM(si) AS BIGINT) AS S,
         CAST(SUM(qi) AS BIGINT) AS Q,
         CAST(SUM(ni*ni) AS BIGINT) AS nn,
         SUM(CAST(si AS DOUBLE)*si/ni) AS between_term
  FROM per_user
),
fit AS (
  SELECT g, N,
         (between_term - CAST(S AS DOUBLE)*S/N)/(g - 1) AS msb,
         (CAST(Q AS DOUBLE) - between_term)/(N - g) AS msw,
         (CAST(N AS DOUBLE) - CAST(nn AS DOUBLE)/N)/(g - 1) AS n0
  FROM m
)
SELECT g AS n_users, N AS n_events,
       ROUND(msb/1e4, 4) AS ms_between,
       ROUND(msw/1e4, 4) AS ms_within,
       ROUND(n0, 4) AS avg_group_size_adj,
       ROUND((msb - msw)/(msb + (n0 - 1)*msw), 6) AS icc1
FROM fit
"""


EXT_QUERIES.update({"ext_icc": ext_icc})
EXT_ORACLES.update({"ext_icc": EXT_ICC_SQL})
