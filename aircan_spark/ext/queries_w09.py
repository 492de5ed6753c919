"""Declared-query waves: round-5 wave: full-feature PNG resize (Adam7 +
16-bit); round-5 wave: perceptual image hash, audio silence, video scene
cuts; round-5 wave: compaction planner, duplicate-column audit, PVM
decomposition; round-5 wave: Welch t-test, Kruskal-Wallis, average
precision, per-class classifier metrics, Adamic-Adar link prediction.

Split-wave module per the _qcommon ordering contract (see that module);
updates the shared EXT_QUERIES/EXT_ORACLES registries at import time.
"""

from __future__ import annotations

from aircan_spark.ext._qcommon import *  # noqa: F401,F403
from aircan_spark.ext._qcommon import EXT_ORACLES, EXT_QUERIES, _load, _t  # noqa: F401
from aircan_spark.ext.queries_w08 import *  # noqa: F401,F403


# --- round-5 wave: full-feature PNG resize (Adam7 + 16-bit) -------------------


def ext_mm_resize_png_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PNG resize pipeline over the FULL feature grid the r5 decoder
    supports: per document a deterministic gradient (W=16+id%17,
    H=16+id%13, gray (x*7+y*3+id)%256) is encoded with layout id%4 —
    plain, Adam7-interlaced, 16-bit, or Adam7+16-bit — with per-scanline
    filters cycling through all five spec filters from id%5, then pushed
    through decode→NN-resize(8×8)→BMP→decode→mean. 16-bit uses the
    v*257 expansion whose high byte round-trips exactly, and Adam7
    re-orders scanlines without changing pixel values, so ONE closed-form
    oracle covers all four layouts — a wrong pass geometry, filter
    distance or byte order anywhere shifts the mean and the hash.
    All kernels partition-local mapInPandas (zero shuffle); extends
    ext_mm_resize_png (queries_w08) which pinned the 8-bit sequential
    path."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_png(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 16 + did % 17, 16 + did % 13
                x = np.arange(w, dtype="int64")[None, :]
                y = np.arange(h, dtype="int64")[:, None]
                gray = ((x * 7 + y * 3 + did) % 256).astype("u1")
                rgb = np.repeat(gray[:, :, None], 3, axis=2)
                filters = [(did + r) % 5 for r in range(5)]
                mode = did % 4
                blobs.append(
                    multimodal.encode_png(
                        rgb,
                        filters=filters,
                        interlace=mode in (1, 3),
                        depth=16 if mode in (2, 3) else 8,
                    )
                )
                ids.append(did)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_png, "media_id bigint, content binary")
    resized = multimodal.resize_images(media, width=8, height=8)

    def mean_gray(batches):
        for pdf in batches:
            def m(blob):
                px = multimodal.decode_pixels(blob)
                return round(float(px[:, :, 0].astype("float64").mean()), 6)

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "pixel_mean": pdf["content"].map(m),
                }
            )

    return resized.mapInPandas(
        mean_gray, "media_id bigint, width int, height int, pixel_mean double"
    ).orderBy("media_id")


EXT_MM_RESIZE_PNG_FULL_SQL = r"""
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h FROM documents
),
sampled AS (
  SELECT d.doc_id,
         CAST(FLOOR((gx.i + 0.5) * d.w / 8.0) AS BIGINT) AS sx,
         CAST(FLOOR((gy.j + 0.5) * d.h / 8.0) AS BIGINT) AS sy
  FROM dims d, generate_series(0, 7) gx(i), generate_series(0, 7) gy(j)
)
SELECT doc_id AS media_id,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       ROUND(AVG((sx * 7 + sy * 3 + doc_id) % 256), 6) AS pixel_mean
FROM sampled GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_mm_resize_png_full": ext_mm_resize_png_full})
EXT_ORACLES.update({"ext_mm_resize_png_full": EXT_MM_RESIZE_PNG_FULL_SQL})


# --- round-5 wave: perceptual image hash (dHash) ------------------------------


def ext_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash + exact-duplicate grouping, end-to-end: per
    document a gradient BMP whose content depends only on family =
    id%211 (W=16+fam%9, H=16+fam%7, gray (x*11+y*5+fam)%256) — so every
    family forms a planted exact-duplicate cluster — hashed by
    multimodal.image_dhash (decode → 9×8 NN resample → right-neighbor
    comparisons → two 32-bit halves) and grouped by hash value. The
    whole chain is integer arithmetic, replayed closed-form by the
    oracle; n_same_hash counts hash-identical images (families, plus
    any cross-family gradient collisions — both engines see the same
    ones). The 8-byte signature is the image analog of X12's document
    fingerprint; near-dup search composes via Hamming bands (X3/X4
    machinery)."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_bmp(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                fam = did % 211
                w, h = 16 + fam % 9, 16 + fam % 7
                x = np.arange(w, dtype="int64")[None, :]
                y = np.arange(h, dtype="int64")[:, None]
                gray = ((x * 11 + y * 5 + fam) % 256).astype("u1")
                blobs.append(
                    multimodal.encode_bmp(np.repeat(gray[:, :, None], 3, axis=2))
                )
                ids.append(did)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_bmp, "media_id bigint, content binary")
    hashed = multimodal.image_dhash(media)
    wcnt = Window.partitionBy("dhash_hi", "dhash_lo")
    return (
        hashed.withColumn("n_same_hash", F.count(F.lit(1)).over(wcnt))
        .orderBy("media_id")
    )


EXT_IMAGE_DHASH_SQL = r"""
WITH fams AS (
  SELECT doc_id, doc_id % 211 AS fam,
         16 + (doc_id % 211) % 9 AS w, 16 + (doc_id % 211) % 7 AS h
  FROM documents
),
grid AS (
  SELECT f.doc_id, f.fam, gy.y, gx.x,
         CAST(FLOOR((gx.x + 0.5) * f.w / 9.0) AS BIGINT) AS sx,
         CAST(FLOOR((gy.y + 0.5) * f.h / 8.0) AS BIGINT) AS sy
  FROM fams f, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)
),
px AS (
  SELECT doc_id, y, x, (sx * 11 + sy * 5 + fam) % 256 AS g FROM grid
),
bits AS (
  SELECT a.doc_id, a.y, a.x,
         CASE WHEN a.g > b.g THEN 1 ELSE 0 END AS bit
  FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
  WHERE a.x < 8
),
halves AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN y < 4
                  THEN bit * (1::BIGINT << (31 - (y * 8 + x))) ELSE 0 END)
              AS BIGINT) AS dhash_hi,
         CAST(SUM(CASE WHEN y >= 4
                  THEN bit * (1::BIGINT << (31 - ((y - 4) * 8 + x))) ELSE 0 END)
              AS BIGINT) AS dhash_lo
  FROM bits GROUP BY doc_id
)
SELECT doc_id AS media_id, dhash_hi, dhash_lo,
       COUNT(*) OVER (PARTITION BY dhash_hi, dhash_lo) AS n_same_hash
FROM halves ORDER BY media_id
"""


EXT_QUERIES.update({"ext_image_dhash": ext_image_dhash})
EXT_ORACLES.update({"ext_image_dhash": EXT_IMAGE_DHASH_SQL})


# --- round-5 wave: audio silence profile, video scene cuts --------------------


def ext_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file audio silence profile via multimodal.audio_silence_stats
    (REAL RIFF/WAV decode, amplitude <= 0.1 counting): per document a
    PCM-8 WAV of n = 400+(id%7)*50 samples alternating closed-form
    silent wiggles (|x| = 4/128, inside the gate) and loud spans
    (|x| >= 20/128, outside) — the dead-air curation gate. Decoded
    8-bit samples are exact dyadic rationals (v-128)/128 and the 0.1
    threshold has no representable boundary case, so silent counts are
    pure integer arithmetic the oracle replays from the sample-index
    formula."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_wav(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 400 + (did % 7) * 50
                i = np.arange(n, dtype="int64")
                silent = (i + did) % 5 < 2
                v = np.where(
                    silent,
                    128 + ((i + did) % 3 - 1) * 4,
                    148 + (i * 13 + did) % 80,
                )
                # encode_wav pcm8 stores (s >> 8) + 128 — feed it the
                # int16-range value whose high byte is exactly v-128
                blobs.append(
                    multimodal.encode_wav((v - 128) << 8, 8000, "pcm8")
                )
                ids.append(did)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_wav, "media_id bigint, content binary")
    return multimodal.audio_silence_stats(media, threshold=0.1).orderBy("media_id")


EXT_AUDIO_SILENCE_SQL = r"""
WITH samples AS (
  SELECT d.doc_id,
         400 + (d.doc_id % 7) * 50 AS n,
         g.i,
         CASE WHEN (g.i + d.doc_id) % 5 < 2 THEN 1 ELSE 0 END AS silent
  FROM documents d, generate_series(0, 749) g(i)
  WHERE g.i < 400 + (d.doc_id % 7) * 50
)
SELECT doc_id AS media_id,
       CAST(MAX(n) AS BIGINT) AS n_samples,
       CAST(SUM(silent) AS BIGINT) AS n_silent,
       ROUND(SUM(silent) * 1.0 / MAX(n), 6) AS silence_ratio
FROM samples GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_audio_silence": ext_audio_silence})
EXT_ORACLES.update({"ext_audio_silence": EXT_AUDIO_SILENCE_SQL})


def ext_video_scene_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection via multimodal.video_scene_changes (REAL
    MJPEG-AVI container walk + baseline-JPEG frame decode): per document
    a video of 6+(id%5) DC-only constant frames in 3-frame scenes whose
    gray level steps by delta = 10+(id%3)*25 per scene (mod 256) — so
    some boundaries fall under the luma threshold 20 and some wrap past
    it, exercising both branches. DC-only frames decode BIT-EXACT (the
    pinned all-ones-quant-table contract), frame means are exact
    integers, and the oracle replays the cut decisions from the scene
    formula with LAG over a generated scene axis."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def make_avi(batches):
        import numpy as np

        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 6 + did % 5
                delta = 10 + (did % 3) * 25
                frames = []
                for f in range(n):
                    c = (did * 29 + (f // 3) * delta) % 256
                    frames.append(
                        multimodal.encode_jpeg(np.full((16, 16), c, np.uint8))
                    )
                blobs.append(multimodal.encode_avi_mjpeg(frames))
                ids.append(did)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = docs.mapInPandas(make_avi, "media_id bigint, content binary")
    return multimodal.video_scene_changes(media, threshold=20.0).orderBy("media_id")


EXT_VIDEO_SCENE_CHANGE_SQL = r"""
WITH scenes AS (
  SELECT d.doc_id,
         6 + d.doc_id % 5 AS n_frames,
         s.s,
         (d.doc_id * 29 + s.s * (10 + (d.doc_id % 3) * 25)) % 256 AS c
  FROM documents d, generate_series(0, 3) s(s)
  WHERE s.s <= (6 + d.doc_id % 5 - 1) / 3
),
diffs AS (
  SELECT doc_id, n_frames, s, c,
         ABS(c - LAG(c) OVER (PARTITION BY doc_id ORDER BY s)) AS dc
  FROM scenes
)
SELECT doc_id AS media_id,
       CAST(MAX(n_frames) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN dc >= 20 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scene_changes,
       CAST(MIN(CASE WHEN dc >= 20 THEN s * 3 END) AS BIGINT)
         AS first_change_idx
FROM diffs GROUP BY doc_id ORDER BY media_id
"""


EXT_QUERIES.update({"ext_video_scene_change": ext_video_scene_change})
EXT_ORACLES.update({"ext_video_scene_change": EXT_VIDEO_SCENE_CHANGE_SQL})


# --- round-5 wave: compaction planner -----------------------------------------


def ext_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction plan over the orders "manifest" (one
    file per order date, size = row count × 100 bytes proxy) via
    relational.plan_compaction: exclusive-cumsum streaming split into
    ~100 KB bins, preserving date clustering. The maintenance op every
    long-lived table needs — thousands of tiny incremental files
    re-planned into scan-efficient ones; the window runs on the O(days)
    manifest axis, never on data rows, and the plan would broadcast-join
    against the rewrite at scale."""
    orders = _t(spark, sf_dir, "orders")
    manifest = orders.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg((F.count(F.lit(1)) * 100).alias("size_bytes"))
    planned = relational.plan_compaction(manifest, "size_bytes", "d", 100_000)
    return (
        planned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_bytes").alias("total_bytes"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
        .orderBy("bin_id")
    )


EXT_COMPACTION_PLAN_SQL = r"""
WITH manifest AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) * 100 AS BIGINT) AS size_bytes
  FROM orders GROUP BY 1
),
planned AS (
  SELECT d, size_bytes,
         CAST(FLOOR(COALESCE(SUM(size_bytes) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 100000.0) AS BIGINT) AS bin_id
  FROM manifest
)
SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
       MIN(d) AS d_min, MAX(d) AS d_max
FROM planned GROUP BY bin_id ORDER BY bin_id
"""


EXT_QUERIES.update({"ext_compaction_plan": ext_compaction_plan})
EXT_ORACLES.update({"ext_compaction_plan": EXT_COMPACTION_PLAN_SQL})


# --- round-5 wave: two-sample + k-sample tests, ranking metrics ---------------


def ext_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing purchase vs error event
    values — the A/B primitive when variances differ (X212's pooled
    z-test assumes they don't). Means and variances come from exact
    integer-cent sums (S, SS as BIGINT — order-free), so t and the
    Welch–Satterthwaite df are single deterministic double expressions;
    significance gates |t| against 1.96 (normal approximation, valid at
    these df ≫ 30). One scan, one tiny agg — any scale."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.sum(cents * cents).alias("ss"),
        )
    )
    g = per.groupBy().pivot("event_type", ["purchase", "error"]).agg(
        F.first("n").alias("n"), F.first("s").alias("s"), F.first("ss").alias("ss")
    )
    n1, s1, ss1 = F.col("purchase_n"), F.col("purchase_s"), F.col("purchase_ss")
    n2, s2, ss2 = F.col("error_n"), F.col("error_s"), F.col("error_ss")
    m1, m2 = s1 / n1 / 100.0, s2 / n2 / 100.0
    v1 = (ss1 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n1) / (n1 - 1)
    v2 = (ss2 / 10000.0 - (s2 / 100.0) * (s2 / 100.0) / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)
    )
    return g.select(
        n1.alias("n_purchase"),
        n2.alias("n_error"),
        F.round(m1, 4).alias("mean_purchase"),
        F.round(m2, 4).alias("mean_error"),
        F.round(t, 4).alias("t_stat"),
        F.round(df_w, 2).alias("welch_df"),
        (F.abs(t) > 1.96).alias("significant"),
    )


EXT_WELCH_TTEST_SQL = r"""
WITH agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS ss
  FROM events WHERE event_type IN ('purchase', 'error') GROUP BY 1
),
wide AS (
  SELECT MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n1,
         MAX(CASE WHEN event_type = 'purchase' THEN s END) AS s1,
         MAX(CASE WHEN event_type = 'purchase' THEN ss END) AS ss1,
         MAX(CASE WHEN event_type = 'error' THEN n END) AS n2,
         MAX(CASE WHEN event_type = 'error' THEN s END) AS s2,
         MAX(CASE WHEN event_type = 'error' THEN ss END) AS ss2
  FROM agg
),
calc AS (
  SELECT n1, n2,
         s1 / n1 / 100.0 AS m1, s2 / n2 / 100.0 AS m2,
         (ss1 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / n1) / (n1 - 1) AS v1,
         (ss2 / 10000.0 - (s2 / 100.0) * (s2 / 100.0) / n2) / (n2 - 1) AS v2
  FROM wide
)
SELECT n1 AS n_purchase, n2 AS n_error,
       ROUND(m1, 4) AS mean_purchase, ROUND(m2, 4) AS mean_error,
       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 4) AS t_stat,
       ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2) AS welch_df,
       ABS((m1 - m2) / SQRT(v1 / n1 + v2 / n2)) > 1.96 AS significant
FROM calc
"""


EXT_QUERIES.update({"ext_welch_ttest": ext_welch_ttest})
EXT_ORACLES.update({"ext_welch_ttest": EXT_WELCH_TTEST_SQL})


def ext_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis k-sample rank test (does l_quantity's distribution
    differ across return flags?) — the nonparametric ANOVA, computed
    WINDOW-FREE at data scale: l_quantity has ~50 distinct integer
    values, so ranks collapse to the value-level margin (avg rank per
    value = exclusive-cum-count + (count+1)/2 over the O(values) axis),
    group rank sums are one join against that map, and the tie
    correction comes from the same margin. All counts are integers; H
    and the tie-corrected H_c are deterministic doubles rounded at 4.
    The same collapsed-marginal trick as X257 Spearman — never a global
    sort."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    margin = li.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = margin.withColumn(
        "avg_rank",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)) + (F.col("cnt") + 1) / 2.0,
    )
    per_gv = li.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("gcnt"))
    rsums = (
        per_gv.join(F.broadcast(ranks.select("v", "avg_rank")), "v")
        .groupBy("grp")
        .agg(
            F.sum("gcnt").alias("n_j"),
            F.sum(F.col("gcnt") * F.col("avg_rank")).alias("r_j"),
        )
    )
    totals = margin.agg(
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("cnt").cast("double") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        ).alias("tie_sum"),
    )
    h = (
        rsums.crossJoin(F.broadcast(totals))
        .groupBy("n", "tie_sum")
        .agg(
            F.count(F.lit(1)).alias("k_groups"),
            F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j")).alias("rr"),
        )
    )
    n = F.col("n")
    h_stat = 12.0 / (n * (n + 1)) * F.col("rr") - 3.0 * (n + 1)
    c = 1.0 - F.col("tie_sum") / (n.cast("double") * n * n - n)
    return h.select(
        n.cast("long").alias("n"),
        F.col("k_groups"),
        F.round(h_stat, 4).alias("h"),
        F.round(h_stat / c, 4).alias("h_tie_corrected"),
        # chi2 critical value at df = k-1 = 2, alpha 0.05
        ((h_stat / c) > 5.991).alias("significant"),
    )


EXT_KRUSKAL_WALLIS_SQL = r"""
WITH li AS (
  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v FROM lineitem
),
margin AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY v),
ranks AS (
  SELECT v, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (cnt + 1) / 2.0 AS avg_rank
  FROM margin
),
per_gv AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS gcnt FROM li GROUP BY 1, 2),
rsums AS (
  SELECT g.grp, SUM(g.gcnt) AS n_j, SUM(g.gcnt * r.avg_rank) AS r_j
  FROM per_gv g JOIN ranks r ON g.v = r.v GROUP BY g.grp
),
totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         SUM(CAST(cnt AS DOUBLE) * cnt * cnt - cnt) AS tie_sum
  FROM margin
),
calc AS (
  SELECT t.n, t.tie_sum, COUNT(*) AS k_groups,
         SUM(r.r_j * r.r_j / r.n_j) AS rr
  FROM rsums r CROSS JOIN totals t GROUP BY t.n, t.tie_sum
)
SELECT CAST(n AS BIGINT) AS n, CAST(k_groups AS BIGINT) AS k_groups,
       ROUND(12.0 / (n * (n + 1)) * rr - 3.0 * (n + 1), 4) AS h,
       ROUND((12.0 / (n * (n + 1)) * rr - 3.0 * (n + 1))
             / (1.0 - tie_sum / (CAST(n AS DOUBLE) * n * n - n)), 4)
         AS h_tie_corrected,
       (12.0 / (n * (n + 1)) * rr - 3.0 * (n + 1))
         / (1.0 - tie_sum / (CAST(n AS DOUBLE) * n * n - n)) > 5.991
         AS significant
FROM calc
"""


EXT_QUERIES.update({"ext_kruskal_wallis": ext_kruskal_wallis})
EXT_ORACLES.update({"ext_kruskal_wallis": EXT_KRUSKAL_WALLIS_SQL})


def ext_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    retrieval/imbalanced-eval companion to X243's AUC): users ranked by
    total activity value (exact integer cents), positives = users who
    ever hit an error event. AP = mean over positives of
    precision@their-rank; P@50 alongside. The ranking window runs over
    the AGGREGATED user axis (O(users), like X87's segment ranking),
    never raw events; scores and cum-counts are integers, the final
    division is one deterministic double."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    per = ev.groupBy("user_id").agg(
        F.sum(cents).alias("score"),
        F.max((F.col("event_type") == "error").cast("int")).alias("label"),
    )
    wr = Window.orderBy(F.col("score").desc(), F.col("user_id"))
    ranked = per.withColumn("k", F.row_number().over(wr)).withColumn(
        "cum_pos", F.sum("label").over(wr.rowsBetween(Window.unboundedPreceding, 0))
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("label").alias("n_pos"),
        F.round(
            F.sum(
                F.when(
                    F.col("label") == 1,
                    F.col("cum_pos").cast("double") / F.col("k"),
                ).otherwise(0.0)
            )
            / F.sum("label"),
            6,
        ).alias("average_precision"),
        F.round(
            F.max(F.when(F.col("k") == 50, F.col("cum_pos"))).cast("double") / 50.0,
            6,
        ).alias("p_at_50"),
    )


EXT_AVERAGE_PRECISION_SQL = r"""
WITH per AS (
  SELECT user_id,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS score,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS label
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT label,
         ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS k,
         SUM(label) OVER (ORDER BY score DESC, user_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
  FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(label) AS BIGINT) AS n_pos,
       ROUND(SUM(CASE WHEN label = 1 THEN CAST(cum_pos AS DOUBLE) / k
                      ELSE 0.0 END) / SUM(label), 6) AS average_precision,
       ROUND(CAST(MAX(CASE WHEN k = 50 THEN cum_pos END) AS DOUBLE) / 50.0, 6)
         AS p_at_50
FROM ranked
"""


EXT_QUERIES.update({"ext_average_precision": ext_average_precision})
EXT_ORACLES.update({"ext_average_precision": EXT_AVERAGE_PRECISION_SQL})


def ext_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 from a full k×k confusion matrix —
    the multi-class eval report every labeling pipeline ends with. The
    "classifier" is a deterministic stand-in (predicted class = sorted
    class list indexed by value-cents mod k) so the matrix is replayable
    in SQL; the shape is the real one: one scan builds the k×k count
    matrix, per-class metrics are conditional sums over it (k ≤ dozens —
    driver-safe aggregate), and ratios round at 6 from integer counts."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("actual"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    types = (
        ev.select("actual").distinct()
        .withColumn("idx", F.row_number().over(Window.orderBy("actual")) - 1)
    )
    k = types.count()
    pred = ev.withColumn("pidx", F.pmod(F.col("cents"), F.lit(k))).join(
        F.broadcast(types.select(F.col("idx").alias("pidx"), F.col("actual").alias("predicted"))),
        "pidx",
    )
    cm = pred.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("cnt"))
    classes = types.select(F.col("actual").alias("cls"))
    per = (
        classes.join(cm, how="cross")
        .groupBy("cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("actual") == F.col("cls"))
                    & (F.col("predicted") == F.col("cls")),
                    F.col("cnt"),
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("predicted") == F.col("cls"))
                    & (F.col("actual") != F.col("cls")),
                    F.col("cnt"),
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("actual") == F.col("cls"))
                    & (F.col("predicted") != F.col("cls")),
                    F.col("cnt"),
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    prec = F.col("tp") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp") / (F.col("tp") + F.col("fn"))
    return per.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(2 * prec * rec / (prec + rec), 6).alias("f1"),
    ).orderBy("cls")


EXT_CLASSIFIER_METRICS_SQL = r"""
WITH ev AS (
  SELECT event_type AS actual,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
types AS (
  SELECT actual, ROW_NUMBER() OVER (ORDER BY actual) - 1 AS idx
  FROM (SELECT DISTINCT actual FROM ev)
),
k AS (SELECT COUNT(*) AS k FROM types),
pred AS (
  SELECT e.actual, t.actual AS predicted
  FROM ev e CROSS JOIN k
  JOIN types t ON t.idx = e.cents % k.k
),
cm AS (SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM pred GROUP BY 1, 2),
per AS (
  SELECT c.actual AS cls,
         CAST(SUM(CASE WHEN m.actual = c.actual AND m.predicted = c.actual
                       THEN m.cnt ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN m.predicted = c.actual AND m.actual <> c.actual
                       THEN m.cnt ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN m.actual = c.actual AND m.predicted <> c.actual
                       THEN m.cnt ELSE 0 END) AS BIGINT) AS fn
  FROM types c CROSS JOIN cm m GROUP BY 1
)
SELECT cls, tp, fp, fn,
       ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
       ROUND(2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
                 * (CAST(tp AS DOUBLE) / (tp + fn))
             / (CAST(tp AS DOUBLE) / (tp + fp)
                + CAST(tp AS DOUBLE) / (tp + fn)), 6) AS f1
FROM per ORDER BY cls
"""


EXT_QUERIES.update({"ext_classifier_metrics": ext_classifier_metrics})
EXT_ORACLES.update({"ext_classifier_metrics": EXT_CLASSIFIER_METRICS_SQL})


# --- round-5 wave: link prediction, duplicate-column audit, PVM ---------------


def ext_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the customer–part bipartite
    graph: two customers are candidate neighbors when they bought the
    same part, weighted 1/ln(part degree) so rare parts count more —
    the co-purchase recommender primitive. Scale discipline: only
    DISCRIMINATIVE parts expand into pairs — those within 4 of the
    corpus's minimum part degree, a guard that (r3 lesson) SCALES WITH
    THE CORPUS instead of hard-coding a band the data outgrows — so
    fan-out per part is bounded, linear in parts; pair expansion is
    row-local over collect_set (no data-keyed self-join). Per-part
    weights are
    quantized to integer micro-units BEFORE summing (floor(1e9/ln d) —
    exact BIGINT adds in any order); top-200 by (score, pair) is a
    TakeOrderedAndProject."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_partkey").alias("part"), F.col("o_custkey").alias("cust"))
        .distinct()
    )
    # r12: `degs` feeds both the min-degree scalar and the pair
    # expansion; un-materialized, the join+distinct+collect_set pipeline
    # ran twice. DISK_ONLY persist (per-part customer arrays are
    # data-proportional).
    degs = share(
        cp.groupBy("part").agg(
            F.sort_array(F.collect_set("cust")).alias("custs"),
            F.countDistinct("cust").alias("deg"),
        ).filter(F.col("deg") >= 2),
        big=True,
    )
    lo = degs.agg(F.min("deg").alias("min_deg"))
    parts = degs.crossJoin(F.broadcast(lo)).filter(
        F.col("deg") <= F.col("min_deg") + 4
    )
    w_micro = F.floor(F.lit(1e9) / F.log(F.col("deg").cast("double"))).cast("long")
    pairs = parts.select(
        w_micro.alias("w"),
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("custs"),
                        lambda a: F.transform(
                            F.col("custs"), lambda b: F.struct(a.alias("u1"), b.alias("u2"))
                        ),
                    )
                ),
                lambda s: s.u1 < s.u2,
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.u1").alias("u1"), F.col("p.u2").alias("u2"))
        .agg(F.sum("w").alias("aa_micro"), F.count(F.lit(1)).alias("n_shared"))
        .orderBy(F.col("aa_micro").desc(), "u1", "u2")
        .limit(200)
    )


EXT_ADAMIC_ADAR_SQL = r"""
WITH cp AS (
  SELECT DISTINCT l.l_partkey AS part, o.o_custkey AS cust
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
degs AS (
  SELECT part, COUNT(*) AS deg FROM cp GROUP BY part
  HAVING COUNT(*) >= 2
),
lo AS (SELECT MIN(deg) AS min_deg FROM degs),
kept AS (SELECT d.part, d.deg FROM degs d CROSS JOIN lo
         WHERE d.deg <= lo.min_deg + 4),
pairs AS (
  SELECT a.cust AS u1, b.cust AS u2,
         CAST(FLOOR(1000000000.0 / LN(d.deg)) AS BIGINT) AS w
  FROM cp a
  JOIN cp b ON a.part = b.part AND a.cust < b.cust
  JOIN kept d ON d.part = a.part
)
SELECT u1, u2, CAST(SUM(w) AS BIGINT) AS aa_micro,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM pairs GROUP BY u1, u2
ORDER BY aa_micro DESC, u1, u2 LIMIT 200
"""


EXT_QUERIES.update({"ext_adamic_adar": ext_adamic_adar})
EXT_ORACLES.update({"ext_adamic_adar": EXT_ADAMIC_ADAR_SQL})


def ext_duplicate_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-column audit — the schema-hygiene sweep that catches
    redundant copies before they double storage and skew feature
    pipelines: every audited column collapses to an order-free
    multiset fingerprint (BIT_XOR of a 60-bit md5 print + a 31-bit-sum
    + row count, so XOR's pair-cancellation blind spot is covered), and
    columns with identical fingerprints report as duplicate pairs. Two
    copies are planted (order key and status); both engines hash the
    same canonical string forms (BIGINT/VARCHAR columns only — no
    float formatting divergence). One scan over the unpivoted frame,
    O(columns) state."""
    orders = _t(spark, sf_dir, "orders")
    audited = orders.select(
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        F.col("o_custkey").cast("string").alias("o_custkey"),
        F.col("o_orderstatus").alias("o_orderstatus"),
        F.col("o_orderpriority").alias("o_orderpriority"),
        F.col("o_orderkey").cast("string").alias("key_copy"),
        F.col("o_orderstatus").alias("status_copy"),
    )
    cols = audited.columns
    stack_expr = "stack({}, {}) as (col_name, val)".format(
        len(cols), ", ".join(f"'{c}', `{c}`" for c in cols)
    )
    long = audited.selectExpr(stack_expr).withColumn(
        "h",
        F.conv(F.substring(F.md5(F.coalesce(F.col("val"), F.lit("␀"))), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    fps = long.groupBy("col_name").agg(
        F.expr("bit_xor(h)").alias("xor_fp"),
        F.sum(F.col("h") % 2147483647).alias("sum_fp"),
        F.count(F.lit(1)).alias("n"),
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.xor_fp") == F.col("b.xor_fp"))
            & (F.col("a.sum_fp") == F.col("b.sum_fp"))
            & (F.col("a.n") == F.col("b.n"))
            & (F.col("a.col_name") < F.col("b.col_name")),
        )
        .select(
            F.col("a.col_name").alias("col_a"),
            F.col("b.col_name").alias("col_b"),
            F.col("a.n").alias("n_rows"),
        )
        .orderBy("col_a", "col_b")
    )


EXT_DUPLICATE_COLUMNS_SQL = r"""
WITH long AS (
  SELECT col_name, val FROM (
    SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
           CAST(o_custkey AS VARCHAR) AS o_custkey,
           o_orderstatus, o_orderpriority,
           CAST(o_orderkey AS VARCHAR) AS key_copy,
           o_orderstatus AS status_copy
    FROM orders
  ) UNPIVOT (val FOR col_name IN (
    o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
    key_copy, status_copy))
),
hashed AS (
  SELECT col_name,
         CAST(('0x' || SUBSTR(md5(COALESCE(val, '␀')), 1, 15))::UBIGINT
              AS BIGINT) AS h
  FROM long
),
fps AS (
  SELECT col_name, BIT_XOR(h) AS xor_fp,
         CAST(SUM(h % 2147483647) AS BIGINT) AS sum_fp,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM hashed GROUP BY col_name
)
SELECT a.col_name AS col_a, b.col_name AS col_b, a.n AS n_rows
FROM fps a JOIN fps b
  ON a.xor_fp = b.xor_fp AND a.sum_fp = b.sum_fp AND a.n = b.n
 AND a.col_name < b.col_name
ORDER BY col_a, col_b
"""


EXT_QUERIES.update({"ext_duplicate_columns": ext_duplicate_columns})
EXT_ORACLES.update({"ext_duplicate_columns": EXT_DUPLICATE_COLUMNS_SQL})


def ext_pvm_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price–volume–mix decomposition of year-over-year revenue change
    (1996 → 1997) per return flag — the finance-classic bridge report:
    price effect = (p2−p1)·q1, volume effect = p1·(q2−q1), and the
    cross/mix residual closes the bridge exactly. Revenue aggregates as
    exact integer cents (per-row FLOOR of the discounted price — both
    engines compute the identical double product first), quantities as
    BIGINT; every effect is then a deterministic double expression of
    those integers, rounded at 2. One scan, O(flags) state."""
    li = _t(spark, sf_dir, "lineitem")
    rev_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    yr = F.year("l_shipdate")
    per = (
        li.filter(yr.isin(1996, 1997))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(yr == 1996, rev_cents).otherwise(0)).alias("r1"),
            F.sum(F.when(yr == 1996, F.col("l_quantity").cast("long")).otherwise(0)).alias("q1"),
            F.sum(F.when(yr == 1997, rev_cents).otherwise(0)).alias("r2"),
            F.sum(F.when(yr == 1997, F.col("l_quantity").cast("long")).otherwise(0)).alias("q2"),
        )
    )
    p1 = F.col("r1") / 100.0 / F.col("q1")
    p2 = F.col("r2") / 100.0 / F.col("q2")
    total = (F.col("r2") - F.col("r1")) / 100.0
    price_eff = (p2 - p1) * F.col("q1")
    vol_eff = p1 * (F.col("q2") - F.col("q1"))
    return per.select(
        "l_returnflag",
        F.col("q1"),
        F.col("q2"),
        F.round(total, 2).alias("total_change"),
        F.round(price_eff, 2).alias("price_effect"),
        F.round(vol_eff, 2).alias("volume_effect"),
        F.round(total - price_eff - vol_eff, 2).alias("mix_effect"),
    ).orderBy("l_returnflag")


EXT_PVM_DECOMPOSITION_SQL = r"""
WITH per AS (
  SELECT l_returnflag,
         CAST(SUM(CASE WHEN YEAR(l_shipdate) = 1996 THEN
           CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS r1,
         CAST(SUM(CASE WHEN YEAR(l_shipdate) = 1996
           THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN YEAR(l_shipdate) = 1997 THEN
           CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
           ELSE 0 END) AS BIGINT) AS r2,
         CAST(SUM(CASE WHEN YEAR(l_shipdate) = 1997
           THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q2
  FROM lineitem
  WHERE YEAR(l_shipdate) IN (1996, 1997)
  GROUP BY l_returnflag
)
SELECT l_returnflag, q1, q2,
       ROUND((r2 - r1) / 100.0, 2) AS total_change,
       ROUND((r2 / 100.0 / q2 - r1 / 100.0 / q1) * q1, 2) AS price_effect,
       ROUND(r1 / 100.0 / q1 * (q2 - q1), 2) AS volume_effect,
       ROUND((r2 - r1) / 100.0
             - (r2 / 100.0 / q2 - r1 / 100.0 / q1) * q1
             - r1 / 100.0 / q1 * (q2 - q1), 2) AS mix_effect
FROM per ORDER BY l_returnflag
"""


EXT_QUERIES.update({"ext_pvm_decomposition": ext_pvm_decomposition})
EXT_ORACLES.update({"ext_pvm_decomposition": EXT_PVM_DECOMPOSITION_SQL})
