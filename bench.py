#!/usr/bin/env python
"""Benchmark harness — runs the declared query suite and prints ONE JSON line.

    SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default 32)
    SPARK_GRAFT_WARM     warm pass is ON by default: the suite runs twice
                         and the warm pass (plans compiled, JIT hot — the
                         steady-state number a long-lived cluster session
                         sees) is reported alongside cold. Set "0" to run
                         cold-only.

Each query is forced end-to-end with a noop sink (full computation, no
driver collect bottleneck) by scripts/run_queries.py. The final stdout
line is a SHORT parseable JSON summary (r01 lesson: a 115-key inline map
overflowed the driver's tail capture -> parsed:null); the full per-query
maps, and the runner's per-query record (construction jobs, jobs and
tasks per pass, residue), go to bench_queries.json next to this file.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "scripts"))


def summary_line(summary: dict, cold: dict[str, float], sample_keys: list[str]) -> str:
    """The SHORT final line: the driver tail-captures the LAST 2000 chars
    of stdout and parses the final JSON line within them (r01 lesson: a
    full 474-key inline map is ~12 KB, left-truncates, parsed:null).
    "queries" carries the cold seconds of ``sample_keys`` (the
    driver-declared sample: the first 50 registry entries, the exact set
    CORRECTNESS_r* hash-checks every round; stable keys, so cross-round
    per-query ratios are computable), rounded to 0.01 s with compact
    separators. A hard length guard drops precision and then the map
    itself before ever risking a >2000-char line: the suite totals must
    always parse."""
    for ndigits in (2, 1):
        candidate = dict(summary)
        candidate["queries"] = {
            k: round(cold[k], ndigits) for k in sample_keys if k in cold
        }
        encoded = json.dumps(candidate, separators=(",", ":"))
        if len(encoded) <= 1950:
            return encoded
    return json.dumps(summary, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as F
    from run_queries import rebuild_keys, run_queries, warm_up

    from aircan_spark.queries import QUERIES
    from aircan_spark.session import get_spark

    spark = get_spark(
        app_name="aircan_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    # Host-noise calibration probe (r4 verdict #4): a FIXED trivial query
    # (1M-row range -> 101-key hash agg -> noop sink, 9 reps) whose cost is
    # pure Spark-stack scheduling + one small shuffle — invariant across
    # rounds by construction. Run before AND after the suite; the medians
    # let any cross-round comparison be normalized for boot-to-boot noise
    # (r3 vs r4 showed 2-20x swings on identical code).
    def _calibration() -> dict[str, float]:
        reps = []
        for _ in range(9):
            t0 = time.perf_counter()
            (
                spark.range(1_000_000, numPartitions=int(cpus))
                .groupBy((F.col("id") % 101).alias("k"))
                .count()
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            reps.append(time.perf_counter() - t0)
        reps.sort()
        return {
            "median_s": round(reps[4], 3),
            "min_s": round(reps[0], 3),
            "max_s": round(reps[-1], 3),
        }

    def _run(keys: list[str], passes: int) -> dict[str, dict]:
        # the timing contract: a failing query fails the bench
        records = run_queries(spark, keys, sf_dir, passes=passes)
        failed = {k: r["error"] for k, r in records.items() if r["status"] != "ok"}
        if failed:
            raise RuntimeError(f"queries failed: {failed}")
        return records

    def _cold(rec: dict) -> float:
        return round(rec["construct_s"] + rec["passes"][0]["s"], 3)

    calibration_pre = _calibration()

    # Warm pass is ON by default (r5 verdict #6: the per-round artifact
    # must carry cold AND warm in the parsed block — r5's driver run left
    # warm_total null because warm was opt-in). SPARK_GRAFT_WARM=0 skips
    # it for quick local iteration. Warm = the second pass over the SAME
    # DataFrame: analyzed/optimized plan reused, JIT hot — the
    # steady-state cost a long-lived session pays.
    warm_mode = os.environ.get("SPARK_GRAFT_WARM", "1") != "0"
    records = _run(list(QUERIES), 2 if warm_mode else 1)
    cold = {k: _cold(r) for k, r in records.items()}
    warm: dict[str, float] | None = (
        {k: round(r["passes"][1]["s"], 3) for k, r in records.items()} if warm_mode else None
    )
    # Headline stays the COLD total for cross-round comparability with
    # r1-r5 and BASELINE; warm rides alongside.
    timings = cold

    # Standalone-warm for the keys whose fn() ran Spark jobs or returned a
    # plan over a checkpoint: the same-DataFrame warm number above reuses
    # that work and understates a from-scratch re-run. Rebuild via fn() a
    # second time (JIT hot, files cached, checkpoints re-materialized and
    # Catalyst re-run) — the honest steady-state number (r03 verdict #4).
    warm_rebuild: dict[str, float] | None = None
    if warm_mode:
        warm_rebuild = {k: _cold(r) for k, r in _run(rebuild_keys(records), 1).items()}

    calibration_post = _calibration()

    # Self-documenting noise protocol (r10 VERDICT #5): the r10 artifact
    # carried ~15 apparent 3-6x warm regressions from a measured mid-run
    # VM degradation window, and both the builder and the judge had to
    # re-derive the adjudication by hand. Now the artifact adjudicates
    # itself: when the calibration probe shows drift (post/pre medians
    # diverging >2x, or either probe's own max >2x its median — the r10
    # signature was a 1.30s singleton against a 0.34s median), every
    # warm outlier (> max(1s, 3x suite median warm)) is re-timed
    # STANDALONE after the suite, with a fresh calibration singleton
    # alongside, and both numbers land in ab_retimes. A future reader
    # compares in_run_warm vs retime_warm directly: noise shows up as
    # retime << in-run, a real regression persists.
    ab_retimes: dict[str, dict] = {}
    calibration_retime = None
    if warm_mode and warm:
        pre_m, post_m = calibration_pre["median_s"], calibration_post["median_s"]
        drift = (
            post_m > 2 * pre_m
            or pre_m > 2 * post_m
            or calibration_pre["max_s"] > 2 * pre_m
            or calibration_post["max_s"] > 2 * post_m
        )
        if drift:
            med_warm = sorted(warm.values())[len(warm) // 2]
            flagged = [
                n for n, w in warm.items() if w > max(1.0, 3 * med_warm)
            ]
            flagged = sorted(flagged, key=lambda n: -warm[n])[:20]
            calibration_retime = _calibration()
            for name, rec in _run(flagged, 2).items():
                ab_retimes[name] = {
                    "in_run_warm": warm[name],
                    "retime_cold": _cold(rec),
                    "retime_warm": round(rec["passes"][1]["s"], 3),
                }

    total = round(sum(timings.values()), 3)
    top = sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    with open(os.path.join(HERE, "bench_queries.json"), "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "cpus": int(cpus),
                "mode": "cold+warm" if warm_mode else "cold",
                "cold_total": round(sum(cold.values()), 3),
                "warm_total": round(sum(warm.values()), 3) if warm else None,
                "warm_rebuild": warm_rebuild,
                "calibration_pre": calibration_pre,
                "calibration_post": calibration_post,
                "calibration_retime": calibration_retime,
                "ab_retimes": ab_retimes,
                "queries": cold,
                "queries_warm": warm,
                "records": records,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    summary = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "mode": "cold+warm" if warm_mode else "cold",
        "warm": round(sum(warm.values()), 3) if warm else None,
        "calib": calibration_pre["median_s"],
        "calib_post": calibration_post["median_s"],
        "n_retimed": len(ab_retimes),
        "top5": {k: v for k, v in top},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(summary_line(summary, cold, list(QUERIES)[:50]))


if __name__ == "__main__":
    main()
