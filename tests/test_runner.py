"""The query runner (scripts/run_queries.py) and bench.py's final line."""

import json
import os
import sys
import time

import pytest
from pyspark import StorageLevel

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from run_queries import rebuild_keys, run_queries, warm_up  # noqa: E402

from aircan_spark import frames  # noqa: E402
from aircan_spark.queries import QUERIES  # noqa: E402


@pytest.fixture(scope="module")
def warm(spark, sf_dir):
    warm_up(spark, sf_dir)  # every table's schema-inference job runs here


def test_construct_jobs_derive_the_rebuild_set(spark, sf_dir, warm):
    recs = run_queries(spark, ["q03_max_coalesce", "ext_bfs"], sf_dir, passes=2)
    lazy, eager = recs["q03_max_coalesce"], recs["ext_bfs"]
    assert lazy["status"] == eager["status"] == "ok"
    assert lazy["construct_jobs"] == 0 and not lazy["scans_rdd"]
    assert eager["construct_jobs"] > 0 and eager["scans_rdd"]
    assert rebuild_keys(recs) == ["ext_bfs"]
    for rec in recs.values():
        assert [p["sink"] for p in rec["passes"]] == ["noop", "noop"]
        assert all(p["jobs"] > 0 and p["tasks"] > 0 for p in rec["passes"])


def test_a_raising_key_is_recorded_and_the_next_runs(spark, sf_dir, monkeypatch):
    def broken(spark, sf_dir):
        raise ValueError("no such column")

    monkeypatch.setitem(QUERIES, "fake_broken", broken)
    recs = run_queries(spark, ["fake_broken", "q03_max_coalesce"], sf_dir)
    assert recs["fake_broken"]["status"] == "error"
    assert "ValueError: no such column" in recs["fake_broken"]["error"]
    assert recs["q03_max_coalesce"]["status"] == "ok"
    assert len(recs["q03_max_coalesce"]["passes"]) == 1


def test_over_budget_key_times_out_and_restores_the_callers_group(spark, sf_dir, monkeypatch):
    def slow(spark, sf_dir):
        def sleepy(batches):
            for b in batches:
                time.sleep(60)
                yield b

        return spark.range(2, numPartitions=1).mapInPandas(sleepy, "id long")

    monkeypatch.setitem(QUERIES, "fake_slow", slow)
    sc = spark.sparkContext
    sc.setJobGroup("the-caller", "caller's jobs")
    try:
        t0 = time.perf_counter()
        recs = run_queries(spark, ["fake_slow"], sf_dir, budget_s=2)
        assert time.perf_counter() - t0 < 45
        assert recs["fake_slow"]["status"] == "timeout"
        assert sc.getLocalProperty("spark.jobGroup.id") == "the-caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's jobs"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def test_a_frame_shared_in_fn_is_released_when_the_key_ends(spark, sf_dir, monkeypatch):
    held = []

    def sharing(spark, sf_dir):
        base = frames.share(spark.range(1000).selectExpr("id", "id % 7 AS k"))
        base.count()
        held.append(base)
        return base.groupBy("k").count()

    monkeypatch.setitem(QUERIES, "fake_sharing", sharing)
    recs = run_queries(spark, ["fake_sharing"], sf_dir, passes=2)
    assert recs["fake_sharing"]["status"] == "ok"
    assert recs["fake_sharing"]["construct_jobs"] > 0
    assert held[0].storageLevel == StorageLevel.NONE
    assert recs["fake_sharing"]["residue_rdds"] == 0


def test_collect_adds_its_fields_and_the_result_scope_is_released(spark, sf_dir, warm):
    seen = {}

    def collect(key, df):
        seen[key] = df
        return {"rows": len(df)}

    recs = run_queries(spark, ["q02_row_number"], sf_dir, passes=0, collect=collect)
    rec = recs["q02_row_number"]
    assert [p["sink"] for p in rec["passes"]] == ["pandas"]
    assert rec["rows"] == len(seen["q02_row_number"]) > 0
    # q02 is @result_scope: its numbering persist goes with the result
    assert rec["residue_rdds"] == 0


def test_udf_key_runs_with_another_working_directory(tmp_path, sf_dir):
    """Python workers import aircan_spark for a UDF key; the runner puts
    the checkout on their path, wherever it is started from."""
    import subprocess

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = tmp_path / "run.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_queries.py"), sf_dir,
         "--keys", "ext_image_dhash", "--cores", "2", "--out", str(out)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    rec = json.loads(out.read_text())["runs"][0]["queries"]["ext_image_dhash"]
    assert rec["status"] == "ok", rec.get("error", "")[-2000:]
    assert proc.returncode == 0, proc.stdout[-2000:]


def test_bench_summary_line_fits_474_keys_with_five_digit_timings():
    sys.path.insert(0, REPO)
    from bench import summary_line

    cold = {f"ext_synthetic_key_number_{i:03d}": 12345.678 + i for i in range(474)}
    summary = {
        "metric": "suite_seconds",
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        "n_queries": len(cold),
        "mode": "cold+warm",
        "warm": 54321.123,
        "calib": 0.345,
        "calib_post": 0.351,
        "n_retimed": 20,
        "top5": dict(sorted(cold.items(), key=lambda kv: -kv[1])[:5]),
        "sf": 0.1,
    }
    line = summary_line(summary, cold, list(cold)[:50])
    assert len(line) <= 1950
    parsed = json.loads(line)
    for field, value in summary.items():
        assert parsed[field] == value
