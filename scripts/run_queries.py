#!/usr/bin/env python
"""The one loop that runs registry queries, as a library and a CLI.

``run_queries(spark, keys, sf_dir)`` builds each key's query inside one
``frames.scope()`` under the key's own Spark job group, forces it through
the noop sink ``passes`` times (and, given ``collect``, once more into
pandas), and records per key:

- ``construct_s`` and ``construct_jobs``: the driver time of ``fn()`` and
  the Spark jobs it ran (eager checkpoints, collected scalars);
- ``scans_rdd``: the returned plan scans a checkpointed RDD
  (``LogicalRDD``);
- ``passes``: each pass's ``sink``, ``s``, ``jobs`` and ``tasks``;
- ``residue_rdds`` / ``residue_mb``: RDDs first persisted during the key
  that are still persisted once its scope has closed;
- ``status``: ``ok``, ``error`` (with ``error``) or ``timeout``.

A failing key is recorded and the loop moves on. A key over ``budget_s``
has its job group cancelled by a watchdog thread and is recorded as a
timeout. A re-run of the same DataFrame skips what ``fn()`` ran or
checkpointed; ``rebuild_keys`` names those keys, and bench.py times them
again through ``fn()``.

Progress goes to stderr, one line per key. CLI (``--help`` for the
flags): the summary is the last stdout line; exit status 1 on any error,
timeout or divergence, or when more than 5 MB stays persisted after the
final drain:

    # whole-registry smoke, budget per key, heavy tier last
    python scripts/run_queries.py /tmp/sf10eq_salted --shuffle 256 --budget 600 --out SMOKE.json
    # the heavy tier alone (the 100x rung)
    python scripts/run_queries.py /tmp/sf10eq_salted --keys heavy --shuffle 256
    # session endurance: back to back, per-key residue
    python scripts/run_queries.py /tmp/sf1eq --keys always
    # scale curve: the last pass's ratio per key, second dir over first
    python scripts/run_queries.py testdata/sf0.1 /tmp/sf1eq --passes 2 --keys ext_hits ext_gini
    # partition determinism: results under local[5] and local[32] bit-compared
    python scripts/run_queries.py testdata/sf0.01 --cores 5 --cores 32
    # construct / first / second split per key
    python scripts/run_queries.py testdata/sf0.1 --passes 2 --keys q01_scan_project
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import threading
import time
from collections.abc import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
# Python workers import aircan_spark (the UDF keys) from their PYTHONPATH,
# which the session inherits from this process when it starts
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

# The heavy tier at 100x (salted sf10-equivalent): candidate-volume
# quadratics, overflow-fixed moments, ANN, sketch dedup, the graph/CC
# family. A full-registry run puts it last so the cheap keys finish first.
HEAVY = [
    "ext_tfidf_cosine_pairs", "ext_fs_linkage", "ext_dup_threshold_curve",
    "ext_dedup_ngram_jaccard", "ext_pareto_knee", "ext_hoover_index",
    "ext_western_electric", "ext_sax_motifs", "ext_wilcoxon_signed_rank",
    "ext_sim_topk_brute", "ext_sim_topk_lsh", "ext_sim_topk_ivf",
    "ext_sim_topk_pq", "ext_sim_topk_ivfpq", "ext_dedup_embedding_lsh",
    "ext_dedup_minhash", "ext_dedup_simhash", "ext_image_near_dup",
    "ext_theil_sen", "ext_hits", "ext_pagerank",
    "ext_cluster_size_histogram", "ext_dedup_groups",
    "ext_dedup_groups_star", "ext_entity_clusters",
]
# The iterative / checkpoint-backed keys whose persisted frames once
# starved later queries of a long session: the endurance tier.
ALWAYS = [
    "ext_dedup_groups", "ext_dedup_groups_star", "ext_entity_clusters",
    "ext_hits", "ext_dedup_embedding_lsh", "ext_dedup_minhash",
    "ext_dedup_ngram_jaccard", "ext_sim_topk_lsh", "ext_sim_topk_ivf",
    "ext_sim_topk_ivfpq", "ext_pca_power", "ext_communities",
    "ext_theil_sen",
]
TIERS = {"heavy": HEAVY, "always": ALWAYS}
# persisted bytes a whole run may leave after the final GC drain
RESIDUE_BUDGET_MB = 5.0
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def warm_up(spark, sf_dir: str) -> None:
    """Load every table once (its schema-inference job runs here, once per
    session), warm the JVM and the file cache, and start one Python worker
    per core (long-lived on a cluster): the first key to read a table then
    measures its operator, not start-up."""
    from aircan_spark.data import TABLES, load_table

    def _noop_batches(it):  # nested: pickled by value, workers need not import this file
        yield from it

    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            load_table(spark, sf_dir, name)
    load_table(spark, sf_dir, "lineitem").count()
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4, numPartitions=n).mapInPandas(_noop_batches, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _keep(into: dict) -> Callable[[str, object], dict]:
    """A ``collect`` that keeps each key's pandas result in ``into``."""

    def collect(key: str, df) -> dict:
        into[key] = df
        return {"rows": len(df)}

    return collect


def _persisted(sc) -> dict[int, int]:
    """Bytes (memory + disk) of each persisted RDD with stored blocks."""
    return {i.id(): i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()}


def _drain(sc) -> tuple[int, int]:
    """(RDDs, bytes) still persisted after up to three alternating Python
    and JVM GC rounds let the ContextCleaner reap blocks whose owners are
    gone. Nothing is cleared: what remains is held by a live reference."""
    for _ in range(3):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(1.0)
        left = _persisted(sc)
        if not left:
            break
    return len(left), sum(left.values())


class _Counter:
    """Jobs and tasks of one job group not yet counted. A stage is counted
    once, in the first call that sees it; a stage a later job reuses is
    not counted again."""

    def __init__(self, sc, group: str):
        self.sc, self.group = sc, group
        self.jobs: set[int] = set()
        self.stages: set[int] = set()

    def __call__(self) -> tuple[int, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # status events are async
        tracker = self.sc.statusTracker()
        new = set(tracker.getJobIdsForGroup(self.group)) - self.jobs
        self.jobs |= new
        tasks = 0
        for job in new:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = None if stage in self.stages else tracker.getStageInfo(stage)
                self.stages.add(stage)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
        return len(new), tasks


def _run_one(spark, key: str, fn, sf_dir: str, passes: int, collect, budget_s) -> dict:
    from aircan_spark import frames

    sc = spark.sparkContext
    group = f"run_queries:{key}"
    saved = {p: sc.getLocalProperty(p) for p in _GROUP_PROPS}
    before = _persisted(sc)
    count = _Counter(sc, group)
    fired, done = threading.Event(), threading.Event()

    def _watchdog() -> None:
        # cancelJobGroup cancels running jobs only; keep cancelling until
        # the key ends, so a query that runs many short jobs stops too
        if done.wait(budget_s):
            return
        fired.set()
        while True:
            sc.cancelJobGroup(group)
            if done.wait(0.5):
                return

    watchdog = threading.Thread(target=_watchdog, daemon=True) if budget_s else None
    rec: dict = {"status": "ok", "passes": []}
    sc.setJobGroup(group, key, interruptOnCancel=True)
    try:
        if watchdog is not None:
            watchdog.start()
        with frames.scope():
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rec["construct_s"] = round(time.perf_counter() - t0, 4)
            rec["construct_jobs"], _ = count()
            rec["scans_rdd"] = "LogicalRDD" in df._jdf.queryExecution().logical().toString()
            sinks = ["noop"] * passes + (["pandas"] if collect is not None else [])
            for sink in sinks:
                t0 = time.perf_counter()
                if sink == "noop":
                    df.write.format("noop").mode("overwrite").save()
                else:
                    got = df.toPandas()
                s = time.perf_counter() - t0
                jobs, tasks = count()
                rec["passes"].append({"sink": sink, "s": round(s, 4), "jobs": jobs, "tasks": tasks})
            if collect is not None:
                rec.update(collect(key, got))
    except Exception as exc:  # record and go on to the next key
        rec["status"] = "error"
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
    finally:
        done.set()
        if watchdog is not None:
            watchdog.join()
        for prop, value in saved.items():
            sc.setLocalProperty(prop, value)
    if fired.is_set():
        rec["status"] = "timeout"
    # a @result_scope query's frames go with its result; collect the
    # cycles (a traceback's frames) that may still hold it
    df = got = None
    gc.collect()
    residue = {r: b for r, b in _persisted(sc).items() if r not in before}
    rec["residue_rdds"] = len(residue)
    rec["residue_mb"] = round(sum(residue.values()) / 1e6, 3)
    return rec


def _describe(rec: dict) -> str:
    if rec["status"] != "ok":
        return f"{rec['status'].upper()} {' '.join(rec.get('error', '').split())[:300]}"
    passes = "/".join(f"{p['s']:.2f}" for p in rec["passes"])
    jobs = "/".join(str(p["jobs"]) for p in rec["passes"])
    return (
        f"construct {rec['construct_s']:.2f}s {rec['construct_jobs']} jobs, "
        f"passes {passes}s {jobs} jobs, residue {rec['residue_rdds']} rdds "
        f"{rec['residue_mb']} MB" + (f", {rec['verdict']}" if "verdict" in rec else "")
    )


def _dump(path: str, artifact: dict) -> None:
    with open(path, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)


def run_queries(
    spark,
    keys: list[str],
    sf_dir: str,
    passes: int = 1,
    collect: Callable[[str, object], dict] | None = None,
    budget_s: float | None = None,
    out: str | None = None,
    header: dict | None = None,
) -> dict[str, dict]:
    """Run each registry key once (see the module docstring) and return
    ``{key: record}`` in ``keys`` order. ``collect(key, pandas_frame)``
    returns fields added to the key's record. With ``out``, the artifact
    ``{**header, n_done, n_total, queries}`` is rewritten after every
    key."""
    from aircan_spark.queries import QUERIES

    records: dict[str, dict] = {}
    for i, key in enumerate(keys, 1):
        records[key] = _run_one(spark, key, QUERIES[key], sf_dir, passes, collect, budget_s)
        print(f"[{i}/{len(keys)}] {key}: {_describe(records[key])}", file=sys.stderr, flush=True)
        if out:
            _dump(out, {**(header or {}), "n_done": i, "n_total": len(keys), "queries": records})
    return records


def rebuild_keys(records: dict[str, dict]) -> list[str]:
    """Keys whose ``fn()`` ran a Spark job or returned a plan over a
    checkpoint: a second pass over the same DataFrame skips that work."""
    return [k for k, r in records.items() if r.get("construct_jobs") or r.get("scans_rdd")]


def _last_s(rec: dict) -> float:
    """The key's last pass, or its construction when it ran none."""
    return rec["passes"][-1]["s"] if rec["passes"] else rec["construct_s"]


def _keys(names: list[str] | None) -> list[str]:
    from aircan_spark.queries import QUERIES

    if not names:
        return [k for k in QUERIES if k not in HEAVY] + [k for k in HEAVY if k in QUERIES]
    keys = [k for n in names for k in TIERS.get(n, [n])]
    unknown = [k for k in keys if k not in QUERIES]
    if unknown:
        raise SystemExit(f"not registry keys or tiers ({', '.join(TIERS)}): {unknown}")
    return keys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="+", metavar="SF_DIR",
                    help="data dir; with more, each key's last pass is also given as a ratio to the first dir's")
    ap.add_argument("--keys", nargs="+",
                    help=f"registry keys or tiers ({', '.join(TIERS)}); default: the registry, heavy tier last")
    ap.add_argument("--cores", type=int, action="append",
                    help="local[N] (default $SPARK_GRAFT_CPUS); repeat to collect every result under each "
                         "setting in a fresh session and bit-compare them")
    ap.add_argument("--shuffle", type=int, help="shuffle partitions (default: the core count)")
    ap.add_argument("--passes", type=int, default=1, help="noop-sink passes over the same DataFrame")
    ap.add_argument("--budget", type=float, help="seconds per key before its jobs are cancelled")
    ap.add_argument("--out", help="JSON artifact, rewritten after every key")
    args = ap.parse_args(argv)

    from aircan_spark.session import get_spark
    from test_oracle import oracle_diff

    keys = _keys(args.keys)
    compare = len(args.cores or []) > 1
    t_start = time.time()
    runs: list[dict] = []
    results: list[dict] = []  # per run, key -> pandas result (compare only)
    final = (0, 0)
    for cores in args.cores or [None]:
        spark = get_spark(
            app_name="run_queries",
            master=f"local[{cores}]" if cores else None,
            shuffle_partitions=args.shuffle or cores,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        run_cores = spark.sparkContext.defaultParallelism
        warm_up(spark, args.dirs[0])
        for sf_dir in args.dirs:
            got: dict = {}
            run = {"sf_dir": sf_dir, "cores": run_cores,
                   "shuffle": int(spark.conf.get("spark.sql.shuffle.partitions")),
                   "passes": args.passes, "budget_s": args.budget}
            run["queries"] = run_queries(
                spark, keys, sf_dir, passes=args.passes,
                collect=_keep(got) if compare else None,
                budget_s=args.budget,
                out=args.out, header={"runs": runs, **run},
            )
            runs.append(run)
            results.append(got)
        final = _drain(spark.sparkContext)
        spark.stop()

    artifact: dict = {"runs": runs, "final_residue_rdds": final[0],
                      "final_residue_mb": round(final[1] / 1e6, 3)}
    if len(args.dirs) > 1:
        first = {r["sf_dir"]: r["queries"] for r in runs[: len(args.dirs)]}
        base = first[args.dirs[0]]
        artifact["ratios"] = {
            d: {k: round(_last_s(q) / max(_last_s(base[k]), 1e-3), 2)
                for k, q in first[d].items() if q["status"] == base[k]["status"] == "ok"}
            for d in args.dirs[1:]
        }
    if compare:
        n_dirs = len(args.dirs)
        artifact["diverge"] = {}
        for j, run in enumerate(runs[n_dirs:], n_dirs):
            ref = results[j % n_dirs]
            for k in keys:
                if k not in ref or k not in results[j]:
                    diffs = [f"{k}: no result in one of the runs"]
                else:
                    diffs = oracle_diff(k, results[j][k], ref[k])
                if diffs:
                    artifact["diverge"][f"{run['cores']}:{run['sf_dir']}:{k}"] = diffs
                    print(f"DIVERGES {k} (local[{run['cores']}], {run['sf_dir']}): {diffs[0][:300]}")
    bad = sum(q["status"] != "ok" for r in runs for q in r["queries"].values())
    summary = {
        "n_keys": len(keys),
        "n_runs": len(runs),
        "n_not_ok": bad,
        "n_rebuild": [len(rebuild_keys(r["queries"])) for r in runs],
        "n_residue_keys": [sum(q["residue_rdds"] > 0 for q in r["queries"].values()) for r in runs],
        "n_diverge": len(artifact.get("diverge", {})),
        "final_residue_mb": artifact["final_residue_mb"],
        "wall_s": round(time.time() - t_start, 1),
    }
    artifact["summary"] = summary
    if args.out:
        _dump(args.out, artifact)
    over = final[1] / 1e6 > RESIDUE_BUDGET_MB
    if over:
        print(f"RESIDUE OVER BUDGET: {final[1] / 1e6:.1f} MB persisted after the final drain "
              f"(budget {RESIDUE_BUDGET_MB} MB): a query keeps frames it no longer needs")
    print(json.dumps(summary))
    return 1 if bad or summary["n_diverge"] or over else 0


if __name__ == "__main__":
    sys.exit(main())
