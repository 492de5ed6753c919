"""perfbench — end-to-end and per-layer benchmark of aircan_spark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_fresh --seed 1 --seconds 1 --trace 0

One run is one fresh process with one client thread on ``local[<nproc>]``
and ``nproc`` shuffle partitions. It generates its inputs from the seed,
starts Spark, runs one untimed warm-up cycle, repeats the workload's cycle
until ``--seconds`` have been measured (at least one cycle), then checks
the program's outputs outside the timed region. ``--trace 1`` wraps the
package's layers in spans and reports per-layer metrics instead of the
end-to-end ones.

Stdout ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it carries the run's context (inputs, host
noise, per-operation times). Exit status is 1 when a check fails and 2 when
the package is not found. Scratch files live in ``.perfbench_work/`` and
are removed at exit; span dumps go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``work`` so the run writes nothing outside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # 2g heap: the inputs are small, and the machine is shared
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # A run lives about a minute: the C2 compiler never reaches steady
        # state in it, and its threads (with G1's) took about two of the
        # four cores while the measured cycle ran, so run time swung with
        # the host's load. C1-only JIT and the serial collector keep the
        # JVM's background CPU small and the same in every run; parent and
        # change are measured with the same flags.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of the run in the status store for the counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class OpTimer:
    """Times named operations; ``(kind, name, seconds)`` in ``ops``, where
    kind is ``load`` (a ``pipeline.run``) or ``query``."""

    def __init__(self):
        self.ops: list[tuple[str, str, float]] = []

    @contextlib.contextmanager
    def __call__(self, name: str, kind: str = "load"):
        t0 = time.perf_counter()
        yield
        self.ops.append((kind, name, time.perf_counter() - t0))

    def times(self, kind: str) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for k, name, t in self.ops:
            if k == kind:
                out.setdefault(name, []).append(t)
        return out


# ``probes.cpu_speed_s`` on the 4-core test host, rounded. setup_s is the
# set-up's CPU time scaled by this over the run's own reading of that probe
# (median of five, taken just before the set-up):
# between sets of runs of the same code on that host, minutes apart, the
# cores' speed moved the set-up's CPU time by up to 40%, and every other
# CPU-bound figure of the run (cycle CPU, the calibration query) by the same
# share.
SPEED_REF_S = 0.15


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


# Layers that run Spark jobs; each gets the stage counters below.
SPARK_LAYERS = ["sources", "validate", "rownum", "table", "upsert", "bucketed", "export",
                "pipeline", "queries"]
SPARK_COUNTERS = [
    ("executor_cpu_s", "s"), ("executor_run_s", "s"), ("input_bytes", "B"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
    ("tasks", "count"), ("failed_tasks", "count"), ("sched_wait_s", "s"),
]


def per_layer_metrics(tracer, counters, n_cycles, extra) -> dict:
    """Per-cycle layer metrics from the traced cycles' spans. Times are
    self times: a span's wall time minus its child spans'."""
    from perfbench.workloads import QUERY_KEYS

    totals: dict[str, float] = {}

    def add(key, v):
        totals[key] = totals.get(key, 0.0) + v

    for s in tracer.spans:
        c = counters.get(s.sid, {})
        for prefix in (s.layer, f"{s.layer}.{s.name}"):
            add(f"{prefix}.s", s.self_s)
            add(f"{prefix}.calls", 1)
            add(f"{prefix}.jobs", c.get("jobs", 0))
        for k, _ in SPARK_COUNTERS:
            add(f"{s.layer}.spark.{k}", c.get(k, 0.0))
        for k, v in s.extra.items():
            add(f"{s.layer}.{k}", v)

    n = max(n_cycles, 1)

    def per_cycle(key, unit, name=None):
        return name or key, metric(totals.get(key, 0.0) / n, unit)

    out = dict([
        ("session.start_s", metric(extra["session_start_s"], "s")),
        per_cycle("sources.s", "s"),
        per_cycle("sources.calls", "count"),
        per_cycle("sources.jobs", "count"),
        per_cycle("schema.s", "s"),
        per_cycle("validate.s", "s"),
        per_cycle("validate.jobs", "count"),
        per_cycle("validate.rows_checked", "count"),
        per_cycle("rownum.s", "s"),
        per_cycle("rownum.jobs", "count"),
        ("rownum.cached_bytes_peak", metric(extra["rownum_cached_peak"], "B")),
        per_cycle("table.write.s", "s", "table.write_s"),
        per_cycle("table.max_id.s", "s", "table.max_id_s"),
        per_cycle("table.read.s", "s", "table.read_s"),
        per_cycle("table.jobs", "count"),
        ("table.bytes_written", metric(extra["bytes_written"] / n, "B")),
        ("table.files_written", metric(extra["files_written"] / n, "count")),
        per_cycle("upsert.s", "s", "upsert.merge_s"),
        per_cycle("upsert.jobs", "count"),
        ("upsert.rows_rewritten_per_delta_row",
         metric(extra["rows_rewritten_per_delta_row"], "ratio")),
        per_cycle("bucketed.upsert.s", "s", "bucketed.upsert_s"),
        per_cycle("bucketed.write.s", "s", "bucketed.write_s"),
        per_cycle("bucketed.jobs", "count"),
        ("bucketed.buckets_rewritten_ratio", metric(extra["buckets_rewritten_ratio"], "ratio")),
        per_cycle("export.s", "s"),
        ("export.bytes_written", metric(extra["export_bytes"] / n, "B")),
        ("export.files", metric(extra["export_files"] / n, "count")),
        per_cycle("pipeline.s", "s", "pipeline.self_s"),
        per_cycle("pipeline.jobs", "count", "pipeline.self_jobs"),
        ("pipeline.cached_residue_mb", metric(extra["cached_residue_mb"], "MB")),
        per_cycle("data.s", "s", "data.load_table_s"),
        per_cycle("data.calls", "count"),
        per_cycle("queries.s", "s"),
    ])
    for key in QUERY_KEYS:
        out.update([per_cycle(f"queries.{key}.s", "s"), per_cycle(f"queries.{key}.jobs", "count")])
    for layer in SPARK_LAYERS:
        for k, unit in SPARK_COUNTERS:
            out.update([per_cycle(f"{layer}.spark.{k}", unit)])
    out["trace.cycle_s"] = metric(extra["cycle_s"], "s")
    out["trace.overhead_s"] = metric(tracer.overhead_s / n, "s")
    out["trace.unattributed_s"] = metric(extra["unattributed_s"] / n, "s")
    return out


def install_hooks(tracer, spark, stats, inputs) -> None:
    from perfbench import probes

    rows_by_path = {v["path"]: v["rows"] for v in inputs.values()}

    def pipeline_run(span, args, result):
        cfg = args[1]
        if cfg.get("method") == "upsert":
            span.extra["delta_rows"] = rows_by_path[cfg["resource_path"]]

    def rownum(span, args, result):
        stats["rownum_cached_peak"] = max(stats["rownum_cached_peak"], probes.cached_bytes(spark))

    def validate(span, args, result):
        span.extra["rows_checked"] = result["row_count"]

    before: dict[int, dict] = {}

    def buckets_before(span, args):
        before[span.sid] = (args[0].manifest() or {}).get("buckets", {})

    def buckets_after(span, args, result):
        # a bucket is rewritten when the commit points it at new files
        table = args[0]
        after = table.manifest()["buckets"]
        old = before.pop(span.sid)
        rewritten = sum(after[b] != old.get(b) for b in after)
        stats["buckets_rewritten"].append(rewritten / table.num_buckets)

    tracer.hooks.update({
        "pipeline.run": pipeline_run,
        "rownum.with_row_number": rownum,
        "validate.validate": validate,
        "bucketed.upsert": buckets_after,
    })
    tracer.pre_hooks["bucketed.upsert"] = buckets_before


def rewritten_ratio(tracer, counters) -> float:
    """Rows rewritten per delta row over the upsert loads: output records
    of the write stages under each upsert ``pipeline.run`` (the flat
    table's rewrite, or the bucketed table's), over the rows of the
    resources those loads read."""
    writes = {("table", "write"), ("bucketed", "upsert")}
    by_id = {s.sid: s for s in tracer.spans}
    written = delta = 0.0
    for s in tracer.spans:
        if (s.layer, s.name) in writes:
            top = s
            while top.parent is not None:
                top = by_id[top.parent]
            if top.extra.get("delta_rows"):
                written += counters.get(s.sid, {}).get("output_records", 0.0)
        elif s.extra.get("delta_rows"):
            delta += s.extra["delta_rows"]
    return written / delta if delta else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "aircan_spark", "__init__.py")):
        print(f"perfbench: package aircan_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        result = run(args, WORKLOADS[args.workload], work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": result.pop("context")}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, workload, work: str, out_dir: str) -> dict:
    from perfbench import gen, probes
    from perfbench.trace import group_counters

    conf = isolate(work)
    t_gen = time.perf_counter()
    data = gen.generate(args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t_gen
    nproc = os.cpu_count() or 1

    # read before Spark starts, so nothing the package does can move it
    speed = probes.cpu_speed_s(reps=5)

    # ---- set-up: session + untimed warm-up cycle ----------------------------
    t0 = time.perf_counter()
    py_cpu0 = probes.process_cpu_s()
    setup_ticks0 = probes.cpu_ticks()
    from aircan_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf=conf,
    )
    session_start_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        jvm = probes.jvm_pid(spark)
        wl = workload(spark, data, work)
        warm = OpTimer()
        wl.warmup(warm)
        setup_wall_s = time.perf_counter() - t0
        # the JVM was started for this session: all its CPU so far is set-up
        setup_cpu_s = probes.process_cpu_s(jvm) - py_cpu0
        setup_steal = probes.steal_pct(setup_ticks0, probes.cpu_ticks())
        phases = {"generate": gen_s, "session": session_start_s,
                  "warmup": setup_wall_s - session_start_s}

        tracer = None
        stats = {"rownum_cached_peak": 0, "buckets_rewritten": []}
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            install_hooks(tracer, spark, stats, data["inputs"])
            tracer.install()
            if hasattr(wl, "run_query"):
                plain = wl.run_query
                wl.run_query = lambda key: tracer.span("queries", key, plain, key)

        # ---- measured cycles: whole cycles until --seconds have passed -----
        timer = OpTimer()
        cycle_s, cycle_cpu, task_cpu, cycle_jobs, cycle_tasks, cycle_input = [], [], [], [], [], []
        residue, written, exported = [], [], []
        source_bytes = 0
        failure = None
        steal0 = probes.cpu_ticks()
        t_measure = time.perf_counter()
        rows0 = wl.rows_loaded
        while not cycle_s or time.perf_counter() - t_measure < args.seconds:
            group = f"pbcycle{len(cycle_s)}"
            sc.setLocalProperty("spark.jobGroup.id", group)
            first_span = len(tracer.spans) if tracer else 0
            if tracer:
                tracer.base_group = group
            since = time.time_ns()
            cpu0 = probes.process_cpu_s(jvm)
            tc = time.perf_counter()
            try:
                wl.cycle(timer)
            except Exception as exc:  # a failed operation ends the measurement
                failure = f"cycle {len(cycle_s) + 1} failed: {type(exc).__name__}: {exc}"
                break
            cycle_s.append(time.perf_counter() - tc)
            cycle_cpu.append(probes.process_cpu_s(jvm) - cpu0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            # untimed probes between cycles
            groups = [group] + [s.group for s in tracer.spans[first_span:]] if tracer else [group]
            counts = group_counters(sc, groups).values()
            cycle_jobs.append(sum(c["jobs"] for c in counts))
            cycle_tasks.append(sum(c["tasks"] for c in counts))
            cycle_input.append(sum(c["input_bytes"] for c in counts))
            task_cpu.append(sum(c["executor_cpu_s"] for c in counts))
            residue.append(probes.cached_bytes(spark))
            written.append(probes.written_since(wl.warehouse, since))
            exported.append(probes.written_since(wl.export_dir, since))
            source_bytes += sum(data["inputs"][r]["bytes"] for r in wl.RESOURCES)
        steal1 = probes.cpu_ticks()
        phases["measure"] = time.perf_counter() - t_measure
        sc.setLocalProperty("spark.jobGroup.id", None)
        if tracer:
            tracer.uninstall()
            counters = tracer.stage_counters()
        rows = wl.rows_loaded - rows0
        peak_rss = probes.peak_rss_mb(jvm)
        t_cal = time.perf_counter()
        cal_wall, cal_cpu = probes.calibration(spark, nproc, jvm)
        phases["calibration"] = time.perf_counter() - t_cal

        # ---- correctness, outside the timed region -------------------------
        if failure is None:
            checks, failures = wl.check()
        else:
            checks, failures = 0, [failure]
        stored = probes.tree_bytes(wl.warehouse)
        phases["check"] = time.perf_counter() - t_cal - phases["calibration"]
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    phases["stop"] = time.perf_counter() - t_stop

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    n = len(cycle_s)
    loads = timer.times("load")
    queries = timer.times("query")
    load_total = sum(sum(ts) for ts in loads.values())
    wh_bytes = sum(b for b, _ in written)
    ex_bytes = sum(b for b, _ in exported)
    write_amp = (wh_bytes + ex_bytes) / source_bytes if source_bytes else 0.0
    stored_per_row = stored / wl.live_rows() if failure is None else 0.0
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "cycles": n,
        "phase_s": phases,
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        "inputs": {k: {kk: v[kk] for kk in ("rows", "bytes", "sha256")}
                   for k, v in data["inputs"].items()},
        "warmup_op_s": {name: t for _, name, t in warm.ops},
        "load_s": {name: med(ts) for name, ts in loads.items()},
        "load_p50_s": med([t for ts in loads.values() for t in ts]),
        "rows_per_s": rows / load_total if load_total else None,
        "query_s": {name: med(ts) for name, ts in queries.items()},
        "query_geomean_s": (
            statistics.geometric_mean(med(ts) for ts in queries.values()) if queries else None
        ),
        "cycle_s": cycle_s,
        "cycle_cpu_s": cycle_cpu,
        "task_cpu_s": task_cpu,
        "cycle_jobs": cycle_jobs,
        "cycle_tasks": cycle_tasks,
        "cached_residue_mb_per_cycle": [b / 2**20 for b in residue],
        "host_noise": {
            "calibration_s": cal_wall,
            "calibration_cpu_s": cal_cpu,
            "cpu_speed_s": speed,
            "cpu_steal_pct": probes.steal_pct(steal0, steal1),
            "setup_cpu_steal_pct": setup_steal,
            "loadavg": os.getloadavg(),
        },
        "failures": failures,
    }
    if tracer:
        context["note"] = ("Spark is lazy: a scan is charged to the span whose action ran "
                           "it, not to the span that built the plan.")
        # Self times plus the tracer's overhead add up to the top-level
        # spans' wall time by construction; the timers around each
        # operation are independent of the tracer, so what they measured
        # beyond that sum ran outside every span.
        op_total = sum(t for _, _, t in timer.ops)
        attributed = sum(s.self_s for s in tracer.spans) + tracer.overhead_s
        extra = {
            "session_start_s": session_start_s,
            "rownum_cached_peak": stats["rownum_cached_peak"],
            "bytes_written": wh_bytes,
            "files_written": sum(f for _, f in written),
            "rows_rewritten_per_delta_row": rewritten_ratio(tracer, counters),
            "buckets_rewritten_ratio": (statistics.fmean(stats["buckets_rewritten"])
                                        if stats["buckets_rewritten"] else 0.0),
            "export_bytes": ex_bytes,
            "export_files": sum(f for _, f in exported),
            "cached_residue_mb": residue[-1] / 2**20 if residue else 0.0,
            "cycle_s": med(cycle_s),
            "unattributed_s": op_total - attributed,
        }
        metrics = per_layer_metrics(tracer, counters, n, extra)
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({
                "context": context,
                "spans": [
                    {"id": s.sid, "parent": s.parent, "layer": s.layer, "name": s.name,
                     "start": s.start - t_measure, "dur": s.dur, "self": s.self_s,
                     "counters": dict(counters.get(s.sid, {})), **s.extra}
                    for s in tracer.spans
                ],
            }, fh)
        context["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = {
            "setup_s": metric(setup_cpu_s * SPEED_REF_S / statistics.median(speed), "s"),
            "jobs_per_cycle": metric(med(cycle_jobs), "count"),
            "tasks_per_cycle": metric(med(cycle_tasks), "count"),
            "input_bytes_per_cycle": metric(med(cycle_input), "B"),
            "write_amp": metric(write_amp, "B/B"),
            "stored_bytes_per_row": metric(stored_per_row, "B"),
            "peak_rss_mb": metric(peak_rss, "MB"),
        }
    return {
        "context": context,
        "correct": not failures,
        "attempted": len(timer.ops) + (failure is not None) + checks,
        "failed": len(failures),
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
