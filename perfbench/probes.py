"""Resource and host-noise probes: cached RDD bytes, peak memory, bytes on
disk, CPU steal, the host's CPU speed and a fixed calibration query."""

from __future__ import annotations

import os
import resource
import statistics
import time

import numpy as np


def cached_bytes(spark) -> int:
    """Memory plus disk bytes of every RDD block still persisted."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the driver JVM (VmHWM) plus this Python
    process (ru_maxrss), in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(pid) + py_kb) / 1024.0


def process_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this Python process and,
    given its pid, the driver JVM; unlike wall time, CPU stolen by other
    tenants of the host is not in it."""
    jvm = 0.0
    if pid is not None:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(root: str, since_ns: int) -> tuple[int, int]:
    """(bytes, files) of files under ``root`` modified at or after
    ``since_ns`` — what a write left on disk."""
    files = [v for v in tree_files(root).values() if v[1] >= since_ns]
    return sum(size for size, _ in files), len(files)


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in tree_files(root).values())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def calibration(spark, partitions: int, jvm: int, reps: int = 3) -> tuple[float, float]:
    """Median (wall, CPU) seconds of a fixed query whose cost is pure
    Spark scheduling plus one small shuffle (the same probe ``bench.py``
    runs). It runs in a session of its own with adaptive execution off and
    the shuffle width fixed, so the package's session settings do not
    change it: it reads the host's speed and noise."""
    from pyspark.sql import functions as F

    session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.shuffle.partitions", str(partitions))
    walls, cpus = [], []
    for _ in range(reps):
        c0, t0 = process_cpu_s(jvm), time.perf_counter()
        (
            session.range(1_000_000, numPartitions=partitions)
            .groupBy((F.col("id") % 101).alias("k"))
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        walls.append(time.perf_counter() - t0)
        cpus.append(process_cpu_s(jvm) - c0)
    return statistics.median(walls), statistics.median(cpus)


def cpu_speed_s(reps: int) -> list[float]:
    """CPU seconds of this thread for a fixed piece of interpreter and
    memory work, ``reps`` times. It does not touch the package or Spark, so
    it reads only how fast the host's cores run at the moment."""
    out = []
    for _ in range(reps):
        t0 = time.thread_time()
        # small pieces, repeated: the probe must not raise the process's
        # peak memory, which peak_rss_mb reports
        for _ in range(20):
            d = {str(i): i * 3 for i in range(20_000)}
            sorted(d, key=d.get)
            np.sort(np.random.default_rng(0).random(200_000))
        out.append(time.thread_time() - t0)
    return out
