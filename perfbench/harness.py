"""Measurement plumbing: process-tree CPU and memory from ``/proc``, per
job-group counts from Spark's status store, session start/stop, and the
stamps that explain a run (host, versions, host probe).

Nothing here imports pyspark at module load, so ``run.py`` can point
``TMPDIR`` and ``PYTHONPATH`` at the checkout before the JVM starts.
"""

from __future__ import annotations

import importlib.util
import os
import platform
import threading
import time

HEAP = "2g"
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in ticks, rss pages)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(name)] = (
            int(fields[1]),
            sum(int(x) for x in fields[11:15]),
            int(fields[21]),
        )
    return table


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(CPU-seconds, resident MB) of ``root`` (default: this process) and
    every live descendant: the Spark JVM and its Python workers. cutime and
    cstime fold in children already reaped, so a Python worker that exited
    mid-pass still counts towards its parent."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    todo = [root or os.getpid()]
    ticks = pages = 0
    while todo:
        pid = todo.pop()
        if pid in table:
            ticks += table[pid][1]
            pages += table[pid][2]
        todo.extend(children.get(pid, ()))
    return ticks / CLK_TCK, pages * PAGE_BYTES / 2**20


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (``steal`` in ``/proc/stat``); 0 on bare metal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


class PeakRss:
    """Samples the process tree's resident memory on a thread while open."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_usage()[1])
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_usage()[1])


def interval_union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def group_stats(spark, group: str) -> dict:
    """Jobs, busy time and stage totals of one job group, read from the
    status store (populated with the UI off). Read it right after the work:
    the store keeps only ``spark.ui.retainedJobs``/``retainedStages``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    intervals: list[tuple[float, float]] = []
    shuffle_write = spill = 0
    seen: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        start, end = job.submissionTime(), job.completionTime()
        if start.isDefined() and end.isDefined():
            intervals.append(
                (start.get().getTime() / 1000.0, end.get().getTime() / 1000.0)
            )
        stages = job.stageIds().iterator()
        while stages.hasNext():
            sid = stages.next()
            if sid in seen:
                continue
            seen.add(sid)
            try:
                stage = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage already evicted from the store
                continue
            shuffle_write += stage.shuffleWriteBytes()
            spill += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return {
        "jobs": len(job_ids),
        "job_busy_s": interval_union_s(intervals),
        "shuffle_write_bytes": shuffle_write,
        "spill_bytes": spill,
    }


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def release_blocks(spark, keep: set[int]) -> None:
    """Drop every cached or checkpointed RDD not in ``keep`` (the inputs),
    so one pass's localCheckpoint blocks do not pile up under the next."""
    for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rid not in keep:
            rdd.unpersist(True)


def start_session(cpus: int, work_dir: str, c1_only: bool):
    """``get_spark`` on ``local[cpus]`` with all scratch files under
    ``work_dir``. Returns (spark, seconds to start).

    ``c1_only`` stops the JIT at C1. On a planted pass, under tiered C2 the
    JVM's CPU per pass keeps falling for 8+ passes (46 -> 22 -> 20 -> 17 ->
    15 -> 12.6 -> 12 -> 11.7 -> 10.6 s), a warm-up no run can afford; with
    C1 alone the second pass is already at the level of the later ones.
    Where the run time sits in one JIT-compiled expression loop (the ann
    cosine), C1 code is ~2x slower and C2's transient ends by the sixth
    pass, so that workload keeps the default JIT."""
    from deduplicate_spark.session import get_spark

    t0 = time.perf_counter()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Code-cache flushing is off because the sweeper otherwise evicts
    # compiled code around the fifth pass and the next two passes pay ~6
    # CPU-s to recompile it. A fixed-size heap (-Xms = -Xmx) keeps G1 from
    # resizing it differently from run to run.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"
        " -XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=512m"
    )
    if c1_only:
        java_opts += " -XX:TieredStopAtLevel=1"
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit; the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # subprocess.TimeoutExpired: still up, force it
            proc.kill()
            proc.wait(timeout=30)


def host_probe(root: str) -> dict | None:
    """One ``bench/host_probe.py`` row (memory bandwidth, page-fault rate),
    or None when the checkout has no probe."""
    path = os.path.join(root, "bench", "host_probe.py")
    if not os.path.exists(path):
        return None
    spec = importlib.util.spec_from_file_location("host_probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    row = mod.probe()
    row.pop("_s", None)
    return row


def stamp(cpus: int) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{cpus}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
    }
