"""Benchmark of the dedup engine on one workload.

    python3 perfbench/run.py --workload planted --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts Spark on ``local[nproc]``,
generates the workload's inputs from the seed, loads and caches them, and
warms the session up with a fixed number of full passes (see
``warm_up``). With ``--trace 0`` it then times passes for ``--seconds``
seconds and prints the end-to-end metrics; with ``--trace 1`` it makes one
untraced pass and one traced pass and prints the per-layer metrics. Every
pass's output is checked against a reference cached under
``perfbench/.work``. The last stdout line is the result JSON; the line
before it holds the run's stamps and per-pass records.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Steady-state rule: each workload makes a fixed number of warm passes
# (``warm_passes``), the number after which its per-pass process-tree CPU
# has stopped falling. A fixed count keeps ``setup_s`` comparable between
# runs; the run record stamps whether the first measured pass's CPU still
# fell by WARM_TOL or more below the last warm pass.
WARM_TOL = 0.10


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("planted", "ann"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: harness smoke-test sizes and a single warm pass")
    return p.parse_args(argv)


class Runner:
    """One session, one workload: set-up, warm-up and passes."""

    def __init__(self, spark, workload) -> None:
        from harness import persistent_rdd_ids

        self.spark = spark
        self.wl = workload
        self.inputs = persistent_rdd_ids(spark)
        self.passes = 0
        self.failed = 0

    def run_pass(self, group: str, run=None) -> dict:
        """Time one pass under job group ``group``, check its output, read
        its job counts, then release its blocks before the next pass."""
        from harness import group_stats, host_steal_s, release_blocks, tree_usage

        self.spark.sparkContext.setJobGroup(group, group)
        run = run or (lambda: self.wl.run_pass(self.spark))
        cpu0, steal0 = tree_usage()[0], host_steal_s()
        start = time.time()
        try:
            (found, rows_out), error = run(), None
        except Exception:  # a failed pass is counted; the run goes on
            (found, rows_out), error = (set(), 0), traceback.format_exc()
            print(error, file=sys.stderr)
        end = time.time()
        cpu, steal = tree_usage()[0] - cpu0, host_steal_s() - steal0
        rec = {"group": group, "start": start, "end": end, "wall_s": end - start,
               "cpu_s": cpu, "host_steal_s": steal, "rows_out": rows_out,
               **group_stats(self.spark, group)}
        release_blocks(self.spark, self.inputs)
        rec.update(self.wl.check(found) if error is None else
                   {"pair_recall": 0.0, "pair_precision": 0.0, "ok": False, "error": error})
        self.passes += 1
        self.failed += not rec["ok"]
        return rec

    def warm_up(self, n: int) -> list[dict]:
        return [self.run_pass(f"warm{i}") for i in range(n)]


def timed_metrics(runner: Runner, seconds: float, setup_s: float) -> tuple[dict, list]:
    from harness import PeakRss

    timed = []
    with PeakRss() as rss:
        t0 = time.perf_counter()
        while not timed or time.perf_counter() - t0 < seconds:
            timed.append(runner.run_pass(f"pass{len(timed)}"))
    wall = statistics.median(r["wall_s"] for r in timed)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (runner.wl.rows / wall, "rows/s"),
        "cpu_s": (statistics.median(r["cpu_s"] for r in timed), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "pair_recall": (statistics.median(r["pair_recall"] for r in timed), "ratio"),
        "pair_precision": (statistics.median(r["pair_precision"] for r in timed), "ratio"),
    }
    return metrics, timed


def traced_metrics(runner: Runner, run_id: str, session: dict) -> tuple[dict, list, str]:
    from tracing import Tracer, traced_incremental, traced_planted, traced_similarity, unit_of

    spark, wl = runner.spark, runner.wl
    tracer = Tracer(spark, wl.name, run_id)
    tracer.add("session", **session)
    untraced = runner.run_pass(f"{run_id}:pipeline")
    tracer.add(
        "pipeline", untraced["start"], untraced["end"],
        cpu_s=untraced["cpu_s"], jobs=untraced["jobs"],
        shuffle_write_bytes=untraced["shuffle_write_bytes"],
        spill_bytes=untraced["spill_bytes"], rows_out=untraced["rows_out"],
        job_busy_s=untraced["job_busy_s"],
        driver_gap_s=untraced["wall_s"] - untraced["job_busy_s"],
    )
    if wl.name == "planted":
        traced = runner.run_pass(
            f"{run_id}:traced", lambda: traced_planted(tracer, wl.turns, wl.config)
        )
        state_dir = os.path.join(WORK, f"state-{run_id}")
        try:
            traced_incremental(tracer, spark, wl.turns, wl.config, state_dir)
        finally:
            shutil.rmtree(state_dir, ignore_errors=True)
    else:
        traced = runner.run_pass(
            f"{run_id}:traced",
            lambda: traced_similarity(tracer, wl.vectors, wl.dim, wl.threshold),
        )
    spans_path = tracer.finish(WORK)
    metrics = {k: (v, unit_of(k.rsplit(".", 1)[1])) for k, v in tracer.layer_metrics().items()}
    return metrics, [untraced, traced], os.path.relpath(spans_path, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # everything Spark, its workers and Python's tempfile write stays in
    # the checkout; workers import the program from the checkout too
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    import deduplicate_spark  # noqa: F401  (fail fast without the program)

    from harness import host_probe, stamp, start_session, stop_session, tree_usage
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    run_id = f"s{args.seed}-t{args.trace}-{os.getpid()}"
    info = {"run_id": run_id, "stamp": stamp(cpus), "probe_before": host_probe(ROOT)}

    t0 = time.time()
    wl = WORKLOADS[args.workload](args.seed, args.scale)
    gen_s = time.time() - t0
    wl.reference(os.path.join(WORK, "reference"))  # checker cost, not set-up

    n_warm = 1 if args.scale == "tiny" else wl.warm_passes
    cpu0 = tree_usage()[0]
    t1 = time.time()
    spark, start_s = start_session(cpus, WORK, wl.c1_only)
    try:
        spark.sparkContext.setJobGroup(f"{run_id}:session", "load")
        wl.load(spark)
        runner = Runner(spark, wl)
        warm = runner.warm_up(n_warm)
        end = time.time()
        setup_s = gen_s + end - t1
        session = {"start": t1 - gen_s, "end": end, "cpu_s": tree_usage()[0] - cpu0,
                   "start_s": start_s, "warm_passes": len(warm),
                   "jobs": sum(w["jobs"] for w in warm), "rows_out": wl.rows}
        spans = None
        if args.trace:
            metrics, passes, spans = traced_metrics(runner, run_id, session)
        else:
            metrics, passes = timed_metrics(runner, args.seconds, setup_s)
    finally:
        stop_session(spark)
        for scratch in ("spark-local", "tmp"):
            shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)

    info.update(
        probe_after=host_probe(ROOT), rows=wl.rows, setup_s=setup_s,
        warm_rule={"passes": n_warm, "cpu_fall_below": WARM_TOL,
                   "converged": passes[0]["cpu_s"] >= (1 - WARM_TOL) * warm[-1]["cpu_s"]},
        warm=warm, passes=passes, spans=spans, fail_ratio=runner.failed / runner.passes,
    )
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.passes,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
