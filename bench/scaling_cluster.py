"""Scaling-efficiency evidence, executor-mode: the SAME job + input on a
multi-executor Spark cluster at N and 4N executors — the sandbox runs real
separate executor JVMs via Spark's local-cluster master (each executor gets
its own heap, GC, shuffle dirs, and Python workers; the code ships to
executors as a --py-files zip, exercising the spark-submit packaging path).

    python bench/scaling_cluster.py [--replicate 256] [--execs-low 1]
        [--execs-high 4] [--cores-per-exec 2] [--mem-per-exec 8192]

This is the faithful proxy for the BASELINE.json contract ("spark-submit
--py-files on multi-executor clusters at N and 4N executors"): adding
executors adds cores AND memory AND an independent JVM, like a real cluster
— unlike local[k], where k threads share one heap/GC and the driver's JVM.
Efficiency = (throughput@4N / throughput@N) / 4.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jobs.build_zip import build  # noqa: E402

ZIP = os.path.join(REPO, "dist", "deduplicate_spark.zip")


def materialize_input(sf_dir: str, replicate: int, out_path: str) -> int:
    from deduplicate_spark.entry_queries import docs_as_multiturn_transcripts
    from deduplicate_spark.session import get_spark

    spark = get_spark("scaling_prep", master="local[32]", shuffle_partitions=32)
    turns = docs_as_multiturn_transcripts(
        spark, sf_dir, replicate=replicate, mutate=True
    )
    turns.repartition(64).write.mode("overwrite").parquet(out_path)
    n = spark.read.parquet(out_path).count()
    spark.stop()
    return n


def run_once(n_execs: int, cores_per_exec: int, mem_mb: int, input_path: str) -> float:
    from pyspark.sql import SparkSession

    from deduplicate_spark.config import DedupConfig
    from deduplicate_spark.pipeline import run_pipeline

    total_cores = n_execs * cores_per_exec
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp"
    spark = (
        SparkSession.builder.master(
            f"local-cluster[{n_execs},{cores_per_exec},{mem_mb}]"
        )
        .appName(f"scaling_exec_{n_execs}")
        .config("spark.submit.pyFiles", ZIP)
        # the local-cluster size param is WORKER capacity; the executor heap
        # must be set explicitly or it defaults to 1g
        .config("spark.executor.memory", f"{mem_mb}m")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(total_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to executor python workers (programmatic equivalent
    # of spark-submit --py-files; spark.submit.pyFiles alone is only read
    # by the spark-submit launcher)
    spark.sparkContext.addPyFile(ZIP)
    # reliable checkpoints: localCheckpoint blocks die with their executor;
    # with a checkpoint dir set, cut_lineage() writes through shared storage
    # (HDFS/S3 on a real cluster; shared tmpfs here)
    spark.sparkContext.setCheckpointDir(os.path.join(local_dir, f"ckpt_{n_execs}"))
    turns = spark.read.parquet(input_path)
    turns.count()  # warm file listing / page cache uniformly
    # untimed session warmup (same protocol as bench.py / scaling.py):
    # Python-worker fork + whole-stage codegen are per-session costs;
    # pin the knobs the timed run resolves at scale (SMJ/rescue big,
    # kernel floor off) so the warmed plan shapes match
    run_pipeline(
        spark,
        turns.limit(800),
        DedupConfig(forced_smj=True, rescue_short_circuit=True,
                    kernel_small_corpus=False),
    ).actions.count()
    t0 = time.time()
    res = run_pipeline(spark, turns, DedupConfig())
    res.actions.count()
    wall = time.time() - t0
    spark.stop()
    return wall


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--replicate", type=int, default=256)
    ap.add_argument("--execs-low", type=int, default=1)
    ap.add_argument("--execs-high", type=int, default=4)
    ap.add_argument("--cores-per-exec", type=int, default=2)
    ap.add_argument("--mem-per-exec", type=int, default=8192)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--input-cache", default="/tmp/scaling_turns.parquet")
    ap.add_argument("--skip-materialize", action="store_true")
    args = ap.parse_args()

    build(ZIP)  # always ship the working tree, never a stale artifact

    if args.skip_materialize and os.path.exists(args.input_cache):
        from deduplicate_spark.session import get_spark

        spark = get_spark("count_only", master="local[8]")
        n_turns = spark.read.parquet(args.input_cache).count()
        spark.stop()
    else:
        n_turns = materialize_input(args.sf_dir, args.replicate, args.input_cache)

    walls = {args.execs_low: [], args.execs_high: []}
    for _ in range(args.rounds):
        for n in (args.execs_low, args.execs_high):
            walls[n].append(
                run_once(n, args.cores_per_exec, args.mem_per_exec, args.input_cache)
            )
            print(json.dumps({"execs": n, "walls": [round(w, 1) for w in walls[n]]}),
                  flush=True)

    t_low = min(walls[args.execs_low])
    t_high = min(walls[args.execs_high])
    thr_low = n_turns / t_low
    thr_high = n_turns / t_high
    ratio = args.execs_high / args.execs_low
    efficiency = (thr_high / thr_low) / ratio

    result = {
        "mode": "local-cluster (separate executor JVMs, --py-files zip)",
        "n_turns": n_turns,
        "replicate": args.replicate,
        "cores_per_exec": args.cores_per_exec,
        "mem_per_exec_mb": args.mem_per_exec,
        f"wall_sec_{args.execs_low}exec": round(t_low, 2),
        f"wall_sec_{args.execs_high}exec": round(t_high, 2),
        f"turns_per_sec_{args.execs_low}exec": round(thr_low, 1),
        f"turns_per_sec_{args.execs_high}exec": round(thr_high, 1),
        "speedup": round(thr_high / thr_low, 3),
        "scaling_efficiency": round(efficiency, 3),
        "all_walls": {str(k): [round(x, 2) for x in v] for k, v in walls.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
