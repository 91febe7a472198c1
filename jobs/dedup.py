"""spark-submit entry point for the dedup pipeline.

    spark-submit --py-files dist/deduplicate_spark.zip jobs/dedup.py \
        --input  /path/to/transcripts_parquet_or_iceberg_table \
        --output /path/to/output_root \
        --checkpoint-root /path/to/ckpt \
        [--resume] [--substring] [--complete-hash] \
        [--exclude-roles system] [--shingle-k 9] [--num-perm 128] \
        [--bands 32] [--rows 4] [--hamming-max 12] \
        [--synology] [--analyze] [--manual-store /path/to/prior/ckpt]

Reads the transcripts table (parquet path or, when an Iceberg catalog is
configured on the cluster, a table identifier), runs the full cascade, and
writes clusters/, actions/, report/ under --output. With --checkpoint-root
every stage is materialized + resumable; rerunning with --resume skips
completed stages (lineage keyed by config hash + input fingerprint).

The CLI surface mirrors the reference driver
(/root/reference/deduplicate.py:731-746: --delete/--analyze/--synology) in
spirit: analysis always writes the action table; the destructive delete is
left to downstream (S10 is not an engine side effect).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

# plain `python jobs/dedup.py` runs put jobs/ (not the repo root) on
# sys.path; spark-submit --py-files covers executors but not a local
# driver launched outside the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="PySpark near-duplicate detection pipeline")
    p.add_argument("--input", required=True, help="transcripts parquet path or table id")
    p.add_argument("--output", required=True, help="output root directory")
    p.add_argument("--checkpoint-root", default=None)
    p.add_argument("--resume", action="store_true", help="reuse completed stages")
    p.add_argument("--substring", action="store_true", help="enable substring pass")
    p.add_argument("--complete-hash", action="store_true", help="exact-only confirmation")
    p.add_argument("--exclude-roles", nargs="*", default=[])
    p.add_argument("--exclude-conv-regex", default=None)
    p.add_argument(
        "--synology",
        action="store_true",
        help="preset: exclude conv_ids with a path segment starting with "
        "'@' or '.' (reference --synology globs '*/@*', '*/.*', "
        "deduplicate.py:452-453)",
    )
    p.add_argument(
        "--analyze",
        action="store_true",
        help="analysis only: write clusters, skip actions/report "
        "(reference --analyze, deduplicate.py:459-461)",
    )
    p.add_argument(
        "--manual-store",
        default=None,
        help="load/write a specific checkpoint store root instead of the "
        "one derived from the input (reference --manual DB, "
        "dupe_analysis.py:99-102); implies --resume",
    )
    p.add_argument("--shingle-k", type=int, default=9)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows", type=int, default=4)
    p.add_argument("--hamming-max", type=int, default=12)
    p.add_argument("--min-jaccard", type=float, default=0.7,
                   help="min-Jaccard rescue threshold (DedupConfig default "
                        "0.7); negative disables the rescue — the old CLI "
                        "default of None silently disabled it, diverging "
                        "from library-default runs")
    p.add_argument("--minhash-mode", default="oph", choices=("perm", "oph"),
                   help="signature estimator: one-permutation hashing "
                        "(O(shingles) kernel, the default) or classic "
                        "128-perm MinHash (--minhash-mode perm)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--stream",
        action="store_true",
        help="Structured Streaming ingestion: watch --input (a parquet "
        "directory) for new turn files and fold each micro-batch into the "
        "state tables under --stream-state-root; on stop, write the "
        "accumulated clusters under --output",
    )
    p.add_argument("--stream-state-root", default=None,
                   help="root directory for the incremental state tables")
    p.add_argument("--stream-buffer-lag", type=int, default=None,
                   help="buffered mode: conversations may span batches; "
                   "release after N quiet micro-batches")
    p.add_argument("--stream-timeout-sec", type=float, default=None,
                   help="stop the stream after this many seconds "
                   "(default: run until terminated)")
    return p.parse_args(argv)


def run_stream(spark, args, config) -> None:
    """Streaming mode: the CLI face of streaming/incremental.py. The query
    checkpoint lives under the state root — restarting the job against
    existing state therefore reuses it, which the crash-replay-idempotent
    state layout requires (epoch ids must continue, see stream_turns)."""
    from deduplicate_spark.streaming.incremental import (
        IncrementalState,
        current_clusters,
        flush_buffered,
        stream_turns,
    )

    if not args.stream_state_root:
        raise SystemExit("--stream requires --stream-state-root")
    root = args.stream_state_root.rstrip("/")
    state = IncrementalState(
        docs_path=f"{root}/docs",
        signatures_path=f"{root}/signatures",
        pairs_path=f"{root}/pairs",
    )
    q = stream_turns(
        spark,
        args.input,
        state,
        config,
        checkpoint_location=f"{root}/_query_checkpoint",
        buffer_lag=args.stream_buffer_lag,
    )
    try:
        if args.stream_timeout_sec:
            q.awaitTermination(args.stream_timeout_sec)
        else:
            q.awaitTermination()
    finally:
        q.stop()
    from deduplicate_spark.streaming.incremental import _table_exists

    metrics = {}
    if args.stream_buffer_lag is not None and _table_exists(spark, state.pending_path):
        metrics = flush_buffered(spark, state, config)
    if not _table_exists(spark, state.pairs_path):
        # the stream stopped before any micro-batch finished — no state
        # yet; emit an empty cluster table rather than failing the job
        spark.createDataFrame([], "conv_id string, cluster_id string").write.mode(
            "overwrite"
        ).parquet(f"{args.output}/clusters")
        print(json.dumps({"mode": "stream", "clusters": 0, "note": "no batches completed"}))
        return
    clusters = current_clusters(spark, state, config)
    clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    print(json.dumps({
        "mode": "stream",
        "clusters": clusters.select("cluster_id").distinct().count(),
        **{k: int(v) for k, v in metrics.items()},
    }))


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from deduplicate_spark.config import DedupConfig
    from deduplicate_spark.pipeline import run_pipeline
    from deduplicate_spark.session import CODEGEN_CONF
    from deduplicate_spark.sources.checkpoint import CheckpointStore

    # The codegen settings are static, so they are set before the session
    # starts; --stream runs then stop recompiling every micro-batch. No
    # worker_daemon here: the daemon is imported when the executor's
    # Python daemon starts, and a cluster's --py-files may not be on its
    # path yet.
    spark = (
        SparkSession.builder.appName("deduplicate_spark_job")
        .config(map=CODEGEN_CONF)
        .getOrCreate()
    )
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))

    exclude_conv_regex = args.exclude_conv_regex
    if args.synology:
        # '*/@*' + '*/.*' glob analog on the conv_id path space
        synology_re = r"(^|/)[@.]"
        exclude_conv_regex = (
            synology_re
            if exclude_conv_regex is None
            else f"({exclude_conv_regex})|({synology_re})"
        )

    config = DedupConfig(
        exclude_roles=tuple(args.exclude_roles),
        exclude_conv_regex=exclude_conv_regex,
        shingle_k=args.shingle_k,
        num_perm=args.num_perm,
        lsh_bands=args.bands,
        lsh_rows=args.rows,
        simhash_hamming_max=args.hamming_max,
        min_jaccard=(None if args.min_jaccard < 0 else args.min_jaccard),
        minhash_mode=args.minhash_mode,
        enable_substring_pass=args.substring,
        complete_hash=args.complete_hash,
    )

    if args.stream:
        run_stream(spark, args, config)
        spark.stop()
        return

    if args.input.endswith((".parquet", "/")) or "/" in args.input:
        turns = spark.read.parquet(args.input)
    else:
        turns = spark.read.table(args.input)

    store = None
    checkpoint_root = args.manual_store or args.checkpoint_root
    resume = args.resume or args.manual_store is not None
    if checkpoint_root:
        input_key = hashlib.sha1(args.input.encode()).hexdigest()[:16]
        store = CheckpointStore(
            spark=spark,
            root=checkpoint_root,
            config_hash=config.config_hash(),
            input_key=input_key,
            enabled=True,
        )
        if not resume:
            for stage in ("docs", "signatures", "pairs", "clusters", "actions"):
                store.invalidate(stage)

    t0 = time.time()
    result = run_pipeline(spark, turns, config, store=store, analyze_only=args.analyze)
    result.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    if not args.analyze:
        result.actions.write.mode("overwrite").parquet(f"{args.output}/actions")
        result.report.write.mode("overwrite").parquet(f"{args.output}/report")
    wall = time.time() - t0

    if store is not None:
        store.write_metrics()

    summary = {
        "wall_sec": round(wall, 2),
        "clusters": result.clusters.select("cluster_id").distinct().count(),
        "config_hash": config.config_hash(),
        "analyze_only": bool(args.analyze),
    }
    if not args.analyze:
        summary["actions"] = result.actions.count()
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
