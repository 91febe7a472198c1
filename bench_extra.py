"""Round-7 optimization measurement harness (NOT the driver bench).

Isolates the components the round optimized, per guide §1 (measure first,
per-phase isolation; bench.py itself is frozen for measurement):

  * ann_ivf_kmeans row split: quantizer fit / ivf_topk / brute-force truth
  * substring_pass wall + confirmed-pair count
  * ngram_jaccard steady-state (3 runs — first pays worker fork + codegen)
  * dedup_pipeline fused wall, twice

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py and prints one
JSON line. Used to produce the before/after numbers in OPTIMIZATION_r07.md
(before = round-start tree via a git worktree, after = this tree).
"""

from __future__ import annotations

import collections
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
    spark = get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"sf_dir": sf_dir, "cpus": cpus}

    sc = spark.sparkContext

    # warm python workers + codegen once, like bench.py
    turns = eq.docs_as_multiturn_transcripts(spark, sf_dir).cache()
    out["n_turns"] = turns.count()
    run_pipeline(spark, turns.limit(800), DedupConfig(enable_substring_pass=True)).actions.count()

    # --- ann_ivf_kmeans row, split into its three components
    from deduplicate_spark.functions.similarity import (
        brute_force_topk, ivf_centroids_kmeans, ivf_topk)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 40 == 0).select(F.col("vec_id").alias("q_id"), "embedding")
    sc.setJobDescription("bench_extra: ivf quantizer fit")
    t0 = time.time(); cents = ivf_centroids_kmeans(emb, n_cells=64, seed=42); t1 = time.time()
    sc.setJobDescription("bench_extra: ivf_topk probe")
    got = {(r.q_id, r.neighbor_id) for r in ivf_topk(
        emb, queries, nprobe=16, k=10, centroids=cents).collect()}
    t2 = time.time()
    sc.setJobDescription("bench_extra: brute-force truth")
    bf = brute_force_topk(emb, queries, k=11).collect(); t3 = time.time()
    per_q = collections.defaultdict(list)
    for r in sorted(bf, key=lambda r: (r.q_id, r.rnk)):
        if r.q_id != r.neighbor_id and len(per_q[r.q_id]) < 10:
            per_q[r.q_id].append(r.neighbor_id)
    truth = {(q, n) for q, ns in per_q.items() for n in ns}
    out["ivf_split"] = {
        "kmeans_fit_s": round(t1 - t0, 3),
        "ivf_topk_s": round(t2 - t1, 3),
        "brute_force_s": round(t3 - t2, 3),
        "raw_recall_at10": round(len(truth & got) / max(len(truth), 1), 4),
    }

    # --- substring pass
    from deduplicate_spark.operators.assembly import assemble_docs
    from deduplicate_spark.operators.substring import substring_pairs
    scfg = DedupConfig(enable_substring_pass=True)
    docs = assemble_docs(eq.docs_as_transcripts(spark, sf_dir), scfg)
    sc.setJobDescription("bench_extra: substring pass")
    t0 = time.time()
    out["substring_pairs"] = substring_pairs(docs, scfg).count()
    out["substring_s"] = round(time.time() - t0, 3)

    # --- ngram, 3 consecutive runs (run 0 pays one-time session costs)
    runs = []
    for i in range(3):
        sc.setJobDescription(f"bench_extra: ngram run {i}")
        t0 = time.time()
        out["ngram_pairs"] = eq.q_dd_ngram_jaccard_pairs(spark, sf_dir).count()
        runs.append(round(time.time() - t0, 3))
    out["ngram_runs_s"] = runs

    # --- flagship pipeline, fused, twice
    walls = []
    for i in range(2):
        sc.setJobDescription(f"bench_extra: dedup pipeline run {i}")
        t0 = time.time()
        res = run_pipeline(spark, turns, DedupConfig())
        out["dup_convs"] = res.clusters.count()
        res.actions.count()
        walls.append(round(time.time() - t0, 3))
    out["pipeline_runs_s"] = walls
    sc.setJobDescription(None)

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
