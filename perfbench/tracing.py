"""Traced run: spans recorded from the benchmark's side around calls into
each layer's public functions, in cascade order and with the arguments
``run_pipeline`` passes. Every layer output is cut eagerly under a job
group named after its span, so the span owns that output's jobs, shuffle
bytes and spill in Spark's status store.

A span records name, start, end, parent, workload and run id, plus
wall/self/CPU seconds, its job group's counts, and layer counts. Layer
spans do not nest, so every span's parent is None and its self time is its
wall time. Spans are kept in memory and written out once, at the end of
the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import replace

from harness import group_stats, tree_usage

# layer -> extra counts it reports beside the common span metrics
LAYERS = {
    "session": ("start_s", "warm_passes"),
    "pipeline": ("job_busy_s", "driver_gap_s"),
    "assembly": (),
    "exact": ("kernel_skip_ratio",),
    "minhash": ("docs", "ms_per_doc"),
    "lsh": ("candidates", "max_bucket", "star_fallback"),
    "simhash": ("confirmed", "confirm_ratio"),
    "substring": ("pairs",),
    "components": ("edges_in",),
    "resolve": ("actions",),
    "incremental": ("jobs_per_batch", "new_signatures", "state_files", "state_bytes"),
    "similarity": ("candidates", "pairs", "confirm_ratio"),
}
COMMON = ("wall_s", "cpu_s", "jobs", "shuffle_write_bytes", "spill_bytes", "rows_out")
# layers whose spans make up the traced total compared with one untraced pass
CASCADE = {
    "planted": ("assembly", "exact", "minhash", "lsh", "simhash", "substring",
                "components", "resolve"),
    "ann": ("similarity",),
}


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "B"
    if metric.endswith("_ratio"):
        return "ratio"
    if metric.startswith("ms_"):
        return "ms"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer, extra in LAYERS.items() for m in COMMON + extra]
    return names + ["trace.traced_s", "trace.untraced_s", "trace.overhead_ratio"]


class Tracer:
    def __init__(self, spark, workload: str, run_id: str) -> None:
        self.spark = spark
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name`` under its own job group; the body fills the yielded
        dict with layer counts."""
        group = f"{self.run_id}:{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        counts: dict = {}
        cpu0 = tree_usage()[0]
        start = time.time()
        try:
            yield counts
        finally:
            end = time.time()
            cpu1 = tree_usage()[0]
            sc.setJobGroup(f"{self.run_id}:untraced", "untraced")
            self.add(name, start, end, cpu_s=cpu1 - cpu0, **counts,
                     **group_stats(self.spark, group))

    def add(self, name: str, start: float, end: float, **fields) -> None:
        """Record a span; the session and untraced pass are measured elsewhere."""
        self.spans.append({
            "name": name, "parent": None, "workload": self.workload,
            "run_id": self.run_id, "start": start, "end": end,
            "wall_s": end - start, "self_s": end - start, **fields,
        })

    def finish(self, out_dir: str) -> str:
        """Write the spans as JSON."""
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{self.workload}-{self.run_id}.json")
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
        return path

    def layer_metrics(self) -> dict[str, float]:
        """Every per-layer metric; a layer with no span on this workload
        reads 0. Repeated spans of one layer are summed."""
        out = {name: 0.0 for name in per_layer_names()}
        for rec in self.spans:
            for m in COMMON + LAYERS.get(rec["name"], ()):
                if m in rec:
                    out[f"{rec['name']}.{m}"] += rec[m]
        traced = sum(s["wall_s"] for s in self.spans if s["name"] in CASCADE[self.workload])
        untraced = out["pipeline.wall_s"]
        out["trace.traced_s"] = traced
        out["trace.untraced_s"] = untraced
        out["trace.overhead_ratio"] = traced / untraced if untraced else 0.0
        return out


def _cut(df):
    from deduplicate_spark.lineage import cut_lineage

    return cut_lineage(df, eager=True)


def traced_planted(tracer: Tracer, turns, config) -> tuple[set, int]:
    """``run_pipeline`` restated layer by layer for a config with the
    substring pass on; returns (co-cluster pairs, cluster rows)."""
    from pyspark.sql import functions as F

    from deduplicate_spark.lineage import cut_lineage
    from deduplicate_spark.operators.assembly import assemble_docs
    from deduplicate_spark.operators.components import connected_components
    from deduplicate_spark.operators.lsh import bucket_stats, candidate_pairs
    from deduplicate_spark.operators.minhash import compute_signatures
    from deduplicate_spark.operators.resolve import actions as make_actions
    from deduplicate_spark.operators.simhash import confirm_pairs
    from deduplicate_spark.operators.skew import measured_forced_smj, measured_small_corpus
    from deduplicate_spark.operators.substring import substring_pairs
    from deduplicate_spark.pipeline import (
        assert_no_id_collisions,
        corpus_stats,
        exact_representatives,
        exact_star_edges,
        relabel_components,
    )
    from workloads import clusters_to_pairs

    cfg = config
    salt = cfg.band_salt_buckets
    with tracer.span("assembly") as c:
        docs = cut_lineage(assemble_docs(turns, cfg), eager=True, spill_only=True)
        meta = _cut(docs.drop("doc_text"))
        verify = cfg.internal_long_ids and cfg.verify_long_ids
        stats = corpus_stats(meta, verify_ids=verify)
        if verify:
            assert_no_id_collisions(meta, stats=stats)
        big = measured_forced_smj(stats.n, stats.total_bytes, cfg)
        cfg = replace(
            cfg,
            forced_smj=big if cfg.forced_smj is None else cfg.forced_smj,
            rescue_short_circuit=big if cfg.rescue_short_circuit is None
            else cfg.rescue_short_circuit,
            kernel_small_corpus=measured_small_corpus(stats.total_bytes, cfg)
            if cfg.kernel_small_corpus is None else cfg.kernel_small_corpus,
        )
        c["rows_out"] = stats.n
    smj = cfg.forced_smj

    def kid(df):
        return df.withColumn("conv_id", F.xxhash64("conv_id")) if cfg.internal_long_ids else df

    kmeta = kid(meta)
    with tracer.span("exact") as c:
        src = kmeta if cfg.empty_cluster else kmeta.filter(F.col("total_len") > 0)
        exact_edges = _cut(exact_star_edges(src, salt_buckets=salt, forced_smj=smj))
        reps_text = _cut(
            exact_representatives(kid(docs), salt_buckets=salt, forced_smj=smj)
            .select("conv_id", "doc_text")
        )
        n_reps = reps_text.count()
        c["rows_out"] = exact_edges.count()
        c["kernel_skip_ratio"] = 1 - n_reps / stats.n if stats.n else 0.0
    with tracer.span("minhash") as c:
        kernel_input = reps_text
        if cfg.kernel_small_corpus:
            kernel_input = kernel_input.repartition(cfg.shuffle_partitions)
        signatures = _cut(compute_signatures(kernel_input, cfg))
        c["docs"] = c["rows_out"] = signatures.count()
    rec = tracer.spans[-1]
    rec["ms_per_doc"] = 1000 * rec["wall_s"] / rec["docs"] if rec["docs"] else 0.0
    with tracer.span("lsh") as c:
        cand = _cut(candidate_pairs(signatures, cfg))
        n_cand = c["candidates"] = c["rows_out"] = cand.count()
        bs = bucket_stats(signatures, cfg).first()
        c["max_bucket"] = bs.max_bucket or 0
        c["star_fallback"] = bs.n_star_fallback or 0
    with tracer.span("simhash") as c:
        sig_sim = _cut(signatures.select("conv_id", "simhash"))
        confirmed = _cut(
            confirm_pairs(cand, signatures, docs=kmeta, config=cfg, sim_signatures=sig_sim)
            .select("a", "b", "evidence")
        )
        c["confirmed"] = c["rows_out"] = confirmed.count()
        c["confirm_ratio"] = c["confirmed"] / n_cand if n_cand else 0.0
    with tracer.span("substring") as c:
        sub = _cut(substring_pairs(reps_text, cfg))
        c["pairs"] = c["rows_out"] = sub.count()
    edges = exact_edges.select("a", "b", "evidence").unionByName(confirmed).unionByName(sub)
    with tracer.span("components") as c:
        c["edges_in"] = edges.count()
        comps = connected_components(
            edges, max_rounds=cfg.cc_max_rounds, assume_deduped=True, forced_smj=smj
        )
        if cfg.internal_long_ids:
            comps = relabel_components(comps, meta, salt_buckets=salt, forced_smj=smj)
        clusters = _cut(comps)
        rows = clusters.collect()
        c["rows_out"] = len(rows)
    with tracer.span("resolve") as c:
        acts = _cut(make_actions(clusters, meta, forced_smj=smj))
        c["actions"] = c["rows_out"] = acts.count()
    return clusters_to_pairs((r.conv_id, r.cluster_id) for r in rows), len(rows)


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def traced_incremental(tracer: Tracer, spark, turns, config, state_dir: str) -> None:
    """A base load of ~90% of the conversations into on-disk state
    (untraced), then the remaining conversations as one delta batch through
    ``process_batch`` under the ``incremental`` span."""
    from pyspark.sql import functions as F

    from deduplicate_spark.streaming.incremental import IncrementalState, process_batch

    state = IncrementalState(
        docs_path=os.path.join(state_dir, "docs"),
        signatures_path=os.path.join(state_dir, "signatures"),
        pairs_path=os.path.join(state_dir, "pairs"),
        state_partitions=8,
    )
    in_delta = F.abs(F.xxhash64("conv_id")) % 10 == 0
    process_batch(spark, turns.filter(~in_delta), state, config, first_batch=True)
    files0, bytes0 = _dir_usage(state_dir)
    with tracer.span("incremental") as c:
        out = process_batch(spark, turns.filter(in_delta), state, config)
        c["new_signatures"] = out["new_signatures"]
        c["rows_out"] = out["batch_docs"]
    files1, bytes1 = _dir_usage(state_dir)
    rec = tracer.spans[-1]
    rec["jobs_per_batch"] = rec["jobs"]
    rec["state_files"] = files1 - files0
    rec["state_bytes"] = bytes1 - bytes0


def _plan_children(node) -> list:
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if kind.endswith("QueryStageExec"):
        return [node.plan()]
    children, out = node.children().iterator(), []
    while children.hasNext():
        out.append(children.next())
    return out


def _rows_out(node) -> int:
    """Rows out of ``node``, or of the first node under it that counts them."""
    while True:
        metric = node.metrics().get("numOutputRows")
        if metric.isDefined():
            return int(metric.get().value())
        node = _plan_children(node)[0]


def rerank_input_rows(df) -> int:
    """Rows on the larger input of the topmost join of ``df``'s executed
    plan, read from the plan's SQL metrics once ``df`` has run. In
    ``embedding_dup_pairs`` that join attaches the vectors to the candidate
    pairs and applies the cosine test, so its larger input is the candidate
    pairs the re-rank reads. 0 when the plan has no join."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop(0)
        if "Join" in node.nodeName():
            return max(_rows_out(child) for child in _plan_children(node))
        todo.extend(_plan_children(node))
    return 0


def traced_similarity(tracer: Tracer, vectors, dim: int, threshold: float) -> tuple[set, int]:
    """``embedding_dup_pairs`` under the span. Its candidates are counted
    from the program's own plan (``rerank_input_rows``)."""
    from deduplicate_spark.functions.similarity import embedding_dup_pairs

    with tracer.span("similarity") as c:
        plan = embedding_dup_pairs(vectors, dim, threshold=threshold)
        out = _cut(plan).select("a", "b").toPandas()
        c["pairs"] = c["rows_out"] = len(out)
        c["candidates"] = rerank_input_rows(plan)
        c["confirm_ratio"] = len(out) / c["candidates"] if c["candidates"] else 0.0
    return set(zip(out["a"].tolist(), out["b"].tolist())), len(out)
