"""End-to-end dedup pipeline orchestration.

The distributed restatement of the reference's cascade (size -> beg_hash ->
rev_hash -> [full_hash], /root/reference/dupe_analysis.py:367-407), with the
cascade's *work-avoidance* property kept: expensive stages only ever see the
data the cheap stages could not already resolve.

    docs ──exact groups──► star edges (free clusters, no MinHash needed)
      │
      └─► exact-distinct representatives only ──► MinHash ─► LSH ─► confirm
                                                   (near edges between reps)
    edges = exact ∪ near [∪ substring] ──► connected components ─► resolve

The three edge sources read nothing but the materialized meta and
representative tables, so ``run_pipeline`` builds them as concurrent
branches (``lineage.run_branches``), each ending in a materialized table.

Running MinHash on exact-distinct representatives is the big cascade win at
scale: a corpus that is 40% exact-duplicate does 40% less kernel work, and
every exact member inherits its representative's near-dup connectivity
through the star edge.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.operators.assembly import assemble_docs
from deduplicate_spark.operators.components import connected_components
from deduplicate_spark.operators.lsh import candidate_pairs
from deduplicate_spark.operators.minhash import compute_signatures
from deduplicate_spark.operators.resolve import actions as make_actions
from deduplicate_spark.operators.resolve import cluster_report
from deduplicate_spark.operators.simhash import confirm_pairs
from deduplicate_spark.operators.skew import (
    maybe_merge_hint,
    measured_forced_smj,
    measured_small_corpus,
    salted_struct_min,
    spread_over_slots,
    tag_bucket_stats,
)
from deduplicate_spark.operators.substring import substring_pairs
from deduplicate_spark.lineage import cut_lineage, run_branches


@dataclass
class PipelineResult:
    docs: DataFrame
    exact_edges: DataFrame
    signatures: DataFrame
    candidate_edges: DataFrame
    confirmed_edges: DataFrame
    clusters: DataFrame
    actions: DataFrame
    report: DataFrame


def exact_star_edges(
    docs: DataFrame,
    key: str = "exact_sha",
    salt_buckets: int = 8,
    forced_smj: bool = True,
) -> DataFrame:
    """(rep, member) edges within each exact-hash group — linear in group
    size (vs the reference's all-pairs cliques, deduplicate.py:497-528);
    connectivity-equivalent for the CC stage.

    Skew-safe: group count/min come from the shared salted partial-agg
    helper, not a ``Window.partitionBy(exact_sha)`` — a boilerplate exact
    group with 10^7+ members (or the EMPTY_SHA1 group) would otherwise be
    one window task AQE cannot split."""
    tagged = tag_bucket_stats(
        docs.filter(F.col(key).isNotNull()).select("conv_id", key),
        key,
        salt_buckets=salt_buckets,
        forced_smj=forced_smj,
    )
    return tagged.filter(F.col("conv_id") != F.col("bucket_rep")).select(
        F.col("bucket_rep").alias("a"),
        F.col("conv_id").alias("b"),
        F.lit("exact").alias("evidence"),
    )


def exact_representatives(
    docs: DataFrame,
    key: str = "exact_sha",
    salt_buckets: int = 8,
    forced_smj: bool = True,
) -> DataFrame:
    """One doc per distinct exact hash (min conv_id), excluding empty docs —
    the only rows the expensive signature kernel sees.

    Salted algebraic argmin + semi-join-back instead of a
    ``row_number() over (partition by exact_sha)`` window: the argmin is a
    partial aggregation a mega-group cannot straggle, and the semi-join is
    on conv_id ALONE (the per-sha winner is a globally unique id, so sha is
    redundant in the join key). The single-column key lets Spark's runtime
    bloom-filter injection prune non-representative rows — on a high-dup
    corpus most of the fat ``doc_text`` bytes — BEFORE the exchange."""
    src = docs.filter((F.col("total_len") > 0) & F.col(key).isNotNull())
    best = salted_struct_min(
        src.select(key, F.col("conv_id").alias("_ord")),
        key,
        salt_buckets=salt_buckets,
    ).select(F.col("_ord").alias("conv_id"))
    return src.join(maybe_merge_hint(best, forced_smj), "conv_id", "left_semi")


def relabel_components(
    components: DataFrame,
    docs: DataFrame,
    salt_buckets: int = 8,
    forced_smj: bool = True,
) -> DataFrame:
    """Map internal long node ids back to conv_id strings and relabel each
    component with its min STRING id — the public cluster_id contract
    (min conv_id) is independent of the internal representation.

    Forced sort-merge ("merge" hint): on a 30-60% duplicate corpus BOTH
    sides are corpus-sized, so a broadcast here is wrong at scale — and in
    local mode it builds on a driver already holding the checkpointed
    stages (measured: driver broadcast-build OOM at 6.5M turns with
    everything else green).

    The min-string-per-component is a salted partial aggregation + SMJ
    join-back, NOT a ``Window.partitionBy(_comp)``: a boilerplate
    mega-cluster would land in a single window task; the join-back on
    ``_comp`` is a sort-merge join AQE's skew handling CAN split."""
    id_map = docs.select(
        F.xxhash64("conv_id").alias("_nid"), F.col("conv_id").alias("_conv")
    )
    mapped = components.select(
        F.col("conv_id").alias("_node"), F.col("cluster_id").alias("_comp")
    ).join(maybe_merge_hint(id_map, forced_smj), F.col("_node") == F.col("_nid"))
    comp_min = salted_struct_min(
        mapped.select("_comp", F.col("_conv").alias("_ord")),
        "_comp",
        salt_buckets=salt_buckets,
    ).select("_comp", F.col("_ord").alias("cluster_id"))
    return mapped.join(maybe_merge_hint(comp_min, forced_smj), "_comp").select(
        F.col("_conv").alias("conv_id"), "cluster_id"
    )


def corpus_stats(
    docs: DataFrame, hash_col=None, verify_ids: bool = True
):
    """ONE aggregation over the (already-checkpointed) narrow docs_meta
    table that serves two callers: the measured forced-SMJ gate (n docs +
    total text bytes — real counts, not planner estimates) and the
    long-id collision guard (ADVICE r3). The distinct runs on 8-byte longs
    with map-side partials; skipping verification drops the countDistinct
    columns so the gate-only path is a plain count/sum."""
    hash_col = F.xxhash64("conv_id") if hash_col is None else hash_col
    # prefer the true UTF-8 byte column (assembly computes it alongside
    # total_len); total_len counts CHARS — a lower bound on bytes, up to
    # 4x under on non-ASCII corpora — kept only as the fallback for meta
    # tables checkpointed before total_bytes existed
    if "total_bytes" in docs.columns:
        size_col = F.sum("total_bytes")
    elif "total_len" in docs.columns:
        size_col = F.sum("total_len")
    else:
        size_col = F.lit(0)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(size_col, F.lit(0)).alias("total_bytes"),
    ]
    if verify_ids:
        aggs += [
            F.countDistinct("conv_id").alias("d_id"),
            F.countDistinct(hash_col).alias("d_hash"),
            F.count(F.when(F.col("conv_id").isNull(), F.lit(1))).alias("n_null"),
        ]
    return docs.agg(*aggs).first()


def assert_no_id_collisions(docs: DataFrame, hash_col=None, stats=None) -> None:
    """Fail loudly — with the RIGHT diagnosis (ADVICE r4) — when the
    internal long-id mapping is unsafe: a null conv_id, duplicate conv_id
    rows, and a genuine xxhash64 collision are three different defects with
    three different fixes; only the last is cured by
    ``internal_long_ids=False``. A collision would silently merge two
    unrelated docs and could mark a unique doc for deletion."""
    stats = stats if stats is not None else corpus_stats(docs, hash_col)
    if stats.n_null:
        raise ValueError(
            f"{stats.n_null} null conv_id rows: conv_id must be non-null "
            "(assign stable ids upstream before dedup)"
        )
    if stats.d_id != stats.n:
        raise ValueError(
            f"duplicate conv_id rows detected ({stats.n} docs, {stats.d_id} "
            "distinct conv_ids): conv_id must be unique per conversation — "
            "dedupe the input keys upstream"
        )
    if stats.d_hash != stats.d_id:
        raise ValueError(
            f"xxhash64(conv_id) collision detected ({stats.d_id} distinct "
            f"conv_ids, {stats.d_hash} distinct hashes): rerun with "
            "DedupConfig(internal_long_ids=False) for the exact string-id path"
        )


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    config: DedupConfig | None = None,
    store=None,
    analyze_only: bool = False,
) -> PipelineResult:
    """turns -> PipelineResult. If ``store`` (a CheckpointStore) is given,
    each stage persists + is resumable; otherwise stages are cut with
    localCheckpoints. A lazy cut defers only its last stage: under AQE,
    building it runs every shuffle stage below it (see
    ``lineage.cut_lineage``), so each cut blocks the thread that builds it.
    After the corpus stats resolve the gates, the exact, near-dup and
    (optional) substring edge tables are built on concurrent driver
    threads, each ending in a materialized table that CC then unions;
    every table two branches read is materialized before the fork.

    ``analyze_only`` mirrors the reference --analyze (deduplicate.py:459-461):
    stop after clusters — the actions/report DataFrames are still returned
    lazily but never materialized or checkpointed by the pipeline itself."""
    config = config or DedupConfig()

    def ckpt(
        name: str, df: DataFrame, eager: bool = False, spill_only: bool = False
    ) -> DataFrame:
        if store is not None:
            return store.stage(name, df)
        return df.transform(
            lambda _df: cut_lineage(_df, eager=eager, spill_only=spill_only)
        )

    # spill_only: the full-text blocks are cold after the meta/text
    # projections are built — keep them out of the unified memory pool
    # (measured OOM class at 6.5M turns/local[2], see lineage.py)
    docs = ckpt("docs", assemble_docs(turns, config), spill_only=True)

    # MEASURED forced-SMJ / rescue resolution (VERDICT r4 #1): one
    # aggregation over the narrow meta blocks yields real corpus counts —
    # the gate planner estimates cannot be trusted for
    # (estimate-admitted broadcasts are the measured OOM class). The same
    # pass doubles as the long-id collision guard, so the guard costs no
    # extra job when both are on.
    verify = config.internal_long_ids and config.verify_long_ids
    unresolved = (
        config.forced_smj is None
        or config.rescue_short_circuit is None
        or config.kernel_small_corpus is None
    )

    # COLUMNAR CHECKPOINT SPLIT: localCheckpoint blocks are row-cached with
    # no column pruning, so every consumer of the full docs table re-reads
    # all text bytes even for a (conv_id, sha) projection — measured at
    # 6.5M turns: 4 separate full-block passes, ~100 s-cpu of redundant
    # DRAM traffic on a bandwidth-bound host. Checkpoint a text-free meta
    # projection ONCE and route every non-kernel stage (guard, exact
    # cascade, relabel, election) through it; text blocks are read exactly
    # once, into the kernel path below.
    # Eagerness: every edge branch below reads meta, so it must be
    # materialized before they fork (racing consumers of unwritten blocks
    # recompute meta from the full-text docs blocks; measured: one extra
    # 366 MB pass per racer). Building the lazy cut already runs the
    # assembly's shuffle stages (AQE); only the final stage that writes
    # the blocks is deferred. When the stats aggregation below runs (the
    # default), it is that deferred stage's first and only consumer and
    # runs before the fork, so it writes the blocks in its own job — an
    # eager cut would pay one extra pass.
    meta = ckpt("docs_meta", docs.drop("doc_text"), eager=not (verify or unresolved))
    if verify or unresolved:
        stats = corpus_stats(meta, verify_ids=verify)
        if verify:
            assert_no_id_collisions(meta, stats=stats)
        if unresolved:
            big = measured_forced_smj(stats.n, stats.total_bytes, config)
            small = measured_small_corpus(stats.total_bytes, config)
            config = replace(
                config,
                forced_smj=big if config.forced_smj is None else config.forced_smj,
                rescue_short_circuit=big
                if config.rescue_short_circuit is None
                else config.rescue_short_circuit,
                kernel_small_corpus=small
                if config.kernel_small_corpus is None
                else config.kernel_small_corpus,
            )

    # internal id representation: every stage from here to CC treats
    # conv_id opaquely, so the whole kernel path can run on 8-byte
    # xxhash64(conv_id) longs — band explode rows go from (string, long)
    # to (long, long), pair shuffles and CC labels shrink the same way.
    # Strings are joined back onto the final (small, dup-only) cluster
    # table below; outputs are identical to the string path.
    def kid(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("conv_id", F.xxhash64("conv_id"))
            if config.internal_long_ids
            else df
        )

    kmeta = kid(meta)
    ktext = kid(docs.select("conv_id", "doc_text"))

    # zero_hash analog (dupe_analysis.py:31,335-340): empty docs share
    # EMPTY_SHA1 and cluster together when empty_cluster=True (reference
    # behavior); False leaves them untouched by every stage.
    exact_src = kmeta if config.empty_cluster else kmeta.filter(F.col("total_len") > 0)

    # exact-distinct representatives: argmin over narrow meta; only the
    # winning ids semi-join the text table (one text pass into the kernel)
    rep_src = kmeta.filter((F.col("total_len") > 0) & F.col("exact_sha").isNotNull())
    rep_ids = salted_struct_min(
        rep_src.select("exact_sha", F.col("conv_id").alias("_ord")),
        "exact_sha",
        salt_buckets=config.band_salt_buckets,
    ).select(F.col("_ord").alias("conv_id"))
    # Eagerness of the signature checkpoint follows the measured
    # small-corpus gate: on SMALL corpora a lazy cut lets racing AQE
    # consumers re-run the kernel before the blocks land (measured at
    # sf0.1: two concurrent 1-task kernel-sized stages), and the eager
    # barrier costs one trivial job. On BIG corpora the eager cut added
    # extra materialization passes of GB-sized tables (measured at 6.5M
    # turns: walls regressed with unconditional eager).
    kernel_eager = bool(config.kernel_small_corpus)
    reps_join = ktext.join(
        maybe_merge_hint(rep_ids, config.forced_smj), "conv_id", "left_semi"
    )
    # the reps_text checkpoint exists for REUSE (substring pass, prefix
    # prefilter, store resumability). With none of those on, the signature
    # kernel is its only consumer and the checkpoint is a pure extra
    # materialization of a text-sized table — feed the semi-join straight
    # into the kernel so the text attach and the kernel fuse into one pass.
    # When it is cut, the cut is eager at every scale. With the substring
    # pass on, the substring and near-dup branches both read it, and a
    # table two branches read is materialized before they fork, or both
    # recompute the text semi-join. Otherwise eagerness costs no extra
    # pass: a lazy cut would run the semi-join's shuffle stages here
    # anyway (AQE) and defer only the stage that writes the same blocks.
    reps_reused = (
        store is not None or config.enable_substring_pass or config.prefix_prefilter
    )
    reps_text = ckpt("reps_text", reps_join, eager=True) if reps_reused else reps_join

    # optional beg_hash cascade stage (reference pass-1 semantics): the
    # kernel only sees reps that collide on prefix_sha. NOT applied to the
    # substring pass — substring dups needn't share prefixes.
    kernel_input = reps_text
    if config.prefix_prefilter:
        rep_meta = rep_src.join(
            maybe_merge_hint(rep_ids, config.forced_smj), "conv_id", "left_semi"
        )
        colliding = (
            rep_meta.groupBy("prefix_sha")
            .agg(F.count(F.lit(1)).alias("_pn"))
            .filter(F.col("_pn") > 1)
            .select("prefix_sha")
        )
        kernel_ids = rep_meta.join(colliding, "prefix_sha", "left_semi").select("conv_id")
        kernel_input = reps_text.join(
            maybe_merge_hint(kernel_ids, config.forced_smj), "conv_id", "left_semi"
        )

    # kernel-parallelism floor (measured gate, see skew.measured_small_corpus):
    # on a small corpus the checkpointed kernel input sits in 1-4 byte-sized
    # partitions — spread it to one task per slot before the CPU-bound
    # kernel; the repartition shuffles only the tiny table the gate just
    # measured. Never applied above the gate (no new exchange at scale,
    # where AQE already yields >= a partition per slot).
    if config.kernel_small_corpus:
        kernel_input = spread_over_slots(kernel_input)

    def exact_branch() -> DataFrame:
        edges = exact_star_edges(
            exact_src,
            salt_buckets=config.band_salt_buckets,
            forced_smj=config.forced_smj,
        )
        return cut_lineage(edges.select("a", "b", "evidence"), eager=True)

    def near_branch() -> tuple[DataFrame, DataFrame, DataFrame]:
        # signatures feed three consumers (sig_simhash projection, LSH
        # bands, rescue attach) — small corpora cut eagerly so the first
        # two cannot race and run the kernel twice (see kernel_eager above)
        signatures = ckpt(
            "signatures", compute_signatures(kernel_input, config), eager=kernel_eager
        )
        if store is not None:
            # no-silent-caps telemetry (VERDICT r4 #8): record the LSH
            # bucket histogram + star-fallback count in the run's metrics
            # table on every checkpointed run (previously computed only
            # when a caller asked). One aggregation over the
            # already-persisted signature blocks; skipped for store-less
            # runs.
            from deduplicate_spark.operators.lsh import bucket_stats

            bs = bucket_stats(signatures, config).first()
            store.metrics.append(
                {
                    "stage": "lsh_bucket_stats",
                    "config_hash": store.config_hash,
                    "input_key": store.input_key,
                    "rows": bs.n_buckets,
                    "reused": False,
                    "extra": {
                        "max_bucket": bs.max_bucket,
                        "n_star_fallback": bs.n_star_fallback,
                        "est_edges": bs.est_edges,
                    },
                }
            )
        # narrow (conv_id, simhash) projection checkpoint: the Hamming
        # attaches otherwise re-read and SMJ-sort the full ~1 KB minhash
        # rows per side (same no-column-pruning-in-checkpoint-blocks
        # disease as docs_meta)
        sig_sim = ckpt("sig_simhash", signatures.select("conv_id", "simhash"))
        cand = candidate_pairs(signatures, config)
        confirmed = ckpt(
            "pairs",
            confirm_pairs(
                cand, signatures, docs=kmeta, config=config, sim_signatures=sig_sim
            ).select("a", "b", "evidence"),
            eager=True,
        )
        return signatures, cand, confirmed

    # One branch per edge source. No knob and no serial path: each branch
    # ends in an eager cut, so the union below reads three materialized
    # tables, and the only shared inputs (meta, reps_text) are already
    # materialized. The substring branch runs its verify kernel inside its
    # own cut; an output with no store stage gets a local cut in store mode
    # too.
    branches = {"exact": exact_branch, "near": near_branch}
    if config.enable_substring_pass:
        branches["substring"] = lambda: cut_lineage(
            substring_pairs(reps_text, config), eager=True
        )
    built = run_branches(spark, **branches)
    exact_edges = built["exact"]
    signatures, cand, confirmed = built["near"]

    edges = exact_edges.unionByName(confirmed)
    if "substring" in built:
        edges = edges.unionByName(built["substring"])
    # no (a, b) dedup exchange here: every source emits a < b pairs, CC's
    # min-label propagation and the driver union-find are invariant to
    # duplicate edges, and the distributed path dedups its symmetrized
    # edge list itself — the dropDuplicates was a full extra shuffle of
    # the edge list for nothing

    components = connected_components(
        edges,
        max_rounds=config.cc_max_rounds,
        assume_deduped=True,
        forced_smj=config.forced_smj,
    )
    if config.internal_long_ids:
        components = relabel_components(
            components,
            meta,
            salt_buckets=config.band_salt_buckets,
            forced_smj=config.forced_smj,
        )
    clusters = ckpt("clusters", components)
    acts = make_actions(clusters, meta, forced_smj=config.forced_smj)
    if not analyze_only:
        acts = ckpt("actions", acts)

    return PipelineResult(
        docs=docs,
        exact_edges=exact_edges,
        signatures=signatures,
        candidate_edges=cand,
        confirmed_edges=confirmed,
        clusters=clusters,
        actions=acts,
        report=cluster_report(acts),
    )


def dup_pairs_from_clusters(clusters: DataFrame) -> DataFrame:
    """All co-cluster pairs (a<b) — what the recall gate compares. Cluster
    membership implies pairhood (equivalence class), so this is a per-cluster
    self-join; dup clusters are small so the join is cheap."""
    l = clusters.select("cluster_id", F.col("conv_id").alias("a"))
    r = clusters.select("cluster_id", F.col("conv_id").alias("b"))
    return l.join(r, "cluster_id").filter(F.col("a") < F.col("b")).select("a", "b")
