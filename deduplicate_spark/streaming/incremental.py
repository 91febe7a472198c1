"""Incremental / streaming dedup ingestion.

The reference has no streaming (SURVEY.md §2.9) — its incrementality is
memoized analysis DBs + recompute-only-NULL-signatures, and its merge tests
(test_dupe_analysis.py:377-467) pin that merged stores must link duplicates
across stores. This module adds the Structured Streaming ingestion surface a
production transcript pipeline needs, with per-batch work proportional to
the BATCH, not the accumulated history:

  * stream of turn rows -> per-batch assembly. Two modes:
      - immediate (``process_batch``): a batch carries whole conversations,
        and each conversation is ingested once — a batch that re-sends a
        ``conv_id`` already in the docs state is refused
        (:class:`ConversationAlreadyIngested`);
      - buffered (``process_batch_buffered``): conversations MAY SPAN
        batches — turns are buffered in conv-partitioned state and a
        conversation enters the cascade only after ``buffer_lag`` quiet
        batches (the watermark/session-window pattern: late data within the
        lag re-opens the session; later-than-lag turns are counted in the
        ``late_turns`` metric and dropped, exactly Spark's watermark
        contract). No retraction machinery needed — every conversation is
        hashed exactly once, fully assembled.
  * exact fast path: new docs whose exact_sha is already known produce an
    instant edge to the minimal historical holder of that sha (written to
    the pairs state — the reference merge-test contract) and never reach
    the kernel; batch-internal exact groups are collapsed to star edges and
    one representative, mirroring the batch cascade.
  * near path: MinHash only on genuinely-new exact-distinct reps. LSH band
    buckets are PERSISTED STATE (conv_id, band_hash, appended per batch) —
    history is never re-banded. The state tables are written PARTITIONED by
    pmod(xxhash64(key), N) (the parquet analog of Iceberg bucket
    partitioning), so each batch's probe prunes to the partitions its keys
    hit at planning time and then semi-filters by the batch's distinct band
    hashes — per-batch BYTES READ track the batch, not history. The compact
    (exact_sha, rep) side table is partitioned and pruned the same way.
  * band pairs come from the batch operator ``skew.bucket_pairs`` with
    its caps (:func:`band_pairs`): small touched buckets produce all pairs
    with >= 1 new endpoint (never old x old); buckets above
    ``lsh.ALLPAIRS_MAX_DEFAULT`` members produce star edges from each new
    member to the bucket target (the minimal OLD member when one exists, so
    new arrivals attach to the established cluster; the minimal new member
    otherwise). A hot boilerplate bucket therefore costs O(new members) per
    batch. Edges between an old and a new member are written (old, new);
    new x new edges are written (smaller, larger) conv_id.
  * confirmation (SimHash plus the bounded min-Jaccard rescue) identical to
    the batch path; historical signatures are fetched per-endpoint via a
    broadcast semi-join, never scanned wholesale. Strict mode
    (``complete_hash``) adds no near edges, as the batch path builds none;
    its signatures and band buckets are still written to the state.

Equivalence contract vs a clean batch run: CONNECTIVITY-EQUIVALENT AT THE
CANDIDATE LEVEL, not structurally identical. Streaming stars large-bucket
arrivals to the established (min OLD) member while a clean run stars to the
global bucket min, and a bucket that crosses ``ALLPAIRS_MAX_DEFAULT``
members mid-history emits early cliques + later stars. SimHash
confirmation is pair-specific, so adversarial corpora (candidates near the
hamming threshold) could confirm different edge subsets; for real near-dup
corpora the confirmed connectivity — and therefore the cluster partition —
coincides (pinned by
tests/test_streaming.py::test_streaming_equals_clean_batch_run).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplicate_spark.config import EMPTY_SHA1, DedupConfig
from deduplicate_spark.operators.assembly import assemble_docs
from deduplicate_spark.operators.lsh import ALLPAIRS_MAX_DEFAULT, band_buckets
from deduplicate_spark.operators.minhash import compute_signatures
from deduplicate_spark.operators.simhash import confirm_pairs
from deduplicate_spark.operators.skew import bucket_pairs
from deduplicate_spark.lineage import cut_lineage


@dataclass
class IncrementalState:
    """Persisted table paths for the accumulated state.

    The fat state tables (docs, signatures, band buckets) are written
    PARTITIONED by a hash-mod column so per-batch probes read only the
    partitions the batch actually touches (partition pruning on the
    key-mod — the parquet analog of Iceberg bucket partitioning named in
    the module docstring). ``reps_path`` is a compact (exact_sha, rep)
    side table maintained incrementally — the exact fast path reads it
    instead of re-aggregating the full docs state every batch.
    """

    docs_path: str
    signatures_path: str
    pairs_path: str
    buckets_path: str | None = None
    reps_path: str | None = None
    # buffered mode (cross-batch conversations): raw-turn buffer
    # (conv-mod partitioned), pending-conv log (partitioned by the batch
    # seq that last saw the conv), released-conv set (conv-mod partitioned)
    turns_path: str | None = None
    pending_path: str | None = None
    released_path: str | None = None
    state_partitions: int = 32
    # driver-side memo of state tables already observed on disk: existence
    # probes are a LIST + schema-inference round trip whose cost grows with
    # accumulated wseq partitions, so each table is probed at most once per
    # process and never again after this process itself wrote it
    _known_tables: set = field(default_factory=set, repr=False, compare=False)

    def __post_init__(self) -> None:
        if self.buckets_path is None:
            self.buckets_path = self.signatures_path.rstrip("/") + "_buckets"
        if self.reps_path is None:
            self.reps_path = self.docs_path.rstrip("/") + "_reps"
        if self.turns_path is None:
            self.turns_path = self.docs_path.rstrip("/") + "_turns"
        if self.pending_path is None:
            self.pending_path = self.docs_path.rstrip("/") + "_pending"
        if self.released_path is None:
            self.released_path = self.docs_path.rstrip("/") + "_released"


class ConversationAlreadyIngested(ValueError):
    """An immediate-mode batch re-sent a conversation the docs state already
    holds. Immediate mode ingests each conversation once; conversations that
    span batches go through buffered mode (:func:`process_batch_buffered`)."""


_LEGACY_LAYOUT_MSG = (
    "state table at {path} predates the crash-safe epoch layout (no 'wseq' "
    "partition column): appends into it cannot be made replay-idempotent. "
    "Migrate once by rewriting each state table partitioned by (wseq, kmod) "
    "with wseq=0, or rebuild the state from the source corpus."
)


def pruned_state_read(
    spark: SparkSession,
    path: str,
    mods: list[int],
    mod_col: str = "kmod",
    exclude_wseq: int | None = None,
) -> DataFrame:
    """Read a hash-mod-partitioned state table, pruned to the partitions in
    ``mods``. The isin predicate on the partition column is resolved at
    PLANNING time (PartitionFilters in the scan) — untouched partitions are
    never listed, opened, or read; per-batch bytes scale with the batch's
    key spread, not with accumulated history.

    ``exclude_wseq`` (batch-processing reads only) drops the rows the
    CURRENT epoch itself wrote: after a mid-batch crash, foreachBatch
    replays the epoch, and the crashed attempt's partial writes must be
    invisible to the replay so it recomputes from exactly the pre-crash
    inputs (its rewrites then supersede the partials — see
    :func:`_write_state`). Passing it against a pre-wseq layout raises:
    such a table cannot be written replay-safely at all.

    Legacy-layout fallback (ADVICE r4): a state directory written before
    the table was kmod-partitioned has no partition column — fall back to
    an unpruned read instead of failing on the missing column; the next
    overwrite of that table migrates it to the partitioned layout."""
    df = spark.read.parquet(path)
    if exclude_wseq is not None:
        if "wseq" not in df.columns:
            raise ValueError(_LEGACY_LAYOUT_MSG.format(path=path))
        df = df.filter(F.col("wseq") != int(exclude_wseq))
    if "wseq" in df.columns:
        df = df.drop("wseq")
    if mod_col not in df.columns:
        return df
    return df.filter(F.col(mod_col).isin(mods)).drop(mod_col)


def _with_mod(df: DataFrame, key: str, n: int, mod_col: str = "kmod") -> DataFrame:
    return df.withColumn(mod_col, F.pmod(F.xxhash64(key), F.lit(n)).cast("int"))


def _write_state(
    df: DataFrame,
    path: str,
    epoch: int,
    key: str | None = None,
    n: int = 0,
    reset: bool = False,
) -> None:
    """Idempotent state write: rows land in the ``wseq=<epoch>`` partition
    via DYNAMIC partition overwrite, so when foreachBatch redelivers an
    epoch after a mid-batch crash the replay REWRITES exactly its own
    partitions instead of double-appending (at-least-once delivery +
    idempotent writes = effectively-once state). ``reset=True`` (genuinely
    fresh run) statically overwrites the whole table instead."""
    out = df.withColumn("wseq", F.lit(int(epoch)).cast("long"))
    parts = ["wseq"]
    if key is not None:
        out = _with_mod(out, key, n)
        parts.append("kmod")
    w = out.write.mode("overwrite")
    if not reset:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*parts).parquet(path)


def _next_epoch(spark: SparkSession, path: str) -> int:
    """Epoch for a DIRECT (non-streaming) call: one more than the largest
    epoch already persisted. The agg touches only the wseq partition column
    (file-listing metadata, no row data). Streaming callers pass the
    foreachBatch epoch_id instead — it is stable across a crash-replay,
    which a max+1 probe is not (the crashed attempt's own partials would
    bump it)."""
    if not _table_exists(spark, path):
        return 0
    df = spark.read.parquet(path)
    if "wseq" not in df.columns:
        raise ValueError(_LEGACY_LAYOUT_MSG.format(path=path))
    m = df.agg(F.max("wseq")).first()[0]
    return int(m) + 1 if m is not None else 0


def _collect_mods(df: DataFrame, key: str, n: int) -> list[int]:
    """Distinct pmod values of df[key] — at most ``n`` ints, driver-safe."""
    return [
        r[0]
        for r in df.select(
            F.pmod(F.xxhash64(key), F.lit(n)).cast("int").alias("m")
        ).distinct().collect()
    ]


_EDGE_SCHEMA = "a string, b string, evidence string"


def band_pairs(members: DataFrame, config: DedupConfig) -> DataFrame:
    """members(conv_id, band_hash, new) -> candidate edges (a, b, evidence),
    pairing each touched band bucket through the batch operator
    :func:`~deduplicate_spark.operators.skew.bucket_pairs`.

    Members are ``(new, conv_id)`` structs and old rows carry
    ``new=False``, so each bucket's minimum — the star target above
    ``ALLPAIRS_MAX_DEFAULT`` — is its minimal OLD member when one exists, its
    minimal new member otherwise. Pairs with no new endpoint are dropped
    (history is never re-paired), and so are self-pairs of a conv_id that
    is both old and new."""
    return (
        bucket_pairs(
            members.select(F.struct("new", "conv_id").alias("member"), "band_hash"),
            "band_hash",
            allpairs_max=ALLPAIRS_MAX_DEFAULT,
            id_col="member",
            salt_buckets=config.band_salt_buckets,
            forced_smj=config.forced_smj,
        )
        .filter(F.col("a.new") | F.col("b.new"))
        .select(F.col("a.conv_id").alias("a"), F.col("b.conv_id").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .withColumn("evidence", F.lit("lsh"))
    )


def process_batch(
    spark: SparkSession,
    turns_batch: DataFrame,
    state: IncrementalState,
    config: DedupConfig | None = None,
    first_batch: bool = False,
    epoch: int | None = None,
) -> dict[str, int]:
    """Process one micro-batch of turns against accumulated state.

    Returns batch metrics. Usable directly or inside foreachBatch (see
    :func:`stream_turns`, which passes the epoch_id through). Each
    conversation is ingested once: a batch carrying a ``conv_id`` the docs
    state already holds raises :class:`ConversationAlreadyIngested` before
    any state is written (conversations that span batches use
    :func:`process_batch_buffered`). ``epoch``
    keys this batch's state writes for crash-replay idempotency
    (:func:`_write_state`); streaming callers MUST pass the foreachBatch
    epoch_id — ``None`` (direct calls) derives max-persisted + 1, which is
    correct only when no replay is possible.
    """
    from deduplicate_spark.pipeline import exact_representatives, exact_star_edges

    config = config or DedupConfig()
    if epoch is None:
        epoch = 0 if first_batch else _next_epoch(spark, state.docs_path)

    def prior_state(path: str, mods: list[int], empty_like: DataFrame) -> DataFrame:
        """Pruned prior state without this epoch's own rows. A MISSING
        table reads as empty (``empty_like``'s schema): a crash between the
        docs write and a later state write leaves docs saying "not first
        batch" while e.g. reps/buckets do not exist yet (ADVICE r5)."""
        if path not in state._known_tables:
            if not _table_exists(spark, path):
                return empty_like.limit(0)
            state._known_tables.add(path)
        return pruned_state_read(spark, path, mods, exclude_wseq=epoch)

    # drop the gate-only byte column: the docs STATE dir schema must stay
    # stable across versions (appends + unionByName with prior-run state).
    # Cuts follow the batch rule (bucket_pairs, run_pipeline): eager, and
    # only on tables that two readers read — racing readers of a lazy cut
    # both recompute it.
    new_docs = cut_lineage(assemble_docs(turns_batch, config).drop("total_bytes"))
    if not first_batch:
        # the conv-id mods prune the re-send probe, the sha-mods the reps
        # read below: one distinct over both (at most state_partitions^2
        # rows) collects them in one job
        n = state.state_partitions
        mods = _with_mod(_with_mod(new_docs, "conv_id", n, "cm"), "exact_sha", n, "sm")
        mods = mods.select("cm", "sm").distinct().collect()
        cmods, smods = sorted({r.cm for r in mods}), sorted({r.sm for r in mods})
        # a re-sent conv_id would add a second docs row for it and leave the
        # edges of its old content in the pairs state; this epoch's own rows
        # are excluded, so a crash replay passes
        old_ids = prior_state(state.docs_path, cmods, new_docs).select("conv_id")
        again = (
            new_docs.select("conv_id").join(old_ids, "conv_id", "left_semi").limit(1).collect()
        )
        if again:
            raise ConversationAlreadyIngested(
                f"conv_id {again[0].conv_id!r} is already in {state.docs_path}: immediate "
                "mode ingests a conversation once (use process_batch_buffered)"
            )

    # zero_hash analog: content-empty docs (EMPTY_SHA1) take part only when
    # empty_cluster=True, and never reach the kernel
    non_empty = F.col("exact_sha") != EMPTY_SHA1

    # ---- exact fast path ------------------------------------------------
    exact_new = new_docs if config.empty_cluster else new_docs.filter(non_empty)
    if first_batch:
        instant_edges = spark.createDataFrame([], _EDGE_SCHEMA)
        genuinely_new = new_docs
    else:
        # compact (exact_sha, old_rep) side table — the "existing analysis"
        # fast path (dupe_analysis.py:106-113) without re-aggregating the
        # docs state (VERDICT r2 #3). One row per distinct sha ever seen,
        # first writer wins (later smaller-id holders are linked by their
        # own instant edges). Pruned to O(batch) bytes by the sha-mods of
        # new_docs, a superset of exact_new's shas, so the anti-join below
        # sees every historical sha the batch could hit.
        old_reps = prior_state(
            state.reps_path,
            smods,
            new_docs.select("exact_sha", F.col("conv_id").alias("old_rep")),
        )
        instant_edges = exact_new.join(old_reps, "exact_sha").select(
            F.col("old_rep").alias("a"),
            F.col("conv_id").alias("b"),
            F.lit("exact").alias("evidence"),
        )
        genuinely_new = cut_lineage(
            new_docs.join(old_reps.select("exact_sha"), "exact_sha", "left_anti")
        )

    # batch-internal exact groups: star edges + one rep per sha, exactly
    # the batch cascade's work-avoidance (pipeline.py exact stage)
    internal_exact_edges = exact_star_edges(
        genuinely_new if config.empty_cluster else genuinely_new.filter(non_empty),
        salt_buckets=config.band_salt_buckets,
        forced_smj=config.forced_smj,
    )
    reps = exact_representatives(
        genuinely_new, salt_buckets=config.band_salt_buckets, forced_smj=config.forced_smj
    )

    # ---- near path: kernel on genuinely-new reps only -------------------
    new_sigs = cut_lineage(compute_signatures(reps, config))
    new_buckets = cut_lineage(band_buckets(new_sigs, config).select("conv_id", "band_hash"))

    if config.complete_hash:
        # strict mode clusters exact groups only, and every candidate would
        # pair sha-distinct docs: no near edge. The signatures and buckets
        # are still written, so the state rows match under either mode.
        confirmed = spark.createDataFrame([], _EDGE_SCHEMA)
    else:
        members = new_buckets.withColumn("new", F.lit(True))
        if not first_batch:
            # probe ONLY the buckets this batch touches: partition pruning on
            # the batch's band-hash mods at planning time, then a broadcast
            # semi-filter on its distinct band hashes — bytes READ track the
            # batch, not history. History is never re-banded (the state IS
            # the banding).
            new_keys = new_buckets.select("band_hash").distinct()
            bmods = _collect_mods(new_keys, "band_hash", state.state_partitions)
            touched_old = prior_state(state.buckets_path, bmods, new_buckets).join(
                F.broadcast(new_keys), "band_hash"
            )
            members = members.unionByName(
                touched_old.withColumn("new", F.lit(False))
            )
        cand = cut_lineage(band_pairs(members, config))

        # confirmation needs signatures for the candidates' endpoints only —
        # fetched via broadcast semi-join, never a full history scan
        endpoints = cand.select(F.col("a").alias("conv_id")).unionByName(
            cand.select(F.col("b").alias("conv_id"))
        ).distinct()
        if first_batch:
            sig_source = new_sigs
        else:
            # endpoint fetches are partition-pruned the same way (signatures
            # carry a ~1 KB minhash array per row — scanning all of history
            # for a per-batch endpoint set is exactly the O(history) I/O this
            # layout removes)
            emods = _collect_mods(endpoints, "conv_id", state.state_partitions)
            old_needed = prior_state(state.signatures_path, emods, new_sigs).join(
                F.broadcast(endpoints), "conv_id", "left_semi"
            )
            sig_source = new_sigs.unionByName(old_needed)
        confirmed = confirm_pairs(cand, sig_source, config=config).select(
            "a", "b", "evidence"
        )

    # eager barrier on the full edge set, strictly BEFORE any state append
    # below — preserving read-before-write ordering. Each edge carries its
    # source so the batch metrics come from this one table, not re-run
    # counts of its inputs.
    all_edges = cut_lineage(
        instant_edges.withColumn("source", F.lit("instant"))
        .unionByName(internal_exact_edges.withColumn("source", F.lit("internal")))
        .unionByName(confirmed.withColumn("source", F.lit("near")))
    )

    # ---- write state -----------------------------------------------------
    # partitioned by (wseq, key-mod): key-mod keeps the probes pruned, wseq
    # makes a replayed epoch rewrite its own partitions (see _write_state);
    # first_batch statically overwrites (the fresh-run reset).
    n_parts = state.state_partitions
    _write_state(new_docs, state.docs_path, epoch, "conv_id", n_parts, reset=first_batch)
    _write_state(
        new_sigs, state.signatures_path, epoch, "conv_id", n_parts, reset=first_batch
    )
    _write_state(
        new_buckets, state.buckets_path, epoch, "band_hash", n_parts, reset=first_batch
    )
    _write_state(all_edges.drop("source"), state.pairs_path, epoch, reset=first_batch)
    # one (exact_sha, old_rep) row per sha first seen in this batch — the
    # compact side table the next batch's exact fast path reads; sha-mod
    # partitioned like the fat tables so that read stays pruned as history grows
    _write_state(
        genuinely_new.groupBy("exact_sha").agg(F.min("conv_id").alias("old_rep")),
        state.reps_path,
        epoch,
        "exact_sha",
        n_parts,
        reset=first_batch,
    )

    by_source = {
        r["source"]: r["count"] for r in all_edges.groupBy("source").count().collect()
    }
    metrics = {
        "batch_docs": new_docs.count(),
        "instant_exact_dupes": by_source.get("instant", 0),
        "new_signatures": new_sigs.count(),
        "new_pairs": by_source.get("near", 0),
        "new_edges_total": sum(by_source.values()),
    }
    # memoize only tables this batch wrote rows to (reps has rows whenever
    # signatures do): a zero-row write leaves a dir with no data files,
    # which reads as no table
    known = [state.docs_path] if metrics["batch_docs"] else []
    if metrics["new_signatures"]:
        known += [state.reps_path, state.signatures_path, state.buckets_path]
    state._known_tables.update(known)
    return metrics


# what Spark raises for a state dir that is missing, or that exists with
# no data files yet (an empty dir left by a crash in the first epoch)
_NO_TABLE_CONDITIONS = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def _table_exists(spark: SparkSession, path: str) -> bool:
    """Whether a readable state table is at ``path``. Only a missing or
    data-less dir counts as absent: any other read failure (a corrupt or
    foreign file) re-raises, because callers treat absence as a fresh run
    and statically overwrite every state table."""
    try:
        spark.read.parquet(path).schema
        return True
    except AnalysisException as e:
        if e.getCondition() in _NO_TABLE_CONDITIONS:
            return False
        raise


def _release(
    spark: SparkSession,
    convs: DataFrame,
    state: IncrementalState,
    config: DedupConfig,
    epoch: int | None = None,
) -> dict[str, int]:
    """Feed fully-buffered conversations through the dedup cascade exactly
    once: read their complete turn history (conv-mod pruned + broadcast
    semi-filter), run the normal batch cascade, mark them released. The
    released-conv set is recomputed deterministically from pre-epoch state,
    so its wseq-keyed rewrite is replay-idempotent like every other state
    write."""
    n = state.state_partitions
    convs = convs.transform(lambda _df: cut_lineage(_df, eager=True))
    k = convs.count()
    metrics = {"released_convs": k}
    if not k:
        return metrics
    if epoch is None:
        epoch = _next_epoch(spark, state.docs_path)
    rmods = _collect_mods(convs, "conv_id", n)
    rel_turns = pruned_state_read(spark, state.turns_path, rmods).join(
        F.broadcast(convs), "conv_id", "left_semi"
    )
    first_release = not _table_exists(spark, state.docs_path)
    sub = process_batch(
        spark,
        rel_turns,
        state,
        config,
        first_batch=first_release,
        epoch=epoch,
    )
    metrics.update(sub)
    _write_state(
        convs,
        state.released_path,
        epoch,
        "conv_id",
        n,
        reset=not _table_exists(spark, state.released_path),
    )
    return metrics


def process_batch_buffered(
    spark: SparkSession,
    turns_batch: DataFrame,
    state: IncrementalState,
    config: DedupConfig | None = None,
    batch_seq: int = 0,
    buffer_lag: int = 1,
) -> dict[str, int]:
    """Cross-batch conversation mode: buffer turns, release a conversation
    into the cascade only once it has been QUIET for ``buffer_lag`` batches
    (the session-window/watermark pattern — a conversation keeps growing
    while turns keep arriving; ``buffer_lag`` plays the watermark delay).

    Per-batch reads are O(recent): the pending log is partitioned by the
    batch seq that saw the conv, so release-candidate selection touches
    exactly 1 + ``buffer_lag`` seq partitions, and the turn buffer is read
    conv-mod pruned for released convs only. Turns arriving for an
    already-released conversation are DROPPED and counted in
    ``late_turn_convs`` — the same contract as Spark's watermark late-data
    drop; size ``buffer_lag`` like a watermark. ``batch_seq`` must increase
    by 1 per batch starting at 0; streaming callers pass the foreachBatch
    epoch_id (:func:`stream_turns`), which makes every state write here
    replay-idempotent — a redelivered epoch dynamic-overwrites its own
    turn/pending/released partitions instead of double-appending. Call
    :func:`flush_buffered` at stream end to release everything pending."""
    config = config or DedupConfig()
    n = state.state_partitions
    turns_batch = turns_batch.transform(lambda _df: cut_lineage(_df, eager=True))
    batch_convs = turns_batch.select("conv_id").distinct()

    metrics = {"late_turn_convs": 0, "released_convs": 0}
    # run the released-conv late check whenever released state EXISTS — not
    # only when batch_seq > 0 (ADVICE r4): a restarted stream may re-enter
    # at a reset seq while prior releases are on disk, and skipping the
    # check would re-buffer + re-release already-released conversations
    # with partial turn sets
    if _table_exists(spark, state.released_path):
        cmods = _collect_mods(batch_convs, "conv_id", n)
        released = pruned_state_read(spark, state.released_path, cmods)
        late = batch_convs.join(released, "conv_id", "left_semi").transform(
            lambda _df: cut_lineage(_df, eager=True)
        )
        metrics["late_turn_convs"] = late.count()
        if metrics["late_turn_convs"]:
            turns_batch = turns_batch.join(late, "conv_id", "left_anti")
            batch_convs = batch_convs.join(late, "conv_id", "left_anti")

    # reset the buffer tables only on a genuinely FRESH run (seq 0 with no
    # buffered state on disk) — a restarted stream that re-enters at seq 0
    # must not destroy buffered-but-unreleased turns (ADVICE r4 medium);
    # otherwise both writes are per-epoch dynamic overwrites, so a
    # crash-replayed batch_seq rewrites its own partitions (the pending
    # log's seen_seq partition column doubles as its epoch key)
    fresh = batch_seq == 0 and not _table_exists(spark, state.turns_path)
    _write_state(turns_batch, state.turns_path, batch_seq, "conv_id", n, reset=fresh)
    pend_w = batch_convs.withColumn("seen_seq", F.lit(batch_seq)).write.mode("overwrite")
    if not fresh:
        pend_w = pend_w.option("partitionOverwriteMode", "dynamic")
    pend_w.partitionBy("seen_seq").parquet(state.pending_path)

    release_seq = batch_seq - buffer_lag
    if release_seq >= 0:
        pending = spark.read.parquet(state.pending_path)
        # exactly-once: each seq partition is scanned as candidates exactly
        # once (at seq + lag); a conv re-seen within the lag window is
        # anti-joined out here and becomes a candidate again at its LAST
        # quiet point
        cand = pending.filter(F.col("seen_seq") == release_seq).select("conv_id")
        recent = pending.filter(F.col("seen_seq") > release_seq).select("conv_id")
        metrics.update(
            _release(
                spark,
                cand.join(recent, "conv_id", "left_anti"),
                state,
                config,
                epoch=batch_seq,
            )
        )
    return metrics


def flush_buffered(
    spark: SparkSession,
    state: IncrementalState,
    config: DedupConfig | None = None,
) -> dict[str, int]:
    """Stream-end flush: release every conversation still in the buffer
    (terminal operation — reads the whole pending log once). A state with
    no pending log (the stream stopped before any batch completed) is a
    no-op, not an error."""
    config = config or DedupConfig()
    if not _table_exists(spark, state.pending_path):
        return {"released_convs": 0}
    pend = spark.read.parquet(state.pending_path).select("conv_id").distinct()
    if _table_exists(spark, state.released_path):
        pend = pend.join(
            spark.read.parquet(state.released_path), "conv_id", "left_anti"
        )
    return _release(spark, pend, state, config)


def current_clusters(spark: SparkSession, state: IncrementalState, config: DedupConfig | None = None) -> DataFrame:
    """Connected components over the accumulated pair state — the
    cluster-maintenance step a consumer runs after any number of batches.
    Equivalent to a clean batch run's clusters on the same corpus (pinned
    by tests/test_streaming.py)."""
    from deduplicate_spark.operators.components import connected_components

    config = config or DedupConfig()
    if not _table_exists(spark, state.pairs_path):  # no edge written yet
        return spark.createDataFrame([], "conv_id string, cluster_id string")
    edges = spark.read.parquet(state.pairs_path)
    if "wseq" in edges.columns:
        edges = edges.drop("wseq")
    return connected_components(
        edges, max_rounds=config.cc_max_rounds, forced_smj=config.forced_smj
    )


def stream_turns(
    spark: SparkSession,
    source_path: str,
    state: IncrementalState,
    config: DedupConfig | None = None,
    checkpoint_location: str | None = None,
    buffer_lag: int | None = None,
):
    """Structured Streaming wrapper: watch a parquet directory of turn files
    and fold each micro-batch into the dedup state via foreachBatch.
    ``buffer_lag`` switches to the cross-batch-conversation buffered mode
    (see :func:`process_batch_buffered`); remember to call
    :func:`flush_buffered` after stopping the stream.

    RESTART- AND CRASH-SAFE: the batch cursor IS the foreachBatch
    ``epoch_id`` (ADVICE r4 — a driver-memory counter reset to 0 on
    restart, overwriting buffered state; a ``max(seen_seq)+1`` recovery
    probe is not crash-stable either, since a crashed attempt's own
    partial writes would bump it). epoch_id is monotone per checkpoint,
    continues across restarts, and REPEATS on a mid-batch crash replay —
    exactly the key the wseq-partitioned dynamic-overwrite state writes
    need to be idempotent (see :func:`_write_state`). Consequence: a
    stream resumed against existing state MUST reuse its
    ``checkpoint_location`` (deleting it restarts epoch ids at 0 against
    non-empty state — the one layout this scheme cannot repair).
    ``first_batch`` is probed from the docs state table once at the first
    post-(re)start batch, then memoized for the life of the query (the
    per-batch probe was a driver LIST+schema-inference round trip that
    grew with history)."""
    from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA

    config = config or DedupConfig()
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_path)
    )

    seen: dict[str, bool | None] = {"first": None}

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if buffer_lag is not None:
            process_batch_buffered(
                spark, batch_df, state, config,
                batch_seq=int(epoch_id), buffer_lag=buffer_lag,
            )
            return
        if seen["first"] is None:
            seen["first"] = not _table_exists(spark, state.docs_path)
        process_batch(
            spark,
            batch_df,
            state,
            config,
            first_batch=seen["first"],
            epoch=int(epoch_id),
        )
        seen["first"] = False

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()
