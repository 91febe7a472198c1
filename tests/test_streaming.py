from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.datagen import generate_transcripts
from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA
from deduplicate_spark.streaming.incremental import IncrementalState, process_batch


@pytest.fixture()
def state(tmp_path):
    return IncrementalState(
        docs_path=str(tmp_path / "docs"),
        signatures_path=str(tmp_path / "sigs"),
        pairs_path=str(tmp_path / "pairs"),
    )


def test_incremental_two_batches_finds_cross_batch_dup(spark, state):
    """Crossover dups only detectable post-merge — the reference's
    test_db_merge contract (test_dupe_analysis.py:377-467), incremental."""
    turns_pd, _ = generate_transcripts(n_base=30, seed=11)
    # batch 1: originals; batch 2: the planted copies (dup*/ prefixes)
    is_copy = turns_pd["conv_id"].str.startswith(("dupx/", "dupn/", "mirror"))
    b1 = spark.createDataFrame(turns_pd[~is_copy], TRANSCRIPTS_SCHEMA)
    b2 = spark.createDataFrame(turns_pd[is_copy], TRANSCRIPTS_SCHEMA)

    cfg = DedupConfig()
    m1 = process_batch(spark, b1, state, cfg, first_batch=True)
    assert m1["batch_docs"] > 0

    m2 = process_batch(spark, b2, state, cfg, first_batch=False)
    # the copies duplicate batch-1 content: exact fast path must fire
    assert m2["instant_exact_dupes"] > 0 or m2["new_pairs"] > 0

    pairs = spark.read.parquet(state.pairs_path)
    cross = pairs.filter(
        (F.col("a").startswith("dup") | F.col("a").startswith("mirror"))
        != (F.col("b").startswith("dup") | F.col("b").startswith("mirror"))
    )
    assert cross.count() > 0  # cross-batch near edges exist


def test_incremental_never_recomputes_old_content(spark, state):
    """Batch 2 re-sends identical conversations: every doc hits the exact
    fast path; zero new signatures computed (the F2 incremental filter)."""
    turns_pd, _ = generate_transcripts(n_base=10, seed=13)
    df = spark.createDataFrame(turns_pd, TRANSCRIPTS_SCHEMA)
    cfg = DedupConfig()
    process_batch(spark, df, state, cfg, first_batch=True)

    renamed = turns_pd.copy()
    renamed["conv_id"] = "rerun/" + renamed["conv_id"]
    df2 = spark.createDataFrame(renamed, TRANSCRIPTS_SCHEMA)
    m2 = process_batch(spark, df2, state, cfg, first_batch=False)
    assert m2["instant_exact_dupes"] == m2["batch_docs"]
    assert m2["new_signatures"] == 0


def _cluster_partition(clusters_df):
    """{frozenset of members} — order/label independent cluster identity."""
    from collections import defaultdict

    groups = defaultdict(set)
    for r in clusters_df.select("cluster_id", "conv_id").collect():
        groups[r.cluster_id].add(r.conv_id)
    return {frozenset(v) for v in groups.values() if len(v) > 1}


def test_streaming_equals_clean_batch_run(spark, state, tmp_path):
    """After N batches, CC over the accumulated pair state must produce the
    same cluster partition as a clean one-shot pipeline run on the union
    corpus — the reference's merge contract (test_dupe_analysis.py:377-467).

    NOTE: the equivalence is connectivity-equivalent at the CANDIDATE level,
    not structurally identical post-confirmation — streaming stars large-
    bucket members to the established (min OLD) member while a clean run
    stars to the global bucket min, and SimHash confirmation is
    pair-specific, so pathological corpora could confirm differently. On
    this corpus (and any corpus whose near-dups are genuinely similar) the
    partitions coincide; see incremental.py module docstring."""
    from deduplicate_spark.pipeline import run_pipeline
    from deduplicate_spark.streaming.incremental import current_clusters

    import zlib

    turns_pd, _ = generate_transcripts(n_base=40, seed=23)
    convs = sorted(turns_pd["conv_id"].unique())
    cfg = DedupConfig()
    # 3 batches split by a DETERMINISTIC conv hash (builtin hash() is
    # randomized per process via PYTHONHASHSEED — a data-dependent failure
    # here must be replayable): dups and originals land in different batches
    for i in range(3):
        part = turns_pd[turns_pd["conv_id"].isin(
            [c for c in convs if zlib.crc32(c.encode()) % 3 == i]
        )]
        bdf = spark.createDataFrame(part, TRANSCRIPTS_SCHEMA)
        process_batch(spark, bdf, state, cfg, first_batch=(i == 0))

    stream_clusters = _cluster_partition(current_clusters(spark, state, cfg))
    clean = run_pipeline(spark, spark.createDataFrame(turns_pd, TRANSCRIPTS_SCHEMA), cfg)
    clean_clusters = _cluster_partition(clean.clusters)
    assert stream_clusters == clean_clusters


def test_instant_exact_edges_written_to_state(spark, state):
    """Exact dupes of historical content must leave an edge in pairs state
    (ADVICE r1: previously only counted, never written)."""
    import pandas as pd

    def mk(cid, text):
        return (cid, 0, "user", text, "", None)

    text = "a reasonably long conversation body for exact duplication checks"
    b1 = spark.createDataFrame(
        pd.DataFrame([mk("orig/a", text)], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        TRANSCRIPTS_SCHEMA,
    )
    b2 = spark.createDataFrame(
        pd.DataFrame([mk("copy/b", text)], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        TRANSCRIPTS_SCHEMA,
    )
    cfg = DedupConfig()
    process_batch(spark, b1, state, cfg, first_batch=True)
    m2 = process_batch(spark, b2, state, cfg, first_batch=False)
    assert m2["instant_exact_dupes"] == 1
    pairs = {(r.a, r.b) for r in spark.read.parquet(state.pairs_path).collect()}
    assert ("orig/a", "copy/b") in pairs


def test_hot_bucket_cost_is_o_new_per_batch(spark, state):
    """A boilerplate bucket accumulated over batches must cost O(new
    members) edges per batch (star to the established old target), never
    old x old or clique."""
    import pandas as pd

    cfg = DedupConfig(shingle_k=3, num_perm=8, lsh_bands=4, lsh_rows=2)
    base = "identical boilerplate content repeated verbatim in every doc"

    def batch(prefix, n):
        rows = [(f"{prefix}/{i:04d}", 0, "user", base, "", None) for i in range(n)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
            TRANSCRIPTS_SCHEMA,
        )

    process_batch(spark, batch("b0", 30), state, cfg, first_batch=True)
    m1 = process_batch(spark, batch("b1", 25), state, cfg, first_batch=False)
    # all 25 are exact dupes of history -> instant path, zero kernel work
    assert m1["instant_exact_dupes"] == 25
    assert m1["new_signatures"] == 0
    # mutate content per doc so they're near-dups, not exact
    rows = [(f"b2/{i:04d}", 0, "user", base + f" tok{i}", "", None) for i in range(25)]
    b2 = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        TRANSCRIPTS_SCHEMA,
    )
    m2 = process_batch(spark, b2, state, cfg, first_batch=False)
    # near edges bounded by O(new x bands), far below clique size
    assert 0 < m2["new_pairs"] <= 25 * cfg.lsh_bands


def test_resent_conversation_is_refused_before_any_state_write(spark, state):
    """Immediate mode ingests a conversation once: a later batch that
    re-sends a conv_id (here with unrelated content) raises a named error
    before any state table changes, instead of storing a second docs row
    and keeping the old content's edges."""
    import os

    import pandas as pd

    from deduplicate_spark.streaming.incremental import ConversationAlreadyIngested

    def batch(rows):
        return spark.createDataFrame(
            pd.DataFrame(
                [(c, 0, "user", t, "", None) for c, t in rows],
                columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            ),
            TRANSCRIPTS_SCHEMA,
        )

    a = " ".join(f"alpha{i:03d} beta{i % 7} gamma" for i in range(120))
    b = " ".join(f"omega{i:03d} delta{i % 5} sigma" for i in range(120))
    cfg = DedupConfig()
    process_batch(spark, batch([("X", a), ("Y", a + " tail")]), state, cfg, first_batch=True)

    root = os.path.dirname(state.docs_path)

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(root)
            for f in fs
        }

    before = files()
    with pytest.raises(ConversationAlreadyIngested, match="'X'"):
        process_batch(spark, batch([("X", b)]), state, cfg, first_batch=False)
    assert files() == before


def test_state_partition_pruning_and_compact_reps(spark, state, tmp_path):
    """VERDICT r2 #3: per-batch state reads must be partition-pruned (bytes
    track the batch, not history) and the exact fast path must read a
    compact incremental sha->rep table, not re-aggregate the docs state."""
    import os

    import pandas as pd

    from deduplicate_spark.streaming.incremental import (
        pruned_state_read,
        _collect_mods,
    )

    def batch(prefix, texts):
        rows = [(f"{prefix}/{i:03d}", 0, "user", t, "", None) for i, t in enumerate(texts)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
            TRANSCRIPTS_SCHEMA,
        )

    cfg = DedupConfig(shingle_k=3, num_perm=8, lsh_bands=4, lsh_rows=2)
    t1 = [f"first wave doc {i} with some distinct content body {i*7}" for i in range(20)]
    t2 = [f"second wave doc {i} fresh content entirely different {i*13}" for i in range(20)]
    process_batch(spark, batch("b0", t1), state, cfg, first_batch=True)
    process_batch(spark, batch("b1", t2), state, cfg, first_batch=False)

    # fat state is (wseq, hash-mod) partitioned on disk: epoch level for
    # crash-replay-idempotent writes, kmod level for per-batch pruning
    def kmod_dirs(root):
        out = set()
        for ep in os.listdir(root):
            if ep.startswith("wseq="):
                out |= {d for d in os.listdir(os.path.join(root, ep)) if d.startswith("kmod=")}
        return out

    epoch_dirs = {d for d in os.listdir(state.buckets_path) if d.startswith("wseq=")}
    assert epoch_dirs == {"wseq=0", "wseq=1"}
    bucket_dirs = kmod_dirs(state.buckets_path)
    assert len(bucket_dirs) > 1

    # a pruned probe's scan carries a PartitionFilter and returns only rows
    # from the requested partitions — planning-time pruning, not a post-scan
    # filter of everything
    full = spark.read.parquet(state.buckets_path)
    some_mods = sorted(
        {int(d.split("=")[1]) for d in bucket_dirs}
    )[: max(1, len(bucket_dirs) // 2)]
    pruned = pruned_state_read(spark, state.buckets_path, some_mods)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kmod" in plan
    # rows survive only from touched partitions (mod is derived from the key)
    assert set(_collect_mods(pruned, "band_hash", state.state_partitions)) <= set(some_mods)
    assert pruned.count() < full.count()

    # reps side table: exactly one row per distinct sha ever seen — compact,
    # no O(history) docs aggregation per batch — and sha-mod partitioned so
    # the exact fast path's read is pruned like the fat tables (VERDICT r3 #3)
    reps_dirs = kmod_dirs(state.reps_path)
    assert len(reps_dirs) > 1
    reps = spark.read.parquet(state.reps_path)
    n_shas = (
        spark.read.parquet(state.docs_path).select("exact_sha").distinct().count()
    )
    assert reps.count() == n_shas
    assert set(reps.columns) == {"exact_sha", "old_rep", "wseq", "kmod"}
    some_rmods = sorted(int(d.split("=")[1]) for d in reps_dirs)[
        : max(1, len(reps_dirs) // 2)
    ]
    pruned_reps = pruned_state_read(spark, state.reps_path, some_rmods)
    rplan = pruned_reps._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in rplan and "kmod" in rplan
    assert pruned_reps.count() < reps.count()
    # pruning must preserve correctness: every sha in the pruned partitions
    # has its mod in the requested set
    assert set(
        _collect_mods(pruned_reps, "exact_sha", state.state_partitions)
    ) <= set(some_rmods)


def test_buffered_cross_batch_conversation_equals_clean_run(spark, state):
    """VERDICT r3 #8: conversations SPLIT ACROSS micro-batches. Every
    multi-turn conversation's turns are split by parity across two batches;
    buffered mode must assemble each conversation exactly once, fully, and
    the final clusters must equal a clean one-shot batch run."""
    from deduplicate_spark.pipeline import run_pipeline
    from deduplicate_spark.streaming.incremental import (
        current_clusters,
        flush_buffered,
        process_batch_buffered,
    )

    turns_pd, _ = generate_transcripts(n_base=30, seed=31)
    cfg = DedupConfig()
    parts = [
        turns_pd[turns_pd["turn_idx"] % 2 == 0],
        turns_pd[turns_pd["turn_idx"] % 2 == 1],
    ]
    for seq, part in enumerate(parts):
        m = process_batch_buffered(
            spark,
            spark.createDataFrame(part, TRANSCRIPTS_SCHEMA),
            state,
            cfg,
            batch_seq=seq,
            buffer_lag=1,
        )
        # every conv is active in both batches: nothing may release early
        # (a released partial conversation would be hashed incomplete)
        assert m["released_convs"] == 0 and m["late_turn_convs"] == 0
    mf = flush_buffered(spark, state, cfg)
    assert mf["released_convs"] == turns_pd["conv_id"].nunique()

    stream_clusters = _cluster_partition(current_clusters(spark, state, cfg))
    clean = run_pipeline(
        spark, spark.createDataFrame(turns_pd, TRANSCRIPTS_SCHEMA), cfg
    )
    assert stream_clusters == _cluster_partition(clean.clusters)


def test_buffered_release_timing_and_late_turns(spark, state):
    """A conversation releases after buffer_lag quiet batches; turns that
    arrive after release are dropped + counted (watermark late-data
    contract), and the released doc contains exactly the buffered turns."""
    import pandas as pd

    from deduplicate_spark.streaming.incremental import process_batch_buffered

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        pd.DataFrame(rows, columns=cols), TRANSCRIPTS_SCHEMA
    )
    cfg = DedupConfig()
    m0 = process_batch_buffered(
        spark,
        mk([("A", 0, "user", "alpha turn zero content", "", None),
            ("B", 0, "user", "bravo turn zero content", "", None)]),
        state, cfg, batch_seq=0, buffer_lag=1,
    )
    assert m0["released_convs"] == 0
    # A grows; B is quiet -> B releases at seq 1
    m1 = process_batch_buffered(
        spark,
        mk([("A", 1, "user", "alpha turn one content", "", None)]),
        state, cfg, batch_seq=1, buffer_lag=1,
    )
    assert m1["released_convs"] == 1
    # late turn for released B: dropped + counted; quiet A releases now
    m2 = process_batch_buffered(
        spark,
        mk([("B", 1, "user", "bravo late turn", "", None)]),
        state, cfg, batch_seq=2, buffer_lag=1,
    )
    assert m2["late_turn_convs"] == 1
    assert m2["released_convs"] == 1

    docs = {r.conv_id: r for r in spark.read.parquet(state.docs_path).collect()}
    assert docs["A"].n_turns == 2  # full cross-batch assembly
    assert docs["B"].n_turns == 1  # late turn dropped, not re-hashed


def test_stream_restart_immediate_resumes_state(spark, state, tmp_path):
    """VERDICT r4 #3: a Structured Streaming restart from checkpoint must
    APPEND to accumulated state — the r4 wrapper kept first_batch in driver
    memory, so a restart re-entered with first_batch=True and OVERWROTE the
    dedup state. Kill-and-restart mid-stream must equal a clean run."""
    import zlib

    from deduplicate_spark.pipeline import run_pipeline
    from deduplicate_spark.streaming.incremental import (
        current_clusters,
        stream_turns,
    )

    turns_pd, _ = generate_transcripts(n_base=25, seed=47)
    convs = sorted(turns_pd["conv_id"].unique())
    first = [c for c in convs if zlib.crc32(c.encode()) % 2 == 0]
    h1 = turns_pd[turns_pd["conv_id"].isin(first)]
    h2 = turns_pd[~turns_pd["conv_id"].isin(first)]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    cfg = DedupConfig()

    spark.createDataFrame(h1, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = stream_turns(spark, src, state, cfg, checkpoint_location=ckpt)
    q.processAllAvailable()
    q.stop()
    n_after_first = spark.read.parquet(state.docs_path).count()
    assert n_after_first == len(set(h1["conv_id"]))

    spark.createDataFrame(h2, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_turns(spark, src, state, cfg, checkpoint_location=ckpt)  # RESTART
    q2.processAllAvailable()
    q2.stop()
    # restart appended — batch-1 docs survived
    assert spark.read.parquet(state.docs_path).count() == len(convs)

    stream_clusters = _cluster_partition(current_clusters(spark, state, cfg))
    clean = run_pipeline(
        spark, spark.createDataFrame(turns_pd, TRANSCRIPTS_SCHEMA), cfg
    )
    assert stream_clusters == _cluster_partition(clean.clusters)


def test_stream_restart_buffered_preserves_buffer(spark, state, tmp_path):
    """ADVICE r4 (medium): buffered-mode restart must recover batch_seq
    from the persisted pending log and APPEND to the turn buffer — the r4
    wrapper reset seq to 0, which overwrote the buffer and pending log,
    silently losing buffered-but-unreleased conversations."""
    from deduplicate_spark.pipeline import run_pipeline
    from deduplicate_spark.streaming.incremental import (
        current_clusters,
        flush_buffered,
        stream_turns,
    )

    turns_pd, _ = generate_transcripts(n_base=20, seed=53)
    even = turns_pd[turns_pd["turn_idx"] % 2 == 0]
    odd = turns_pd[turns_pd["turn_idx"] % 2 == 1]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    cfg = DedupConfig()

    # run 1 (one micro-batch, seq 0): even turns buffered, nothing releases
    # at lag=2
    spark.createDataFrame(even, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = stream_turns(
        spark, src, state, cfg, checkpoint_location=ckpt, buffer_lag=2
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(state.turns_path).count() == len(even)

    # RESTART: seq must resume at 1 (from the pending log), buffer must
    # APPEND — both halves present after run 2
    spark.createDataFrame(odd, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = stream_turns(
        spark, src, state, cfg, checkpoint_location=ckpt, buffer_lag=2
    )
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(state.turns_path).count() == len(turns_pd)
    pend = spark.read.parquet(state.pending_path)
    assert pend.agg(F.max("seen_seq")).first()[0] == 1

    flush_buffered(spark, state, cfg)
    stream_clusters = _cluster_partition(current_clusters(spark, state, cfg))
    clean = run_pipeline(
        spark, spark.createDataFrame(turns_pd, TRANSCRIPTS_SCHEMA), cfg
    )
    assert stream_clusters == _cluster_partition(clean.clusters)


def test_immediate_replay_is_idempotent(spark, state, tmp_path):
    """Crash-replay contract (ADVICE/VERDICT r5): foreachBatch is
    at-least-once — after a mid-batch crash the SAME epoch is redelivered.
    State writes are wseq-partitioned dynamic overwrites, so a replay must
    leave every state table (and the clusters) byte-equivalent to a single
    delivery, including when the crashed attempt wrote only SOME tables."""
    import shutil

    from deduplicate_spark.streaming.incremental import current_clusters

    turns_pd, _ = generate_transcripts(n_base=20, seed=17)
    is_copy = turns_pd["conv_id"].str.startswith(("dupx/", "dupn/", "mirror"))
    b1 = spark.createDataFrame(turns_pd[~is_copy], TRANSCRIPTS_SCHEMA)
    b2 = spark.createDataFrame(turns_pd[is_copy], TRANSCRIPTS_SCHEMA)

    cfg = DedupConfig()
    process_batch(spark, b1, state, cfg, first_batch=True, epoch=0)
    process_batch(spark, b2, state, cfg, first_batch=False, epoch=1)

    def snapshot():
        out = {}
        for name in ("docs_path", "signatures_path", "pairs_path", "reps_path"):
            df = spark.read.parquet(getattr(state, name))
            key = "exact_sha" if name == "reps_path" else df.columns[0]
            out[name] = (df.count(), df.select(key).distinct().count())
        out["clusters"] = _cluster_partition(current_clusters(spark, state, cfg))
        return out

    once = snapshot()

    # full replay of epoch 1 (crash after all writes, before commit)
    process_batch(spark, b2, state, cfg, first_batch=False, epoch=1)
    assert snapshot() == once

    # partial-crash replay: epoch 1 died before the reps write landed
    shutil.rmtree(f"{state.reps_path}/wseq=1")
    process_batch(spark, b2, state, cfg, first_batch=False, epoch=1)
    assert snapshot() == once


def test_first_epoch_partial_crash_recovers(spark, state, tmp_path):
    """ADVICE r5 (medium): epoch 0 crashes AFTER the docs write but before
    any later state table lands. On restart the stream probes docs_path,
    concludes first_batch=False, and replays epoch 0 — the replay must treat
    each MISSING state table as empty prior state (not PATH_NOT_FOUND) and
    converge to the same clusters as an uncrashed run."""
    import shutil

    from deduplicate_spark.streaming.incremental import current_clusters

    turns_pd, _ = generate_transcripts(n_base=20, seed=29)
    is_copy = turns_pd["conv_id"].str.startswith(("dupx/", "dupn/", "mirror"))
    b1 = spark.createDataFrame(turns_pd[~is_copy], TRANSCRIPTS_SCHEMA)
    b2 = spark.createDataFrame(turns_pd[is_copy], TRANSCRIPTS_SCHEMA)
    cfg = DedupConfig()

    # stage the crash: run epoch 0 fully, then erase everything EXCEPT docs
    process_batch(spark, b1, state, cfg, first_batch=True, epoch=0)
    for p in (state.signatures_path, state.buckets_path, state.pairs_path,
              state.reps_path):
        shutil.rmtree(p)

    # restart: a fresh process has no memoized table knowledge
    recovered = IncrementalState(
        docs_path=state.docs_path,
        signatures_path=state.signatures_path,
        pairs_path=state.pairs_path,
    )
    # the stream's docs probe says "state exists" -> first_batch=False replay
    process_batch(spark, b1, recovered, cfg, first_batch=False, epoch=0)
    process_batch(spark, b2, recovered, cfg, first_batch=False, epoch=1)
    got = _cluster_partition(current_clusters(spark, recovered, cfg))

    # uncrashed control on a separate state root
    control = IncrementalState(
        docs_path=str(tmp_path / "c_docs"),
        signatures_path=str(tmp_path / "c_sigs"),
        pairs_path=str(tmp_path / "c_pairs"),
    )
    process_batch(spark, b1, control, cfg, first_batch=True, epoch=0)
    process_batch(spark, b2, control, cfg, first_batch=False, epoch=1)
    want = _cluster_partition(current_clusters(spark, control, cfg))
    assert got == want


def test_buffered_replay_is_idempotent(spark, state):
    """Replaying a buffered batch_seq (the foreachBatch epoch) must not
    double-buffer turns: the released conversations' doc_text — and the
    final clusters — must equal a clean one-shot batch run."""
    from deduplicate_spark.pipeline import run_pipeline
    from deduplicate_spark.streaming.incremental import (
        current_clusters,
        flush_buffered,
        process_batch_buffered,
    )

    turns_pd, _ = generate_transcripts(n_base=25, seed=37)
    cfg = DedupConfig()
    parts = [
        turns_pd[turns_pd["turn_idx"] % 2 == 0],
        turns_pd[turns_pd["turn_idx"] % 2 == 1],
    ]
    for seq, part in enumerate(parts):
        bdf = spark.createDataFrame(part, TRANSCRIPTS_SCHEMA)
        process_batch_buffered(spark, bdf, state, cfg, batch_seq=seq, buffer_lag=1)
        # crash-replay the same epoch: redelivered batch, same seq
        m = process_batch_buffered(spark, bdf, state, cfg, batch_seq=seq, buffer_lag=1)
        assert m["late_turn_convs"] == 0
    flush_buffered(spark, state, cfg)

    # doubled turn buffers would change doc_text -> different exact_sha set
    clean_docs = run_pipeline(
        spark, spark.createDataFrame(turns_pd, TRANSCRIPTS_SCHEMA), cfg
    )
    stream_shas = {
        r.exact_sha
        for r in spark.read.parquet(state.docs_path).select("exact_sha").collect()
    }
    clean_shas = {r.exact_sha for r in clean_docs.docs.select("exact_sha").collect()}
    assert stream_shas == clean_shas
    assert _cluster_partition(current_clusters(spark, state, cfg)) == _cluster_partition(
        clean_docs.clusters
    )


def test_legacy_state_layout_raises_clearly(spark, state):
    """A state dir written before the wseq layout cannot be appended to
    replay-safely: the batch-processing read path must fail with the
    migration message, not silently mix layouts."""
    import pandas as pd

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        pd.DataFrame(rows, columns=cols), TRANSCRIPTS_SCHEMA
    )
    # simulate the pre-wseq layout: kmod-partitioned, no epoch level
    legacy = spark.createDataFrame(
        [("deadbeef", "old/0", 0)], "exact_sha string, old_rep string, kmod int"
    )
    legacy.write.partitionBy("kmod").parquet(state.reps_path)
    spark.createDataFrame(
        [("old/0", "t", 5, 5, "p", "deadbeef", 0)],
        "conv_id string, doc_text string, n_turns int, total_len long, "
        "prefix_sha string, exact_sha string, kmod int",
    ).write.partitionBy("kmod").parquet(state.docs_path)

    with pytest.raises(ValueError, match="wseq"):
        process_batch(
            spark,
            mk([("B", 0, "user", "brand new content here", "", None)]),
            state,
            DedupConfig(),
            first_batch=False,
            epoch=1,
        )


def test_flush_buffered_on_empty_state_is_noop(spark, state):
    """Flushing before any batch ran (stream stopped early) must be a
    no-op, not a PATH_NOT_FOUND crash."""
    from deduplicate_spark.streaming.incremental import flush_buffered

    assert flush_buffered(spark, state, DedupConfig()) == {"released_convs": 0}


def _band_rule_reference(buckets, allpairs_max):
    """The streaming band rule in plain Python, per bucket of (new, conv_id)
    members: up to ``allpairs_max`` members, every pair with at least one
    new endpoint; above it, a star from the target (minimal old member, or
    minimal new member when none is old) to each new member. Old/new edges
    are (old, new); new/new edges are (smaller, larger)."""
    out = set()
    for members in buckets.values():
        members = sorted(members)
        if len(members) <= allpairs_max:
            pairs = [
                (x, y) for i, x in enumerate(members) for y in members[i + 1:]
            ]
        else:
            pairs = [(members[0], m) for m in members[1:]]
        out |= {(x[1], y[1]) for x, y in pairs if (x[0] or y[0]) and x[1] != y[1]}
    return out


def test_exact_stage_takes_the_config_salt_and_join_strategy(spark, state, monkeypatch):
    """process_batch's exact stage passes the config's band_salt_buckets and
    forced_smj to exact_star_edges and exact_representatives, as its band
    stage does to band_pairs."""
    from deduplicate_spark import pipeline

    calls = []

    def spy(fn):
        def wrapped(docs, **kw):
            calls.append((fn.__name__, kw.get("salt_buckets"), kw.get("forced_smj")))
            return fn(docs, **kw)

        return wrapped

    for name in ("exact_star_edges", "exact_representatives"):
        monkeypatch.setattr(pipeline, name, spy(getattr(pipeline, name)))
    turns = spark.createDataFrame(generate_transcripts(n_base=10, seed=5)[0], TRANSCRIPTS_SCHEMA)
    process_batch(
        spark, turns, state, DedupConfig(band_salt_buckets=3, forced_smj=False), first_batch=True
    )
    assert sorted(calls) == [
        ("exact_representatives", 3, False),
        ("exact_star_edges", 3, False),
    ]


def test_band_pairs_matches_python_reference(spark):
    """process_batch's band stage (skew.bucket_pairs over (new, conv_id)
    struct members) against a pure-Python reference, salted and window
    bucket stats alike."""
    from dataclasses import replace

    from deduplicate_spark.streaming.incremental import band_pairs

    def ids(prefix, n):
        return [f"{prefix}{i:05d}" for i in range(n)]

    buckets = {
        1: [(False, c) for c in ids("oldonly", 5)],
        2: [(True, c) for c in ids("pair", 2)],
        3: [(True, c) for c in ids("clique", 16)],
        4: [(False, c) for c in ids("m16o", 8)] + [(True, c) for c in ids("m16n", 8)],
        5: [(False, c) for c in ids("m17o", 5)] + [(True, c) for c in ids("m17n", 12)],
        6: [(False, c) for c in ids("m3ko", 1000)] + [(True, c) for c in ids("m3kn", 2000)],
        7: [(True, c) for c in ids("star", 17)],
        # "both" is old and new: no self-pair
        8: [(False, "both"), (True, "both"), (False, "b-old"), (True, "b-new")],
        9: [(False, "self"), (True, "self")],
    }
    members = spark.createDataFrame(
        [(c, h, new) for h, ms in buckets.items() for new, c in ms],
        "conv_id string, band_hash bigint, new boolean",
    )
    want = _band_rule_reference(buckets, 16)
    # spot checks of the rule itself
    assert not any(a.startswith("oldonly") for a, _ in want)
    assert len({p for p in want if p[0].startswith("clique")}) == 120
    assert len({p for p in want if p[0].startswith("m16")}) == 16 * 15 // 2 - 8 * 7 // 2
    assert {p for p in want if p[0].startswith("m17")} == {
        ("m17o00000", c) for c in ids("m17n", 12)
    }
    assert {p for p in want if p[0].startswith("m3k")} == {
        ("m3ko00000", c) for c in ids("m3kn", 2000)
    }
    assert {p for p in want if p[0].startswith("star")} == {
        ("star00000", c) for c in ids("star", 17)[1:]
    }
    assert not any(a == b for a, b in want)

    cfg = DedupConfig()
    for salt in (cfg.band_salt_buckets, 1):
        got = band_pairs(members, config=replace(cfg, band_salt_buckets=salt)).collect()
        assert {r.evidence for r in got} == {"lsh"}
        assert {(r.a, r.b) for r in got} == want, salt


def test_table_exists_only_missing_or_empty_dir_is_absent(spark, tmp_path):
    """A missing dir and an empty dir (left by a crash in the first epoch)
    read as absent; a dir holding a file that is not parquet raises rather
    than passing for a fresh run, which would overwrite every state table."""
    from py4j.protocol import Py4JJavaError

    from deduplicate_spark.streaming.incremental import _table_exists

    assert _table_exists(spark, str(tmp_path / "missing")) is False
    (tmp_path / "empty").mkdir()
    assert _table_exists(spark, str(tmp_path / "empty")) is False
    spark.range(3).write.parquet(str(tmp_path / "table"))
    assert _table_exists(spark, str(tmp_path / "table")) is True
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Py4JJavaError):
        _table_exists(spark, str(corrupt))
