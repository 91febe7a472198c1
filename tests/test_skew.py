"""Skew-safe bucket stats: the shared salted helper (operators/skew.py) and
its use in the substring pass (VERDICT r2 #2 — the fp window was the last
unsalted hot-bucket window in the repo)."""

from __future__ import annotations

import hashlib
from collections import defaultdict
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.operators.minhash import MAX_SHINGLE_CHARS
from deduplicate_spark.operators.skew import bucket_pairs, tag_bucket_stats
from deduplicate_spark.operators.substring import (
    _ALLPAIRS_MAX,
    has_common_substring_ge,
    substring_pairs,
    winnow_fingerprints,
    winnow_width,
)


def test_tag_bucket_stats_matches_python_reference(spark):
    rows = [(f"d{i:03d}", (i % 3)) for i in range(30)] + [("solo", 99)]
    df = spark.createDataFrame(rows, "conv_id string, k int")
    salted = tag_bucket_stats(df, "k", salt_buckets=8)
    snap = lambda d: {  # noqa: E731
        (r.conv_id, r.k, r.bucket_n, r.bucket_rep) for r in d.collect()
    }
    members = defaultdict(list)
    for cid, k in rows:
        members[k].append(cid)
    expected = {
        (cid, k, len(m), min(m)) for k, m in members.items() if len(m) > 1 for cid in m
    }
    assert snap(salted) == expected
    # collision-only: the singleton bucket never survives
    assert all(n > 1 for _, _, n, _ in snap(salted))
    # no window partition in the salted physical plan (AQE can split joins,
    # not window partitions), and the stats join-back must be sort-merge —
    # never a driver-built broadcast (OOM at scale, measured at 6.5M turns)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


def test_bucket_pairs_matches_python_reference(spark):
    """The shared pairing operator against a pure-Python restatement of its
    rule: all pairs in buckets of at most allpairs_max members, star edges
    to the bucket minimum above it. Buckets sit on both sides of the
    boundary, one is hot, two keys share one member set (deduped before
    expansion) and one doc sits in two buckets of different tiers."""
    cap = 16
    buckets = {
        1: [0, 1],
        2: list(range(100, 116)),  # exactly cap: clique
        3: [1] + list(range(200, 216)),  # cap + 1: star to 1
        4: list(range(1000, 4000)),  # hot: 3,000 members
        5: list(range(300, 305)),
        6: list(range(300, 305)),  # same member set as key 5
        7: [500],  # singleton: no pairs
    }
    rows = [(i, k) for k, members in buckets.items() for i in members]
    df = spark.createDataFrame(rows, "doc_id long, k int").repartition(4)

    expected = set()
    for members in buckets.values():
        m = sorted(members)
        if len(m) <= cap:
            expected |= set(combinations(m, 2))
        else:
            expected |= {(m[0], x) for x in m[1:]}

    for salt in (8, 1):
        out = bucket_pairs(df, "k", allpairs_max=cap, id_col="doc_id", salt_buckets=salt)
        got = [(r.a, r.b) for r in out.collect()]
        assert len(got) == len(set(got))  # no duplicate rows
        assert all(a < b for a, b in got)
        assert set(got) == expected, salt
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan and "BroadcastHashJoin" not in plan


def _mega_fp_docs(spark, n):
    """n docs sharing one long exact substring (every winnowing fingerprint
    of the shared region is an n-member hot bucket) + unique md5 tails so
    no two docs are exact dups and tails share no 16-char run."""
    shared = "the same boilerplate preamble text block " * 12  # ~500 chars
    rows = []
    for i in range(n):
        tail = "".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(3)
        )
        rows.append((f"m{i:06d}", shared + tail))
    return spark.createDataFrame(rows, "conv_id string, doc_text string")


def _substring_pairs_reference(rows, config):
    """Pure-Python restatement of substring_pairs' rule: winnowing
    fingerprint buckets pair all members up to _ALLPAIRS_MAX, star to the
    bucket minimum above it; a candidate survives when the two texts share
    a substring of at least substring_min_len bytes."""
    t = config.substring_min_len
    w = winnow_width(t)
    texts = dict(rows)
    buckets = defaultdict(list)
    for cid, text in rows:
        for fp in winnow_fingerprints(text, t, w, MAX_SHINGLE_CHARS):
            buckets[int(fp)].append(cid)
    cand = set()
    for members in buckets.values():
        m = sorted(members)
        if len(m) <= _ALLPAIRS_MAX:
            cand |= set(combinations(m, 2))
        else:
            cand |= {(m[0], x) for x in m[1:]}
    return {
        (a, b)
        for a, b in cand
        if has_common_substring_ge(texts[a], texts[b], t, w, MAX_SHINGLE_CHARS)
    }


def test_mega_fingerprint_star_edges_no_window_straggler(spark):
    """A fingerprint bucket far above allpairs_max must produce star edges
    to the bucket min, equal to a pure-Python restatement of the rule — the
    substring-pass mirror of test_mega_band_star_edges_no_blowup."""
    n = 2000
    docs = _mega_fp_docs(spark, n).repartition(8)
    cfg_s = DedupConfig(enable_substring_pass=True, band_salt_buckets=16)
    pairs_s = {(r.a, r.b) for r in substring_pairs(docs, cfg_s).collect()}
    rows = [(r.conv_id, r.doc_text) for r in docs.collect()]
    assert pairs_s == _substring_pairs_reference(rows, cfg_s)
    # the full-membership hot buckets star every doc to the global min;
    # boundary-window subset buckets may add a few extra (verified) stars
    # to their own reps, but the total stays O(n) — never the n^2/2 clique
    rep = f"m{0:06d}"
    assert {(rep, f"m{i:06d}") for i in range(1, n)} <= pairs_s
    assert len(pairs_s) < 3 * n


def test_forced_smj_knob(spark):
    """forced_smj=False restores planner freedom (broadcast allowed on a
    small corpus); the default keeps the SMJ insurance that the plan-shape
    tests above pin."""
    rows = [(f"d{i:03d}", i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "conv_id string, k int")
    free = tag_bucket_stats(df, "k", salt_buckets=8, forced_smj=False)
    snap = lambda d: {  # noqa: E731
        (r.conv_id, r.k, r.bucket_n, r.bucket_rep) for r in d.collect()
    }
    assert snap(free) == snap(tag_bucket_stats(df, "k", salt_buckets=8))
    # AQE's FINAL plan (post-execution) converts the tiny stats join to a
    # broadcast once the hint is gone; with the hint (default) the
    # plan-shape tests above pin SortMergeJoin even here
    plan = free._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan


def test_confirm_attach_never_broadcasts_signatures(spark):
    """The rescue attach carries ~1KB minhash arrays per signature row; a
    planner under-estimate built it as a 1.15 GB driver-side broadcast at
    6.5M turns/local[2] (maxResultSize abort). Default config must pin
    sort-merge on every signature attach."""
    from deduplicate_spark.operators.simhash import confirm_pairs

    cfg = DedupConfig(num_perm=8, lsh_bands=4, lsh_rows=2)
    sigs = spark.createDataFrame(
        [(f"c{i}", i * 7, [int(i)] * 8) for i in range(50)],
        "conv_id string, simhash long, minhash array<long>",
    )
    pairs = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}", "lsh") for i in range(0, 40, 2)],
        "a string, b string, evidence string",
    )
    # confirm_pairs lineage-cuts its attach (the joins execute inside the
    # cut), so pin the join shape on the attach unit itself — both the
    # narrow (hamming) and the wide (minhash-carrying rescue) forms
    from deduplicate_spark.operators.simhash import attach_signatures

    for with_minhash in (False, True):
        plan = (
            attach_signatures(pairs, sigs, with_minhash=with_minhash)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    # and the full confirm still produces the right pairs through the cut
    assert confirm_pairs(pairs, sigs, config=cfg).count() == 20


def test_measured_forced_smj_gate():
    """forced_smj=None resolves off MEASURED corpus counts (VERDICT r4 #1):
    small corpora keep planner freedom; any of the three broadcast-risk
    proxies (rows, text bytes, signature bytes) forces the SMJ insurance."""
    from deduplicate_spark.operators.skew import measured_forced_smj

    cfg = DedupConfig()
    assert not measured_forced_smj(5_000, 2_000_000, cfg)  # sf0.1-scale: free
    assert measured_forced_smj(2_000_000, 0, cfg)  # row gate
    assert measured_forced_smj(1_000, 100 * 1024 * 1024, cfg)  # text bytes
    # signature-table bytes: n_docs * num_perm * 8 = 100k * 1 KB > 64 MB —
    # the measured 1.15 GB broadcast class at 6.5M turns trips this proxy
    assert measured_forced_smj(100_000, 0, cfg)


def test_maybe_merge_hint_none_is_scale_safe(spark):
    """An operator called with forced=None (no measurement available) must
    keep the merge hint — None only relaxes via run_pipeline's measured
    resolution, never silently."""
    from deduplicate_spark.operators.skew import maybe_merge_hint

    small = spark.range(10).select(F.col("id").alias("k"))
    big = spark.range(1000).select(F.col("id").alias("k"))
    plan = (
        big.join(maybe_merge_hint(small, None), "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan


def test_measured_small_corpus_gate():
    """kernel_small_corpus=None resolves off the MEASURED text bytes: tiny
    corpora get the kernel-parallelism floor (AQE's byte-based coalescing
    would hand the CPU-bound kernels 1-4 partitions), big corpora never pay
    the extra text shuffle."""
    from deduplicate_spark.operators.skew import measured_small_corpus

    cfg = DedupConfig()  # shuffle_partitions=32 -> gate at 128 MB
    assert measured_small_corpus(25 * 1024 * 1024, cfg)  # sf0.1-scale text
    assert not measured_small_corpus(1_600 * 1024 * 1024, cfg)  # 6.5M turns


def test_kernel_parallelism_floor_applied_when_small(spark, turns_df):
    """On a measured-small corpus the signature kernel input is spread to
    one task per slot (the checkpointed signatures table carries the
    repartitioned partitioning); pinned False leaves the plan untouched."""
    from deduplicate_spark.pipeline import run_pipeline

    slots = spark.sparkContext.defaultParallelism
    res = run_pipeline(spark, turns_df, DedupConfig())  # auto-resolves small
    assert res.signatures.rdd.getNumPartitions() == slots
    res_off = run_pipeline(spark, turns_df, DedupConfig(kernel_small_corpus=False))
    assert res_off.signatures.rdd.getNumPartitions() < slots


def test_python_kernel_stages_run_one_task_per_slot(spark, turns_df, monkeypatch):
    """Each Python kernel stage of a pipeline run with the substring pass
    on — signatures, winnowing fingerprints, substring verify — runs
    exactly defaultParallelism tasks: a Python task pays a fixed worker
    set-up cost, so more tasks than slots only multiplies it."""
    from deduplicate_spark import pipeline
    from deduplicate_spark.operators import substring

    seen = {}
    orig_fp, orig_sub = substring.doc_fingerprints, pipeline.substring_pairs

    def fp_spy(docs, config=None):
        seen["fingerprint_input"] = docs.rdd.getNumPartitions()
        return orig_fp(docs, config)

    def sub_spy(docs, config=None):
        out = orig_sub(docs, config)
        seen["verify_output"] = out.rdd.getNumPartitions()
        return out

    monkeypatch.setattr(substring, "doc_fingerprints", fp_spy)
    monkeypatch.setattr(pipeline, "substring_pairs", sub_spy)
    res = pipeline.run_pipeline(
        spark, turns_df, DedupConfig(enable_substring_pass=True)
    )
    seen["signatures"] = res.signatures.rdd.getNumPartitions()
    slots = spark.sparkContext.defaultParallelism
    assert seen == dict.fromkeys(
        ("fingerprint_input", "verify_output", "signatures"), slots
    )


def test_ngram_gate_measures_utf8_bytes(spark, tmp_path, monkeypatch):
    """The n-gram query's gates must see BYTES, not chars (VERDICT r5:
    chars undercount UTF-8 up to 4x — a CJK corpus under the char threshold
    could dodge the forced-SMJ insurance on text 4x over it). The documents
    table's own n_chars column counts chars and must not stand in."""
    from deduplicate_spark.entry_queries import q_dd_ngram_jaccard_pairs
    from deduplicate_spark.operators import skew

    # 3-byte CJK chars: 40 chars -> 120 bytes per row
    spark.createDataFrame(
        [(i, "世" * 40, 40) for i in range(10)], "doc_id long, text string, n_chars int"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    class Measured(Exception):
        pass

    seen = []

    def spy(n_docs, total_bytes, config):
        seen.append((n_docs, total_bytes))
        raise Measured

    monkeypatch.setattr(skew, "resolve_gates", spy)
    with pytest.raises(Measured):
        q_dd_ngram_jaccard_pairs(spark, str(tmp_path))
    assert seen == [(10, 1200)]


def test_assembled_docs_carry_true_byte_length(spark):
    """assemble_docs computes total_bytes (UTF-8) beside total_len (chars)
    in the same projection; corpus_stats prefers it, so the pipeline's
    measured gates see bytes even on non-ASCII corpora."""
    import pandas as pd

    from deduplicate_spark.operators.assembly import assemble_docs
    from deduplicate_spark.pipeline import corpus_stats
    from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA

    turns = spark.createDataFrame(
        pd.DataFrame(
            [("c0", 0, "user", "世界" * 5, "", None)],
            columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
        ),
        TRANSCRIPTS_SCHEMA,
    )
    docs = assemble_docs(turns, DedupConfig())
    row = docs.first()
    assert row.total_len == 10 and row.total_bytes == 30
    st = corpus_stats(docs.drop("doc_text"), verify_ids=False)
    assert st.total_bytes == 30
