"""LSH candidate generation: salted-aggregation pairs against the clique
rule, hot-band star fallback, and the empty_cluster pipeline knob.

Reference analog: the collision-group secondary-index step the cascade leans
on (/root/reference/dupe_analysis.py:391-407)."""

from __future__ import annotations

from itertools import combinations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.operators.lsh import candidate_pairs
from deduplicate_spark.operators.minhash import compute_signatures


def _sig_df(spark, groups, num_perm=8):
    """groups: list of (prefix, n, base_val) — docs {prefix}{i} all share the
    signature [base_val]*num_perm, so every band collides within a group."""
    rows = []
    for prefix, n, base in groups:
        for i in range(n):
            rows.append((f"{prefix}{i:06d}", [base] * num_perm))
    return spark.createDataFrame(rows, "conv_id string, minhash array<bigint>")


CFG = dict(num_perm=8, lsh_bands=4, lsh_rows=2, shingle_k=3)


def _pairs(df):
    return {(r.a, r.b) for r in df.select("a", "b").collect()}


def test_salted_pairs_match_python_reference(spark):
    sigs = _sig_df(spark, [("x", 9, 1), ("y", 5, 2), ("z", 1, 3)])
    salted = candidate_pairs(sigs, DedupConfig(band_salt_buckets=8, **CFG))
    ps = _pairs(salted)
    expected = {
        p for prefix, n in (("x", 9), ("y", 5))
        for p in combinations([f"{prefix}{i:06d}" for i in range(n)], 2)
    }
    assert ps == expected
    # 9-doc and 5-doc groups are <= allpairs_max=16: full cliques
    assert len(ps) == 9 * 8 // 2 + 5 * 4 // 2


def test_mega_band_star_edges_no_blowup(spark):
    # one hot band bucket far above allpairs_max: must produce star edges
    # (O(n) rows): every member starred to the bucket minimum
    n = 5000
    cfg_s = DedupConfig(band_salt_buckets=16, **CFG)
    sigs = _sig_df(spark, [("hot", n, 7)]).repartition(8)
    ps = _pairs(candidate_pairs(sigs, cfg_s))
    assert len(ps) == n - 1  # star to min member, not n^2/2 clique
    rep = min(f"hot{i:06d}" for i in range(n))
    assert all(a == rep for a, _ in ps)
    assert ps == {(rep, f"hot{i:06d}") for i in range(1, n)}


def test_config_knobs_change_behavior(spark):
    # the allpairs_max boundary (16 for LSH bands): a 16-doc bucket is a
    # full clique, a 17-doc bucket and a 30-doc bucket are stars to their
    # minimum member
    sigs = _sig_df(spark, [("c", 16, 5), ("s", 17, 6), ("g", 30, 7)])
    ps = _pairs(candidate_pairs(sigs, DedupConfig(**CFG)))
    by_group = {p: {(a, b) for a, b in ps if a.startswith(p)} for p in "csg"}
    assert len(by_group["c"]) == 16 * 15 // 2 == 120
    for prefix, n in (("s", 17), ("g", 30)):
        assert by_group[prefix] == {
            (f"{prefix}{0:06d}", f"{prefix}{i:06d}") for i in range(1, n)
        }
    assert len(ps) == 120 + 16 + 29


@pytest.mark.parametrize("empty_cluster,expect_empty_dupes", [(True, True), (False, False)])
def test_empty_cluster_knob(spark, empty_cluster, expect_empty_dupes):
    """A doc is content-empty when it has no character outside Unicode
    whitespace (str.strip()'s set, U+001C..U+001F included). True puts every
    such doc in one cluster; False leaves all of them unclustered, even the
    two equal ones and those with non-ASCII whitespace."""
    from deduplicate_spark.pipeline import run_pipeline
    from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA

    empties = {
        "empty/a": ["   "],
        "empty/b": [""],
        "empty/tabs": ["\t\n "],
        "empty/wide1": [" " * 400],
        "empty/wide2": [" " * 400],
        "empty/turns": ["", "", ""],  # doc "\n\n", like datagen's empty/ convs
        "empty/unicode": ["\u3000\u00a0"],
        "empty/separators": ["\x1c\x1d\x1e\x1f"],
    }
    full = "the quick brown fox jumps over the lazy dog again"
    convs = {"full/a": [full], "full/b": [full], **empties}
    rows = [
        (cid, i, "user", text, "", None)
        for cid, texts in convs.items()
        for i, text in enumerate(texts)
    ]
    turns = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        schema=TRANSCRIPTS_SCHEMA,
    )
    res = run_pipeline(spark, turns, DedupConfig(empty_cluster=empty_cluster))
    cluster_of = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    assert cluster_of["full/a"] == cluster_of["full/b"]
    empty_clusters = {cluster_of.get(cid) for cid in empties}
    if expect_empty_dupes:
        assert len(empty_clusters) == 1 and None not in empty_clusters
    else:
        assert empty_clusters == {None}


def test_min_jaccard_rescue_band(spark):
    """Multi-evidence confirmation: hamming <= max confirms outright; a pair
    in (max, max+slack] confirms iff est Jaccard >= min_jaccard; beyond the
    slack the pair is rejected even with perfect minhash agreement."""
    from deduplicate_spark.operators.simhash import (
        RESCUE_HAMMING_SLACK,
        confirm_pairs,
    )

    cfg = DedupConfig(num_perm=8, lsh_bands=4, lsh_rows=2, simhash_hamming_max=4)
    base = 0x0F0F0F0F0F0F0F0F
    flip = lambda n: base ^ ((1 << n) - 1)  # differs from base in n low bits
    mh_full = [int(i) for i in range(8)]
    mh_half = [0, 1, 2, 3, 99, 98, 97, 96]
    sigs = spark.createDataFrame(
        [
            ("A", base, mh_full),
            ("B", flip(cfg.simhash_hamming_max + 1), mh_full),   # rescue: est=1.0
            ("C", flip(cfg.simhash_hamming_max + RESCUE_HAMMING_SLACK + 1), mh_full),
            ("D", flip(cfg.simhash_hamming_max + 1), mh_half),   # est=0.5 < 0.7
            ("E", flip(2), mh_half),                             # hamming ok alone
        ],
        "conv_id string, simhash long, minhash array<long>",
    )
    pairs = spark.createDataFrame(
        [("A", x, "lsh") for x in "BCDE"], "a string, b string, evidence string"
    )
    got = {r.b: r.hamming for r in confirm_pairs(pairs, sigs, config=cfg).collect()}
    assert set(got) == {"B", "E"}
    assert got["B"] == cfg.simhash_hamming_max + 1

    # the eager rescue short-circuit (opt-in, ADVICE r4) must not change
    # the confirmed set — only skip the wide attach when the band is empty
    from dataclasses import replace as _replace

    for flag in (True, False):
        got_f = {
            r.b
            for r in confirm_pairs(
                pairs, sigs, config=_replace(cfg, rescue_short_circuit=flag)
            ).collect()
        }
        assert got_f == {"B", "E"}, flag


def test_rescue_short_circuit_skips_wide_attach_when_band_empty(spark):
    """With no candidate in the near-miss band, rescue_short_circuit=True
    returns only the hamming-confirmed pairs (the wide minhash attach is
    skipped entirely)."""
    from dataclasses import replace as _replace

    from deduplicate_spark.operators.simhash import confirm_pairs

    cfg = DedupConfig(num_perm=8, lsh_bands=4, lsh_rows=2, simhash_hamming_max=4)
    mh = [int(i) for i in range(8)]
    sigs = spark.createDataFrame(
        [("A", 0, mh), ("B", 3, mh)],  # hamming(A,B)=2 <= 4: confirmed outright
        "conv_id string, simhash long, minhash array<long>",
    )
    pairs = spark.createDataFrame(
        [("A", "B", "lsh")], "a string, b string, evidence string"
    )
    out = confirm_pairs(
        pairs, sigs, config=_replace(cfg, rescue_short_circuit=True)
    )
    assert {(r.a, r.b) for r in out.collect()} == {("A", "B")}
