"""The reference's pinned semantics: default dedup equivalence is the
FINGERPRINT, not the content. test_complete_hash_false
(/root/reference/test_dupe_analysis.py:498-526) asserts a crafted
fingerprint-collision IS grouped by default; test_complete_hash (469-496)
asserts full-content hashing separates it.

Transcript analog: a cyclic rotation of a document keeps (almost) the same
char-shingle set — MinHash/LSH groups it with the original; exact
confirmation (complete_hash=True) must split it."""

from __future__ import annotations

import pytest

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.oracle import assemble_docs_pandas, oracle_dup_pairs
from deduplicate_spark.pipeline import run_pipeline


def _collision_rows():
    # aperiodic base (distinct numbered words) so a rotation is NOT
    # content-equal but keeps (almost) the same shingle set
    base = " ".join(f"word{i:03d}" for i in range(240))
    half = len(base) // 2
    rotated = base[half:] + " " + base[:half]
    fillers = [
        f"completely unrelated filler document number {i} with its own words "
        * 4
        for i in range(4)
    ]
    rows = [("orig", 0, "user", base, "", None), ("rot", 0, "user", rotated, "", None)]
    rows += [(f"fill{i}", 0, "user", t, "", None) for i, t in enumerate(fillers)]
    return rows


@pytest.fixture(scope="module")
def collision_turns(spark):
    return spark.createDataFrame(
        _collision_rows(),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def test_fingerprint_collision_grouped_by_default(spark, collision_turns):
    res = run_pipeline(spark, collision_turns, DedupConfig())
    clusters = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert clusters.get("orig") is not None, "rotation not caught at approximate level"
    assert clusters.get("orig") == clusters.get("rot")


def test_complete_hash_separates_collision(spark, collision_turns):
    res = run_pipeline(spark, collision_turns, DedupConfig(complete_hash=True))
    clusters = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    # not exact-content-equal -> no cluster membership in strict mode
    assert "orig" not in clusters
    assert "rot" not in clusters


def test_oracle_complete_hash_unions_exact_groups_only():
    """The oracle follows the engine's strict mode: the rotation is an LSH
    candidate of the original but not content-equal, so it is no pair."""
    import pandas as pd

    turns = pd.DataFrame(
        _collision_rows(), columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    docs = assemble_docs_pandas(turns)
    assert ("orig", "rot") in oracle_dup_pairs(docs, DedupConfig())
    assert ("orig", "rot") not in oracle_dup_pairs(docs, DedupConfig(complete_hash=True))


def test_strict_store_run_writes_exact_stages_only(spark, turns_df, tmp_path):
    """Strict mode is the exact stage: a store run checkpoints no
    representative, signature or pair stage, and returns no signatures."""
    import os

    from deduplicate_spark.sources.checkpoint import CheckpointStore

    cfg = DedupConfig(exclude_roles=("system",), complete_hash=True)
    root = str(tmp_path / "strict")
    store = CheckpointStore(spark, root, cfg.config_hash(), "corpus")
    res = run_pipeline(spark, turns_df, cfg, store=store)
    assert res.signatures is None
    assert set(os.listdir(root)) == {"docs", "docs_meta", "clusters", "actions"}
    assert res.clusters.count() > 0


def test_confirm_pairs_refuses_strict_mode(spark):
    """A direct caller must not get pairs under complete_hash, docs or not."""
    from deduplicate_spark.operators.simhash import confirm_pairs

    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    sigs = spark.createDataFrame([(1, 0), (2, 0)], "conv_id long, simhash long")
    docs = spark.createDataFrame([(1, "s"), (2, "s")], "conv_id long, exact_sha string")
    with pytest.raises(ValueError, match="complete_hash"):
        confirm_pairs(pairs, sigs, docs=docs, config=DedupConfig(complete_hash=True))


def test_streaming_strict_equals_batch_strict(spark, corpus, tmp_path):
    """Streaming strict mode adds exact edges only, and its clusters equal
    a clean batch strict run on the same corpus."""
    import zlib

    from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA
    from deduplicate_spark.streaming.incremental import (
        IncrementalState,
        current_clusters,
        process_batch,
    )

    turns_pd, _ = corpus
    cfg = DedupConfig(exclude_roles=("system",), complete_hash=True)
    state = IncrementalState(
        docs_path=str(tmp_path / "docs"),
        signatures_path=str(tmp_path / "sigs"),
        pairs_path=str(tmp_path / "pairs"),
        state_partitions=4,
    )
    batch_of = turns_pd["conv_id"].map(lambda c: zlib.crc32(c.encode()) % 3)
    for i in range(3):
        batch = spark.createDataFrame(turns_pd[batch_of == i], TRANSCRIPTS_SCHEMA)
        m = process_batch(spark, batch, state, cfg, first_batch=(i == 0))
        assert m["new_pairs"] == 0
    streamed = {tuple(r) for r in current_clusters(spark, state, cfg).collect()}
    batch_run = run_pipeline(spark, spark.createDataFrame(turns_pd, TRANSCRIPTS_SCHEMA), cfg)
    assert streamed == {tuple(r) for r in batch_run.clusters.collect()}
    assert streamed
