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
