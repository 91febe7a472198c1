"""Malformed-input matrix: each public entry over each malformed fixture
gives a defined result — no crash, and the clusters of the
reference-semantics oracle at the same config.

Entries: ``run_pipeline``, and ``process_batch`` over two batches followed
by ``current_clusters``; each under ``complete_hash`` False and True.
Fixtures: an empty corpus, whitespace-only docs (ASCII and Unicode), two
identical docs of exactly ``shingle_k`` bytes, and two identical docs of
``shingle_k - 1`` bytes.

``embedding_dup_pairs`` over an empty input, all-null vectors, a ragged
vector and one hot bucket of identical vectors: each has a defined result
or a named error."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.functions.similarity import (
    _PAIR_BLOCK,
    _run_pair_blocks,
    embedding_dup_pairs,
)
from deduplicate_spark.oracle import assemble_docs_pandas, oracle_dup_pairs
from deduplicate_spark.pipeline import dup_pairs_from_clusters, run_pipeline
from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA
from deduplicate_spark.streaming.incremental import (
    IncrementalState,
    current_clusters,
    process_batch,
)

K = DedupConfig().shingle_k
NORMAL = [
    ("doc_x", "an ordinary conversation turn with enough words to shingle"),
    ("doc_y", "a different ordinary turn that shares nothing with the first"),
]
FIXTURES = {
    "empty_corpus": [],
    # U+3000 ideographic space, U+2003 em space, U+001C-U+001F separators:
    # all str.strip() whitespace, so every one of these docs is content-empty
    "whitespace_only": [
        ("ws_ascii_1", "   "),
        ("ws_ascii_2", " \t\n"),
        ("ws_unicode_1", "\u3000"),
        ("ws_unicode_2", "\u3000\u2003 \x1c\x1f"),
        *NORMAL,
    ],
    "k_bytes": [("k_1", "a" * K), ("k_2", "a" * K), ("k_3", "b" * K), *NORMAL],
    "k_minus_1_bytes": [
        ("short_1", "c" * (K - 1)),
        ("short_2", "c" * (K - 1)),
        ("short_3", "d" * (K - 1)),
        *NORMAL,
    ],
}


def _turns(docs: list[tuple[str, str]]) -> pd.DataFrame:
    return pd.DataFrame(
        [(cid, 0, "user", text, "", None) for cid, text in docs],
        columns=[f.name for f in TRANSCRIPTS_SCHEMA.fields],
    )


def _pairs(clusters) -> set[tuple[str, str]]:
    return {(r.a, r.b) for r in dup_pairs_from_clusters(clusters).collect()}


def _oracle(turns: pd.DataFrame, cfg: DedupConfig) -> set[tuple[str, str]]:
    if turns.empty:
        return set()
    return oracle_dup_pairs(assemble_docs_pandas(turns, cfg), cfg)


@pytest.mark.parametrize("complete_hash", [False, True], ids=["default", "strict"])
@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_run_pipeline(spark, fixture, complete_hash):
    turns = _turns(FIXTURES[fixture])
    cfg = DedupConfig(complete_hash=complete_hash)
    res = run_pipeline(spark, spark.createDataFrame(turns, TRANSCRIPTS_SCHEMA), cfg)
    assert _pairs(res.clusters) == _oracle(turns, cfg)
    res.actions.count()


@pytest.mark.parametrize("complete_hash", [False, True], ids=["default", "strict"])
@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_process_batch(spark, tmp_path, fixture, complete_hash):
    turns = _turns(FIXTURES[fixture])
    cfg = DedupConfig(complete_hash=complete_hash)
    state = IncrementalState(
        docs_path=str(tmp_path / "docs"),
        signatures_path=str(tmp_path / "sigs"),
        pairs_path=str(tmp_path / "pairs"),
        state_partitions=4,
    )
    # alternate rows between the batches, so each identical pair and the
    # content-empty docs span both and batch 2 reaches the exact fast path
    for i in range(2):
        batch = spark.createDataFrame(turns.iloc[i::2], TRANSCRIPTS_SCHEMA)
        process_batch(spark, batch, state, cfg, first_batch=(i == 0))
    assert _pairs(current_clusters(spark, state, cfg)) == _oracle(turns, cfg)


@pytest.mark.parametrize("empty_cluster", [True, False])
def test_oracle_follows_engine_empty_rule(spark, corpus, empty_cluster):
    """The oracle clusters content-empty docs only under empty_cluster, and
    its near path skips them by the engine's rule (EMPTY_SHA1), not by
    length: whitespace-only docs have a positive length."""
    planted, _ = corpus
    blank = _turns(FIXTURES["whitespace_only"][:4]).assign(ts=planted["ts"].iloc[0])
    turns = pd.concat([planted, blank])
    cfg = DedupConfig(empty_cluster=empty_cluster)
    res = run_pipeline(spark, spark.createDataFrame(turns, TRANSCRIPTS_SCHEMA), cfg)
    found, expected = _pairs(res.clusters), _oracle(turns, cfg)
    assert found == expected
    assert (("ws_ascii_1", "ws_unicode_1") in expected) == empty_cluster


EMB_DIM = 16  # sqrt(16) is exact, so identical vectors score exactly 1.0


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_pairs_empty_input(spark):
    out = embedding_dup_pairs(_vectors(spark, []), dim=EMB_DIM, threshold=-1.0)
    assert out.schema.simpleString() == "struct<a:bigint,b:bigint,cosine:double>"
    assert out.collect() == []


def test_embedding_pairs_all_null_vectors(spark):
    nulls = _vectors(spark, [(i, None) for i in range(6)])
    assert embedding_dup_pairs(nulls, dim=EMB_DIM, threshold=-1.0).collect() == []


def test_embedding_pairs_ragged_vector_raises(spark):
    ragged = _vectors(spark, [(1, [1.0] * EMB_DIM), (2, [1.0] * (EMB_DIM - 1))])
    with pytest.raises(
        Exception,
        match=f"ValueError: vector vec_id=2 has length {EMB_DIM - 1}, expected {EMB_DIM}",
    ):
        embedding_dup_pairs(ragged, dim=EMB_DIM).collect()


def test_embedding_pairs_hot_bucket(spark):
    # 2,000 identical vectors share one bucket in every table: the run
    # spans Arrow batches, and each pair is emitted once, by table 0
    n = 2000
    hot = _vectors(spark, [(i, [1.0] * EMB_DIM) for i in range(n)])
    got = (
        embedding_dup_pairs(hot, dim=EMB_DIM)
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("a", "b").alias("pairs"),
            F.min(F.col("b") - F.col("a")).alias("gap"),
            F.min("cosine").alias("cos"),
        )
        .first()
    )
    assert got.rows == got.pairs == n * (n - 1) // 2 == 1_999_000
    assert got.gap >= 1 and got.cos == 1.0
    # the run's pairs are made in bounded blocks, never all at once
    sizes = [len(i) for i, _ in _run_pair_blocks(np.full(n, n), _PAIR_BLOCK)]
    assert sum(sizes) == 1_999_000 and max(sizes) == _PAIR_BLOCK
