from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig, EMPTY_SHA1
from deduplicate_spark.operators.assembly import apply_excludes, assemble_docs


def test_turn_order_restored(spark):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the BASELINE invariant. Turns arrive shuffled; doc must be in-order.
    A null turn text joins as "", and at one turn_idx a null text sorts
    before a string (array_sort's struct order)."""
    rows = [
        ("c1", 2, "user", "third", "", None),
        ("c1", 0, "user", "first", "", None),
        ("c1", 1, "assistant", "second", "", None),
        ("c2", 0, "user", None, "", None),
        ("c2", 1, "user", "tail", "", None),
        ("c3", 0, "user", "alpha", "", None),
        ("c3", 0, "user", None, "", None),
        ("c3", 1, "user", "tail", "", None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).repartition(3)
    docs = {r["conv_id"]: r for r in assemble_docs(turns).collect()}
    assert docs["c1"]["doc_text"] == "first\nsecond\nthird"
    assert docs["c1"]["n_turns"] == 3
    assert docs["c1"]["total_len"] == len("first\nsecond\nthird")
    assert docs["c2"]["doc_text"] == "\ntail"
    assert docs["c3"]["doc_text"] == "\nalpha\ntail"
    assert docs["c3"]["n_turns"] == 3


def test_exact_sha_matches_python_sha1(spark):
    turns = spark.createDataFrame(
        [("c1", 0, "user", "hello world", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = assemble_docs(turns).collect()[0]
    assert row["exact_sha"] == hashlib.sha1(b"hello world").hexdigest()
    assert row["prefix_sha"] == hashlib.sha1(b"hello world").hexdigest()


def test_empty_docs_get_zero_hash(spark):
    """Content-empty conversations — no character outside Unicode
    whitespace, as ``str.strip()`` sees it — share EMPTY_SHA1 for both
    cascade keys (the reference zero_hash semantics,
    dupe_analysis.py:31,335-340)."""
    convs = {
        "e1": [""],
        "e2": [""],
        "spaces": ["   "],
        "tabs": ["\t\n "],
        "wide": [" " * 400],
        "turns": ["", "", ""],  # doc "\n\n"
        "unicode": ["\u3000\u00a0"],
        "separators": ["\x1c\x1d\x1e\x1f"],
        # not whitespace to str.strip(): a real doc
        "zwsp": ["\u200b"],
        "text": [" x "],
    }
    turns = spark.createDataFrame(
        [(cid, i, "user", t, "", None) for cid, ts in convs.items() for i, t in enumerate(ts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = {r["conv_id"]: r for r in assemble_docs(turns).collect()}
    for cid, texts in convs.items():
        empty = not "\n".join(texts).strip()
        assert empty == (cid not in ("zwsp", "text")), cid
        for key in ("exact_sha", "prefix_sha"):
            assert (rows[cid][key] == EMPTY_SHA1) == empty, (cid, key)


def test_unicode_whitespace_is_str_isspace():
    """The content-empty set is exactly Python's whitespace (what
    str.strip() removes), including U+001C..U+001F."""
    import sys

    from deduplicate_spark.operators.assembly import UNICODE_WHITESPACE

    assert set(UNICODE_WHITESPACE) == {
        c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()
    }


def test_excludes(spark):
    turns = spark.createDataFrame(
        [
            ("c1", 0, "user", "keep me", "", None),
            ("c1", 1, "system", "drop me", "", None),
            ("c1", 2, "tool", "drop tool", "@internal", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    cfg = DedupConfig(exclude_roles=("system",), exclude_tool_prefixes=("@",))
    kept = apply_excludes(turns, cfg).collect()
    assert [r["text"] for r in kept] == ["keep me"]


def test_prefix_sha_only_covers_prefix(spark):
    a = "x" * 2000
    b = "x" * 1024 + "y" * 976  # same first 1024 chars, same length
    turns = spark.createDataFrame(
        [("a", 0, "user", a, "", None), ("b", 0, "user", b, "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = {r["conv_id"]: r for r in assemble_docs(turns).collect()}
    assert rows["a"]["prefix_sha"] == rows["b"]["prefix_sha"]
    assert rows["a"]["exact_sha"] != rows["b"]["exact_sha"]


def test_assembly_single_shuffle(spark):
    """Plan check: assembly is one aggregate over one exchange."""
    turns = spark.createDataFrame(
        [("c1", 0, "user", "t", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = assemble_docs(turns)._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("exchange") <= 1


def test_bucketed_input_assembly_needs_no_exchange(spark, tmp_path):
    """Production-layout claim (BENCH/BASELINE.md): over a conv_id-BUCKETED
    table (the Iceberg bucket-partitioned transcript layout), assembly's
    groupBy(conv_id) satisfies its clustering requirement from the scan —
    zero Exchange in the plan, so no text byte ever crosses the wire."""
    import pandas as pd

    from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA

    rows = [(f"c{i%7}", i, "user", f"text {i}", "", None) for i in range(50)]
    turns = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        TRANSCRIPTS_SCHEMA,
    )
    spark.sql("DROP TABLE IF EXISTS t_bucketed_asm")
    # managed table in the session warehouse; DROP TABLE below removes files
    (
        turns.write.mode("overwrite")
        .bucketBy(4, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .saveAsTable("t_bucketed_asm")
    )
    bt = spark.table("t_bucketed_asm")
    plan = assemble_docs(bt)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # identical docs to the plain (shuffled) path
    a = {(r.conv_id, r.exact_sha) for r in assemble_docs(bt).collect()}
    b = {(r.conv_id, r.exact_sha) for r in assemble_docs(turns).collect()}
    assert a == b
    spark.sql("DROP TABLE IF EXISTS t_bucketed_asm")
