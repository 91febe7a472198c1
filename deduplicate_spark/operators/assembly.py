"""Stage 0 — assemble turns into documents.

The analog of the reference's filesystem scan (S1, /root/reference/
dupe_analysis.py:160-232): the unit of dedup becomes one row per conversation
with ``doc_text`` = turn texts concatenated in (turn_idx) order.

Also computes the first two cascade keys right here so one shuffle produces
them all:
  * total_len   — pass-0 size key (H1; dupe_analysis.py:183-186)
  * prefix_sha  — sha1 of the first PREFIX chars (H2 beg_hash; dupe_analysis.py:437-439)
  * exact_sha   — sha1 of the whole doc (H4 full_hash; dupe_analysis.py:445-446)
Unlike the reference, hashing a column is ~free relative to the shuffle, so
we do not lazily defer full hashes; the *cascade* stays (later stages only
process collision groups) but hash computation is single-pass.

Content-empty docs get the reference's zero_hash treatment (S5;
dupe_analysis.py:31,335-340): docs with no character outside Unicode
whitespace share EMPTY_SHA1 and short-circuit into one cluster. Every stage
tells an empty doc by ``exact_sha == EMPTY_SHA1``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig, EMPTY_SHA1

PREFIX_CHARS = 1024  # beg_hash window size analog (dupe_analysis.py:19 chunk=1024)
# joins a conversation's turn texts into its doc (batch assembly and the
# oracle)
TURN_SEPARATOR = "\n"

# every character str.isspace() accepts: the set str.strip() removes, which
# the kernels (minhash.py, substring.py) and oracle.py use to call a text
# empty. Java's (?U)\s leaves out U+001C..U+001F, so the set is spelled out
# (tests/test_assembly.py pins it to str.isspace()).
UNICODE_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def content_empty(text: Column) -> Column:
    """True when ``text`` has no character outside :data:`UNICODE_WHITESPACE`
    — Python's ``not text.strip()``, as a column."""
    return F.length(F.trim(text, F.lit(UNICODE_WHITESPACE))) == 0


def apply_excludes(turns: DataFrame, config: DedupConfig) -> DataFrame:
    """Exclusion filter (F1) — the reference compiles fnmatch globs into one
    alternation regex applied in-walk (dupe_analysis.py:29-30, 179-181,
    210-213). Here: role/tool filters + optional conv_id regex, all pushed
    into the scan by Catalyst."""
    out = turns
    if config.exclude_roles:
        out = out.filter(~F.col("role").isin(list(config.exclude_roles)))
    for pfx in config.exclude_tool_prefixes:
        out = out.filter(
            F.col("tool").isNull() | ~F.col("tool").startswith(pfx)
        )
    if config.exclude_conv_regex:
        out = out.filter(~F.col("conv_id").rlike(config.exclude_conv_regex))
    return out


def assemble_docs(turns: DataFrame, config: DedupConfig | None = None) -> DataFrame:
    """turns(conv_id, turn_idx, role, text, tool, ts) -> docs.

    One shuffle (groupBy conv_id); turn order restored via array_sort over
    (turn_idx, text) structs, preserving per-turn text equality under stable
    (conv_id, turn_idx) ordering (the BASELINE invariant).
    """
    config = config or DedupConfig()
    turns = apply_excludes(turns, config)

    assembled = (
        turns.groupBy("conv_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))
            ).alias("turns"),
        )
        .select(
            "conv_id",
            F.concat_ws(
                TURN_SEPARATOR,
                F.transform(F.col("turns"), lambda t: F.coalesce(t["text"], F.lit(""))),
            ).alias("doc_text"),
            F.size("turns").cast("int").alias("n_turns"),
        )
    )
    empty = content_empty(F.col("doc_text"))
    return assembled.select(
        "conv_id",
        "doc_text",
        "n_turns",
        F.length("doc_text").cast("long").alias("total_len"),
        # UTF-8 bytes, not chars: total_len (the H1 size key, reference
        # semantics) counts CHARS, which undercounts bytes up to 4x on
        # non-ASCII text — the measured broadcast-risk gates compare
        # against BYTE thresholds, so they get their own column, computed
        # in this same projection (no extra scan).
        F.octet_length("doc_text").cast("long").alias("total_bytes"),
        F.when(empty, F.lit(EMPTY_SHA1))
        .otherwise(F.sha1(F.encode(F.substring("doc_text", 1, PREFIX_CHARS), "UTF-8")))
        .alias("prefix_sha"),
        F.when(empty, F.lit(EMPTY_SHA1))
        .otherwise(F.sha1(F.encode(F.col("doc_text"), "UTF-8")))
        .alias("exact_sha"),
    )
