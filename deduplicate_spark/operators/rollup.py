"""Hierarchical rollups — the directory-tree aggregation family.

The reference rolls duplicate stats up the directory tree: per-dir
dupe/unique partitioning (A3 ``load_fs``, /root/reference/deduplicate.py:
133-178) and ancestor-chain accumulation (A4 ``fill_parents``,
deduplicate.py:180-200, 543-554), walked deepest-first with mutable
counters. The relational restatement: explode every conv_id into its path
prefixes ('src0/a/b' -> ['src0', 'src0/a']) and groupBy prefix — one
shuffle replaces the bottom-up walk, no mutation, any depth.

Group semantics (SURVEY §1.2): the grouping key of a conversation is the
'/'-separated prefix of its conv_id (source/dataset hierarchy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prefix_explode(df: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """One row per (row, ancestor-prefix). 'a/b/c' -> 'a', 'a/b'.

    Rows without '/' get the root prefix '' so totals still roll up."""
    parts = F.split(F.col(id_col), "/")
    # let-binding: bind the split to a lambda var so it's evaluated once
    # per row instead of once per prefix depth
    prefixes = F.expr(
        f"transform(array(split({id_col}, '/')), p0 -> "
        f"transform(sequence(1, greatest(size(p0) - 1, 1)), "
        f"n -> array_join(slice(p0, 1, n), '/')))[0]"
    )
    return df.select(
        "*",
        F.explode(
            F.when(F.size(parts) > 1, prefixes).otherwise(F.array(F.lit("")))
        ).alias("group_prefix"),
    )


def group_rollup(actions: DataFrame, docs: DataFrame) -> DataFrame:
    """A3/A4 analog: per-prefix duplicate statistics, all depths at once.

    Output mirrors DupeDir's counters (count/extra/size totals,
    deduplicate.py:58-79): members, dupes, deletes, reclaimable length, and
    ``is_full_dupe`` (every member is a duplicate — the reference's
    whole-directory-deletable flag, deduplicate.py:167-170)."""
    base = docs.select("conv_id", "total_len").join(
        actions.select("conv_id", "cluster_id", "action"), "conv_id", "left"
    )
    exploded = prefix_explode(base)
    return exploded.groupBy("group_prefix").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0)).alias("n_dupes"),
        F.sum(F.when(F.col("action") == "delete", 1).otherwise(0)).alias("n_deletes"),
        F.sum(
            F.when(F.col("action") == "delete", F.col("total_len")).otherwise(0)
        ).alias("reclaimable_len"),
        (
            F.sum(F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0))
            == F.count(F.lit(1))
        ).alias("is_full_dupe"),
    )

