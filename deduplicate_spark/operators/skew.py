"""Skew-safe bucket statistics, shared by every collision-bucket stage.

The cascade repeatedly needs "tag each row with its bucket's size and min
member, keep only collision buckets (n > 1)" — the A1 prefilter
(/root/reference/dupe_analysis.py:391-407) — over a bucket key that can be
pathologically hot at 100 TB (a boilerplate LSH band, a winnowing
fingerprint shared by millions of template docs). A window partitioned by
the key puts the whole hot bucket in ONE task that AQE cannot split; this helper
instead computes count/min as a SALTED ALGEBRAIC partial aggregation
(reduced within ``salt_buckets`` independent groups, then combined on a
tiny per-bucket stats table) and tags rows via a join-back that AQE's
skew-join CAN split.

:func:`bucket_pairs` turns tagged buckets into candidate edges for every
batch stage that pairs collision buckets.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplicate_spark.lineage import cut_lineage


def maybe_merge_hint(df: DataFrame, forced: bool | None = True) -> DataFrame:
    """Apply the forced-SMJ insurance hint unless the caller opted out
    (config.forced_smj=False for interactive small-corpus use).

    ``forced=None`` (the config default, meaning "auto off a measured
    corpus size") is treated as True here: an operator called directly —
    outside run_pipeline's measured resolution — has no count to gate on,
    and scale-safe is the right unmeasured default."""
    return df.hint("merge") if (forced or forced is None) else df


# forced-SMJ gate thresholds for ``forced_smj=None``: force SMJ when the doc
# count exceeds FORCED_SMJ_MIN_DOCS, OR the total text bytes or the
# estimated signature-table bytes (n_docs * num_perm * 8) exceed
# FORCED_SMJ_MIN_BYTES — the two broadcast-build OOM classes measured at
# 6.5M turns were the text attach (sum total_len) and the 1 KB/row
# minhash-carrying signatures side.
FORCED_SMJ_MIN_DOCS = 1_000_000
FORCED_SMJ_MIN_BYTES = 64 << 20


def measured_forced_smj(n_docs: int, total_bytes: int, config) -> bool:
    """The MEASURED gate behind ``DedupConfig.forced_smj=None``: real
    counts, not planner estimates (which are exactly what mis-admitted the
    OOM'd broadcasts — see module docstring). Forces SMJ when any of the
    three measured broadcast-risk proxies crosses the byte/row thresholds:
    corpus rows, total text bytes (the text-attach build side), or the
    signature table's exact bytes (n_docs * num_perm * 8 — the 1 KB/row
    minhash side that built a 1.15 GB broadcast at 6.5M turns)."""
    return (
        n_docs > FORCED_SMJ_MIN_DOCS
        or total_bytes > FORCED_SMJ_MIN_BYTES
        or n_docs * config.num_perm * 8 > FORCED_SMJ_MIN_BYTES
    )


# kernel-parallelism floor gate (measured, small-corpus only): AQE coalesces
# shuffle partitions by BYTES with a 1 MB floor, so a bench-scale corpus
# (~25 MB of text) lands in 1-4 partitions — and the signature/winnowing
# kernels, which cost ~100x a columnar scan per byte, then run on as many
# CPU cores (measured at sf0.1/local[32]: the two kernel stages were 1-task,
# 2.5-2.7 s-cpu each, bounding the whole pipeline wall). Below this gate an
# explicit repartition of the kernel input (:func:`spread_over_slots`) costs
# one pass over a tiny table; above it AQE's parallelism-first coalescing
# already yields >= one ~>=4 MB partition per slot and the extra text
# shuffle would be a pure scale tax. The threshold scales with
# ``shuffle_partitions``; the repartition WIDTH does not (see below).
_KERNEL_SMALL_BYTES_PER_SLOT = 4 << 20


def text_stats(df: DataFrame, text_col: str = "text") -> tuple[int, int]:
    """(n_rows, total UTF-8 bytes of ``text_col``) — the measured corpus size
    the gates take (:func:`resolve_gates`), for a table with no assembled
    ``total_bytes`` column. Bytes, not chars: chars undercount UTF-8 up to
    4x, and every gate threshold is in bytes."""
    st = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.octet_length(text_col)), F.lit(0)).alias("b"),
    ).first()
    return int(st.n), int(st.b)


def measured_small_corpus(total_bytes: int, config) -> bool:
    """The MEASURED gate behind ``DedupConfig.kernel_small_corpus=None`` —
    same real-count philosophy as :func:`measured_forced_smj`. True when
    the whole corpus is under ``shuffle_partitions x 4 MB``."""
    return total_bytes < config.shuffle_partitions * _KERNEL_SMALL_BYTES_PER_SLOT


def resolve_gates(n_docs: int, total_bytes: int, config):
    """``config`` with each auto gate left at ``None`` filled in from a
    MEASURED corpus size (``n_docs`` rows, ``total_bytes`` UTF-8 text
    bytes): ``forced_smj`` and ``rescue_short_circuit`` from
    :func:`measured_forced_smj`, ``kernel_small_corpus`` from
    :func:`measured_small_corpus`. Gates the caller pinned stay as set."""
    big = measured_forced_smj(n_docs, total_bytes, config)
    return replace(
        config,
        forced_smj=big if config.forced_smj is None else config.forced_smj,
        rescue_short_circuit=big
        if config.rescue_short_circuit is None
        else config.rescue_short_circuit,
        kernel_small_corpus=measured_small_corpus(total_bytes, config)
        if config.kernel_small_corpus is None
        else config.kernel_small_corpus,
    )


def spread_over_slots(df: DataFrame) -> DataFrame:
    """Repartition a Python-kernel input to ONE task per task slot
    (``defaultParallelism``), the width every mapInPandas/mapInArrow kernel
    stage on the pipeline path runs at.

    Why slots and not ``shuffle_partitions``: each Python task pays a fixed
    cost independent of its rows (DESIGN §4: ~0.29 CPU-s per trivial task
    under ``pyspark.daemon``, ~0.06 under ``worker_daemon``, which local
    sessions use). More tasks than slots buys no parallelism and multiplies
    that cost; fewer leaves cores idle."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def tag_bucket_stats(
    df: DataFrame,
    key: str,
    id_col: str = "conv_id",
    salt_buckets: int = 8,
    forced_smj: bool = True,
) -> DataFrame:
    """df(..., key, id_col) -> rows of collision buckets only, plus
    ``bucket_n`` (bucket size) and ``bucket_rep`` (min id in bucket).
    ``salt_buckets`` must be at least 1."""
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(id_col), F.lit(salt_buckets)))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_pn"), F.min(id_col).alias("_pmin"))
    )
    stats = (
        partial.groupBy(key)
        .agg(F.sum("_pn").alias("bucket_n"), F.min("_pmin").alias("bucket_rep"))
        .filter(F.col("bucket_n") > 1)  # A1 prefilter: collision buckets only
    )
    # forced sort-merge: the stats side of a web-scale corpus is millions
    # of collision buckets — a planner-estimate-driven broadcast builds it
    # on the driver and OOMs exactly when the data gets interesting
    # (measured at 6.5M turns: long-id stats rows squeeze under the 64 MB
    # estimate threshold and the driver dies). SMJ is also what AQE's
    # skew-join can split — the design reason this helper exists.
    return df.join(maybe_merge_hint(stats, forced_smj), key)


def bucket_pairs(
    rows: DataFrame,
    key: str,
    *,
    allpairs_max: int,
    id_col: str = "conv_id",
    salt_buckets: int = 8,
    forced_smj: bool = True,
) -> DataFrame:
    """rows(..., id_col, key) -> candidate edges (a, b), ``a < b``, no
    duplicate rows, from every collision bucket of ``key``.

    Buckets of at most ``allpairs_max`` members emit all pairs: each
    collapses to its sorted member array, equal arrays are deduped (near-dup
    docs share most LSH bands, so one member set recurs per band), and a
    nested ``transform`` expands them — no self-join, no window. Bigger
    buckets emit row-wise star edges to the bucket minimum: O(n) rows, the
    connectivity CC needs, and no member array for a hot bucket.

    Both cuts are EAGER: each input has two readers that AQE runs as
    concurrent stages, and racing readers of a lazy cut both recompute it
    (measured: the signature kernel ran twice side by side). The narrowed
    rows feed the stats aggregate and the join-back; the tagged rows feed
    both tiers."""
    narrow = cut_lineage(rows.select(id_col, key), eager=True)
    tagged = cut_lineage(
        tag_bucket_stats(
            narrow, key, id_col=id_col, salt_buckets=salt_buckets, forced_smj=forced_smj
        ).select(id_col, key, "bucket_n", "bucket_rep"),
        eager=True,
    )
    clique_pairs = (
        tagged.filter(F.col("bucket_n") <= allpairs_max)
        .groupBy(key)
        .agg(F.sort_array(F.collect_list(id_col)).alias("members"))
        .dropDuplicates(["members"])
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(slice(members, i + 2, size(members) - i - 1), "
                    "y -> struct(x as a, y as b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    star_pairs = tagged.filter(
        (F.col("bucket_n") > allpairs_max) & (F.col(id_col) != F.col("bucket_rep"))
    ).select(F.col("bucket_rep").alias("a"), F.col(id_col).alias("b"))
    return clique_pairs.unionByName(star_pairs).dropDuplicates(["a", "b"])


def salted_struct_min(
    df: DataFrame,
    key: str | list[str],
    ord_col: str = "_ord",
    salt_buckets: int = 8,
) -> DataFrame:
    """``groupBy(key).agg(min(ord_col))`` as a two-level SALTED algebraic
    aggregation — the argmin building block for every "rank-1 row per hot
    key" stage (exact representatives, component relabel, canonical
    election).

    min over a struct is Spark's lexicographic tuple-min, so when the last
    struct field is a unique tie-break the result is EXACTLY the
    ``row_number()==1`` row of the corresponding window — but computed as
    partial aggregations a mega-group cannot straggle: level 1 reduces
    within ``salt_buckets`` independent salt groups (on top of Spark's own
    map-side combine), level 2 combines ``salt_buckets`` rows per key.
    Exact because min is associative + commutative.

    Salt is ``xxhash64(ord_col)`` — deterministic (no
    ``spark_partition_id()``, which would mark the plan nondeterministic)
    and uniform even when all hot-group rows share the bucket key.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if salt_buckets and salt_buckets > 1:
        partial = (
            df.withColumn("_salt", F.pmod(F.xxhash64(ord_col), F.lit(salt_buckets)))
            .groupBy(*keys, "_salt")
            .agg(F.min(ord_col).alias("_pm"))
        )
        return partial.groupBy(*keys).agg(F.min("_pm").alias(ord_col))
    return df.groupBy(*keys).agg(F.min(ord_col).alias(ord_col))


def desc_nulls_last_key(col, sentinel: int = 2**62):
    """Encode ``desc_nulls_last(col)`` as an ascending numeric sort key for
    struct-min argmin: negate, send nulls to a huge sentinel."""
    return F.coalesce(-F.col(col).cast("long"), F.lit(sentinel).cast("long"))
