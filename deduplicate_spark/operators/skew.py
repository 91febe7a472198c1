"""Skew-safe bucket statistics, shared by every collision-bucket stage.

The cascade repeatedly needs "tag each row with its bucket's size and min
member, keep only collision buckets (n > 1)" — the A1 prefilter
(/root/reference/dupe_analysis.py:391-407) — over a bucket key that can be
pathologically hot at 100 TB (a boilerplate LSH band, a winnowing
fingerprint shared by millions of template docs). ``Window.partitionBy(key)``
puts the whole hot bucket in ONE task that AQE cannot split; this helper
instead computes count/min as a SALTED ALGEBRAIC partial aggregation
(reduced within ``salt_buckets`` independent groups, then combined on a
tiny per-bucket stats table) and tags rows via a join-back that AQE's
skew-join CAN split.

``salt_buckets <= 1`` keeps the single-shuffle window form as a small-corpus
fast path (measured ~2x faster at sandbox scale, unusable at 100x).

:func:`bucket_pairs` turns tagged buckets into candidate edges for every
batch stage that pairs collision buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
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


def measured_forced_smj(n_docs: int, total_bytes: int, config) -> bool:
    """The MEASURED gate behind ``DedupConfig.forced_smj=None``: real
    counts, not planner estimates (which are exactly what mis-admitted the
    OOM'd broadcasts — see module docstring). Forces SMJ when any of the
    three measured broadcast-risk proxies crosses the byte/row thresholds:
    corpus rows, total text bytes (the text-attach build side), or the
    signature table's exact bytes (n_docs * num_perm * 8 — the 1 KB/row
    minhash side that built a 1.15 GB broadcast at 6.5M turns)."""
    return (
        n_docs > config.forced_smj_min_docs
        or total_bytes > config.forced_smj_min_bytes
        or n_docs * config.num_perm * 8 > config.forced_smj_min_bytes
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


def measured_text_stats(
    df: DataFrame, config, text_col: str = "text", chars_col: str | None = None
) -> tuple[int, int]:
    """(n_rows, total_utf8_bytes) for the measured gates, over a RAW text
    table (no assembly pass to piggyback a byte column on — contrast
    ``assemble_docs``' total_bytes).

    Two-phase so the common cases never scan the text column: chars are a
    LOWER bound on UTF-8 bytes and 4*chars an UPPER bound, so when both
    bounds land on the same side of every gate threshold a cheap
    chars-column scan decides (a 100 TB corpus is "big" in any unit).
    Only when some threshold falls inside [chars, 4*chars] — which proves
    the corpus is under 4*max_threshold bytes, so the scan is cheap by
    construction — is ``octet_length`` aggregated exactly."""
    c = F.sum(chars_col) if chars_col else F.sum(F.length(text_col))
    st = df.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(c, F.lit(0)).alias("c")
    ).first()
    lo, hi = int(st.c), int(st.c) * 4
    thresholds = (
        config.forced_smj_min_bytes,
        config.shuffle_partitions * _KERNEL_SMALL_BYTES_PER_SLOT,
    )
    if any(lo <= t <= hi for t in thresholds):
        b = df.agg(F.coalesce(F.sum(F.octet_length(text_col)), F.lit(0))).first()[0]
        return int(st.n), int(b)
    # both bounds agree for every gate -> lo yields the same decisions
    return int(st.n), lo


def measured_small_corpus(total_bytes: int, config) -> bool:
    """The MEASURED gate behind ``DedupConfig.kernel_small_corpus=None`` —
    same real-count philosophy as :func:`measured_forced_smj`. True when
    the whole corpus is under ``shuffle_partitions x 4 MB``."""
    return total_bytes < config.shuffle_partitions * _KERNEL_SMALL_BYTES_PER_SLOT


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
    ``bucket_n`` (bucket size) and ``bucket_rep`` (min id in bucket)."""
    if salt_buckets and salt_buckets > 1:
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
        # forced sort-merge: the stats side of a web-scale corpus is
        # millions of collision buckets — a planner-estimate-driven
        # broadcast builds it on the driver and OOMs exactly when the data
        # gets interesting (measured at 6.5M turns: long-id stats rows
        # squeeze under the 64 MB estimate threshold and the driver dies).
        # SMJ is also what AQE's skew-join can split — the design reason
        # this helper exists.
        return df.join(maybe_merge_hint(stats, forced_smj), key)
    w = Window.partitionBy(key)
    return df.select(
        *df.columns,
        F.count(F.lit(1)).over(w).alias("bucket_n"),
        F.min(id_col).over(w).alias("bucket_rep"),
    ).filter(F.col("bucket_n") > 1)


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
