"""Stage 3 — LSH banding -> candidate pairs.

Distributed analog of the reference's cascade step "only collision groups
advance" (/root/reference/dupe_analysis.py:391-407): the MinHash signature is
split into b bands of r rows; docs agreeing on all r values of any band share
a band bucket; buckets with >1 member (the A1 count>1 prefilter) produce
candidate edges.

Scale design:
  * band hashing is native (``xxhash64`` over the band slice) — no Python.
  * one shuffle on (band_id, band_hash); AQE skew-join handles stragglers.
  * **no quadratic self-join for big buckets**: a bucket of n near-identical
    boilerplate docs would otherwise emit n^2 edges. Buckets up to
    ``allpairs_max`` use within-bucket all-pairs (better confirm recall);
    larger buckets emit *star edges* (member -> bucket-min representative),
    which is O(n) and preserves exactly the connectivity that the
    connected-components stage needs. Star fallback counts are surfaced via
    :func:`bucket_stats` (no silent caps).
  * pairs deduped across bands with one ``dropDuplicates`` — candidate
    volume stays ~linear in corpus size for realistic dup rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.lineage import cut_lineage
from deduplicate_spark.operators.skew import tag_bucket_stats

# all-pairs ceiling: a bucket of n docs costs n(n-1)/2 pairs; above this,
# star edges give the same CC connectivity at O(n). 16 keeps the worst
# per-bucket expansion at 120 pairs while cliques of real near-dups are
# still confirmed pairwise. (measured: at 64 this was 45% of pipeline wall
# on a 64-variant corpus; at 16 the pair volume is near-linear)
ALLPAIRS_MAX_DEFAULT = 16
COLLECT_CAP = 10_000  # buckets beyond this never materialize a member array


def band_buckets(signatures: DataFrame, config: DedupConfig | None = None) -> DataFrame:
    """signatures(conv_id, minhash) -> (conv_id, band_id, band_hash).

    band_hash = xxhash64(band_id, minhash[band_id*r : +r]) computed natively
    via a higher-order ``transform`` + ``posexplode`` — stays in codegen.
    """
    config = config or DedupConfig()
    b, r = config.lsh_bands, config.lsh_rows
    bands_expr = (
        f"transform(sequence(0, {b - 1}), "
        f"i -> xxhash64(i, slice(minhash, i * {r} + 1, {r})))"
    )
    return signatures.select(
        "conv_id", F.posexplode(F.expr(bands_expr)).alias("band_id", "band_hash")
    )


def candidate_pairs(
    signatures: DataFrame,
    config: DedupConfig | None = None,
    allpairs_max: int = ALLPAIRS_MAX_DEFAULT,
) -> DataFrame:
    """LSH candidate edge list (a, b, evidence='lsh'), a < b, deduped.

    Pair-volume control (the difference between 20 M and 600 k shuffled
    rows on a 16x-near-dup corpus): buckets are collapsed to their sorted
    member list per (band, bucket), then DEDUPED ACROSS BANDS by member-set
    hash — near-identical docs agree on most of their b bands, so the same
    member set would otherwise explode into the same pairs b times. Pair
    expansion is a native nested-transform over the (deduped) member
    arrays; only then does the final pair-level dropDuplicates run.
    """
    config = config or DedupConfig()
    collect_cap = config.max_band_bucket or COLLECT_CAP
    # EAGER lineage cut on the NARROW band rows: tag_bucket_stats consumes
    # them twice (partial agg + join-back probe), and AQE materializes the
    # two join inputs as CONCURRENT query stages — racing consumers of a
    # lazy cut BOTH compute it, re-running everything upstream. When the
    # signature checkpoint itself is lazy (big-corpus path), that meant
    # the whole signature KERNEL ran twice side by side (measured at a
    # 2.5M-turn corpus: two identical 21.5 s MapInPandas+Generate stages —
    # half the pipeline wall). The eager barrier serializes ONE
    # materialization of the 16-byte/row band table.
    buckets = (
        band_buckets(signatures, config)
        .select("conv_id", "band_hash")
        .transform(lambda _df: cut_lineage(_df, eager=True))
    )
    # (band_id is folded into band_hash by the xxhash64; carrying it would
    # only widen the 32x-exploded shuffle rows)

    # SCALE PATH (default salt_buckets>1): salted algebraic partial agg +
    # AQE-splittable join-back; window form for salt<=1 (small corpora).
    # Shared with the substring pass — see operators/skew.py.
    # same two-concurrent-consumer shape downstream (huge_pairs + members
    # both read tagged) -> same eager rationale as the buckets cut above
    tagged = tag_bucket_stats(
        buckets,
        "band_hash",
        salt_buckets=config.band_salt_buckets,
        forced_smj=config.forced_smj,
    ).select("conv_id", "band_hash", "bucket_n", "bucket_rep").transform(
        lambda _df: cut_lineage(_df, eager=True)
    )

    # skew guard: never collect_list a mega-bucket (boilerplate content can
    # put millions of docs in one bucket) — emit star edges row-wise instead
    huge_pairs = (
        tagged.filter(F.col("bucket_n") > collect_cap)
        .filter(F.col("conv_id") != F.col("bucket_rep"))
        .select(F.col("bucket_rep").alias("a"), F.col("conv_id").alias("b"))
    )

    # lazy cut: under AQE, building it already runs the collect_list and
    # member-set dedup shuffle stages on this thread (measured 0.18-0.40 s
    # per lazy cut on the `planted` benchmark, 4 cores); only the final
    # stage that writes the blocks is deferred to small/large's first reader
    members = (
        tagged.filter(F.col("bucket_n") <= collect_cap)
        .groupBy("band_hash")
        .agg(F.sort_array(F.collect_list("conv_id")).alias("members"))
        # across-band dedup: one row per distinct member set
        .dropDuplicates(["members"])
        .withColumn("bucket_n", F.size("members"))
        .transform(lambda _df: cut_lineage(_df, eager=False))
    )

    small = members.filter(F.col("bucket_n") <= allpairs_max)
    large = members.filter(F.col("bucket_n") > allpairs_max)

    # small buckets: all-pairs within bucket (reference clique semantics,
    # J2) via nested transform — no self-join, no window
    small_pairs = small.select(
        F.explode(
            F.expr(
                "flatten(transform(members, (x, i) -> "
                "transform(slice(members, i + 2, size(members) - i - 1), "
                "y -> struct(x as a, y as b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")

    # large buckets: star edges to the bucket minimum (O(n), CC-sufficient)
    large_pairs = large.select(
        F.col("members")[0].alias("a"),
        F.explode(F.expr("slice(members, 2, size(members) - 1)")).alias("b"),
    )

    return (
        small_pairs.unionByName(large_pairs)
        .unionByName(huge_pairs)
        .dropDuplicates(["a", "b"])
        .withColumn("evidence", F.lit("lsh"))
    )


def bucket_stats(signatures: DataFrame, config: DedupConfig | None = None,
                 allpairs_max: int = ALLPAIRS_MAX_DEFAULT) -> DataFrame:
    """Metrics: bucket-size histogram + how many buckets fell back to star
    pairing — recorded per stage run (lineage/metrics requirement)."""
    config = config or DedupConfig()
    sizes = (
        band_buckets(signatures, config)
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > 1)
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_n").alias("max_bucket"),
        F.sum(F.when(F.col("bucket_n") > allpairs_max, 1).otherwise(0)).alias(
            "n_star_fallback"
        ),
        F.sum(
            F.when(
                F.col("bucket_n") <= allpairs_max,
                F.col("bucket_n") * (F.col("bucket_n") - 1) / 2,
            ).otherwise(F.col("bucket_n") - 1)
        ).cast("long").alias("est_edges"),
    )
