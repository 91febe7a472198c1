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
    ``ALLPAIRS_MAX_DEFAULT`` members use within-bucket all-pairs (better
    confirm recall); larger buckets emit *star edges* (member -> bucket-min representative),
    which is O(n) and preserves exactly the connectivity that the
    connected-components stage needs. The pairing is the shared
    :func:`~deduplicate_spark.operators.skew.bucket_pairs`; star fallback
    counts are surfaced via :func:`bucket_stats` (no silent caps).
  * pairs deduped across bands with one ``dropDuplicates`` — candidate
    volume stays ~linear in corpus size for realistic dup rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.operators.skew import bucket_pairs

# all-pairs ceiling: a bucket of n docs costs n(n-1)/2 pairs; above this,
# star edges give the same CC connectivity at O(n). 16 keeps the worst
# per-bucket expansion at 120 pairs while cliques of real near-dups are
# still confirmed pairwise. (measured: at 64 this was 45% of pipeline wall
# on a 64-variant corpus; at 16 the pair volume is near-linear)
ALLPAIRS_MAX_DEFAULT = 16


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


def candidate_pairs(signatures: DataFrame, config: DedupConfig | None = None) -> DataFrame:
    """LSH candidate edge list (a, b, evidence='lsh'), a < b, deduped.

    Each band bucket is one collision bucket of :func:`bucket_pairs`:
    all pairs up to ``ALLPAIRS_MAX_DEFAULT`` members, star edges to the
    bucket minimum above it. Its member-set dedup is what keeps the pair
    volume down here (the difference between 20 M and 600 k shuffled rows
    on a 16x-near-dup corpus): near-identical docs agree on most of their
    b bands, so the same member set would otherwise expand b times.
    """
    config = config or DedupConfig()
    # band_id is folded into band_hash by the xxhash64; carrying it would
    # only widen the 32x-exploded shuffle rows
    return bucket_pairs(
        band_buckets(signatures, config),
        "band_hash",
        allpairs_max=ALLPAIRS_MAX_DEFAULT,
        salt_buckets=config.band_salt_buckets,
        forced_smj=config.forced_smj,
    ).withColumn("evidence", F.lit("lsh"))


def bucket_stats(signatures: DataFrame, config: DedupConfig | None = None) -> DataFrame:
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
        F.sum(F.when(F.col("bucket_n") > ALLPAIRS_MAX_DEFAULT, 1).otherwise(0)).alias(
            "n_star_fallback"
        ),
        F.sum(
            F.when(
                F.col("bucket_n") <= ALLPAIRS_MAX_DEFAULT,
                F.col("bucket_n") * (F.col("bucket_n") - 1) / 2,
            ).otherwise(F.col("bucket_n") - 1)
        ).cast("long").alias("est_edges"),
    )
