"""Stage 4 — pair confirmation.

The reference confirms cheap-fingerprint collisions with a more expensive
hash before declaring duplicates (rev_hash confirms beg_hash groups,
/root/reference/dupe_analysis.py:367-375; optional full_hash confirmation at
622-633 = ``complete_hash``). Our analog:

  * LSH candidate pairs are confirmed by SimHash Hamming distance <= t —
    computed NATIVELY: ``bit_count(simhash_a ^ simhash_b)``, no UDF.
  * ``complete_hash=True`` escalates confirmation to exact content equality
    (exact_sha match), reproducing the reference's strict mode that its
    test_complete_hash (test_dupe_analysis.py:469-496) pins.

Non-transitivity guard: confirmation before connected components prevents
LSH false positives from chaining unrelated docs into one cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig

# the min_jaccard rescue path only examines pairs within this hamming slack
# above simhash_hamming_max (see confirm_pairs) — keeps the wide minhash
# arrays off the main confirmation volume
RESCUE_HAMMING_SLACK = 8


def attach_signatures(
    pairs: DataFrame,
    signatures: DataFrame,
    with_minhash: bool = False,
    forced_smj: bool = True,
) -> DataFrame:
    """pairs(a, b) x signatures -> per-side signature columns. Two sort-merge
    joins on conv_id; the minhash array (8*num_perm bytes/row) is only
    carried when needed.

    The signatures side is FORCED sort-merge by default: it is corpus-sized
    (one row per exact-distinct doc, ~1 KB with the minhash array), and a
    planner size under-estimate otherwise builds it as a driver-side
    broadcast — measured at 6.5M turns/local[2]: a 1.15 GB broadcast build
    of the minhash-carrying side blew spark.driver.maxResultSize inside the
    rescue attach (the same estimate-threshold class as the relabel and
    stats join-backs, see skew.py)."""
    from deduplicate_spark.operators.skew import maybe_merge_hint

    cols = ["conv_id", "simhash"] + (["minhash"] if with_minhash else [])
    sig = signatures.select(*cols)

    def side(name: str) -> DataFrame:
        renames = [F.col("conv_id").alias(name), F.col("simhash").alias(f"simhash_{name}")]
        if with_minhash:
            renames.append(F.col("minhash").alias(f"minhash_{name}"))
        return maybe_merge_hint(sig.select(*renames), forced_smj)

    return pairs.join(side("a"), "a").join(side("b"), "b")


def confirm_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    docs: DataFrame | None = None,
    config: DedupConfig | None = None,
    sim_signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate (a, b) -> confirmed (a, b, evidence, hamming).

    ``sim_signatures``: optional narrow (conv_id, simhash) table for the
    Hamming attaches. Checkpoint blocks are row-cached with no column
    pruning, so attaching from the full signatures table re-reads (and
    SMJ-sorts) the ~1 KB minhash arrays per side even though Hamming needs
    16 bytes/row — callers that checkpoint signatures should pass a
    narrow projection checkpoint here (run_pipeline does)."""
    config = config or DedupConfig()
    sim_sigs = sim_signatures if sim_signatures is not None else signatures

    if config.complete_hash:
        # strict mode: duplicates must be exact-content-equal
        if docs is None:
            raise ValueError("complete_hash=True requires docs for exact_sha")
        from deduplicate_spark.operators.skew import maybe_merge_hint

        sha = docs.select("conv_id", "exact_sha")
        return (
            pairs.join(
                maybe_merge_hint(
                    sha.select(F.col("conv_id").alias("a"), F.col("exact_sha").alias("sha_a")),
                    config.forced_smj,
                ),
                "a",
            )
            .join(
                maybe_merge_hint(
                    sha.select(F.col("conv_id").alias("b"), F.col("exact_sha").alias("sha_b")),
                    config.forced_smj,
                ),
                "b",
            )
            .filter(F.col("sha_a") == F.col("sha_b"))
            .select("a", "b", F.lit("exact").alias("evidence"), F.lit(0).alias("hamming"))
        )

    if not config.confirm_with_simhash and config.min_jaccard is None:
        return pairs.select("a", "b", "evidence").withColumn("hamming", F.lit(None).cast("int"))

    def est_jaccard_filter(df: DataFrame) -> DataFrame:
        # MinHash Jaccard estimate = fraction of agreeing signature slots —
        # native zip_with/aggregate, stays in codegen
        return df.withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with(
                    "minhash_a", "minhash_b",
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            / F.lit(config.num_perm),
        ).filter(F.col("est_jaccard") >= config.min_jaccard)

    if config.confirm_with_simhash and config.min_jaccard is not None:
        # MULTI-EVIDENCE acceptance: SimHash hamming <= bound OR MinHash
        # estimated Jaccard >= min_jaccard. SimHash hamming is a noisy
        # estimator at moderate similarity (measured: planted J~0.85 pairs
        # land at hamming 13-14 ~2% of the time, just over the 12 bound);
        # the MinHash estimate is tighter (std = sqrt(J(1-J)/num_perm)
        # ~ 0.04 at 128 perms), so it rescues near-misses. The rescue is
        # BOUNDED to hamming <= max + RESCUE_HAMMING_SLACK: beyond that the
        # implied similarity is far below any sane min_jaccard (hamming 20
        # of 64 -> cos <= ~0.56 -> shingle J well under 0.55, P[est >= 0.7]
        # < 1e-5), so the 8*num_perm-byte minhash arrays are only ever
        # joined onto the thin near-miss band, never the full candidate set.
        # ham_ok and the rescue band both consume base through a lazy cut.
        # Under AQE, building the cut already runs every shuffle stage below
        # it (the LSH candidate stages and the simhash attach) on this
        # thread; only the final join stage that writes the blocks is
        # deferred to the first consumer. The simhash-only attach is narrow
        base = attach_signatures(
            pairs, sim_sigs, forced_smj=config.forced_smj
        ).withColumn(
            "hamming", F.bit_count(F.expr("simhash_a ^ simhash_b")).cast("int")
        )
        from deduplicate_spark.lineage import cut_lineage

        base = cut_lineage(base, eager=False)
        ham_ok = base.filter(F.col("hamming") <= config.simhash_hamming_max)
        near_miss = base.filter(
            (F.col("hamming") > config.simhash_hamming_max)
            & (F.col("hamming") <= config.simhash_hamming_max + RESCUE_HAMMING_SLACK)
        ).select("a", "b", "evidence", "hamming")
        confirmed_ham = ham_ok.select(
            "a", "b", F.lit("near").alias("evidence"), "hamming"
        )
        # opt-in short-circuit on the ALREADY-NARROW base (its lineage-cut
        # blocks are reused by ham_ok): when no candidate lands in the
        # rescue band — the common case — skip the wide attach entirely,
        # saving two full SMJ sort passes over the 1 KB/row minhash table
        # (measured ~60 s-cpu of 365 at 1.6M turns). The isEmpty is ONE
        # EAGER JOB at plan-construction time, so it is gated on
        # config.rescue_short_circuit: run_pipeline resolves it True only
        # for measured-big corpora; small/interactive plans stay fully
        # lazy (ADVICE r4 — None at this level means "stay lazy").
        if config.rescue_short_circuit and near_miss.isEmpty():
            return confirmed_ham
        rescued = est_jaccard_filter(
            attach_signatures(
                near_miss, signatures, with_minhash=True, forced_smj=config.forced_smj
            ).drop("simhash_a", "simhash_b")
        )
        return confirmed_ham.unionByName(
            rescued.select("a", "b", F.lit("near").alias("evidence"), "hamming")
        )

    out = attach_signatures(
        pairs,
        signatures if config.min_jaccard is not None else sim_sigs,
        with_minhash=config.min_jaccard is not None,
        forced_smj=config.forced_smj,
    ).withColumn(
        "hamming", F.bit_count(F.expr("simhash_a ^ simhash_b")).cast("int")
    )
    if config.confirm_with_simhash:
        out = out.filter(F.col("hamming") <= config.simhash_hamming_max)
    if config.min_jaccard is not None:
        out = est_jaccard_filter(out)
    return out.select("a", "b", F.lit("near").alias("evidence"), "hamming")
