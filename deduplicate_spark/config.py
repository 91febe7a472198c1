"""Pipeline configuration.

Analog of the reference's CLI flags + hard-coded constants
(/root/reference/dupe_analysis.py:19-31: chunk=1024, batch_limit, zero_hash;
/root/reference/deduplicate.py:731-746: --delete/--analyze/--synology flags).
The config hash keys the checkpoint/lineage store the same way the reference
keys its analysis DBs by sha1 of the dir set (/root/reference/dupe_analysis.py:38-43).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


# Knobs that pick a physical strategy but cannot change the result set.
# config_hash ignores them (see its docstring). internal_long_ids stays
# SEMANTIC despite being a physical optimization: an id collision (guarded
# by verify_long_ids) can alter output, so runs under different id spaces
# must not share checkpoints.
_PHYSICAL_KNOBS = frozenset(
    {
        "forced_smj",
        "rescue_short_circuit",
        "kernel_small_corpus",
        "shuffle_partitions",
        "cc_max_rounds",
        "verify_long_ids",
    }
)


@dataclass(frozen=True)
class DedupConfig:
    # --- assembly (stage 0) ---
    # excluded rows never enter the cascade — analog of the reference's
    # fnmatch exclude globs '*/@*', '*/.*' (dupe_analysis.py:29-30, 179-181)
    exclude_roles: tuple[str, ...] = ()
    exclude_tool_prefixes: tuple[str, ...] = ()
    exclude_conv_regex: str | None = None

    # --- shingling / MinHash (stage 2) ---
    shingle_k: int = 9           # char k-grams over the assembled doc
    num_perm: int = 128          # MinHash permutations / OPH bins
    # signature estimator: 'oph' (DEFAULT since r5) = one-permutation
    # hashing with rotation densification (Li/Owen/Zhang NIPS'12,
    # Shrivastava/Li ICML'14); 'perm' = classic 128-permutation MinHash
    # (Broder 1997). Both are P(match)=Jaccard estimators with the same
    # LSH banding, confirmation, and rescue paths on top; OPH costs
    # O(shingles) instead of O(shingles x num_perm) (measured 10-18x on
    # the minhash step, which dominates at-scale s-cpu; 2-core 6.5M wall
    # -11%, 8-core -27% in the worst host window). Flip evidence
    # (BENCH/BASELINE.md r5): identical 841-pair recall-gate output vs
    # perm at n_base=2000, planted near-recall 1.0/0.9954 across seeds,
    # measured estimator bias ~0 at all doc lengths, zero LSH false
    # positives on unrelated docs down to 22-shingle documents, and
    # HIGHER band sensitivity than perm on short docs in the J>=0.5
    # recall zone (300/300 vs 235/300 at J~0.56, L=30). Trade-off, also
    # measured: on short docs at moderate J (0.3-0.5) OPH's densified
    # bins over-fire bands vs perm (~2x the candidate pairs from that
    # band), all rejected downstream by the SimHash hamming gate —
    # bounded extra confirm cost, no correctness effect. 'perm' remains
    # fully supported for strict Broder-estimator reproduction.
    minhash_mode: str = "oph"
    lsh_bands: int = 32          # b
    lsh_rows: int = 4            # r  (b*r must equal num_perm)

    # --- SimHash confirmation (stage 4) ---
    # confirmation kills LSH false positives (random pairs sit at hamming
    # ~32 of 64). Calibration: hamming h ~ angle between shingle-feature
    # vectors; h=12 corresponds to ~Jaccard 0.7, measured J=0.87 planted
    # near-dups land at h in [8, 12], J~0.3 false positives at h >= ~20.
    # Every LSH candidate is confirmed this way — the reference's
    # rev_hash-confirms-beg_hash layering (dupe_analysis.py:367-375).
    simhash_hamming_max: int = 12
    # second acceptance evidence: MinHash-estimated Jaccard >= threshold
    # (tighter-calibrated than SimHash: std ~0.04 at 128 perms). A
    # candidate confirms when hamming <= simhash_hamming_max OR
    # est_jaccard >= min_jaccard (the rescue is bounded to hamming max+8 —
    # see simhash.RESCUE_HAMMING_SLACK); this recovers genuine near-dups
    # the noisy hamming estimator puts at 13-14 (measured ~2% of planted
    # J~0.85 pairs). None = hamming only.
    min_jaccard: float | None = 0.7
    # complete_hash analog (dupe_analysis.py:622-633): when True, only
    # exact-content-equal docs cluster (strict mode), so the cascade stops
    # at the exact stage — run_pipeline builds no near-dup branch and
    # process_batch adds no near edges. Refused together with the substring
    # pass, which clusters docs that merely share a long substring.
    complete_hash: bool = False
    # beg_hash pass-1 analog (dupe_analysis.py:369-370, 437-439): when True,
    # only exact-distinct reps whose prefix_sha collides with another rep
    # advance to the MinHash kernel. OPT-IN: it narrows near-dup detection
    # to same-prefix docs (the reference's exact-dup cascade is sound there;
    # general near-dups may differ in their first bytes), but on corpora
    # where variants share openings it removes most kernel work.
    prefix_prefilter: bool = False

    # --- substring pass (winnowing + LCS verify) ---
    enable_substring_pass: bool = False
    substring_min_len: int = 256   # t; w-gram width = substring.winnow_width(t)

    # --- clustering / shuffle hygiene ---
    # salt of the bucket stats (skew.tag_bucket_stats) and the argmin
    # (skew.salted_struct_min); at least 1
    band_salt_buckets: int = 8
    cc_max_rounds: int = 30
    # run the kernel path (signatures -> band explode -> pairs -> CC) on
    # xxhash64(conv_id) LONGS instead of id strings: the band explode is
    # ~bands rows/doc and pair/CC shuffles are id-pairs, so 8-byte fixed
    # ids roughly halve the bytes through every bandwidth-bound exchange.
    # String ids are joined back before actions; cluster_id stays
    # min(string conv_id). 64-bit collisions (P ~ n^2/2^65) would merge two
    # docs — set False for the exact string-id path if that matters more
    # than shuffle width.
    internal_long_ids: bool = True
    # force sort-merge on every corpus-sized join-back (stats, argmin,
    # relabel, election, fingerprint/min-gram self-joins). Planner size
    # ESTIMATES mis-admit corpus-sized broadcast builds (measured driver
    # OOM at 6.5M turns — long-id stats rows squeezed under the 64 MB
    # estimate threshold), so an automatic gate on those same estimates
    # would reintroduce exactly that bug. None (default) = AUTO off a
    # MEASURED corpus size instead: run_pipeline counts the eagerly
    # materialized docs_meta table (a real count, not an estimate) and
    # forces SMJ only when the corpus crosses skew.FORCED_SMJ_MIN_DOCS /
    # skew.FORCED_SMJ_MIN_BYTES — small corpora keep planner freedom (measured
    # ~0.2-0.4 s/query tax of unconditional SMJ at sf0.1/local[32],
    # VERDICT r4 #1), big corpora get the insurance unconditionally.
    # True/False pin the behavior explicitly (operators treat None as True
    # when called outside run_pipeline — scale-safe without a measurement).
    forced_smj: bool | None = None
    # eager empty-check short-circuit on the rescue band (simhash.py): when
    # no candidate lands in the near-miss band — the common case — the wide
    # minhash attach is skipped entirely (measured ~60 s-cpu of 365 at 1.6M
    # turns), at the cost of ONE eager job at plan-construction time.
    # None = AUTO: run_pipeline enables it only for measured-big corpora
    # (same gate as forced_smj), so small/interactive plans stay fully lazy
    # (ADVICE r4: the unconditional isEmpty made every pipeline eager).
    rescue_short_circuit: bool | None = None
    # kernel-parallelism floor (skew.measured_small_corpus): AQE sizes
    # shuffle partitions by bytes (1 MB floor), which starves the CPU-bound
    # mapInPandas kernels of cores on small corpora (measured: 1-task
    # signature stages bounding the sf0.1 wall). None = AUTO off the same
    # measured corpus stats as forced_smj: small corpora repartition the
    # (tiny) kernel input to one task per slot (skew.spread_over_slots —
    # not shuffle_partitions: each Python task pays a fixed worker set-up
    # cost, see DESIGN §4); big corpora never pay the extra text shuffle.
    # True/False pin it; operators treat None as False when called outside
    # run_pipeline (scale-safe: no new exchange without a measurement).
    kernel_small_corpus: bool | None = None
    # guard the internal_long_ids path: an xxhash64(conv_id) collision
    # silently merges two unrelated docs, and make_actions can then mark a
    # unique doc for deletion. Expected collisions ~n^2/2^65: ~0.03 at 1B
    # docs but >1 at 10B — material at target scale (ADVICE r3). The check
    # is one count-vs-countDistinct aggregation over the docs table per run;
    # on mismatch the pipeline FAILS LOUDLY telling the user to rerun with
    # internal_long_ids=False.
    verify_long_ids: bool = True

    # --- empty-doc handling (zero_hash analog, dupe_analysis.py:31,335-340) ---
    # a doc with no character outside Unicode whitespace (str.strip()'s
    # set) gets EMPTY_SHA1 and never reaches the kernel. True clusters all
    # such docs together; False leaves them untouched by every stage.
    empty_cluster: bool = True

    # sets the kernel_small_corpus gate threshold (shuffle_partitions x
    # 4 MB) and the n-gram query's scan-spread floor; it does NOT size the
    # Python kernel stages, which run one task per slot
    shuffle_partitions: int = 32

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) != num_perm ({self.num_perm})"
            )
        if self.minhash_mode not in ("perm", "oph"):
            raise ValueError(f"minhash_mode must be 'perm' or 'oph', got {self.minhash_mode!r}")
        if self.minhash_mode == "oph" and self.num_perm & (self.num_perm - 1):
            raise ValueError(f"minhash_mode='oph' needs a power-of-two num_perm, got {self.num_perm}")
        if self.band_salt_buckets < 1:
            raise ValueError(
                f"band_salt_buckets must be at least 1, got {self.band_salt_buckets}"
            )
        if self.complete_hash and self.enable_substring_pass:
            raise ValueError(
                "complete_hash=True clusters exact-content-equal docs only; "
                "enable_substring_pass=True would cluster docs that merely "
                "share a substring — set one of them, not both"
            )

    def config_hash(self) -> str:
        """Deterministic hash of the SEMANTIC config — keys checkpoint reuse
        (reference analog: sha1 of sorted dir set, dupe_analysis.py:38-43).

        Execution-strategy knobs (_PHYSICAL_KNOBS) steer the physical plan —
        join strategy, eagerness, parallelism, guard rails — and cannot
        change the result set, so they are excluded: toggling them, or
        adding new ones with default values, must not invalidate resumable
        checkpoint state (ADVICE r5: r5's auto-gate knob additions silently
        orphaned every pre-existing CheckpointStore root). Introducing this
        split broke every older hash once: pre-r6 store roots stop matching
        (safe direction — they are recomputed, never reused wrongly); from
        r6 on, physical knobs join the exclusion set and stay out of the
        hash. Removing a SEMANTIC field changes the hash once the same safe
        way: dropping ``max_band_bucket`` (it chose between two star tiers
        that emitted the same edges) and ``oph_band_stride`` (nothing set
        it to False; the strided OPH layout is now the only one) each make
        older store roots recompute, and so does dropping the SimHash width
        (never read; SimHash is 64-bit by construction), the SimHash
        confirmation switch (nothing turned it off; SimHash confirmation is
        the only near-dup rule), the winnowing w-gram size (now derived
        from ``substring_min_len``), the turn separator (now
        ``assembly.TURN_SEPARATOR``) and the per-doc kernel input cap (now
        ``minhash.MAX_SHINGLE_CHARS``); both constants keep the old
        defaults, so only the hash moves, never a result."""
        payload = json.dumps(
            {k: v for k, v in asdict(self).items() if k not in _PHYSICAL_KNOBS},
            sort_keys=True,
            default=str,
        )
        return hashlib.sha1(payload.encode()).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()

# SHA-1 of the empty string — the reference's zero_hash constant for
# zero-byte files (dupe_analysis.py:31). Empty docs short-circuit the cascade.
EMPTY_SHA1 = hashlib.sha1(b"").hexdigest()
