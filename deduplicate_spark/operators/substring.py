"""Substring pass — exact long-common-substring dedup.

The reference carries a vestigial O(n*m) dynamic-programming
longest-common-substring kernel (``max_overlap``, /root/reference/
deduplicate.py:242-260 — dead code, never called). This stage is its
scale-correct graft:

  1. **Candidate generation: winnowing** (Schleimer, Wilkerson, Aiken,
     "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003).
     Per doc: hash all w-grams, slide a window of W = t - w + 1 consecutive
     w-gram hashes, keep each window's minimum. Guarantee: any two docs
     sharing an exact substring of length >= t share at least one selected
     fingerprint. Fingerprints are ~|doc| * 2/W — tiny. Vectorized numpy in
     ``mapInPandas``.
  2. **Bucket pairing**: each fingerprint is a collision bucket of
     ``skew.bucket_pairs`` (count>1, the A1 prefilter again) -> candidate
     pairs, star-pairing for huge buckets as in the LSH stage.
  3. **Verification: suffix array.** Per candidate pair, build the suffix
     array of ``a + SEP + b`` (numpy prefix-doubling, O(n log n)), Kasai LCP,
     and take the max LCP between suffixes from different docs = exact
     longest common substring. Confirm iff >= t. ``applyInPandas`` over
     pair groups — only runs on winnowing candidates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.operators.minhash import MAX_SHINGLE_CHARS, window_hashes
from deduplicate_spark.operators.skew import (
    bucket_pairs,
    maybe_merge_hint,
    resolve_gates,
    spread_over_slots,
    text_stats,
)
from deduplicate_spark.lineage import cut_lineage


def winnow_width(t: int) -> int:
    """The w-gram width the substring pass fingerprints with at threshold
    ``t``: the WIDEST gram the guarantee allows, capped at 64 B, floored at
    16 B, and never above ``t``.

    Winnowing's guarantee holds for any w <= t — a common substring of
    length >= t contains all of its t-w+1 w-grams — but the FALSE-candidate
    rate is driven by how often unrelated docs share a w-gram: 16-byte
    grams are ~3 words and collide constantly on template/word-salad
    corpora (measured at a 29k-doc corpus: 423k candidate pairs, 0
    confirmed), 64-byte grams are ~11 consecutive identical words and
    essentially never collide by chance. The confirmed pair set does not
    depend on w: the verifier decides LCS >= t exactly on any candidate
    superset."""
    return min(t, max(16, min(64, t // 4)))


def winnow_fingerprints(text: str, t: int, w: int, max_chars: int | None = None) -> np.ndarray:
    """Selected fingerprint hashes per the winnowing scheme (unique u64s)."""
    return _winnow_from_raw(window_hashes(text, w, max_chars), t, w)


def _winnow_from_raw(raw: np.ndarray, t: int, w: int) -> np.ndarray:
    if raw.size == 0:
        return raw
    window = max(1, t - w + 1)
    if raw.size <= window:
        return np.array([raw.min()], dtype=np.uint64)
    sw = np.lib.stride_tricks.sliding_window_view(raw, window)
    return np.unique(sw.min(axis=1))


def suffix_array(data: np.ndarray) -> np.ndarray:
    """Suffix array via numpy prefix-doubling (O(n log n) sorts)."""
    return _suffix_array_levels(data)[0]


def _suffix_array_levels(data: np.ndarray) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Suffix array + the per-doubling rank arrays.

    ``levels`` is ``[(length, key), ...]`` where ``key[i]`` ranks the
    substring ``data[i : i + length]`` — ``key[p] == key[q]`` iff those
    substrings are identical. Saved so LCP queries can binary-lift in
    O(log n) per pair (sparse-table style) instead of scanning characters.
    """
    n = data.shape[0]
    rank = np.argsort(data, kind="stable")
    key = np.empty(n, dtype=np.int64)
    key[rank] = np.cumsum(np.concatenate(([0], np.diff(data[rank]) != 0)))
    levels: list[tuple[int, np.ndarray]] = [(1, key)]
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = key[k:]
        order = np.lexsort((key2, key))
        combined = np.stack((key[order], key2[order]))
        new_key = np.empty(n, dtype=np.int64)
        diff = np.concatenate(
            ([0], ((np.diff(combined[0]) != 0) | (np.diff(combined[1]) != 0)).astype(np.int64))
        )
        new_key[order] = np.cumsum(diff)
        key = new_key
        levels.append((k * 2, key))
        if key.max() == n - 1:
            break
        k *= 2
    sa = np.empty(n, dtype=np.int64)
    sa[key] = np.arange(n)
    return sa, levels


def _max_crossing_lcp(
    sa: np.ndarray, levels: list[tuple[int, np.ndarray]], boundary: int
) -> int:
    """Max LCP over adjacent suffix-array entries whose suffixes start on
    opposite sides of ``boundary`` — exactly the pairs that realize the
    longest common substring of the two concatenated docs.

    Binary lifting over the prefix-doubling rank arrays: for each level
    length L (descending), pairs whose current positions have equal rank
    share L more characters, so advance both by L. O(log n) vectorized
    passes over all crossing pairs — no per-character work, immune to the
    near-identical-docs blowup that makes chunked char comparison (and a
    naive Kasai port) O(sum-of-LCPs).
    """
    side = sa < boundary
    adj = np.nonzero(side[1:] != side[:-1])[0]
    if adj.size == 0:
        return 0
    n = sa.shape[0]
    p = sa[adj].copy()
    q = sa[adj + 1].copy()
    lcp = np.zeros(adj.size, dtype=np.int64)
    for length, key in reversed(levels):
        in_range = (p < n) & (q < n)
        safe_p = np.minimum(p, n - 1)
        safe_q = np.minimum(q, n - 1)
        eq = in_range & (key[safe_p] == key[safe_q])
        lcp += np.where(eq, length, 0)
        p += np.where(eq, length, 0)
        q += np.where(eq, length, 0)
    return int(lcp.max())


def longest_common_substring_len(a: str, b: str) -> int:
    """Exact LCS length via suffix array + vectorized crossing-LCP over a#b.

    The scale-correct replacement for the reference's O(n*m) DP matrix
    (deduplicate.py:242-260). Only adjacent suffix pairs that cross the
    doc boundary are compared — the max of those LCPs is the LCS length."""
    ab = a.encode("utf-8")
    bb = b.encode("utf-8")
    if not ab or not bb:
        return 0
    # separators outside byte range make cross-boundary matches impossible
    data = np.concatenate(
        [
            np.frombuffer(ab, dtype=np.uint8).astype(np.int64),
            np.array([256], dtype=np.int64),
            np.frombuffer(bb, dtype=np.uint8).astype(np.int64),
        ]
    )
    sa, levels = _suffix_array_levels(data)
    return _max_crossing_lcp(sa, levels, len(ab))


# seed extensions per pair before the verifier falls back to the full
# suffix-array LCS; false candidates need a handful, repetitive docs whose
# shared value recurs many times get the exact O(n log n) path instead
_SEED_BUDGET = 512


def _seed_extends_ge(
    ab: np.ndarray, bb: np.ndarray, i: int, j: int, w: int, t: int
) -> bool:
    """True iff the maximal common extension of the aligned w-gram match at
    byte offsets (i, j) reaches ``t`` bytes. Byte-verified (a hash-collision
    seed simply fails), vectorized slice compares, O(t) per seed."""
    # forward from the seed start: the first t matching bytes suffice
    fwd_max = min(ab.shape[0] - i, bb.shape[0] - j)
    fl = min(fwd_max, t)
    eq = ab[i : i + fl] == bb[j : j + fl]
    fwd = fl if eq.all() else int(np.argmin(eq))
    if fwd >= t:
        return True
    # backward: common suffix of the prefixes ending at the seed
    back_max = min(i, j, t - fwd)
    if back_max <= 0:
        return False
    eqb = ab[i - back_max : i] == bb[j - back_max : j]
    rev = eqb[::-1]
    back = back_max if rev.all() else int(np.argmin(rev))
    return back + fwd >= t


def has_common_substring_ge(ta: str, tb: str, t: int, w: int, cap: int | None) -> bool:
    """Decide ``LCS(ta, tb) >= t`` — the substring-pass verify predicate —
    without building a suffix array in the common case.

    Winnowing guarantee (Schleimer et al. 2003): any common substring of
    length >= t contains a fingerprint SELECTED by both docs at aligned
    positions, so it suffices to try the maximal byte-verified extension
    around every occurrence pair of every shared selected value
    (:func:`_seed_extends_ge`) — a handful of O(t) slice compares —
    instead of the O(n log n) suffix-array build per pair that dominated
    the stage wall (measured at a 29k-doc word-salad corpus: 423k
    candidates, ~1 ms/pair, 0 confirmed). Falls back to the exact
    suffix-array LCS when the seed budget is exhausted (pathologically
    repetitive docs), when either text exceeds the fingerprint cap
    (the guarantee then no longer covers the truncated tail), or when
    either text is whitespace-only (no fingerprints). Decision is
    exactly ``longest_common_substring_len(ta, tb) >= t`` in all cases.
    """
    if not ta or not tb:
        return False
    if cap is not None and (len(ta) > cap or len(tb) > cap):
        return longest_common_substring_len(ta, tb) >= t
    raw_a = window_hashes(ta, w)
    raw_b = window_hashes(tb, w)
    if raw_a.size == 0 or raw_b.size == 0:
        # whitespace-only text carries no fingerprints, so the winnowing
        # guarantee says nothing about it; it can still share >= t bytes
        # (of whitespace) with the other text -> exact path
        if len(ta.encode("utf-8")) >= t and len(tb.encode("utf-8")) >= t:
            return longest_common_substring_len(ta, tb) >= t
        return False
    shared = np.intersect1d(
        _winnow_from_raw(raw_a, t, w), _winnow_from_raw(raw_b, t, w),
        assume_unique=True,
    )
    if shared.size == 0:
        return False
    ab = np.frombuffer(ta.encode("utf-8"), dtype=np.uint8)
    bb = np.frombuffer(tb.encode("utf-8"), dtype=np.uint8)
    budget = _SEED_BUDGET
    for v in shared:
        for i in np.flatnonzero(raw_a == v):
            for j in np.flatnonzero(raw_b == v):
                budget -= 1
                if budget < 0:
                    return longest_common_substring_len(ta, tb) >= t
                if _seed_extends_ge(ab, bb, int(i), int(j), w, t):
                    return True
    return False


FINGERPRINT_DDL = "conv_id {id_type}, fp long"


def doc_fingerprints(docs: DataFrame, config: DedupConfig | None = None) -> DataFrame:
    """docs -> exploded (conv_id, fp) winnowing fingerprints. The id column
    passes through opaquely (strings, or the pipeline's internal longs)."""
    config = config or DedupConfig()
    t = config.substring_min_len
    w = winnow_width(t)
    id_type = docs.schema["conv_id"].dataType.simpleString()
    id_dtype = "int64" if id_type == "bigint" else "object"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for conv_id, text in zip(pdf["conv_id"], pdf["doc_text"]):
                sel = winnow_fingerprints(text or "", t, w, MAX_SHINGLE_CHARS)
                ids.extend([conv_id] * sel.size)
                fps.extend(sel.view(np.int64).tolist())
            yield pd.DataFrame(
                {"conv_id": pd.Series(ids, dtype=id_dtype), "fp": pd.array(fps, dtype="int64")}
            )

    return docs.select("conv_id", "doc_text").mapInPandas(
        kernel, FINGERPRINT_DDL.format(id_type=id_type)
    )


_ALLPAIRS_MAX = 64  # all-pairs ceiling of a fingerprint bucket


def substring_pairs(docs: DataFrame, config: DedupConfig | None = None) -> DataFrame:
    """Confirmed substring-dup edges (a, b, evidence='substring')."""
    config = config or DedupConfig()
    # a doc shorter than t bytes cannot contain a t-byte substring: drop it
    # before fingerprinting. Kills the random min-hash collisions tiny docs
    # produce (measured: 13k -> ~2k candidate pairs at sf0.1, verify was
    # 90% of stage wall)
    docs = docs.filter(F.octet_length("doc_text") >= config.substring_min_len)
    if config.forced_smj is None or config.kernel_small_corpus is None:
        # direct-call path (run_pipeline passes an already-resolved config):
        # resolve the gates off a MEASURED corpus size. The eager cut
        # materializes the filtered docs once; the stats agg and the
        # fingerprint/text-attach stages below all read the same blocks
        # instead of re-running assembly, so the measurement is ~free.
        docs = cut_lineage(docs, eager=True)
        config = resolve_gates(*text_stats(docs, "doc_text"), config)
    # kernel-parallelism floor (same measured gate as the signature kernel,
    # skew.measured_small_corpus): below the gate the filtered docs sit in
    # 1-4 byte-sized partitions and the CPU-bound winnowing kernel would
    # run on as many cores; the repartition shuffles only a tiny table
    fp_input = docs
    if config.kernel_small_corpus:
        fp_input = spread_over_slots(fp_input)
    # one collision bucket per winnowing fingerprint: a fingerprint shared
    # by 10^7 boilerplate docs takes the salted stats and the star tier,
    # never a one-task window straggler
    cand = bucket_pairs(
        doc_fingerprints(fp_input, config),
        "fp",
        allpairs_max=_ALLPAIRS_MAX,
        salt_buckets=config.band_salt_buckets,
        forced_smj=config.forced_smj,
    )

    # texts is corpus-sized WITH doc_text: forced SMJ so a planner size
    # under-estimate can never broadcast-build it on the driver (same class
    # as the confirm attach, measured at 6.5M turns)
    texts = docs.select("conv_id", "doc_text")
    withtext = (
        cand.join(
            maybe_merge_hint(
                texts.select(F.col("conv_id").alias("a"), F.col("doc_text").alias("text_a")),
                config.forced_smj,
            ),
            "a",
        ).join(
            maybe_merge_hint(
                texts.select(F.col("conv_id").alias("b"), F.col("doc_text").alias("text_b")),
                config.forced_smj,
            ),
            "b",
        )
    )

    t = config.substring_min_len
    w = winnow_width(t)
    id_type = docs.schema["conv_id"].dataType.simpleString()
    id_dtype = "int64" if id_type == "bigint" else "object"

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep_a, keep_b = [], []
            for a, b, ta, tb in zip(pdf["a"], pdf["b"], pdf["text_a"], pdf["text_b"]):
                # seed-and-extend decision, equal to LCS(ta, tb) >= t
                # (suffix-array fallback inside — see has_common_substring_ge)
                if has_common_substring_ge(ta or "", tb or "", t, w, MAX_SHINGLE_CHARS):
                    keep_a.append(a)
                    keep_b.append(b)
            yield pd.DataFrame(
                {"a": pd.Series(keep_a, dtype=id_dtype), "b": pd.Series(keep_b, dtype=id_dtype)}
            )

    # AQE coalesces the (tiny-by-bytes) candidate set into one partition,
    # which would serialize the CPU-bound verify kernel into a single task
    # — spread pairs to one task per slot first
    return (
        spread_over_slots(withtext)
        .mapInPandas(verify, f"a {id_type}, b {id_type}")
        .withColumn("evidence", F.lit("substring"))
    )
