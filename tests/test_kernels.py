"""Pure-numpy kernel tests — no Spark session needed."""

from __future__ import annotations

import random

import numpy as np
import pytest

from deduplicate_spark.operators.minhash import (
    _BASE,
    _splitmix64,
    jaccard,
    minhash_signature,
    perm_params,
    shingle_hashes,
    simhash64,
    window_hashes,
)
from deduplicate_spark.operators.substring import (
    longest_common_substring_len,
    suffix_array,
    winnow_fingerprints,
)


def _naive_windows(text: str, k: int, max_chars: int | None = None) -> np.ndarray:
    """Per-window pure-Python reference of ``window_hashes``, in order: the
    polynomial hash of each k-byte window (of the whole text when shorter
    than k), splitmix64-finalized; nothing for whitespace-only text."""
    if max_chars is not None:
        text = text[:max_chars]
    if not text.strip():
        return np.empty(0, dtype=np.uint64)
    data = text.encode()
    width = min(k, len(data))
    out = [
        sum(byte * pow(int(_BASE), j, 1 << 64) for j, byte in enumerate(data[i : i + width]))
        % (1 << 64)
        for i in range(len(data) - width + 1)
    ]
    return _splitmix64(np.array(out, dtype=np.uint64))


def _naive_window_hashes(text: str, k: int) -> np.ndarray:
    return np.unique(_naive_windows(text, k))


@pytest.mark.parametrize(
    "text, k, cap",
    [
        ("", 9, None),
        ("  \n\t ", 9, None),
        ("ab", 9, None),
        ("abcdefghi", 9, None),
        ("naïve café — 日本語のテキスト, then ascii words", 5, None),
        ("the quick brown fox jumps over the lazy dog", 7, 20),
    ],
)
def test_window_hashes_match_naive_in_order(text, k, cap):
    got = window_hashes(text, k, cap)
    assert np.array_equal(got, _naive_windows(text, k, cap))
    assert np.array_equal(shingle_hashes(text, k, cap), np.unique(got))


def test_rolling_hash_matches_naive():
    text = "the quick brown fox jumps over the lazy dog again and again"
    assert np.array_equal(shingle_hashes(text, 9), _naive_window_hashes(text, 9))


def test_shingles_deterministic_and_short_texts():
    assert np.array_equal(shingle_hashes("abc", 9), shingle_hashes("abc", 9))
    assert shingle_hashes("", 9).size == 0
    assert shingle_hashes("   ", 9).size == 0
    assert shingle_hashes("ab", 9).size == 1  # whole-text shingle


def test_minhash_estimates_jaccard():
    rng = random.Random(7)
    words = [f"word{i}" for i in range(400)]
    base = [rng.choice(words) for _ in range(600)]
    variant = list(base)
    for i in range(0, len(variant), 10):
        variant[i] = rng.choice(words)
    a_txt, b_txt = " ".join(base), " ".join(variant)
    sa, sb = shingle_hashes(a_txt, 9), shingle_hashes(b_txt, 9)
    j = jaccard(sa, sb)
    a, b = perm_params(256)
    est = (minhash_signature(sa, a, b) == minhash_signature(sb, a, b)).mean()
    assert abs(est - j) < 0.12


def test_minhash_identical_texts_identical_sigs():
    a, b = perm_params(128)
    sh = shingle_hashes("identical corpus text " * 20, 9)
    assert np.array_equal(minhash_signature(sh, a, b), minhash_signature(sh.copy(), a, b))


def test_simhash_near_texts_low_hamming():
    base = "alpha bravo charlie delta echo foxtrot golf hotel india " * 30
    near = base.replace("echo", "brio", 3)
    far = "completely different content everywhere nothing shared at all " * 30
    h_near = bin(
        simhash64(shingle_hashes(base, 9)) ^ simhash64(shingle_hashes(near, 9))
    ).count("1")
    h_far = bin(
        simhash64(shingle_hashes(base, 9)) ^ simhash64(shingle_hashes(far, 9))
    ).count("1")
    assert h_near < h_far
    assert h_near <= 12
    assert h_far > 15


def test_suffix_array_matches_sorted_suffixes():
    for s in ["banana", "mississippi", "abracadabra"]:
        data = np.frombuffer(s.encode(), dtype=np.uint8).astype(np.int64)
        expected = sorted(range(len(s)), key=lambda i: s[i:])
        assert suffix_array(data).tolist() == expected


def test_lcs_exact():
    shared = "the-common-core-" * 10
    a = "AAA" + shared + "BBB"
    b = "xyz" * 5 + shared + "q"
    got = longest_common_substring_len(a, b)
    assert got >= len(shared)
    assert longest_common_substring_len("abc" * 10, "xyz" * 10) == 0
    assert longest_common_substring_len("", "abc") == 0


def test_winnowing_guarantee():
    """Docs sharing a substring of length >= t share a fingerprint."""
    rng = random.Random(3)
    words = [f"tok{i}" for i in range(300)]
    shared = " ".join(rng.choice(words) for _ in range(40))  # ~240 chars
    assert len(shared) >= 128
    a = " ".join(rng.choice(words) for _ in range(50)) + " " + shared
    b = shared + " " + " ".join(rng.choice(words) for _ in range(50))
    fa = winnow_fingerprints(a, 128, 16)
    fb = winnow_fingerprints(b, 128, 16)
    assert np.intersect1d(fa, fb).size > 0


def test_winnowing_disjoint_docs_share_nothing():
    a = "aaaa bbbb cccc dddd " * 20
    b = "zzzz yyyy xxxx wwww " * 20
    assert np.intersect1d(
        winnow_fingerprints(a, 64, 16), winnow_fingerprints(b, 64, 16)
    ).size == 0


@pytest.mark.parametrize("k", [5, 9, 13])
def test_shingle_count(k):
    text = "x" * 100
    # all windows identical -> exactly one unique shingle
    assert shingle_hashes(text, k).size == 1


def test_oph_estimates_jaccard():
    """OPH + rotation densification keeps P(sig[j] match) ~ Jaccard —
    same estimator contract as the permutation mode (Li/Owen/Zhang
    NIPS'12; Shrivastava/Li ICML'14)."""
    from deduplicate_spark.operators.minhash import oph_signature

    rng = random.Random(7)
    words = [f"word{i}" for i in range(400)]
    base = [rng.choice(words) for _ in range(600)]
    for stride, tol in ((4, 0.13), (10, 0.12), (2, 0.14)):
        variant = list(base)
        for i in range(0, len(variant), stride):
            variant[i] = rng.choice(words)
        sa = shingle_hashes(" ".join(base), 9)
        sb = shingle_hashes(" ".join(variant), 9)
        j = jaccard(sa, sb)
        est = (oph_signature(sa, 256) == oph_signature(sb, 256)).mean()
        assert abs(est - j) < tol, f"stride {stride}: est {est} vs J {j}"


def test_oph_identical_deterministic_and_edges():
    from deduplicate_spark.operators.minhash import oph_signature

    sh = shingle_hashes("identical corpus text " * 20, 9)
    assert np.array_equal(oph_signature(sh, 128), oph_signature(sh.copy(), 128))
    # empty set -> all-ones sentinel, same as the perm mode
    empty = oph_signature(np.empty(0, dtype=np.uint64), 128)
    assert (empty == np.iinfo(np.uint64).max).all()
    # tiny shingle set: every bin filled (by densification), deterministic
    one = oph_signature(sh[:1], 128)
    assert np.array_equal(one, oph_signature(sh[:1], 128))
    assert (one != np.iinfo(np.uint64).max).all()
    with pytest.raises(ValueError):
        oph_signature(sh, 100)  # not a power of two


def test_oph_densification_distance_mixed():
    """Two docs whose shared shingles fill DIFFERENT bins must not collide
    through densification at different borrow distances."""
    from deduplicate_spark.operators.minhash import oph_signature

    rng = np.random.default_rng(3)
    a = rng.integers(0, 1 << 63, size=4, dtype=np.uint64)
    b = rng.integers(0, 1 << 63, size=4, dtype=np.uint64)
    sa, sb = oph_signature(np.unique(a), 128), oph_signature(np.unique(b), 128)
    # disjoint sets: the match fraction must stay near zero even though
    # both signatures are almost entirely densified fill values
    assert (sa == sb).mean() < 0.05


def test_oph_densification_emits_no_numpy_warnings():
    """The borrow-distance mix wraps uint64 INTENTIONALLY; it must do so
    without tripping numpy's scalar-overflow RuntimeWarning (log noise per
    kernel worker; a crash under np.seterr(over='raise'))."""
    import warnings

    import numpy as np

    from deduplicate_spark.operators.minhash import oph_signature

    # few shingles vs many bins -> empty bins -> densification loop runs
    sh = np.array([12345, 999999999], dtype=np.uint64)
    old = np.seterr(over="raise")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            sig = oph_signature(sh, 128)
    finally:
        np.seterr(**old)
    assert sig.dtype == np.uint64 and len(sig) == 128
    assert (sig != np.uint64(0xFFFFFFFFFFFFFFFF)).all()


def test_oph_stride_order_layout():
    """The strided layout is a permutation putting bins {j, j+b, j+2b,
    j+3b} into contiguous band j — so contiguous LSH band slices read
    stride-separated bins (densification runs can't fill a whole band)."""
    from deduplicate_spark.operators.minhash import _oph_stride_order

    order = _oph_stride_order(128, 32, 4)
    assert sorted(order.tolist()) == list(range(128))
    for j in (0, 5, 31):
        assert order[j * 4 : (j + 1) * 4].tolist() == [j, j + 32, j + 64, j + 96]


def test_doc_signature_oph_stride_dispatch():
    """doc_signature's OPH signature is the raw adjacent layout
    (oph_signature) permuted by the band stride."""
    from deduplicate_spark.config import DedupConfig
    from deduplicate_spark.operators.minhash import (
        _oph_stride_order,
        doc_signature,
        oph_signature,
        perm_params,
    )

    sh = shingle_hashes("some moderately sized document text " * 8, 9)
    a, b = perm_params(128)
    raw = oph_signature(sh, 128)
    strided = doc_signature(sh, DedupConfig(), a, b)
    assert not np.array_equal(strided, raw)
    assert np.array_equal(strided, raw[_oph_stride_order(128, 32, 4)])


def test_oph_stride_kills_band_amplification_on_sparse_docs():
    """Regression for the measured 13x candidate inflation: sparse docs
    sharing ONE shingle must not fire LSH bands through densification
    runs. Under the adjacent layout a single shared min-shingle fills
    runs of empty bins identically in both docs and whole bands collide;
    the strided layout needs an empty run >= lsh_bands to do that."""
    from deduplicate_spark.config import DedupConfig
    from deduplicate_spark.operators.minhash import (
        doc_signature,
        oph_signature,
        perm_params,
    )

    rng = np.random.default_rng(11)
    a, b = perm_params(128)
    cfg_str = DedupConfig()
    B, R = cfg_str.lsh_bands, cfg_str.lsh_rows

    def band_fires(sa, sb):
        return sum(
            np.array_equal(sa[j * R : (j + 1) * R], sb[j * R : (j + 1) * R])
            for j in range(B)
        )

    fires = {"adj": 0, "str": 0}
    for _ in range(60):
        shared = rng.integers(0, 1 << 63, size=1, dtype=np.uint64)
        d1 = np.unique(np.concatenate([shared, rng.integers(0, 1 << 63, 5, dtype=np.uint64)]))
        d2 = np.unique(np.concatenate([shared, rng.integers(0, 1 << 63, 5, dtype=np.uint64)]))
        fires["adj"] += band_fires(oph_signature(d1, 128), oph_signature(d2, 128))
        fires["str"] += band_fires(
            doc_signature(d1, cfg_str, a, b), doc_signature(d2, cfg_str, a, b)
        )
    # J ~ 1/11: honest per-band fire probability ~ (1/11)^4 ~ 7e-5 -> ~0.13
    # expected fires over 60*32 bands. The adjacent layout amplified this by
    # orders of magnitude (the 13x corpus-level inflation); strided must
    # stay within a small constant of honest.
    assert fires["adj"] > 20 * max(fires["str"], 1) or fires["str"] <= 3, fires
    assert fires["str"] <= 10, fires


def test_seed_extend_verifier_equals_suffix_array_lcs():
    """has_common_substring_ge must decide EXACTLY LCS(a, b) >= t for every
    pair — planted true pairs at/around the threshold, random word-salad
    false candidates (the dominant case at scale), repetitive docs that
    exhaust the seed budget and take the suffix-array fallback, and short
    and empty edge cases."""
    from deduplicate_spark.operators.substring import (
        has_common_substring_ge,
        longest_common_substring_len,
    )

    rng = random.Random(11)
    words = [f"w{i:03d}" for i in range(40)]  # small vocab -> shared w-grams

    def salad(n):
        return " ".join(rng.choice(words) for _ in range(n))

    t, w = 128, 16
    cases = []
    # planted: shared core lengths around the threshold
    for core_len in [t - 30, t - 1, t, t + 1, t * 2]:
        core = ("c" * 7 + "-") * (core_len // 8 + 1)
        core = core[:core_len]
        cases.append((salad(30) + " " + core + " " + salad(30),
                      core + " " + salad(60)))
    # random false candidates (word salad shares many w-grams, no long runs)
    for _ in range(30):
        cases.append((salad(60), salad(60)))
    # repetitive docs: many occurrences of the same value -> budget path
    cases.append((("ha " * 300), ("ha " * 300) + salad(10)))
    cases.append((("ab" * 400), ("ab" * 150)))
    # edges
    cases.append(("", salad(20)))
    cases.append(("short", "short"))
    for ta, tb in cases:
        want = longest_common_substring_len(ta, tb) >= t
        got = has_common_substring_ge(ta, tb, t, w, cap=200_000)
        assert got == want, (want, got, ta[:60], tb[:60])
    # capped-text fallback stays exact too
    long_a = salad(200)
    assert has_common_substring_ge(long_a, long_a, t, w, cap=100) == (
        longest_common_substring_len(long_a, long_a) >= t
    )


def test_seed_extend_verifier_whitespace_only_texts():
    """Whitespace-only text has no winnowing fingerprints, yet it shares
    whitespace runs with other text: the verifier must still decide exactly
    LCS(a, b) >= t (both whitespace-only, and whitespace-only vs a doc that
    contains a long whitespace run), and stay False below t bytes."""
    from deduplicate_spark.operators.substring import (
        has_common_substring_ge,
        longest_common_substring_len,
    )

    t, w = 128, 16
    ws = " " * 300
    cases = [
        (ws, ws),
        (ws, "\t\n " * 100),
        (ws, "header text " + " " * 200 + " footer text"),  # mixed pair
        ("lead " * 40 + " " * 150, ws),
        (ws, "no long whitespace run here " * 20),
        (ws, " " * (t - 1)),  # shorter than t bytes
        (" " * 50, " " * 50),
    ]
    for ta, tb in cases:
        want = longest_common_substring_len(ta, tb) >= t
        assert has_common_substring_ge(ta, tb, t, w, cap=200_000) == want, (want, ta[:20], tb[:20])
    assert has_common_substring_ge(ws, ws, t, w, cap=200_000)
