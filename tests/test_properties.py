"""Property-based tests (hypothesis) for the kernels and the oracle —
driver-side only, no Spark session, so they run in seconds."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.oracle import UnionFind
from deduplicate_spark.operators.minhash import (
    jaccard,
    minhash_signature,
    perm_params,
    shingle_hashes,
)
from deduplicate_spark.operators.substring import (
    longest_common_substring_len,
    winnow_fingerprints,
    winnow_width,
)

TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=400
)


@given(TEXT)
@settings(max_examples=200, deadline=None)
def test_shingles_deterministic(text):
    a = shingle_hashes(text, 9)
    b = shingle_hashes(text, 9)
    assert np.array_equal(a, b)


@given(TEXT, TEXT)
@settings(max_examples=100, deadline=None)
def test_identical_iff_same_shingles(t1, t2):
    """Same text -> identical signature; minhash equality fraction == 1 only
    when shingle sets are equal."""
    a, b = perm_params(64)
    s1, s2 = shingle_hashes(t1, 9), shingle_hashes(t2, 9)
    m1, m2 = minhash_signature(s1, a, b), minhash_signature(s2, a, b)
    if np.array_equal(s1, s2):
        assert np.array_equal(m1, m2)
    if s1.size and s2.size and not np.array_equal(m1, m2):
        assert not np.array_equal(s1, s2)


@given(st.text(alphabet="ab ", min_size=30, max_size=200))
@settings(max_examples=100, deadline=None)
def test_jaccard_bounds(text):
    """0 <= J <= 1 and J(x, x) == 1."""
    s = shingle_hashes(text, 5)
    if s.size:
        assert jaccard(s, s) == 1.0
    other = shingle_hashes(text + "zzz", 5)
    j = jaccard(s, other)
    assert 0.0 <= j <= 1.0


@given(
    st.text(alphabet="abcdefgh ", min_size=150, max_size=300),
    st.text(alphabet="qrstuvwx ", min_size=20, max_size=80),
    st.text(alphabet="ijklmnop ", min_size=20, max_size=80),
)
@settings(max_examples=50, deadline=None)
def test_winnowing_shared_substring_guarantee(shared, pre, post):
    """Any two docs sharing a substring of length >= t share a fingerprint
    (the Schleimer-Wilkerson-Aiken guarantee), also at the derived widths
    the substring pass uses, below 16 bytes included."""
    doc_a = pre + shared
    doc_b = shared + post
    for t, w in ((128, 16), (128, winnow_width(128)), (12, winnow_width(12))):
        if len(shared) < t:
            continue
        fa = winnow_fingerprints(doc_a, t, w)
        fb = winnow_fingerprints(doc_b, t, w)
        assert np.intersect1d(fa, fb).size > 0, (t, w)


@given(
    st.text(alphabet="abc", min_size=0, max_size=60),
    st.text(alphabet="abc", min_size=0, max_size=60),
)
@settings(max_examples=100, deadline=None)
def test_lcs_matches_dp(a, b):
    """Suffix-array LCS == the reference's O(n*m) DP matrix semantics
    (deduplicate.py:242-260 max_overlap)."""
    n, m = len(a), len(b)
    best = 0
    prev = [0] * (m + 1)
    for i in range(1, n + 1):
        cur = [0] * (m + 1)
        for j in range(1, m + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    assert longest_common_substring_len(a, b) == best


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=0, max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_unionfind_is_partition_with_min_roots(edges):
    uf = UnionFind()
    nodes = set()
    for x, y in edges:
        uf.union(f"n{x:02d}", f"n{y:02d}")
        nodes.add(f"n{x:02d}")
        nodes.add(f"n{y:02d}")
    # root of every component is its minimum member
    comps: dict[str, list[str]] = {}
    for n in nodes:
        comps.setdefault(uf.find(n), []).append(n)
    for root, members in comps.items():
        assert root == min(members)


def test_lsh_recall_monotone_in_bands():
    """More bands (same r) => candidate probability never decreases: a pair
    bucketed at b bands stays bucketed when bands are appended."""
    cfg_small = DedupConfig(num_perm=64, lsh_bands=16, lsh_rows=4)
    cfg_big = DedupConfig(num_perm=128, lsh_bands=32, lsh_rows=4)
    a64, b64 = perm_params(64)
    a128, b128 = perm_params(128)
    # the first 64 perms of (128, seed) equal perms of (64, seed)? Not
    # guaranteed by generator slicing — so check the structural property
    # instead: band matches under cfg_small imply matches under a config
    # whose bands are a superset of the same (a, b) slices.
    s1 = shingle_hashes("the quick brown fox jumps over the lazy dog " * 8, 9)
    s2 = shingle_hashes("the quick brown fox jumps over the lazy dogs " * 8, 9)
    m1, m2 = minhash_signature(s1, a128, b128), minhash_signature(s2, a128, b128)
    r = 4
    matches_16 = sum(
        np.array_equal(m1[i * r : (i + 1) * r], m2[i * r : (i + 1) * r])
        for i in range(16)
    )
    matches_32 = sum(
        np.array_equal(m1[i * r : (i + 1) * r], m2[i * r : (i + 1) * r])
        for i in range(32)
    )
    assert matches_32 >= matches_16


# ---- OPH signature properties (driver-side kernel, no Spark) -------------

@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_oph_signature_deterministic_and_dense(hashes):
    """OPH: deterministic, fully densified (no empty-bin sentinel
    survives), dtype-stable — for ANY shingle multiset."""
    from deduplicate_spark.operators.minhash import oph_signature

    sh = np.array(hashes, dtype=np.uint64)
    a = oph_signature(sh, 128)
    b = oph_signature(sh, 128)
    assert a.dtype == np.uint64 and len(a) == 128
    assert (a == b).all()
    assert (a != np.uint64(0xFFFFFFFFFFFFFFFF)).all()


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_oph_identical_sets_identical_signatures(hashes):
    """Identical shingle SETS (order/multiplicity ignored) must collide on
    every bin — the J=1 contract OPH shares with classic MinHash."""
    from deduplicate_spark.operators.minhash import oph_signature

    sh = np.array(hashes, dtype=np.uint64)
    rng = np.random.default_rng(7)
    shuffled = np.concatenate([sh, sh[rng.permutation(len(sh))]])
    assert (oph_signature(sh, 64) == oph_signature(shuffled, 64)).all()


# ---- two-phase byte gate: bound algebra ----------------------------------

@given(
    st.integers(min_value=0, max_value=10**12),   # char sum
    st.integers(min_value=1, max_value=10**12),   # threshold
    st.floats(min_value=1.0, max_value=4.0),      # true bytes/char ratio
)
@settings(max_examples=300, deadline=None)
def test_two_phase_gate_bounds_are_sound(chars, threshold, ratio):
    """Whenever the cheap phase claims a decision (threshold outside
    [chars, 4*chars]), the decision must equal the one true bytes would
    give, for EVERY legal UTF-8 bytes/char ratio in [1, 4]."""
    true_bytes = int(chars * ratio)
    lo, hi = chars, chars * 4
    if not (lo <= threshold <= hi):  # cheap phase decides using lo
        assert (lo > threshold) == (true_bytes > threshold)
        assert (lo < threshold) == (true_bytes < threshold)
