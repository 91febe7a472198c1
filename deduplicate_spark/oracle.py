"""Driver-side pure-Python oracle — reference semantics, miniature scale.

The reference's clustering semantics (hash-group equivalence at the
configured fingerprint level + transitive closure of near edges) restated
with plain dicts and a union-find, sharing the *same* numpy kernels as the
Spark stages (one implementation of MinHash/SimHash/winnowing, two
harnesses). Used by the tests and the recall >= 0.99 gate (BASELINE.md):
recall is measured on dup-pair co-membership, not canonical choice (see
SURVEY.md §7.4).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
import pandas as pd

from deduplicate_spark.config import DedupConfig, EMPTY_SHA1
from deduplicate_spark.operators.assembly import TURN_SEPARATOR
from deduplicate_spark.operators.minhash import (
    MAX_SHINGLE_CHARS,
    doc_signature,
    perm_params,
    shingle_hashes,
    simhash64,
)
from deduplicate_spark.operators.lsh import ALLPAIRS_MAX_DEFAULT
from deduplicate_spark.operators.simhash import RESCUE_HAMMING_SLACK
from deduplicate_spark.operators.substring import (
    longest_common_substring_len,
    winnow_fingerprints,
    winnow_width,
)


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-root keeps cluster_id = min(member) semantics
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def assemble_docs_pandas(turns: pd.DataFrame, config: DedupConfig | None = None) -> pd.DataFrame:
    """Reference-order assembly: concat texts by (conv_id, turn_idx)."""
    config = config or DedupConfig()
    t = turns
    if config.exclude_roles:
        t = t[~t["role"].isin(config.exclude_roles)]
    if config.exclude_conv_regex:
        t = t[~t["conv_id"].str.contains(config.exclude_conv_regex, regex=True)]
    t = t.sort_values(["conv_id", "turn_idx"])
    docs = (
        t.groupby("conv_id")["text"]
        .apply(lambda s: TURN_SEPARATOR.join(x or "" for x in s))
        .reset_index(name="doc_text")
    )
    docs["total_len"] = docs["doc_text"].str.len()
    docs["exact_sha"] = [
        EMPTY_SHA1 if not txt.strip() else hashlib.sha1(txt.encode()).hexdigest()
        for txt in docs["doc_text"]
    ]
    return docs


def oracle_dup_pairs(
    docs: pd.DataFrame, config: DedupConfig | None = None, seed: int = 42
) -> set[tuple[str, str]]:
    """All co-cluster (a<b) pairs under reference semantics at this config."""
    config = config or DedupConfig()
    uf = UnionFind()

    # exact groups (G1): hash equality is transitive. Content-empty docs
    # (EMPTY_SHA1) form one group only under empty_cluster, like the engine.
    by_sha = defaultdict(list)
    for conv_id, sha in zip(docs["conv_id"], docs["exact_sha"]):
        by_sha[sha].append(conv_id)
    if not config.empty_cluster:
        by_sha.pop(EMPTY_SHA1, None)
    for members in by_sha.values():
        for m in members[1:]:
            uf.union(members[0], m)
    if config.complete_hash:  # strict mode: exact groups only, as in run_pipeline
        return _co_cluster_pairs(uf)

    # near path on exact-distinct non-empty representatives
    reps = (
        docs[docs["exact_sha"] != EMPTY_SHA1]
        .sort_values("conv_id")
        .drop_duplicates("exact_sha", keep="first")
    )
    a, b = perm_params(config.num_perm, seed)
    shingles: dict[str, np.ndarray] = {}
    sigs: dict[str, np.ndarray] = {}
    sims: dict[str, int] = {}
    for conv_id, text in zip(reps["conv_id"], reps["doc_text"]):
        sh = shingle_hashes(text, config.shingle_k, MAX_SHINGLE_CHARS)
        shingles[conv_id] = sh
        sigs[conv_id] = doc_signature(sh, config, a, b)
        sims[conv_id] = simhash64(sh)

    buckets = defaultdict(list)
    r = config.lsh_rows
    for conv_id, sig in sigs.items():
        for band in range(config.lsh_bands):
            key = (band, sig[band * r : (band + 1) * r].tobytes())
            buckets[key].append(conv_id)
    seen: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        members = sorted(members)
        if len(members) > ALLPAIRS_MAX_DEFAULT:
            # star edges to the bucket minimum (mirrors lsh.candidate_pairs)
            candidate_iter = [(0, j) for j in range(1, len(members))]
        else:
            candidate_iter = [
                (i, j)
                for i in range(len(members))
                for j in range(i + 1, len(members))
            ]
        for i, j in candidate_iter:
            pair = (members[i], members[j])
            if pair in seen:
                continue
            seen.add(pair)
            # mirrors operators/simhash.py confirm_pairs: hamming <= bound,
            # OR (min_jaccard set AND hamming within the rescue slack AND
            # est_jaccard >= min_jaccard)
            ham = bin(sims[pair[0]] ^ sims[pair[1]]).count("1")
            if ham > config.simhash_hamming_max and (
                config.min_jaccard is None
                or ham > config.simhash_hamming_max + RESCUE_HAMMING_SLACK
                or float((sigs[pair[0]] == sigs[pair[1]]).mean()) < config.min_jaccard
            ):
                continue
            uf.union(*pair)

    if config.enable_substring_pass:
        fps = {
            cid: winnow_fingerprints(
                text,
                config.substring_min_len,
                winnow_width(config.substring_min_len),
                MAX_SHINGLE_CHARS,
            )
            for cid, text in zip(reps["conv_id"], reps["doc_text"])
        }
        fbuckets = defaultdict(list)
        for cid, f in fps.items():
            for v in f:
                fbuckets[int(v)].append(cid)
        texts = dict(zip(reps["conv_id"], reps["doc_text"]))
        for members in fbuckets.values():
            members = sorted(set(members))
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    if (
                        longest_common_substring_len(texts[members[i]], texts[members[j]])
                        >= config.substring_min_len
                    ):
                        uf.union(members[i], members[j])

    return _co_cluster_pairs(uf)


def _co_cluster_pairs(uf: UnionFind) -> set[tuple[str, str]]:
    """Every (a<b) pair of nodes that share a component."""
    comps = defaultdict(list)
    for node in list(uf.parent):
        comps[uf.find(node)].append(node)
    pairs: set[tuple[str, str]] = set()
    for members in comps.values():
        members = sorted(members)
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def pair_recall(found: set[tuple[str, str]], expected: set[tuple[str, str]]) -> float:
    if not expected:
        return 1.0
    return len(found & expected) / len(expected)
