"""The benchmark's workloads: seeded inputs, reference answers, one timed
pass, and the check of a pass's output against the reference.

``planted`` runs the whole batch cascade (``run_pipeline``) over a
transcript corpus with planted duplicates. ``ann`` runs the embedding
near-duplicate path (``embedding_dup_pairs``) over jittered replicas of
random vectors. Both sizes are fixed; the seed changes only the content.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict

import numpy as np
import pandas as pd

# The repo's planted recall gate (BENCH/BASELINE.md) is 0.99; precision is
# held to the same floor. A pass below either, or one that finds a pair the
# reference forbids, fails its check.
MIN_RECALL = 0.99
MIN_PRECISION = 0.99

SCALES = {
    "full": {"n_base": 2000, "clusters": 2000},
    "tiny": {"n_base": 60, "clusters": 20},
}


def _cached_reference(cache_dir: str, key: str, build) -> dict:
    """Reference pair sets, computed once per input digest and kept as JSON
    under the benchmark's work directory."""
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
    else:
        ref = build()
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(path + ".tmp", path)
    return {k: {tuple(p) for p in v} for k, v in ref.items()}


def score(found: set, ref: dict) -> dict:
    """Recall against the pairs that must be found; precision against the
    pairs that may be found (the planted ones); no forbidden pair."""
    expected = ref["expected"]
    allowed = ref.get("allowed", expected)
    recall = len(found & expected) / len(expected) if expected else 1.0
    precision = len(found & allowed) / len(found) if found else 1.0
    return {
        "pair_recall": recall,
        "pair_precision": precision,
        "ok": recall >= MIN_RECALL
        and precision >= MIN_PRECISION
        and not (found & ref["forbidden"]),
        # a few of each kind of miss, for the run record
        "missed": sorted(expected - found)[:5],
        "unexpected": sorted(found - allowed)[:5],
    }


class Planted:
    """``datagen.generate_transcripts`` corpus through ``run_pipeline`` with
    system turns excluded and the substring pass on.

    The reference is the planted manifest alone, so it does not depend on
    the program's code. Pairs that must be found: every planted pair whose
    ``expected_level`` is not ``none``. Pairs that may also be found: the
    closure of every planted pair except the ``excluded`` one (a copy made
    only of system turns), which must stay unfound."""

    name = "planted"
    c1_only = True  # see harness.start_session
    warm_passes = 2

    def __init__(self, seed: int, scale: str) -> None:
        from deduplicate_spark.datagen import generate_transcripts

        self.turns_pd, self.manifest = generate_transcripts(
            n_base=SCALES[scale]["n_base"], seed=seed
        )
        self.rows = len(self.turns_pd)
        digest = hashlib.sha1(
            pd.util.hash_pandas_object(self.turns_pd, index=False).values.tobytes()
        )
        digest.update(repr(self.manifest).encode())
        self.digest = digest.hexdigest()[:16]

    @property
    def config(self):
        from deduplicate_spark.config import DedupConfig

        return DedupConfig(exclude_roles=("system",), enable_substring_pass=True)

    def reference(self, cache_dir: str) -> None:
        from deduplicate_spark.oracle import UnionFind

        def build() -> dict:
            expected, forbidden, uf = [], [], UnionFind()
            for p in self.manifest:
                pair = sorted([p.conv_a, p.conv_b])
                if p.kind == "excluded":
                    forbidden.append(pair)
                    continue
                if p.expected_level != "none":
                    expected.append(pair)
                uf.union(p.conv_a, p.conv_b)
            allowed = clusters_to_pairs((c, uf.find(c)) for c in list(uf.parent))
            return {"expected": expected, "allowed": sorted(allowed), "forbidden": forbidden}

        self.ref = _cached_reference(cache_dir, f"{self.name}-{self.digest}", build)

    def load(self, spark) -> None:
        from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA

        self.turns = spark.createDataFrame(self.turns_pd, schema=TRANSCRIPTS_SCHEMA)
        self.turns = self.turns.cache()
        self.turns.count()

    def run_pass(self, spark) -> tuple[set, int]:
        """One full pipeline pass; returns (co-cluster pairs, cluster rows)."""
        from deduplicate_spark.pipeline import run_pipeline

        res = run_pipeline(spark, self.turns, self.config)
        rows = res.clusters.collect()
        n_actions = res.actions.count()
        if n_actions != len(rows):
            raise RuntimeError(f"{n_actions} actions for {len(rows)} clustered docs")
        return clusters_to_pairs((r.conv_id, r.cluster_id) for r in rows), len(rows)

    def check(self, found: set) -> dict:
        return score(found, self.ref)


def clusters_to_pairs(members) -> set[tuple[str, str]]:
    """(conv_id, cluster_id) rows -> every co-cluster pair (a < b)."""
    by_cluster = defaultdict(list)
    for conv_id, cluster_id in members:
        by_cluster[cluster_id].append(conv_id)
    pairs = set()
    for ids in by_cluster.values():
        ids.sort()
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1 :])
    return pairs


class Ann:
    """Each of ``clusters`` random 64-d centres gets 10 replicas with small
    Gaussian jitter (pairwise cosine ~0.997 inside a cluster, < 0.7
    across), so every cluster contributes 45 true pairs. The reference is a
    blocked numpy cosine >= the threshold over all pairs."""

    name = "ann"
    c1_only = False
    warm_passes = 6
    dim = 64
    replicas = 10
    jitter = 0.05
    threshold = 0.95

    def __init__(self, seed: int, scale: str) -> None:
        rng = np.random.default_rng(seed)
        n_clusters = SCALES[scale]["clusters"]
        centres = rng.standard_normal((n_clusters, self.dim))
        vecs = np.repeat(centres, self.replicas, axis=0)
        vecs += self.jitter * rng.standard_normal(vecs.shape)
        self.vecs = vecs[rng.permutation(len(vecs))]
        self.rows = len(self.vecs)
        self.digest = hashlib.sha1(self.vecs.tobytes()).hexdigest()[:16]

    def reference(self, cache_dir: str) -> None:
        def build() -> dict:
            unit = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
            blocks = []
            for lo in range(0, len(unit), 2048):
                # upper triangle only: block rows against themselves and later rows
                rows, cols = np.nonzero(unit[lo : lo + 2048] @ unit[lo:].T >= self.threshold)
                keep = cols > rows
                blocks.append(np.stack([rows[keep], cols[keep]], axis=1) + lo)
            return {"expected": np.concatenate(blocks).tolist(), "forbidden": []}

        self.ref = _cached_reference(cache_dir, f"{self.name}-{self.digest}", build)

    def load(self, spark) -> None:
        pdf = pd.DataFrame(
            {"vec_id": np.arange(self.rows, dtype=np.int64), "embedding": list(self.vecs)}
        )
        self.vectors = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
        self.vectors = self.vectors.cache()
        self.vectors.count()

    def run_pass(self, spark) -> tuple[set, int]:
        from deduplicate_spark.functions.similarity import embedding_dup_pairs

        out = (
            embedding_dup_pairs(self.vectors, self.dim, threshold=self.threshold)
            .select("a", "b")
            .toPandas()
        )
        return set(zip(out["a"].tolist(), out["b"].tolist())), len(out)

    def check(self, found: set) -> dict:
        return score(found, self.ref)


WORKLOADS = {w.name: w for w in (Planted, Ann)}
