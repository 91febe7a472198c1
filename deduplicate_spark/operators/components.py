"""Stage 5 — connected components over the confirmed pair edge list.

Exact-hash groups are transitive cliques, so the reference never needs a
graph pass (G1, /root/reference/dupe_analysis.py:545-552). Near-dup edges
(MinHash/SimHash) are NOT transitive — components must be computed. We use
iterative min-label propagation expressed as DataFrame joins (the
small-star/large-star family of Kiveris et al., "Connected Components in
MapReduce and Beyond", specialized to min-label rounds):

    L0(v) = v
    L_{i+1}(v) = min(L_i(v), min_{u in N(v)} L_i(u))

Converges in O(diameter) rounds; LSH dup components are star-like (diameter
2-3 typical), and each round is one join + one groupBy. ``localCheckpoint``
per round cuts the lineage chain that would otherwise grow exponentially.

cluster_id = min(conv_id) of the component — stable and deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from deduplicate_spark.lineage import cut_lineage
from deduplicate_spark.operators.skew import maybe_merge_hint


DRIVER_CC_MAX_EDGES = 5_000_000
# byte budget for the driver fast path (VERDICT r4 #4): 5M edges of 8-byte
# longs is ~80 MB on the driver, but 5M edges of ~32-char string ids is
# 700 MB+ as pandas objects — gate on ESTIMATED BYTES (measured avg id
# width x rows), not a flat row count
DRIVER_CC_MAX_BYTES = 200 * 1024 * 1024
_PANDAS_STR_OVERHEAD = 64  # CPython str object + pointer overhead per cell


def connected_components(
    edges: DataFrame,
    max_rounds: int = 30,
    checkpoint_every: int = 2,
    min_rounds: int = 2,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
    assume_deduped: bool = False,
    forced_smj: bool = True,
) -> DataFrame:
    """edges(a, b) -> (conv_id, cluster_id); only nodes that appear in an
    edge are returned (singletons are not duplicates — reference reports
    count>1 groups only).

    ``assume_deduped=True`` skips the defensive edge dedup — re-deduping a
    10^7-edge list is a full extra exchange, and every path here tolerates
    duplicate a < b rows: min-label propagation and the driver union-find
    are idempotent over repeated edges, and the distributed path dedups
    its symmetrized edge list anyway (duplicates only pad the n_edges
    fast-path gate, which is a heuristic threshold).
    """
    pairs = edges.select("a", "b")
    if not assume_deduped:
        pairs = pairs.dropDuplicates(["a", "b"])
    # LAZY cut: under AQE, building it already runs every shuffle stage
    # below it (the edge dedup, when on; the pipeline's edge sources are
    # materialized tables). Only the final stage is deferred, and the
    # count() on the next line is its first (and serial) consumer, so it
    # writes the blocks in the same job — an eager cut paid one extra pass
    pairs = pairs.transform(lambda _df: cut_lineage(_df, eager=False))

    # small-edge fast path: confirmed dup edges are a tiny fraction of the
    # corpus (the cascade's whole point); below the threshold an exact
    # union-find on the driver beats O(diameter) distributed rounds. The
    # classic treeAggregate-style "small data finishes on the driver"
    # pattern — the distributed loop below remains the >threshold path.
    # Gate on BYTES as well as rows: long ids pull 16 B/edge as numpy,
    # string ids (internal_long_ids=False) pull ~2*(len+64) B/edge as
    # pandas objects — the measured-width agg runs on the already-cached
    # edge blocks, so it is one cheap job over two long columns.
    n_edges = pairs.count()
    if driver_max_edges and n_edges <= driver_max_edges:
        if isinstance(pairs.schema["a"].dataType, LongType):
            est_bytes = n_edges * 16
        else:
            w = pairs.agg(
                (F.avg(F.length("a")) + F.avg(F.length("b"))).alias("w")
            ).first()
            est_bytes = int(n_edges * ((w.w or 0) + 2 * _PANDAS_STR_OVERHEAD))
        if est_bytes <= DRIVER_CC_MAX_BYTES:
            return _driver_union_find(pairs)

    sym = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .dropDuplicates(["src", "dst"])
        .transform(lambda _df: cut_lineage(_df, eager=True))
    )

    labels = sym.select(F.col("src").alias("conv_id")).distinct().withColumn(
        "label", F.col("conv_id")
    )

    for round_no in range(max_rounds):
        # propagate: each node offers its label to every neighbor. Self rows
        # are tagged so one aggregation yields both the new label (min over
        # offers + self) and the old label (the unique self row) — the
        # convergence check costs no extra join.
        # labels is node-count-sized: 26 MB at 6.5M turns (legitimately
        # broadcastable) but GBs at 10^9 nodes — forced SMJ is the
        # scale-safe default (same estimate-threshold class as skew.py)
        offers = (
            sym.join(maybe_merge_hint(labels, forced_smj), sym.src == labels.conv_id, "inner")
            .select(F.col("dst").alias("conv_id"), "label", F.lit(False).alias("is_self"))
        )
        merged = (
            labels.select("conv_id", "label", F.lit(True).alias("is_self"))
            .unionByName(offers)
            .groupBy("conv_id")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("is_self"), F.col("label"))).alias("_old"),
            )
        )
        if checkpoint_every and round_no % checkpoint_every == checkpoint_every - 1:
            merged = merged.transform(lambda _df: cut_lineage(_df, eager=True))

        # dedup graphs converge in 2-3 rounds (star-shaped components);
        # skip the convergence-count job for the first min_rounds - 1
        # rounds — they cannot have converged yet anyway
        if round_no >= min_rounds - 1:
            changed = merged.filter(F.col("label") != F.col("_old")).limit(1).count()
        else:
            changed = -1
        labels = merged.select("conv_id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )

    return labels.select("conv_id", F.col("label").alias("cluster_id"))


def _driver_union_find(pairs: DataFrame) -> DataFrame:
    """Exact connected components on the driver for small edge sets —
    vectorized numpy min-label scatter + pointer jumping (C-speed, ~0.5 s
    per 5M edges vs ~15 s for a Python-loop union-find). Returns the same
    (conv_id, cluster_id) shape. Label = min conv_id of the component:
    ids are factorized in sorted order so integer min == string min."""
    import numpy as np
    import pandas as pd

    pdf = pairs.toPandas()
    spark = pairs.sparkSession
    id_type = pairs.schema["a"].dataType.simpleString()
    if pdf.empty:
        return spark.createDataFrame([], f"conv_id {id_type}, cluster_id {id_type}")

    uniques = np.sort(pd.unique(np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()])))
    index = pd.Index(uniques)
    u = index.get_indexer(pdf["a"]).astype(np.int64)
    v = index.get_indexer(pdf["b"]).astype(np.int64)

    # sort the edge-endpoint index ONCE; each round is then two gathers +
    # one minimum.reduceat (np.minimum.at is an unbuffered scatter and
    # orders of magnitude slower)
    endpoints = np.concatenate([u, v])
    order = np.argsort(endpoints, kind="stable")
    sorted_nodes = endpoints[order]
    starts = np.concatenate([[0], np.flatnonzero(np.diff(sorted_nodes)) + 1])
    touched = sorted_nodes[starts]

    label = np.arange(uniques.shape[0], dtype=np.int64)
    while True:
        before = label
        cand = np.minimum(label[u], label[v])
        vals = np.concatenate([cand, cand])[order]
        mins = np.minimum.reduceat(vals, starts)
        label = label.copy()
        label[touched] = np.minimum(label[touched], mins)
        while True:  # pointer jumping: label <- label[label]
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(before, label):
            break

    out = pd.DataFrame({"conv_id": uniques, "cluster_id": uniques[label]})
    return spark.createDataFrame(out)
