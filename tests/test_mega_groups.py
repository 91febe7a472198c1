"""Mega-group skew insurance for the exact + cluster-keyed stages
(VERDICT r3 #1/#2 — the last unsalted hot-key windows in the repo).

Each test builds a group with 10^5 members sharing ONE hot key (one
exact_sha / one cluster_id / one component label) — the boilerplate-doc
shape that dominates skew at 100 TB — and asserts:
  * the physical plan contains NO Window (a window puts the whole hot
    group in one task AQE cannot split) and no driver-built broadcast on
    the corpus-sized join-backs (measured OOM class at 6.5M turns);
  * outputs equal the expected star / cluster digests, or the window
    formulation where the test restates one.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from deduplicate_spark.operators.resolve import elect_canonical
from deduplicate_spark.operators.skew import salted_struct_min
from deduplicate_spark.pipeline import (
    exact_representatives,
    exact_star_edges,
    relabel_components,
)

N_MEGA = 100_000


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_skew_safe(df):
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def _edge_digest(df):
    """Order-free content digest of an (a, b) edge set."""
    return (
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).first()
    )


def _mega_docs(spark, n=N_MEGA):
    """n docs sharing ONE exact_sha plus a few singleton-sha docs."""
    hot = spark.range(n).select(
        F.format_string("c%07d", F.col("id")).alias("conv_id"),
        F.lit("ffff_hot").alias("exact_sha"),
        F.lit(3).cast("int").alias("n_turns"),
        (F.lit(100) + F.col("id") % 7).cast("long").alias("total_len"),
    )
    solo = spark.range(5).select(
        F.format_string("z%07d", F.col("id")).alias("conv_id"),
        F.format_string("solo%d", F.col("id")).alias("exact_sha"),
        F.lit(1).cast("int").alias("n_turns"),
        F.lit(10).cast("long").alias("total_len"),
    )
    return hot.unionByName(solo).repartition(16)


def test_exact_star_edges_mega_group(spark):
    docs = _mega_docs(spark)
    salted = exact_star_edges(docs, salt_buckets=16)
    _assert_skew_safe(salted)
    # every hot member starred to the hot group's minimum id
    expected = spark.range(1, N_MEGA).select(
        F.lit("c0000000").alias("a"), F.format_string("c%07d", F.col("id")).alias("b")
    )
    assert _edge_digest(salted) == _edge_digest(expected)
    got = _edge_digest(salted)
    assert got.n == N_MEGA - 1  # star to the min member, linear not clique
    sample = salted.filter(F.col("b") == "c0099999").collect()
    assert [(r.a, r.b) for r in sample] == [("c0000000", "c0099999")]


def test_exact_representatives_mega_group(spark):
    docs = _mega_docs(spark)
    reps = exact_representatives(docs, salt_buckets=16)
    _assert_skew_safe(reps)
    # window-based reference formulation (the pre-r4 code)
    w = Window.partitionBy("exact_sha").orderBy("conv_id")
    legacy = (
        docs.filter(F.col("total_len") > 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    snap = lambda d: {  # noqa: E731
        (r.conv_id, r.exact_sha) for r in d.select("conv_id", "exact_sha").collect()
    }
    assert snap(reps) == snap(legacy)
    assert ("c0000000", "ffff_hot") in snap(reps)
    assert len(snap(reps)) == 6  # 1 hot rep + 5 solos


def test_relabel_components_mega_component(spark):
    docs = _mega_docs(spark)
    # every doc in one component labelled by the min internal long id
    nodes = docs.select(F.xxhash64("conv_id").alias("conv_id"))
    label = nodes.agg(F.min("conv_id")).first()[0]
    comps = nodes.select("conv_id", F.lit(label).alias("cluster_id"))
    out = relabel_components(comps, docs, salt_buckets=16)
    _assert_skew_safe(out)
    got = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("nc"),
        F.min("cluster_id").alias("cid"),
    ).first()
    assert (got.n, got.nc, got.cid) == (N_MEGA + 5, 1, "c0000000")


def test_elect_canonical_mega_cluster(spark):
    docs = _mega_docs(spark).withColumn(
        # vary the election keys: winner = max n_turns, then max total_len,
        # then min conv_id
        "n_turns",
        (F.xxhash64("conv_id") % 1000).cast("int"),
    )
    # cluster key must be DATA-derived (a literal would be constant-folded
    # out of the join, defeating the equi-join plan the assert checks):
    # hot mega-cluster from the shared sha, solos in a second cluster
    clusters = docs.select(
        "conv_id",
        F.when(F.col("exact_sha") == "ffff_hot", F.lit("CL0"))
        .otherwise(F.lit("CL1"))
        .alias("cluster_id"),
    )
    elected = elect_canonical(clusters, docs, salt_buckets=16)
    _assert_skew_safe(elected)
    # legacy window formulation (the pre-r4 code) as the expected value
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("n_turns"), F.desc_nulls_last("total_len"), F.asc("conv_id")
    )
    expected = {
        (r.cluster_id, r.conv_id)
        for r in clusters.join(docs, "conv_id", "left")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    got = {
        (r.cluster_id, r.canonical_conv_id)
        for r in elected.select("cluster_id", "canonical_conv_id").distinct().collect()
    }
    assert got == expected
    assert elected.count() == N_MEGA + 5


def test_elect_canonical_member_missing_from_docs_loses(spark):
    """A cluster member absent from docs left-joins to null n_turns/total_len;
    desc_nulls_last encoding must make it LOSE the election, exactly as the
    window's desc_nulls_last ordering did."""
    docs = spark.createDataFrame(
        [("a", 2, 20), ("b", 5, 50)], "conv_id string, n_turns int, total_len long"
    )
    clusters = spark.createDataFrame(
        [("a", "CL"), ("b", "CL"), ("ghost", "CL")], "conv_id string, cluster_id string"
    )
    out = elect_canonical(clusters, docs)
    assert {r.canonical_conv_id for r in out.collect()} == {"b"}


def test_salted_struct_min_matches_plain_groupby(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 7).alias("k"),
        F.struct(
            (F.col("id") % 13).alias("k0"),
            F.format_string("id%05d", F.col("id")).alias("cid"),
        ).alias("_ord"),
    )
    salted = salted_struct_min(df, "k", salt_buckets=16)
    plain = salted_struct_min(df, "k", salt_buckets=0)
    snap = lambda d: {  # noqa: E731
        (r.k, r._ord.k0, r._ord.cid) for r in d.collect()
    }
    assert snap(salted) == snap(plain)
