from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.pipeline import run_pipeline
from deduplicate_spark.sources.checkpoint import CheckpointStore, merge_runs


@pytest.fixture()
def store(spark, tmp_path):
    return CheckpointStore(
        spark=spark,
        root=str(tmp_path / "ckpt"),
        config_hash=DedupConfig().config_hash(),
        input_key="test-input",
    )


def test_stage_roundtrip_and_reuse(spark, store):
    df = spark.range(10).select(F.col("id").cast("string").alias("conv_id"))
    out = store.stage("docs", df)
    assert out.count() == 10
    assert store.is_complete("docs")
    # reuse path: stage() must read back, not recompute
    out2 = store.stage("docs", spark.range(999).selectExpr("cast(id as string) conv_id"))
    assert out2.count() == 10  # the checkpointed data, not the new df
    assert any(m.get("reused") for m in store.metrics)


def test_config_change_invalidates(spark, store, tmp_path):
    df = spark.range(5).selectExpr("cast(id as string) conv_id")
    store.stage("docs", df)
    other = CheckpointStore(
        spark=spark,
        root=store.root,
        config_hash="different-config",
        input_key="test-input",
    )
    assert not other.is_complete("docs")


def test_input_change_invalidates(spark, store):
    df = spark.range(5).selectExpr("cast(id as string) conv_id")
    store.stage("docs", df)
    other = CheckpointStore(
        spark=spark,
        root=store.root,
        config_hash=store.config_hash,
        input_key="other-input",
    )
    assert not other.is_complete("docs")


def test_lineage_written(spark, store):
    df = spark.range(7).selectExpr("cast(id as string) conv_id")
    store.stage("docs", df)
    with open(os.path.join(store.root, "docs", "_lineage.json")) as fh:
        lineage = json.load(fh)
    assert lineage["rows"] == 7
    assert lineage["config_hash"] == store.config_hash
    assert "partitions" in lineage and "wall_sec" in lineage


def _resume_vs_clean(spark, turns_df, root, cfg) -> list[str]:
    """Clean store-less run vs a store run resumed from a complete store:
    asserts equal clusters and returns the stages the resumed run reused."""
    clean = run_pipeline(spark, turns_df, cfg)
    clean_clusters = {
        (r["conv_id"], r["cluster_id"]) for r in clean.clusters.collect()
    }

    store = CheckpointStore(
        spark=spark,
        root=root,
        config_hash=cfg.config_hash(),
        input_key="corpus",
    )
    # first run materializes all stages
    run_pipeline(spark, turns_df, cfg, store=store)
    # resumed run must reuse every stage and produce identical clusters
    store2 = CheckpointStore(
        spark=spark,
        root=store.root,
        config_hash=cfg.config_hash(),
        input_key="corpus",
    )
    resumed = run_pipeline(spark, turns_df, cfg, store=store2)
    resumed_clusters = {
        (r["conv_id"], r["cluster_id"]) for r in resumed.clusters.collect()
    }
    assert resumed_clusters == clean_clusters
    return [m["stage"] for m in store2.metrics if m.get("reused")]


def test_resume_equals_clean_run(spark, turns_df, tmp_path):
    """Kill-after-stage-k resume == clean run (the reference's merge/resume
    contract, test_db_merge analog)."""
    cfg = DedupConfig(exclude_roles=("system",))
    reused = _resume_vs_clean(spark, turns_df, str(tmp_path / "resume"), cfg)
    assert "docs" in reused and "signatures" in reused and "pairs" in reused


def test_resume_equals_clean_run_substring_pass(spark, turns_df, tmp_path):
    """Same contract with the substring branch running beside the exact and
    near-dup branches: its edges get a local cut, not a store stage, and
    the stages the branches share or produce are reused."""
    cfg = DedupConfig(exclude_roles=("system",), enable_substring_pass=True)
    reused = _resume_vs_clean(spark, turns_df, str(tmp_path / "resume"), cfg)
    assert {"reps_text", "signatures", "pairs"} <= set(reused)


def test_store_run_records_bucket_stats(spark, turns_df, tmp_path):
    """VERDICT r4 #8: checkpointed runs persist the LSH bucket telemetry
    (histogram summary + star-fallback count — the no-silent-caps
    requirement) into the metrics table, not only on explicit request."""
    cfg = DedupConfig()
    store = CheckpointStore(
        spark=spark,
        root=str(tmp_path / "bs"),
        config_hash=cfg.config_hash(),
        input_key="corpus",
    )
    run_pipeline(spark, turns_df, cfg, store=store)
    rows = [m for m in store.metrics if m["stage"] == "lsh_bucket_stats"]
    assert len(rows) == 1
    assert {"max_bucket", "n_star_fallback", "est_edges"} <= set(rows[0]["extra"])
    store.write_metrics()
    mt = store.read_metrics()
    row = mt.filter("stage = 'lsh_bucket_stats'").first()
    assert row is not None
    assert json.loads(row.extra)["n_star_fallback"] is not None


def test_merge_runs_first_writer_wins(spark, tmp_path):
    s1 = CheckpointStore(spark, str(tmp_path / "r1"), "cfg", "in1")
    s2 = CheckpointStore(spark, str(tmp_path / "r2"), "cfg", "in2")
    s1.stage("docs", spark.createDataFrame([("a", 1), ("b", 1)], "conv_id string, v int"))
    s2.stage("docs", spark.createDataFrame([("b", 2), ("c", 2)], "conv_id string, v int"))
    merged = merge_runs(spark, [s1, s2], "docs")
    assert merged.count() == 3
    assert merged.select("conv_id").distinct().count() == 3


def test_reuse_planner(spark, tmp_path):
    """S7 analog: second request over {b1, b2, b3} reuses b1/b2 stage
    outputs and computes only b3."""
    from deduplicate_spark.sources.reuse import plan_and_load

    root = str(tmp_path / "batches")

    def compute(df):
        return df.withColumn("doubled", F.col("v") * 2)

    b1 = spark.createDataFrame([("a", 1)], "conv_id string, v int")
    b2 = spark.createDataFrame([("b", 2)], "conv_id string, v int")
    out1, plan1 = plan_and_load(spark, root, "cfg", "docs", {"b1": b1, "b2": b2}, compute)
    assert plan1.computed == ["b1", "b2"] and plan1.reused == []
    assert out1.count() == 2

    b3 = spark.createDataFrame([("c", 3)], "conv_id string, v int")
    out2, plan2 = plan_and_load(
        spark, root, "cfg", "docs", {"b1": None, "b2": None, "b3": b3}, compute
    )
    assert plan2.reused == ["b1", "b2"]
    assert plan2.computed == ["b3"]
    assert out2.count() == 3
    assert {r["doubled"] for r in out2.collect()} == {2, 4, 6}


def test_subset_reuse_planner_greedy_combination_search(spark, tmp_path):
    """Full S7 analog (dupe_analysis.py:125-157): a request over {A,B,C}
    finds the prior {A,B} combined store via the largest-first combination
    sweep, computes only C, and saves the merged result under the full-set
    key so the third request is a pure load."""
    from pyspark.sql import functions as F

    from deduplicate_spark.sources.reuse import plan_and_load_subsets

    root = str(tmp_path / "subset_reuse")
    mk = lambda pfx, n: spark.createDataFrame(  # noqa: E731
        [(f"{pfx}/{i}", len(pfx) * 10 + i) for i in range(n)],
        "conv_id string, total_len int",
    )
    batches2 = {"A": mk("A", 3), "B": mk("B", 4)}
    computed_log = []

    def compute(df):
        computed_log.append(1)
        return df.withColumn("stage_col", F.lit("v1"))

    out1, plan1 = plan_and_load_subsets(spark, root, "cfg", "docs", batches2, compute)
    assert sorted(plan1.computed) == ["A", "B"] and out1.count() == 7
    assert len(computed_log) == 2

    # request a superset: {A,B} must be found AS A SET (one combined store),
    # only C computed
    batches3 = {"A": None, "B": None, "C": mk("C", 5)}
    out2, plan2 = plan_and_load_subsets(spark, root, "cfg", "docs", batches3, compute)
    assert plan2.reused == ["A+B"]
    assert plan2.computed == ["C"]
    assert len(computed_log) == 3
    assert out2.count() == 12

    # identical request again: pure full-set load, zero compute
    out3, plan3 = plan_and_load_subsets(spark, root, "cfg", "docs", batches3, compute)
    assert plan3.reused == ["A+B+C"] and plan3.computed == []
    assert len(computed_log) == 3
    assert out3.count() == 12
    assert {r.conv_id for r in out3.collect()} == {r.conv_id for r in out2.collect()}


def test_subset_reuse_rescans_at_same_size(spark, tmp_path):
    """ADVICE r3: prior {A,B} and {C,D} stores must BOTH be reused for a
    {A,B,C,D} request — the sweep re-scans at the same size after a hit
    instead of decrementing (deliberate deviation from the reference loop,
    which would recompute C and D)."""
    from pyspark.sql import functions as F

    from deduplicate_spark.sources.reuse import plan_and_load_subsets

    root = str(tmp_path / "subset_rescan")
    mk = lambda pfx, n: spark.createDataFrame(  # noqa: E731
        [(f"{pfx}/{i}", len(pfx) * 10 + i) for i in range(n)],
        "conv_id string, total_len int",
    )
    computed_log = []

    def compute(df):
        computed_log.append(1)
        return df.withColumn("stage_col", F.lit("v1"))

    plan_and_load_subsets(
        spark, root, "cfg", "docs", {"A": mk("A", 2), "B": mk("B", 3)}, compute
    )
    plan_and_load_subsets(
        spark, root, "cfg", "docs", {"C": mk("C", 4), "D": mk("D", 5)}, compute
    )
    assert len(computed_log) == 4

    out, plan = plan_and_load_subsets(
        spark,
        root,
        "cfg",
        "docs",
        {"A": None, "B": None, "C": None, "D": None},
        compute,
    )
    assert sorted(plan.reused) == ["A+B", "C+D"]
    assert plan.computed == []
    assert len(computed_log) == 4  # nothing recomputed
    assert out.count() == 14


def test_config_hash_ignores_physical_knobs():
    """ADVICE r5: adding/toggling execution-strategy knobs (auto-gates,
    parallelism, guard rails) must not orphan resumable checkpoint roots —
    only SEMANTIC knobs (anything that can change the result set) key the
    store."""
    base = DedupConfig()
    physical = DedupConfig(
        forced_smj=True,
        forced_smj_min_docs=7,
        forced_smj_min_bytes=123,
        rescue_short_circuit=True,
        kernel_small_corpus=True,
        shuffle_partitions=4,
        cc_max_rounds=99,
        verify_long_ids=False,
    )
    assert physical.config_hash() == base.config_hash()
    # semantic knobs must still change the hash
    assert DedupConfig(shingle_k=7).config_hash() != base.config_hash()
    assert DedupConfig(minhash_mode="perm").config_hash() != base.config_hash()
    assert DedupConfig(internal_long_ids=False).config_hash() != base.config_hash()


def test_physical_knob_set_matches_dataclass_fields():
    """Guard against drift: every name in _PHYSICAL_KNOBS must be a real
    DedupConfig field (a renamed knob silently re-entering the hash is the
    exact failure mode the split exists to prevent)."""
    from dataclasses import fields

    from deduplicate_spark.config import _PHYSICAL_KNOBS

    names = {f.name for f in fields(DedupConfig)}
    assert _PHYSICAL_KNOBS <= names
