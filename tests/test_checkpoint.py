from __future__ import annotations

import importlib.util
import json
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from deduplicate_spark.config import DedupConfig
from deduplicate_spark.datagen import generate_transcripts
from deduplicate_spark.operators.rollup import group_rollup
from deduplicate_spark.pipeline import run_pipeline
from deduplicate_spark.schema import TRANSCRIPTS_SCHEMA
from deduplicate_spark.sources.checkpoint import CheckpointStore


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


def test_job_without_resume_recomputes_every_stage(spark, tmp_path, monkeypatch):
    """New data written to the same input path must never be answered from
    the last corpus's stages. Without --resume the job forgets every stage
    the pipeline checkpoints (a hand-kept list of stage names once left
    docs_meta, reps_text and sig_simhash to be reused from the previous
    corpus). With --resume the store key, built from the input files'
    names, sizes and modification times, no longer matches (a key of the
    path alone once returned corpus A's clusters for corpus B). A --resume
    rerun on unchanged data reuses every stage."""
    path = Path(__file__).resolve().parents[1] / "jobs" / "dedup.py"
    spec = importlib.util.spec_from_file_location("dedup_job", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)  # shared session
    turns_path, root = str(tmp_path / "turns"), str(tmp_path / "ckpt")

    def write_corpus(seed: int) -> None:
        corpus = generate_transcripts(n_base=150, seed=seed)[0]
        spark.createDataFrame(corpus, TRANSCRIPTS_SCHEMA).write.mode("overwrite").parquet(
            turns_path
        )

    def run_job(out: str, *flags: str) -> set:
        job.main(["--input", turns_path, "--output", out, "--checkpoint-root", root, *flags])
        return {tuple(r) for r in spark.read.parquet(f"{out}/clusters").collect()}

    write_corpus(1)
    run_job(str(tmp_path / "out_a"))
    write_corpus(2)
    got = run_job(str(tmp_path / "out_b"))
    clean = run_pipeline(spark, spark.read.parquet(turns_path), DedupConfig())
    clean_b = {tuple(r) for r in clean.clusters.collect()}
    assert got == clean_b
    # the whole-directory view: per-prefix rollup of the same run
    rollup = {tuple(r) for r in spark.read.parquet(str(tmp_path / "out_b" / "rollup")).collect()}
    assert rollup == {tuple(r) for r in group_rollup(clean.actions, clean.docs).collect()}
    assert rollup

    # the store holds corpus A again; --resume after corpus B is written
    write_corpus(1)
    run_job(str(tmp_path / "out_a2"))
    write_corpus(2)
    assert run_job(str(tmp_path / "out_b2"), "--resume") == clean_b

    # the same files again: --resume reuses every stage
    shutil.rmtree(f"{root}/_metrics.parquet")
    assert run_job(str(tmp_path / "out_b3"), "--resume") == clean_b
    stages = {d for d in os.listdir(root) if os.path.exists(f"{root}/{d}/_lineage.json")}
    rows = spark.read.parquet(f"{root}/_metrics.parquet").collect()
    reused = {r.stage: r.reused for r in rows if r.stage in stages}
    assert {"docs", "signatures", "clusters", "actions"} <= stages
    assert set(reused) == stages and all(reused.values())


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


def test_config_hash_ignores_physical_knobs():
    """ADVICE r5: adding/toggling execution-strategy knobs (auto-gates,
    parallelism, guard rails) must not orphan resumable checkpoint roots —
    only SEMANTIC knobs (anything that can change the result set) key the
    store."""
    base = DedupConfig()
    physical = DedupConfig(
        forced_smj=True,
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
