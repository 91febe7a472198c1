"""run_pipeline's concurrent edge branches (lineage.run_branches): job
group inheritance, failure propagation, no leaked threads."""

from __future__ import annotations

import threading
import time

import pytest

from deduplicate_spark import pipeline
from deduplicate_spark.config import DedupConfig
from deduplicate_spark.lineage import BRANCH_THREAD_PREFIX, run_branches

CFG = DedupConfig(exclude_roles=("system",), enable_substring_pass=True)


def _runner_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith(BRANCH_THREAD_PREFIX)]


def _marker_job(sc, group: str) -> int:
    sc.setJobGroup(group, group)
    sc.parallelize([0], 1).count()
    (job,) = sc.statusTracker().getJobIdsForGroup(group)
    return job


def test_every_pipeline_job_carries_caller_job_group(spark, turns_df):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    try:
        first = _marker_job(sc, "branches-before")
        sc.setJobGroup("g", "pipeline under test")
        pipeline.run_pipeline(spark, turns_df, CFG)
        last = _marker_job(sc, "branches-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(tracker.getJobIdsForGroup("g"))
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped_before
    assert in_group == set(range(first + 1, last))
    assert in_group  # the call ran jobs at all


def test_branch_failure_propagates_and_leaks_no_thread(spark, turns_df, monkeypatch):
    def boom(*args, **kwargs):
        raise RuntimeError("boom")

    monkeypatch.setattr(pipeline, "substring_pairs", boom)
    with pytest.raises(RuntimeError, match="boom"):
        pipeline.run_pipeline(spark, turns_df, CFG)
    assert _runner_threads() == []


def test_run_branches_raises_first_failure_after_all_finish(spark):
    finished = threading.Event()

    def slow():
        time.sleep(0.5)
        finished.set()
        return "slow"

    def fail():
        raise ValueError("first")

    def fail_later():
        time.sleep(0.2)
        raise KeyError("later")

    with pytest.raises(ValueError, match="first"):
        run_branches(spark, slow=slow, fail=fail, fail_later=fail_later)
    assert finished.is_set()
    assert _runner_threads() == []
    assert run_branches(spark, a=lambda: 1, b=lambda: 2) == {"a": 1, "b": 2}
