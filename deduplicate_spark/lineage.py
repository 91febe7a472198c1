"""Lineage cutting that survives executor loss.

``localCheckpoint`` stores blocks on the executors that computed them AND
severs the logical lineage — on a multi-executor cluster a lost or evicted
block is unrecoverable (checkpointRDDBlockIdNotFound). ``cut_lineage``
therefore prefers a RELIABLE checkpoint (written to
``spark.sparkContext.setCheckpointDir`` storage — HDFS/S3 on a real
cluster, a shared tmpfs dir in local-cluster mode) whenever a checkpoint
dir is configured, and falls back to ``localCheckpoint`` in single-JVM
local[k] mode where executor loss cannot happen and the copy is cheaper.

Reference analog: the reference's memoized analysis DBs are durable files
(dupe_analysis.py:99-119) — intermediate state there also survives process
restarts.

``run_branches`` runs independent pipeline branches (each ending in an
eager cut) on concurrent driver threads; it is the only place in the
package that starts threads.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, as_completed
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

BRANCH_THREAD_PREFIX = "dedup-branch"


def cut_lineage(
    df: DataFrame, eager: bool = True, spill_only: bool = False
) -> DataFrame:
    """Materialization barrier: reliable checkpoint when a checkpoint dir
    is set, localCheckpoint otherwise.

    ``eager=False`` does NOT defer the work below the cut. Under AQE,
    building the cut plans ``queryExecution.toRdd``, and
    ``AdaptiveSparkPlanExec.execute()`` runs every shuffle stage below the
    cut before it returns (measured: a lazy cut over a ``groupBy`` runs one
    job when it is built). Only the last stage — the one that writes the
    cut's blocks — is deferred to the first consumer. So a lazy cut saves
    at most that final stage, and building one blocks the calling thread
    for as long as its shuffle stages take.

    ``spill_only=True`` stores the local-checkpoint blocks DISK_ONLY —
    OUT of the JVM's unified memory pool. Use it for big, cold tables
    (the full-text docs table: read twice to build its narrow
    projections, then only by the caller): keeping multi-GB row blocks
    in the storage pool starves execution memory at low core counts
    (measured at 6.5M turns/local[2]/8 GB driver:
    UNABLE_TO_ACQUIRE_MEMORY abort once the r4 narrow-projection caches
    were added). With spark.local.dir on tmpfs the bytes still live in
    RAM, but outside the pool the execution allocator competes for."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    if spill_only:
        return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=eager)


def run_branches(spark: SparkSession, **thunks: Callable[[], Any]) -> dict[str, Any]:
    """Run independent branches on concurrent driver threads and return
    ``{name: result}``.

    Each thunk runs on its own thread, wrapped by
    ``inheritable_thread_target(spark)`` so the caller's job group, job
    description and tags follow its jobs (the session form also carries
    the tags, and avoids the session-less wrapper's warning). Every branch
    runs to the end; the first failure is re-raised only after all of them
    have finished, and the pool is shut down before this returns. Inputs
    that two branches read must be materialized before the call, or the
    branches race to recompute them."""
    with ThreadPoolExecutor(
        max_workers=len(thunks), thread_name_prefix=BRANCH_THREAD_PREFIX
    ) as pool:
        # one wrapper per thunk: each clones the caller's local properties,
        # and branches must not share one copy (Spark writes per-query
        # properties such as the SQL execution id into it)
        futures = {
            pool.submit(inheritable_thread_target(spark)(fn)): name
            for name, fn in thunks.items()
        }
        first_error = None
        for fut in as_completed(futures):
            if first_error is None and fut.exception() is not None:
                first_error = fut.exception()
    if first_error is not None:
        raise first_error
    return {name: fut.result() for fut, name in futures.items()}
