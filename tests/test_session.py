"""Warm-session reuse (DESIGN §4): the codegen cache holds a whole pass's
generated classes, and the local Python worker daemon re-reads a zip
archive on ``sys.path`` only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from deduplicate_spark import DedupConfig, worker_daemon
from deduplicate_spark.pipeline import run_pipeline
from deduplicate_spark.session import CODEGEN_CONF, get_spark

DAEMON_CONF = "spark.python.daemon.module"


def _compiles(spark) -> int:
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def test_warm_pipeline_pass_compiles_nothing(spark, turns_df):
    cfg = DedupConfig(exclude_roles=("system",), enable_substring_pass=True)

    def one_pass():
        res = run_pipeline(spark, turns_df, cfg)
        res.clusters.collect()
        res.actions.count()

    one_pass()
    before = _compiles(spark)
    one_pass()
    assert _compiles(spark) - before == 0


def test_python_tasks_run_under_worker_daemon(spark):
    def patch_module(batches):
        import zipimport

        import pandas as pd

        for b in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__] * len(b)})

    got = spark.range(8, numPartitions=4).mapInPandas(patch_module, "m string")
    assert {r.m for r in got.distinct().collect()} == {"deduplicate_spark.worker_daemon"}


class _Built(Exception):
    """Raised in place of starting a session; carries the builder's conf."""


@pytest.fixture
def builder_conf(monkeypatch):
    def capture(self):
        raise _Built(dict(self._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)

    def conf(master: str) -> dict:
        with pytest.raises(_Built) as built:
            get_spark(master=master)
        return built.value.args[0]

    return conf


def test_daemon_module_only_on_local_masters(builder_conf, tmp_path, monkeypatch):
    cluster = builder_conf("spark://x:7077")
    assert DAEMON_CONF not in cluster
    assert CODEGEN_CONF.items() <= cluster.items()
    assert builder_conf("local[2]")[DAEMON_CONF] == "deduplicate_spark.worker_daemon"
    # a daemon started outside the package's root could not import it
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert DAEMON_CONF not in builder_conf("local[2]")


@pytest.fixture
def archive_reads(monkeypatch):
    """Counts calls into the interpreter's own zipimporter re-read; restores
    the unpatched method at teardown."""
    reads = []
    original = zipimport.zipimporter.invalidate_caches

    def counting(self):
        reads.append(self.archive)
        original(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    return reads


def _write_zip(path, name, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", body)


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch, archive_reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "zsess_a", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zsess_a", "zsess_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.delitem(sys.path_importer_cache, str(archive), raising=False)
    assert importlib.import_module("zsess_a").VALUE == 1

    assert worker_daemon.install()
    archive_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive_reads.count(str(archive)) == 1

    _write_zip(archive, "zsess_b", "VALUE = 'rewritten'\n")
    importlib.invalidate_caches()
    assert archive_reads.count(str(archive)) == 2
    assert importlib.import_module("zsess_b").VALUE == "rewritten"
    importlib.invalidate_caches()
    assert archive_reads.count(str(archive)) == 2

    # an archive that cannot be stat'ed falls back to the re-read every time
    archive.unlink()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive_reads.count(str(archive)) == 4


def test_no_invalidate_caches_patches_nothing(monkeypatch):
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    assert not worker_daemon.install()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")
