"""Checkpoint / lineage / metrics store — distributed resumability.

The reference memoizes whole analyses in SQLite DBs keyed by
sha1(sorted dir set) (/root/reference/dupe_analysis.py:38-43, 99-119) and
reuses overlapping prior work greedily (125-157). The distributed analog
keeps the first and not the second (one store holds one input's stages):
each pipeline stage writes a table keyed by (stage name, config hash, input
fingerprint); a rerun with the same key skips the stage and reads the table
back (S6), and per-stage lineage + metrics rows make the run auditable and
resumable mid-pipeline (the north-rule requirement).

Storage: a parquet directory per stage plus a ``_lineage.json`` manifest.
An Iceberg layout waits for the Iceberg runtime jar, which is not on the
classpath (see SURVEY.md §7).

Layout:
    <root>/<stage>/data/              parquet table
    <root>/<stage>/_lineage.json      {stage, config_hash, input_key, rows,
                                       wall_sec, partitions, written_at}
    <root>/_metrics.parquet           appended per-stage metrics rows
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class CheckpointStore:
    spark: SparkSession
    root: str
    config_hash: str
    input_key: str = "default"
    metrics: list[dict] = field(default_factory=list)

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _lineage_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), "_lineage.json")

    def _data_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), "data")

    def is_complete(self, name: str) -> bool:
        """Stage reusable iff lineage exists AND matches (config, input) —
        the reference's cache-hit test (dupe_analysis.py:106-113)."""
        path = self._lineage_path(name)
        if not os.path.exists(path):
            return False
        try:
            with open(path) as fh:
                lineage = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return False
        return (
            lineage.get("config_hash") == self.config_hash
            and lineage.get("input_key") == self.input_key
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._data_path(name))

    def stage(self, name: str, df: DataFrame) -> DataFrame:
        """Materialize a stage (or reuse it) and return a DataFrame reading
        from storage — downstream lineage is cut at the checkpoint."""
        if self.is_complete(name):
            self.metrics.append({"stage": name, "reused": True})
            return self.read(name)

        t0 = time.time()
        path = self._data_path(name)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        rows = out.count()
        wall = time.time() - t0
        lineage = {
            "stage": name,
            "config_hash": self.config_hash,
            "input_key": self.input_key,
            "rows": rows,
            "wall_sec": round(wall, 3),
            "partitions": out.rdd.getNumPartitions(),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "format": "parquet",
        }
        os.makedirs(self._stage_dir(name), exist_ok=True)
        with open(self._lineage_path(name), "w") as fh:
            json.dump(lineage, fh, indent=1)
        self.metrics.append({**lineage, "reused": False})
        return out

    def invalidate_all(self) -> None:
        """Forget every stage under the root, so the next run recomputes
        each one — whatever stages the pipeline checkpoints. The data stays
        on disk until a stage overwrites it."""
        if not os.path.isdir(self.root):
            return
        for name in os.listdir(self.root):
            path = self._lineage_path(name)
            if os.path.exists(path):
                os.remove(path)

    def read_metrics(self) -> DataFrame:
        """The appended metrics table across every run of this store root.
        ``mergeSchema`` is load-bearing: the metrics row schema has gained
        columns over time (``extra`` most recently), and a plain read
        infers the schema from ONE parquet footer — if a pre-widening file
        wins, the new columns silently vanish from every query over the
        table. Merging unions the footers so old rows surface the new
        columns as null."""
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(os.path.join(self.root, "_metrics.parquet"))
        )

    def write_metrics(self) -> None:
        """Persist accumulated per-stage metrics (the reference's timer
        summaries, dupe_utils.py:69-108, as a table)."""
        if not self.metrics:
            return
        import pandas as pd

        # typed columns — numeric metrics stay queryable (sum/percentile)
        pdf = pd.DataFrame(self.metrics)
        for col in ("rows", "wall_sec", "partitions"):
            if col in pdf.columns:
                pdf[col] = pd.to_numeric(pdf[col], errors="coerce").astype("float64")
            else:
                pdf[col] = float("nan")
        if "reused" in pdf.columns:
            pdf["reused"] = pdf["reused"].astype(bool)
        if "extra" in pdf.columns:
            pdf["extra"] = pdf["extra"].map(
                lambda v: json.dumps(v) if isinstance(v, dict) else v
            )
        for col in ("stage", "config_hash", "input_key", "written_at", "format", "extra"):
            if col in pdf.columns:
                pdf[col] = pdf[col].astype("string")
            else:
                pdf[col] = pd.array([None] * len(pdf), dtype="string")
        schema = (
            "stage string, config_hash string, input_key string, rows double, "
            "wall_sec double, partitions double, written_at string, "
            "format string, reused boolean, extra string"
        )
        cols = [c.split()[0] for c in schema.split(", ")]
        self.spark.createDataFrame(pdf[cols], schema=schema).write.mode(
            "append"
        ).parquet(os.path.join(self.root, "_metrics.parquet"))

