"""Checkpoint manifests: write-then-commit parquet rounds with lineage.

The reference resumes from HF trainer checkpoints
(run_jointmodel.py:339-356, trainer.py:1274-1349). The rebuild
checkpoints each bootstrap round as parquet plus a JSON manifest written
AFTER the data lands — the manifest is the commit record, so a re-run
that finds a manifest skips the round (exactly-once resume; a crash
between data and manifest re-writes the round idempotently because
parquet output is overwritten atomically per round directory).

Iceberg would give this for free via snapshots; its jars are not a
dependency of this project, so the manifest pattern stands in. Every
checkpointed DataFrame carries lineage columns ``round`` and
``src_partition`` (spark_partition_id at write time).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointManager:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _paths(self, name: str, rnd: int) -> tuple[str, str]:
        d = os.path.join(self.root, f"round={rnd}", name)
        return d, d + ".manifest.json"

    def is_committed(self, name: str, rnd: int) -> bool:
        return os.path.exists(self._paths(name, rnd)[1])

    def write(self, df: DataFrame, name: str, rnd: int, stats: dict | None = None) -> str:
        data_dir, manifest = self._paths(name, rnd)
        out = df.withColumn("round", F.lit(rnd)).withColumn(
            "src_partition", F.spark_partition_id()
        )
        out.write.mode("overwrite").parquet(data_dir)
        spark = df.sparkSession
        n = spark.read.parquet(data_dir).count()
        record = {
            "name": name,
            "round": rnd,
            "rows": n,
            "path": data_dir,
            "schema": out.schema.simpleString(),
            "committed_at": time.time(),
            "stats": stats or {},
        }
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f, indent=2)
        os.replace(tmp, manifest)  # atomic commit point
        return data_dir

    def read(self, spark: SparkSession, name: str, rnd: int) -> DataFrame:
        data_dir, manifest = self._paths(name, rnd)
        if not os.path.exists(manifest):
            raise FileNotFoundError(f"round {rnd} '{name}' not committed")
        return spark.read.parquet(data_dir)

    def manifest(self, name: str, rnd: int) -> dict:
        with open(self._paths(name, rnd)[1]) as f:
            return json.load(f)
