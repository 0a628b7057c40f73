"""Checkpoint + lineage metrics (BASELINE.json north_rule: "every
stage writes per-partition lineage + row-count metrics to a checkpoint
table so a killed job resumes at tile granularity").

A stage is a named DataFrame materialization: `run_stage` writes the
result to `<dir>/<name>` as Parquet the first time and *reads it back*
on re-run — so a restarted driver skips completed stages. Alongside
each stage, a row goes to `<dir>/_metrics.jsonl` with row count,
per-partition row counts (lineage at partition/tile granularity), and
wall time.

The tiled hydrology operators checkpoint with `ckpt_dir`: each of their
perimeter-graph solves persists its pass-1 relation as one stage (fill:
`fill_w`; breach: `w`, `d` and `walk`), so a killed run resumes from the
completed passes and reruns only the driver solves and the passes after
them. D8 and FD8 flow accumulation do not checkpoint.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointManager:
    def __init__(self, base_dir: str):
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.metrics_path = os.path.join(base_dir, "_metrics.jsonl")

    def _path(self, name: str) -> str:
        return os.path.join(self.base, name)

    def has_stage(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def read_stage(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self._path(name))

    def _record(self, name: str, df: DataFrame, wall_s: float) -> dict:
        per_part = (df.groupBy(F.spark_partition_id().alias("pid"))
                    .count().collect())
        metrics = {
            "stage": name,
            "rows": int(sum(r["count"] for r in per_part)),
            "n_partitions": len(per_part),
            "partition_rows": {int(r["pid"]): int(r["count"])
                               for r in per_part},
            "wall_s": round(wall_s, 3),
            "ts": time.time(),
        }
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(metrics) + "\n")
        return metrics

    def run_stage(self, spark: SparkSession, name: str,
                  build) -> DataFrame:
        """Materialize-once: build() -> write -> read-back; on resume,
        read the existing Parquet without rebuilding."""
        if self.has_stage(name):
            return self.read_stage(spark, name)
        t0 = time.perf_counter()
        df = build()
        df.write.mode("overwrite").parquet(self._path(name))
        out = self.read_stage(spark, name)
        self._record(name, out, time.perf_counter() - t0)
        return out

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]
