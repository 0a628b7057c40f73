"""Checkpoint + lineage metrics (BASELINE.json north_rule: "every
stage writes per-partition lineage + row-count metrics to a checkpoint
table so a killed job resumes at tile granularity").

A stage is a named DataFrame materialization: `run_stage` writes the
result to `<dir>/<name>` as Parquet the first time and *reads it back*
on re-run — so a restarted driver skips completed stages. Alongside
each stage, a row goes to `<dir>/_metrics.jsonl` with row count,
per-partition row counts (lineage at partition/tile granularity), and
wall time. The counts come from the Parquet footers of the `part-*`
files just written, keyed by the write partition number in each file
name, so recording them runs no Spark job. A fresh stage reads back
with the schema it was written with, which spares the footer job of
schema inference; a resumed stage infers it from the files.

The tiled hydrology operators checkpoint with `ckpt_dir`: each of their
perimeter-graph solves persists its pass-1 relation as one stage (fill:
`fill_w`; breach: `w`, `d` and `walk`), so a killed run resumes from the
completed passes and reruns only the driver solves and the passes after
them. D8 and FD8 flow accumulation do not checkpoint.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


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

    def _record(self, name: str, wall_s: float) -> dict:
        per_part = Counter()
        path = self._path(name)
        for f in os.listdir(path):
            m = re.match(r"part-(\d+)", f)
            if m:
                per_part[int(m.group(1))] += pq.read_metadata(
                    os.path.join(path, f)).num_rows
        metrics = {
            "stage": name,
            "rows": sum(per_part.values()),
            "n_partitions": len(per_part),
            "partition_rows": dict(sorted(per_part.items())),
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
        out = spark.read.schema(df.schema).parquet(self._path(name))
        self._record(name, time.perf_counter() - t0)
        return out

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]
