"""Flagship pipeline: byte-identical extraction invariant, checkpoint
resume, lineage metrics."""

import os

import pytest
from pyspark.sql import functions as F

from go_spatial_spark import pipeline
from go_spatial_spark.pipeline import flagship_pipeline, wrap_html, extract_text
from go_spatial_spark.checkpoint import CheckpointManager


def test_extraction_invariant(spark, sf001):
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    pages = wrap_html(docs).withColumn("text2", extract_text(F.col("html")))
    assert pages.where(F.col("text") != F.col("text2")).count() == 0
    # byte-identical, not just equal strings: compare encoded bytes
    assert pages.where(
        F.encode("text", "utf-8") != F.encode("text2", "utf-8")).count() == 0


def test_pipeline_checkpoint_resume(spark, sf001, tmp_path):
    ck_dir = str(tmp_path / "ck")
    out1 = flagship_pipeline(spark, sf001, ck_dir).toPandas()
    ck = CheckpointManager(ck_dir)
    m1 = ck.metrics()
    assert {m["stage"] for m in m1} == {"extract", "cells", "pip"}
    assert all(m["rows"] > 0 for m in m1)
    assert all(m["partition_rows"] for m in m1)
    # resume: second run must not rebuild any stage (no new metrics)
    out2 = flagship_pipeline(spark, sf001, ck_dir).toPandas()
    m2 = ck.metrics()
    assert len(m2) == len(m1)
    a = set(map(tuple, out1[["doc_id", "polygon_id"]].itertuples(index=False)))
    b = set(map(tuple, out2[["doc_id", "polygon_id"]].itertuples(index=False)))
    assert a == b and len(a) > 0


def test_flagship_job_count_and_plans(spark, sf001, tmp_path, monkeypatch):
    """A fresh run writes its three stages in at most 6 Spark jobs: no
    schema-inference footer job, no lineage job, no invariant count.
    Extraction runs in the JVM; the PIP refine is still a Python UDF."""
    plans = {}
    run_stage = CheckpointManager.run_stage

    def spy(self, spark, name, build):
        def planned():
            df = build()
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
            return df
        return run_stage(self, spark, name, planned)

    monkeypatch.setattr(CheckpointManager, "run_stage", spy)
    sc = spark.sparkContext
    sc.setJobGroup("flagship_jobs", "flagship_pipeline")
    try:
        flagship_pipeline(spark, sf001, str(tmp_path / "ck"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("flagship_jobs")) <= 6
    assert "ArrowEvalPython" not in plans["extract"]
    assert "BatchEvalPython" not in plans["extract"]
    assert "ArrowEvalPython" in plans["pip"]


def test_extract_invariant_violation_fails_stage(spark, sf001, tmp_path,
                                                 monkeypatch):
    """html that does not wrap its text fails the extract write itself:
    no _SUCCESS, no metrics row, no later stage."""
    def bad_wrap(docs):
        return wrap_html(docs).withColumn("html", F.encode(F.concat(
            F.lit("<body><p>x"), F.col("text"), F.lit("</p></body>")),
            "utf-8"))

    monkeypatch.setattr(pipeline, "wrap_html", bad_wrap)
    ck_dir = str(tmp_path / "ck")
    with pytest.raises(Exception, match="extraction invariant violated"):
        flagship_pipeline(spark, sf001, ck_dir)
    ck = CheckpointManager(ck_dir)
    assert not ck.has_stage("extract")
    assert not os.path.exists(os.path.join(ck_dir, "cells"))
    assert ck.metrics() == []


def test_checkpoint_lineage_from_footers(spark, sf001, tmp_path):
    """Each stage's footer row count is the stage's row count, and the
    per-write-partition counts sum to it."""
    ck_dir = str(tmp_path / "ck")
    flagship_pipeline(spark, sf001, ck_dir)
    metrics = CheckpointManager(ck_dir).metrics()
    assert [m["stage"] for m in metrics] == ["extract", "cells", "pip"]
    for m in metrics:
        n = spark.read.parquet(os.path.join(ck_dir, m["stage"])).count()
        assert m["rows"] == n > 0
        assert sum(m["partition_rows"].values()) == n
        assert m["n_partitions"] == len(m["partition_rows"])
