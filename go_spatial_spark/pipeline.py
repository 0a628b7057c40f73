"""Flagship end-to-end pipeline (BASELINE.json north_star): web pages
-> HTML->text extraction -> geocode -> H3-style cells (salted against
hotspot skew) -> point-in-polygon join, with per-stage checkpoint +
lineage metrics (resumable).

The provided documents fixture carries `text` directly; the
`html` column of the input_hint schema is synthesized by a
deterministic wrapper so the **byte-identical extracted text per url**
invariant is a real, testable property: extract(wrap(text)) == text,
byte for byte. Extraction is a Catalyst expression, so the extract
stage runs in the JVM with no Python worker, and the invariant is
checked inside the same write: a violating row fails the stage before
its checkpoint is marked complete.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from go_spatial_spark.checkpoint import CheckpointManager
from go_spatial_spark.geocode import geocode
from go_spatial_spark.operators.spatial_join import point_in_polygon

N_SALT = 16
HOT_PARENT_RES = 6  # salt decided at a coarse parent cell


def wrap_html(docs: DataFrame) -> DataFrame:
    """documents -> input_hint shape (url, warc_ts, html, text, lang)."""
    url = F.concat(F.lit("https://host"), (F.col("doc_id") % 13).cast("string"),
                   F.lit(".example/p/"), F.col("doc_id").cast("string"))
    warc_ts = F.expr("timestamp '2024-01-01 00:00:00' "
                     "+ make_interval(0, 0, 0, 0, 0, 0, doc_id % 86400)")
    html = F.encode(F.concat(
        F.lit("<html><head><title>d</title></head><body><p>"),
        F.col("text"), F.lit("</p></body></html>")), "utf-8")
    return docs.select(F.col("doc_id"), url.alias("url"),
                       warc_ts.alias("warc_ts"), html.alias("html"),
                       F.col("text"), F.col("lang"))


DOCUMENTS_SCHEMA = "doc_id bigint, text string, lang string"


def extract_text(html: Column) -> Column:
    """Byte-identical inverse of wrap_html: the UTF-8 text between the
    first ``<body><p>`` and the last ``</p></body>`` (the greedy group
    backtracks to the last closing pair); "" when the markers are
    missing."""
    return F.regexp_extract(F.decode(html, "utf-8"),
                            r"(?s)<body><p>(.*)</p></body>", 1)


def salted_cells(docs_geo: DataFrame, n_salt: int = N_SALT) -> DataFrame:
    """Add a salt key so hotspot cells split across n_salt partitions:
    repartition on (parent_cell, salt) spreads the 20%-in-one-box skew
    (geocode.py docstring) before any heavy per-cell work; AQE skew
    join splitting remains the runtime backstop."""
    parent = F.shiftright(F.col("cell"), 2 * (12 - HOT_PARENT_RES))
    salt = (F.col("doc_id") % n_salt).cast("int")
    out = docs_geo.withColumn("parent_cell", parent).withColumn("salt", salt)
    return out.repartition(F.col("parent_cell"), F.col("salt"))


def flagship_pipeline(spark: SparkSession, sf_dir: str,
                      ckpt_dir: str) -> DataFrame:
    """extract -> geocode/cells (salted) -> PIP join; each stage
    checkpointed + metered. Returns the PIP pairs."""
    ck = CheckpointManager(ckpt_dir)

    def stage_extract():
        raw = spark.read.schema(DOCUMENTS_SCHEMA).parquet(
            f"{sf_dir}/documents.parquet")
        text2 = extract_text(F.col("html"))
        # the byte-identical invariant, enforced in the write itself: a
        # mismatch fails the task, so the stage never commits
        checked = F.when(text2.eqNullSafe(F.col("text")), text2).otherwise(
            F.raise_error(F.concat(
                F.lit("extraction invariant violated for doc_id "),
                F.col("doc_id").cast("string"))))
        return wrap_html(raw).select("doc_id", "url", "warc_ts", "lang",
                                     "text", checked.alias("text2"))

    extracted = ck.run_stage(spark, "extract", stage_extract)

    def stage_cells():
        return salted_cells(geocode(extracted.select("doc_id", "text")))

    cells = ck.run_stage(spark, "cells", stage_cells)

    def stage_pip():
        pts = cells.select("doc_id", "lat", "lon")
        return point_in_polygon(pts, spark)

    return ck.run_stage(spark, "pip", stage_pip)
