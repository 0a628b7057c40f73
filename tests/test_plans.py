"""Plan-quality audits: the properties that matter at 100 TB.

- filters/column pruning reach the parquet scan (PushedFilters /
  ReadSchema);
- the PIP polygon side broadcasts (BroadcastHashJoin, no shuffle of
  the big side on the join key);
- no row-at-a-time Python (BatchEvalPython) anywhere — Arrow only
  (input_hint: "no per-row Python").
"""

from pyspark.sql import functions as F

import __spark_entry__ as E
from go_spatial_spark.geocode import geocode


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf01):
    docs = spark.read.parquet(f"{sf01}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan
    # column pruning: text must NOT be read
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_pip_broadcasts_polygons(spark, sf01):
    pts = geocode(spark.read.parquet(f"{sf01}/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    from go_spatial_spark.operators.spatial_join import point_in_polygon
    plan = _plan(point_in_polygon(pts, spark))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# Queries whose executed plan may contain an Exchange SinglePartition,
# each bounded BY CONSTRUCTION (never corpus-sized — an unbounded one
# funnels the whole input through one task):
# - hillshade_trim: cumulative sums over the groupBy(bin) histogram —
#   <= 256 rows reach the unpartitioned window, whatever the raster
#   size (the map-side partial agg collapses the corpus first).
_BOUNDED_SINGLE_PARTITION = {"hillshade_trim"}


def test_no_row_python_udfs_and_no_unbounded_single_partition(spark, sf01):
    """Sweep EVERY registered query plan: (1) Arrow-vectorized only —
    BatchEvalPython (pickled row-at-a-time UDF) is banned;
    ArrowEvalPython and the pandas map/cogroup operators are the
    allowed Python surfaces; (2) no Exchange SinglePartition outside
    the documented bounded whitelist above — an unlisted one funnels
    corpus-sized data through one task at 100 TB (for example a global
    running-sum window with no partitioning)."""
    for name, fn in E.queries().items():
        if name in ("fill_depressions_tiled", "d8_flow_accum",
                    "breach_tiled", "hydro_invariants"):
            # perimeter-graph solves run Spark jobs while the query is
            # built; test_oracle_parity checks them
            continue
        df = fn(spark, sf01)
        plan = _plan(df)
        assert "BatchEvalPython" not in plan, f"{name} uses row-Python"
        if name not in _BOUNDED_SINGLE_PARTITION:
            assert "Exchange SinglePartition" not in plan, \
                f"{name} has an unvetted SinglePartition exchange"


def test_knn_plan_shuffles_on_cell(spark, sf01):
    from go_spatial_spark.operators.spatial_join import knn_self
    pts = geocode(spark.read.parquet(f"{sf01}/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    plan = _plan(knn_self(pts, k=5))
    # ring join must be an equi (hash) join on the cell key — a pure
    # range-predicate ring falls back to nested-loop, quadratic at
    # scale. The ring join is the first join in the plan tree (union
    # branch 1); the brute-force fallback (a deliberate broadcast
    # nested-loop over the unresolved remainder) comes after.
    import re
    joins = re.findall(r"\w*Join\w*", plan)
    assert joins and "HashJoin" in joins[0], joins
    assert "CartesianProduct" not in plan
    # the unresolved remainder escalates through WIDER ring equi-joins
    # (terminating in the extent-covering exhaustive ring) — never a
    # nested loop against the full point table (round-3 verdict #6:
    # the old brute fallback was O(U x N) on uniformly-sparse data)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_exhaustive_ring_explode_is_pruned(spark, sf01):
    """The exhaustive stage's ring explode must be bbox-clipped and
    occupied-cell semi-joined (round-4 verdict #4): per unresolved
    query the unclipped explode is (2*r_max+1)^2 rows (4489 at sf0.1's
    world extent) while at most |occupied bbox| cells can ever hold a
    point. Assert the measured reduction factor and the broadcast
    LeftSemi in the plan; the plan stays BNLJ-free."""
    import math

    from go_spatial_spark.operators.spatial_join import knn_self

    pts = geocode(spark.read.parquet(f"{sf01}/documents.parquet")) \
        .select("doc_id", "lat", "lon")
    cs = 11.25
    ext = pts.agg(
        (F.max("lon") - F.min("lon")).alias("dx"),
        (F.max("lat") - F.min("lat")).alias("dy"),
        F.min(F.floor(F.col("lon") / cs)).alias("gxlo"),
        F.max(F.floor(F.col("lon") / cs)).alias("gxhi"),
        F.min(F.floor(F.col("lat") / cs)).alias("gylo"),
        F.max(F.floor(F.col("lat") / cs)).alias("gyhi")).first()
    r_max = int(math.ceil(max(ext.dx, ext.dy) / cs)) + 1
    unclipped = (2 * r_max + 1) ** 2
    bbox_cells = (int(ext.gxhi - ext.gxlo) + 1) * \
        (int(ext.gyhi - ext.gylo) + 1)
    occupied = pts.select(F.floor(F.col("lon") / cs),
                          F.floor(F.col("lat") / cs)).distinct().count()
    # per-query explode volume after clipping is <= bbox_cells; the
    # semi-join then keeps <= occupied. sf0.1's synthetic geocode fills
    # ALL 512 world cells uniformly (the geometric worst case), so the
    # floor here is ~8.8x; any realistic (clustered) corpus, or a finer
    # cell size, prunes far more.
    assert unclipped / min(bbox_cells, occupied) >= 8, (
        unclipped, bbox_cells, occupied)
    plan = _plan(knn_self(pts, k=5))
    semi = [ln for ln in plan.splitlines()
            if "LeftSemi" in ln and "BroadcastHashJoin" in ln]
    assert semi, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_window_tools_run_one_pass(spark):
    """DifferenceFromMean (row bands), MaximumElevationDeviation (one
    stencil over all scales) and DeviationFromMeanTraditional (DEV's
    stencil) at 96^2, tile 32: no join, window or SinglePartition
    exchange; one Python pass behind one exchange (the stencils add
    long_to_tiles' repartition); and the job count per call, final
    collect included, at most what it measures here."""
    from go_spatial_spark import registry
    from go_spatial_spark.grid import RasterMeta, synthetic_dem
    meta = RasterMeta(rows=96, cols=96)
    dem = synthetic_dem(spark, 96, 96)
    sc = spark.sparkContext
    for name, exchanges, max_jobs in (
            ("DifferenceFromMean", 1, 4),
            ("MaximumElevationDeviation", 2, 5),
            ("DeviationFromMeanTraditional", 2, 5)):
        group = f"window_tool_{name}"
        sc.setJobGroup(group, name)
        try:
            df = registry.run_tool(spark, name, dem, meta, tile=32)
            plan = _plan(df)
            df.toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for op in ("Join", "Window", "SinglePartition"):
            assert op not in plan, (name, op, plan)
        assert plan.count("FlatMapGroupsInArrow") == 1, (name, plan)
        assert sum("Exchange" in ln for ln in plan.splitlines()) \
            == exchanges, (name, plan)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) \
            <= max_jobs, name


def test_raster_io_plans(spark, tmp_path, monkeypatch):
    """The binary readers and the block-range writer over in-repo files:
    Arrow-only Python everywhere (no BatchEvalPython), and each binary
    write_raster runs one job of one stage with no Exchange in its plan
    (the writer maps over the input's own partitions)."""
    import os

    from go_spatial_spark.sources import raster_io as io

    fix = os.path.join(os.path.dirname(__file__), "fixtures", "fmtq")
    meta, dem = io.read_arcgis_binary(spark, f"{fix}/dem64.hdr")
    frames = [dem, io.read_las(spark, f"{fix}/pts64.las")]
    writes = []
    cls = type(dem)
    map_in_arrow = cls.mapInArrow
    monkeypatch.setattr(cls, "mapInArrow", lambda self, *a, **k: (
        writes.append(map_in_arrow(self, *a, **k)) or writes[-1]))
    sc = spark.sparkContext
    for ext, reader in ((".tif", io.read_geotiff), (".dep", io.read_whitebox),
                        (".hdr", io.read_arcgis_binary),
                        (".rdc", io.read_idrisi)):
        p = str(tmp_path / f"dem{ext}")
        group = f"write_raster{ext}"
        sc.setJobGroup(group, "write_raster")
        try:
            io.write_raster(dem, meta, p)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 1, ext
        assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1, ext
        frames.append(reader(spark, p)[1])
    assert len(writes) == 4
    for df in writes:
        plan = _plan(df)
        assert "MapInArrow" in plan and "Exchange" not in plan, plan
    for df in frames + writes:
        assert "BatchEvalPython" not in _plan(df)
