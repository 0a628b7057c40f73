"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship point-in-polygon join on
sf0.001. ``queries()`` exposes every implemented operator from
SURVEY.md §2 as (spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives
the DuckDB-equivalent SQL over the pre-registered view documents.

Column names are aligned between each query and its oracle; float
outputs are either exact-by-construction (integer-derived arithmetic,
see go_spatial_spark.grid docstring) or rounded to 4 decimals on both
sides where libm transcendentals may differ in the last ulp.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_spatial_spark.grid import (
    RasterMeta, long_to_tiles, run_stencil, synthetic_dem,
    synthetic_dem_sql, tiles_to_long,
)
from go_spatial_spark import kernels, oracles, registry
from go_spatial_spark.geocode import geocode, geocode_sql
from go_spatial_spark.operators import hydrology
from go_spatial_spark.operators.spatial_join import (
    knn_oracle_sql, knn_self, pip_oracle_sql, point_in_polygon,
    vector_points_to_raster,
)
from go_spatial_spark.operators import window_stats as WS
from go_spatial_spark.operators.window_stats import (
    quantiles, quantiles_oracle_sql,
)

GRID_ROWS, GRID_COLS, TILE = 96, 96, 32
META = RasterMeta(rows=GRID_ROWS, cols=GRID_COLS)
# the same synthetic DEM re-georeferenced to a lat/lon CRS (EPSG:4326):
# terrain kernels then apply the reference's zConvFactor
# (slope.go:168-175, midLat = (north-south)/2 verbatim)
META_GEO = RasterMeta(rows=GRID_ROWS, cols=GRID_COLS, north=50.0,
                      south=40.0, east=10.0, west=0.0, epsg=4326)
WORLD = RasterMeta(rows=180, cols=360, north=90.0, south=-90.0,
                   east=180.0, west=-180.0)

import os as _os  # noqa: E402

_FMTQ = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                      "tests", "fixtures", "fmtq")
# Reference-DEM golden sample (188x237 float32): cell(100,100) is the
# reference's own pinned value (rasterFormat_test.go:30); the rest are
# decoded-once regression goldens shared VERBATIM by the Whitebox and
# Idrisi queries — the two independent format decoders must agree.
_FMT_ROWS = [0, 50, 100, 150, 187]
_FMT_COLS = [0, 60, 100, 180, 236]
_FMT_GOLDEN = [
    (0, 0, 1037.6131591796875), (0, 60, 430.2420959472656),
    (0, 100, 218.65396118164062), (0, 180, 627.9446411132812),
    (0, 236, 281.1356506347656), (50, 0, 861.1737670898438),
    (50, 60, 546.8055419921875), (50, 100, 353.5282897949219),
    (50, 180, 464.6358642578125), (50, 236, 360.95989990234375),
    (100, 0, 926.9435424804688), (100, 60, 628.96533203125),
    (100, 100, 429.42730712890625), (100, 180, 370.8030090332031),
    (100, 236, 276.96844482421875), (150, 0, 604.03271484375),
    (150, 60, 541.231201171875), (150, 100, 490.62420654296875),
    (150, 180, 410.65789794921875), (150, 236, 497.77459716796875),
    (187, 0, 662.5465087890625), (187, 60, 705.9212646484375),
    (187, 100, 521.3821411132812), (187, 180, 370.6791076660156),
    (187, 236, 402.5852966308594)]


def _fmt_golden_sql() -> str:
    # string -> DOUBLE cast: a bare 17-digit literal would go through
    # DuckDB's DECIMAL parser and lose the last ulp
    vals = ", ".join(
        f"(CAST({r} AS INT), CAST({c} AS INT), CAST('{v!r}' AS DOUBLE))"
        for r, c, v in _FMT_GOLDEN)
    return f"SELECT * FROM (VALUES {vals}) t(row, col, value)"


# LAS fixture formula (scripts/make_format_fixtures.py las_fields):
# all scales exact dyadics, so int*scale+offset is bit-identical
# between the reader's float64 arithmetic and DuckDB.
_LAS_ORACLE = """
    SELECT 100.0 + CAST((i*3) % 257 AS DOUBLE) * 0.25 AS x,
           -50.0 + CAST((i*7) % 263 AS DOUBLE) * 0.5 AS y,
           12.5 + CAST((i*i) % 1024 AS DOUBLE) * 0.015625 AS z,
           CAST((i*11) % 613 AS INT) AS intensity,
           CAST(i % 13 AS INT) AS class,
           CAST((i % 5) + 1 AS INT) AS return_num,
           CAST(5 AS INT) AS num_returns,
           100000.0 + CAST(i AS DOUBLE) * 0.5 AS gps_time
    FROM range(0, 199) t(i)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geocode(_docs(spark, sf_dir)).select("doc_id", "lat", "lon")


def _points_sql() -> str:
    g = geocode_sql(12, "duckdb")
    return (f"SELECT doc_id, {g['lat']} AS lat, {g['lon']} AS lon "
            f"FROM documents")


def _dem_tiles(spark: SparkSession):
    dem = synthetic_dem(spark, GRID_ROWS, GRID_COLS)
    return long_to_tiles(dem, META, tile=TILE)


def _stencil_query(kernel, halo, out_col, round_to=None, ctx_extra=None):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        long = run_stencil(_dem_tiles(spark), META, kernel, halo=halo,
                           tile=TILE, ctx_extra=ctx_extra,
                           output="long", value_col=out_col)
        if round_to is not None:
            long = long.withColumn(out_col, F.round(F.col(out_col), round_to))
        return long
    return q


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode sf0.001 documents -> H3-style cells ->
    point-in-polygon join (bbox prune + ray-cast refine)."""
    pts = _points(spark, "/root/testdata/sf0.001")
    return point_in_polygon(pts, spark)


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------
# The driver's correctness gate checks at most the FIRST 50 entries of
# queries() (round-3 VERDICT: 13 of 63 registered queries silently fell
# past the window), so the dict is held at <= 50 entries. Related rows
# are merged rather than dropped: the five format readers union into
# read_rasters (fmt column), planar+geographic slope union on a mode
# column, the five hydrology invariant rows unpivot into one long-form
# hydro_invariants row. Key mapping old -> new is recorded in
# COVERAGE.md.

# Hydrology invariant-row columns, shared by the Spark unpivot and the
# DuckDB oracle generator (parity test catches drift in either).
_HYDRO_INV_COLS = {
    "fill": ["n_cells", "n_depression_cells", "n_lowered",
             "n_below_spill", "n_interior_pits"],
    "fd8": ["n_cells", "n_below_one", "n_headwater",
            "n_head_accum_mismatch"],
    "breach": ["n_cells", "n_pits_in", "n_interior_pits",
               "golden_n_changed", "golden_n_lowered", "golden_n_raised"],
    "breach_constrained": ["n_cells", "n_pits_in", "n_interior_pits",
                           "n_over_depth_bound", "depth_bound",
                           "golden_n_changed"],
    "breach_streams": ["n_cells", "n_stream_cells", "n_interior_pits",
                       "golden_n_changed", "golden_n_lowered",
                       "golden_n_raised"],
}


def _unpivot_invariants(op: str, df: DataFrame) -> DataFrame:
    cols = _HYDRO_INV_COLS[op]
    assert set(cols) == set(df.columns), (op, df.columns)
    casted = df.select(F.lit(op).alias("op"),
                       *[F.col(c).cast("double").alias(c) for c in cols])
    return casted.unpivot(["op"], cols, "metric", "value")


def _hydro_inv_oracle_sql(parts: dict[str, str]) -> str:
    sels = []
    for op, sql in parts.items():
        cols = _HYDRO_INV_COLS[op]
        mlist = ", ".join(f"'{c}'" for c in cols)
        vlist = ", ".join(f"CAST({c} AS DOUBLE)" for c in cols)
        sels.append(
            f"SELECT '{op}' AS op, unnest([{mlist}]) AS metric, "
            f"unnest([{vlist}]) AS value FROM ({sql})")
    return "\nUNION ALL\n".join(sels)


def _streams_grid(spark: SparkSession) -> DataFrame:
    g = spark.range(GRID_ROWS * GRID_COLS).select(
        (F.col("id") / GRID_COLS).cast("int").alias("row"),
        (F.col("id") % GRID_COLS).cast("int").alias("col"))
    return g.where((F.col("row") == GRID_ROWS // 2)
                   | (F.col("col") == GRID_COLS // 2)
                   | (F.col("row") == F.col("col"))) \
        .withColumn("value", F.lit(1.0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- spatial core -----------------------------------------------------
    q["cell_assign"] = lambda spark, sf: (
        geocode(_docs(spark, sf)).select("doc_id", "lat", "lon", "cell"))
    q["pip_join"] = lambda spark, sf: point_in_polygon(
        _points(spark, sf), spark)
    q["knn"] = lambda spark, sf: knn_self(_points(spark, sf), k=5)
    q["vector_to_raster"] = lambda spark, sf: vector_points_to_raster(
        _points(spark, sf).select(F.col("lon").alias("x"),
                                  F.col("lat").alias("y"),
                                  F.col("doc_id").cast("double").alias("value")),
        WORLD, agg="count").withColumnRenamed("value", "n_points")

    # --- grid / DEM (synthetic 96x96, tile 32, sf-independent) ------------
    # planar + geographic (zConvFactor) slope in one row, mode column
    def slope_q(spark: SparkSession, sf: str) -> DataFrame:
        planar = run_stencil(_dem_tiles(spark), META, kernels.slope_kernel,
                             halo=1, tile=TILE, output="long",
                             value_col="slope") \
            .withColumn("mode", F.lit("planar"))
        geo = run_stencil(_dem_tiles(spark), META_GEO, kernels.slope_kernel,
                          halo=1, tile=TILE, output="long",
                          value_col="slope") \
            .withColumn("mode", F.lit("geographic"))
        return planar.unionByName(geo).withColumn(
            "slope", F.round(F.col("slope"), 4))
    q["slope"] = slope_q
    q["aspect"] = _stencil_query(kernels.aspect_kernel, 1, "aspect", round_to=4)
    q["hillshade"] = _stencil_query(kernels.hillshade_kernel, 1, "shade")

    def hillshade_trim_q(spark: SparkSession, sf: str) -> DataFrame:
        shade = run_stencil(_dem_tiles(spark), META,
                            kernels.hillshade_kernel, halo=1, tile=TILE,
                            output="long")
        return WS.hillshade_display_trim(shade)
    q["hillshade_trim"] = hillshade_trim_q
    q["mean_filter"] = _stencil_query(
        kernels.mean_filter_kernel, 2, "mean_val", ctx_extra={"rx": 2, "ry": 2})
    q["fill_holes"] = _stencil_query(
        kernels.fill_small_nodata_holes_kernel, 2, "value")

    def dev_q(spark: SparkSession, sf: str) -> DataFrame:
        dem = synthetic_dem(spark, GRID_ROWS, GRID_COLS)
        mn, mx = dem.agg(F.min("value"), F.max("value")).first()
        k = mn + (mx - mn) / 2.0
        out = run_stencil(_dem_tiles(spark), META,
                          kernels.deviation_from_mean_kernel, halo=8,
                          tile=TILE, ctx_extra={"r": 8, "k": k})
        return tiles_to_long(out, META, tile=TILE, value_col="dev")
    q["dev_from_mean"] = dev_q

    q["quantiles"] = lambda spark, sf: quantiles(
        synthetic_dem(spark, GRID_ROWS, GRID_COLS), num_bins=5)

    q["diff_from_mean"] = lambda spark, sf: WS.diff_from_mean(
        synthetic_dem(spark, GRID_ROWS, GRID_COLS), GRID_ROWS, GRID_COLS, r=8,
        tile=TILE)
    q["dev_from_mean_traditional"] = lambda spark, sf: registry.run_tool(
        spark, "DeviationFromMeanTraditional",
        synthetic_dem(spark, GRID_ROWS, GRID_COLS), META, r=8, tile=TILE)

    def elev_pct_q(spark: SparkSession, sf: str) -> DataFrame:
        from go_spatial_spark.grid import synthetic_dem_numpy, NODATA
        dem_np = synthetic_dem_numpy(GRID_ROWS, GRID_COLS)
        mn, bs, bn, vp = WS.elevation_percentile_maps(dem_np, NODATA, 10)
        out = run_stencil(_dem_tiles(spark), META,
                          WS.elevation_percentile_kernel, halo=5, tile=TILE,
                          ctx_extra={"r": 5, "mn": mn, "bin_size": bs,
                                     "bin_num": bn, "val_prob": vp,
                                     "num_bins": 10})
        return tiles_to_long(out, META, tile=TILE, value_col="percentile")
    q["elevation_percentile"] = elev_pct_q

    q["max_elev_deviation"] = lambda spark, sf: registry.run_tool(
        spark, "MaximumElevationDeviation",
        synthetic_dem(spark, GRID_ROWS, GRID_COLS), META, scales=[4, 8, 12],
        tile=TILE)

    # --- hydrology ---------------------------------------------------------
    # the tiled hydrology operators use 48-cell tiles (a 2x2 grid), so
    # every flow and spill path crosses tile edges
    def _dem_tiles48(spark):
        return long_to_tiles(synthetic_dem(spark, GRID_ROWS, GRID_COLS),
                             META, tile=48)

    def d8_pointer_q(spark: SparkSession, sf: str) -> DataFrame:
        out = run_stencil(_dem_tiles(spark), META, hydrology.d8_pointer_kernel,
                          halo=1, tile=TILE)
        return tiles_to_long(out, META, tile=TILE, value_col="dir")
    q["d8_pointer"] = d8_pointer_q

    q["d8_flow_accum"] = lambda spark, sf: hydrology.d8_flow_accum(
        _dem_tiles48(spark), META, tile=48)
    q["fill_depressions_tiled"] = lambda spark, sf: \
        hydrology.fill_depressions_tiled(_dem_tiles48(spark), META, tile=48)
    # distributed minimax-path breach: full-value recursive-CTE oracle
    # (oracles.breach_minimax_sql — W fixpoint + plateau distance +
    # backlink forest + carve walk); values are copies of input
    # elevations, so the comparison is bit-exact
    q["breach_tiled"] = lambda spark, sf: hydrology.breach_depressions_tiled(
        _dem_tiles48(spark), META, tile=48)

    # Heap-replay ops (fill/breach family) + FD8: one long-form driver
    # row of (op, metric, value) invariants unpivoted from the five
    # one-row summaries (per-cell SQL oracles would be tautological
    # heap replays / are float-order-impossible — see oracles.py
    # invariant section); per-cell golden parity lives in
    # tests/test_hydrology.py. Constrained mode
    # (breachDepressions.go:613-778) uses tight depth/length
    # constraints + outlet lowering + post-breach floodorder fill.
    def hydro_invariants_q(spark: SparkSession, sf: str) -> DataFrame:
        dem = synthetic_dem(spark, GRID_ROWS, GRID_COLS)
        parts = {
            "fill": hydrology.fill_invariants(
                dem, META, _dem_tiles48(spark), tile=48),
            "fd8": hydrology.fd8_invariants(
                _dem_tiles48(spark), META, tile=48),
            "breach": hydrology.breach_complete_invariants(dem, META),
            "breach_constrained": hydrology.breach_constrained_invariants(
                dem, META, max_depth=2.0, max_length=10),
            "breach_streams": hydrology.breach_streams_invariants(
                dem, _streams_grid(spark), META),
        }
        out = None
        for op, df in parts.items():
            u = _unpivot_invariants(op, df)
            out = u if out is None else out.unionByName(u)
        return out
    q["hydro_invariants"] = hydro_invariants_q

    # --- metadata tools (PrintGeoTiffTags / PrintLASInfo) ------------------
    def geotiff_tags_q(spark: SparkSession, sf: str) -> DataFrame:
        from go_spatial_spark.sources.raster_io import geotiff_tags
        return geotiff_tags(
            spark, "/root/reference/geospatialfiles/tests/testdata/DEM.tif")
    q["geotiff_tags"] = geotiff_tags_q

    # --- format readers (SURVEY §2.1) as driver rows -----------------------
    # GeoTIFF/Whitebox/Idrisi decode the REFERENCE DEM fixtures and are
    # checked against a 25-cell golden sample
    # (cell(100,100)=429.42730712890625 is the reference's own pinned
    # golden, rasterFormat_test.go:30; DEM.tif/.tas/.rst hold the same
    # plane, so three independent decoders must reproduce the same
    # VALUES — the GeoTIFF leg covers the strip/predictor pixel path,
    # not just the tag table). ArcGIS/GRASS/LAS read committed fixtures
    # written independently from the synthetic-DEM/point formulas
    # (scripts/make_format_fixtures.py) and are checked against DuckDB
    # recomputing the formula — full-plane value parity. All gridded
    # readers union into ONE row keyed by the fmt column.
    _REF = "/root/reference/geospatialfiles/tests/testdata"

    def _fmt_sample(df: DataFrame) -> DataFrame:
        return df.where(F.col("row").isin(_FMT_ROWS)
                        & F.col("col").isin(_FMT_COLS))

    def read_geotiff_q(spark: SparkSession, sf: str) -> DataFrame:
        from go_spatial_spark.sources.raster_io import read_geotiff
        return _fmt_sample(read_geotiff(spark, f"{_REF}/DEM.tif")[1])
    q["read_geotiff"] = read_geotiff_q

    def read_rasters_q(spark: SparkSession, sf: str) -> DataFrame:
        from go_spatial_spark.sources.raster_io import (
            read_arcgis_ascii, read_arcgis_binary, read_grass_ascii,
            read_idrisi, read_whitebox)
        legs = [
            ("whitebox", _fmt_sample(read_whitebox(
                spark, f"{_REF}/DEM.dep")[1])),
            ("idrisi", _fmt_sample(read_idrisi(
                spark, f"{_REF}/DEM.rdc")[1])),
            ("arcgis_ascii", read_arcgis_ascii(
                spark, f"{_FMTQ}/dem64.asc")[1]),
            ("arcgis_binary", read_arcgis_binary(
                spark, f"{_FMTQ}/dem64.hdr")[1]),
            ("grass", read_grass_ascii(
                spark, f"{_FMTQ}/dem64_grass.txt")[1]),
        ]
        out = None
        for fmt, df in legs:
            df = df.withColumn("fmt", F.lit(fmt))
            out = df if out is None else out.unionByName(df)
        return out
    q["read_rasters"] = read_rasters_q

    def read_las_q(spark: SparkSession, sf: str) -> DataFrame:
        from go_spatial_spark.sources.raster_io import read_las
        return read_las(spark, f"{_FMTQ}/pts64.las")
    q["read_las"] = read_las_q

    assert len(q) <= 50, f"driver window is 50 rows; got {len(q)}"
    return q


def oracle_sql() -> dict[str, str]:
    g = geocode_sql(12, "duckdb")
    pts = _points_sql()
    o: dict[str, str] = {}

    o["cell_assign"] = (
        f"SELECT doc_id, {g['lat']} AS lat, {g['lon']} AS lon, "
        f"{g['cell']} AS cell FROM documents")
    o["pip_join"] = pip_oracle_sql(pts)
    o["knn"] = knn_oracle_sql(pts, k=5)
    o["vector_to_raster"] = f"""
        WITH pts AS ({pts}),
        cells AS (
          SELECT CAST(floor((90.0 - lat) / 1.0) AS INT) AS row,
                 CAST(floor((lon - -180.0) / 1.0) AS INT) AS col
          FROM pts)
        SELECT row, col, count(*) AS n_points FROM cells
        WHERE row BETWEEN 0 AND 179 AND col BETWEEN 0 AND 359
        GROUP BY row, col"""

    o["slope"] = f"""
        SELECT *, 'planar' AS mode
        FROM ({oracles.slope_sql(GRID_ROWS, GRID_COLS)})
        UNION ALL
        SELECT *, 'geographic' AS mode
        FROM ({oracles.slope_geographic_sql(GRID_ROWS, GRID_COLS,
                                            META_GEO)})"""
    o["aspect"] = oracles.aspect_sql(GRID_ROWS, GRID_COLS)
    o["hillshade"] = oracles.hillshade_sql(GRID_ROWS, GRID_COLS)
    o["hillshade_trim"] = oracles.hillshade_trim_sql(GRID_ROWS, GRID_COLS)
    o["mean_filter"] = oracles.mean_filter_sql(GRID_ROWS, GRID_COLS, 2, 2)
    o["dev_from_mean"] = oracles.dev_from_mean_sql(GRID_ROWS, GRID_COLS, 8)
    o["dev_from_mean_traditional"] = oracles.dev_from_mean_traditional_sql(
        GRID_ROWS, GRID_COLS, 8)
    o["fill_holes"] = oracles.fill_holes_sql(GRID_ROWS, GRID_COLS)
    o["quantiles"] = quantiles_oracle_sql(
        synthetic_dem_sql(GRID_ROWS, GRID_COLS), num_bins=5)
    o["d8_pointer"] = oracles.d8_pointer_sql(GRID_ROWS, GRID_COLS)
    o["diff_from_mean"] = WS.diff_from_mean_oracle_sql(
        synthetic_dem_sql(GRID_ROWS, GRID_COLS), GRID_ROWS, GRID_COLS, r=8)

    from go_spatial_spark.grid import synthetic_dem_numpy, NODATA
    o["elevation_percentile"] = WS.elevation_percentile_oracle_sql(
        synthetic_dem_sql(GRID_ROWS, GRID_COLS), GRID_ROWS, GRID_COLS, 5,
        synthetic_dem_numpy(GRID_ROWS, GRID_COLS), NODATA, 10)
    o["max_elev_deviation"] = WS.max_elev_deviation_oracle_sql(
        lambda r: oracles.dev_from_mean_sql(GRID_ROWS, GRID_COLS, r),
        scales=[4, 8, 12])
    # Iterative hydrology ops expressed as genuinely-computed recursive
    # CTEs: D8 accumulation is an acyclic pointer-chain walk;
    # tiled fill is the minimax fixpoint (label-correcting relaxation
    # with a straight-line running-max bound pruning the frontier).
    o["d8_flow_accum"] = oracles.d8_flow_accum_sql(GRID_ROWS, GRID_COLS)
    o["fill_depressions_tiled"] = oracles.fill_minimax_sql(
        GRID_ROWS, GRID_COLS)
    o["breach_tiled"] = oracles.breach_minimax_sql(GRID_ROWS, GRID_COLS)
    # Heap replays + FD8: invariant oracles (genuine counts / minimax
    # CTE / headwater sets / arithmetic bounds + spec zeros + golden
    # replay scalars); per-cell golden parity in tests/test_hydrology.py.
    o["hydro_invariants"] = _hydro_inv_oracle_sql({
        "fill": oracles.fill_invariants_sql(GRID_ROWS, GRID_COLS),
        "fd8": oracles.fd8_invariants_sql(GRID_ROWS, GRID_COLS),
        "breach": oracles.breach_complete_invariants_sql(
            GRID_ROWS, GRID_COLS, n_changed=1696, n_lowered=1288,
            n_raised=408),
        "breach_constrained": oracles.breach_constrained_invariants_sql(
            GRID_ROWS, GRID_COLS, max_depth=2.0, max_length=10,
            n_changed=3431),
        "breach_streams": oracles.breach_streams_invariants_sql(
            GRID_ROWS, GRID_COLS, n_changed=1709, n_lowered=1269,
            n_raised=440),
    })
    o["geotiff_tags"] = oracles.geotiff_tags_golden_sql()
    o["read_geotiff"] = _fmt_golden_sql()
    fm64 = synthetic_dem_sql(64, 64)
    o["read_rasters"] = "\nUNION ALL\n".join(
        f"SELECT *, '{fmt}' AS fmt FROM ({sql})"
        for fmt, sql in [("whitebox", _fmt_golden_sql()),
                         ("idrisi", _fmt_golden_sql()),
                         ("arcgis_ascii", fm64),
                         ("arcgis_binary", fm64),
                         ("grass", fm64)])
    o["read_las"] = _LAS_ORACLE
    return o
