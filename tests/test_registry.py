"""Tool registry API surface (mirrors gospatial.py list_tools /
tool_args / run_tool)."""

import numpy as np

from go_spatial_spark import registry
from go_spatial_spark.grid import NODATA, RasterMeta, synthetic_dem, \
    synthetic_dem_numpy
from tests.test_kernels import golden_slope


def test_list_tools():
    names = [n for n, _ in registry.list_tools()]
    assert "Slope" in names and "FillDepressions" in names
    assert names == sorted(names)


def test_tool_args():
    assert "input grid" in registry.tool_args("slope")[0]


def test_run_tool_progress_and_prefix_match(spark):
    rows, cols = 20, 20
    meta = RasterMeta(rows=rows, cols=cols)
    dem = synthetic_dem(spark, rows, cols)
    seen = []
    out = registry.run_tool(spark, "slo", dem, meta,
                            progress=seen.append, tile=8)
    pdf = out.toPandas()
    arr = np.full((rows, cols), NODATA)
    arr[pdf["row"], pdf["col"]] = pdf["slope"]
    want = golden_slope(synthetic_dem_numpy(rows, cols), 8.0)
    assert np.array_equal(arr, want)
    assert seen == [0, 100]


def test_elev_pct_distributed_maps_match_numpy(spark):
    """The distributed 10k-bin prep must be bit-identical to the NumPy
    prep (same f64 expressions, only the histogram crosses the wire)."""
    from go_spatial_spark.operators import window_stats as WS
    rows, cols = 30, 30
    dem = synthetic_dem(spark, rows, cols)
    dem_np = synthetic_dem_numpy(rows, cols)
    want = WS.elevation_percentile_maps(dem_np, NODATA, 10)
    got = WS.elevation_percentile_maps_distributed(dem, NODATA, 10)
    assert got[0] == want[0] and got[1] == want[1]
    assert np.array_equal(got[2], want[2])
    assert np.array_equal(got[3], want[3])


def _oracle_df(sql):
    import duckdb
    con = duckdb.connect()
    try:
        return con.sql(sql).df()
    finally:
        con.close()


def test_dev_radius_wider_than_tile_matches_oracle(spark):
    """A radius above the tile size widens the tool's tile (run_stencil
    fetches halo strips from adjacent tiles only)."""
    from go_spatial_spark import oracles
    rows, cols, r = 40, 37, 20
    meta = RasterMeta(rows=rows, cols=cols)
    got = registry.run_tool(spark, "DeviationFromMean",
                            synthetic_dem(spark, rows, cols), meta, r=r,
                            tile=16).toPandas()
    want = _oracle_df(oracles.dev_from_mean_sql(rows, cols, r))
    got = got.sort_values(["row", "col"]).reset_index(drop=True)
    want = want.sort_values(["row", "col"]).reset_index(drop=True)
    assert len(got) == len(want) == int((synthetic_dem_numpy(rows, cols)
                                         != NODATA).sum())
    assert np.array_equal(got["dev"].to_numpy(), want["dev"].to_numpy())


def test_quantiles_flat_raster(spark):
    """A flat raster has ceil(max - min) = 0: the bin size takes
    ElevationPercentile's guard, and every cell lands in the top
    class, as in the oracle."""
    from pyspark.sql import functions as F
    from go_spatial_spark.operators.window_stats import quantiles_oracle_sql
    grid = spark.range(64).select(
        (F.col("id") / 8).cast("int").alias("row"),
        (F.col("id") % 8).cast("int").alias("col"),
        F.lit(5.0).alias("value"))
    got = registry.run_tool(spark, "Quantiles", grid,
                            RasterMeta(rows=8, cols=8), num_bins=5).toPandas()
    want = _oracle_df(quantiles_oracle_sql(
        "SELECT (i // 8)::INT AS row, (i % 8)::INT AS col, 5.0::DOUBLE "
        "AS value FROM range(0, 64) t(i)", num_bins=5))
    got = got.sort_values(["row", "col"]).reset_index(drop=True)
    want = want.sort_values(["row", "col"]).reset_index(drop=True)
    assert (got["quantile"] == 5).all() and len(got) == 64
    assert np.array_equal(got["quantile"].to_numpy(),
                          want["quantile"].to_numpy())


def test_diff_from_mean_edge_shapes(spark):
    """DifferenceFromMean on row bands of tile^2 // cols rows against the
    DuckDB cascade-of-windows oracle, bit for bit: several bands, a
    radius above the band height, one band, one-row bands on a 5 x 3
    grid, and whole grid rows of NoData (the first and last included)."""
    from pyspark.sql import functions as F
    from go_spatial_spark.grid import synthetic_dem_sql
    from go_spatial_spark.operators.window_stats import (
        diff_from_mean_oracle_sql)
    for rows, cols, r, tile, gone in (
            (40, 37, 3, 18, ()),      # band 8
            (40, 37, 10, 18, ()),     # r > band
            (33, 29, 16, 11, ()),     # band 4, r = 4 bands
            (37, 45, 3, 256, ()),     # one band
            (5, 3, 1, 1, ()),         # band 1
            (40, 37, 3, 18, (0, 5, 6, 7, 39))):
        dem = synthetic_dem(spark, rows, cols)
        dem_sql = synthetic_dem_sql(rows, cols)
        if gone:
            dem = dem.where(~F.col("row").isin(*gone))
            dem_sql = (f"SELECT * FROM ({dem_sql}) "
                       f"WHERE row NOT IN {tuple(gone)}")
        got = registry.run_tool(spark, "DifferenceFromMean", dem,
                                RasterMeta(rows=rows, cols=cols), r=r,
                                tile=tile).toPandas()
        want = _oracle_df(diff_from_mean_oracle_sql(dem_sql, rows, cols, r))
        got = got.sort_values(["row", "col"]).reset_index(drop=True)
        want = want.sort_values(["row", "col"]).reset_index(drop=True)
        case = (rows, cols, r, tile, gone)
        assert len(got) == len(want) > 0, case
        assert np.array_equal(got[["row", "col"]].to_numpy(),
                              want[["row", "col"]].to_numpy()), case
        assert np.array_equal(got["diff"].to_numpy(),
                              want["diff"].to_numpy()), case
