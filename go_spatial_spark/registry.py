"""Tool registry — the engine's user-facing API surface, mirroring the
reference's Python scripting layer (gospatial.py:47-153: list_tools /
tool_help / tool_args / run_tool with a progress callback) and the
PluginTool registry (tools/pluginManager.go:31-85).

Unlike the reference (subprocess + stdout protocol), tools here are
native DataFrame transforms: ``run_tool(spark, name, args)`` returns a
DataFrame, composable with everything else in the session.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_spatial_spark.grid import (
    RasterMeta, long_to_tiles, run_stencil, synthetic_dem, tiles_to_long,
)
from go_spatial_spark import kernels
from go_spatial_spark.operators import window_stats as WS


@dataclass
class Tool:
    name: str
    description: str
    arg_descriptions: list[str]
    fn: Callable[..., DataFrame]
    defaults: dict = field(default_factory=dict)


_REGISTRY: dict[str, Tool] = {}


def register(tool: Tool) -> None:
    _REGISTRY[tool.name.lower()] = tool


def list_tools() -> list[tuple[str, str]]:
    """(name, description) pairs, sorted — go-spatial.go:234-249."""
    return sorted((t.name, t.description) for t in _REGISTRY.values())


def tool_args(name: str) -> list[str]:
    return _REGISTRY[name.lower()].arg_descriptions


def run_tool(spark: SparkSession, name: str, grid: DataFrame,
             meta: RasterMeta, progress: Callable[[int], None] | None = None,
             **kwargs) -> DataFrame:
    """Run a registered tool on a long-form grid. ``progress`` mirrors
    the reference's %-progress callback protocol (gospatial.py:128-142);
    with lazy DataFrames we report plan-built (0) and returned (100)."""
    key = name.lower()
    if key not in _REGISTRY:
        # truncate-match like pluginManager.go:110-121
        matches = [k for k in _REGISTRY if k.startswith(key)]
        if len(matches) != 1:
            raise KeyError(f"unknown tool {name!r}; known: {sorted(_REGISTRY)}")
        key = matches[0]
    if progress:
        progress(0)
    out = _REGISTRY[key].fn(spark, grid, meta, **kwargs)
    if progress:
        progress(100)
    return out


def _stencil_tool(kernel, halo, out_col, defaults=None, prep=None):
    """``kernel`` as one stencil; ctx.extra: ``defaults``, the call's
    arguments and ``prep(grid, meta, extra)``. The halo is the widest of
    ``halo``, rx, ry, r and scales; the tile widens to it if needed."""
    def fn(spark, grid, meta, tile: int = 256, **kw):
        extra = {**(defaults or {}), **kw}
        h = max([halo, *extra.get("scales", ())]
                + [int(extra[k]) for k in ("rx", "ry", "r") if k in extra])
        if prep:
            extra.update(prep(grid, meta, extra))
        tile = max(tile, h)
        out = run_stencil(long_to_tiles(grid, meta, tile=tile), meta, kernel,
                          halo=h, tile=tile, ctx_extra=extra or None)
        return tiles_to_long(out, meta, tile=tile, value_col=out_col)
    return fn


def _mid_range(grid, meta, extra):
    """k of the DEV family: the mid-range of the values."""
    mn, mx = grid.agg(F.min("value"), F.max("value")).first()
    return {"k": mn + (mx - mn) / 2.0}


def _elev_pct_maps(grid, meta, extra):
    """ElevationPercentile's maps: only the 10k-bin histogram is collected."""
    mn, bs, bn, vp = WS.elevation_percentile_maps_distributed(
        grid, meta.nodata, int(extra["num_bins"]))
    return {"mn": mn, "bin_size": bs, "bin_num": bn, "val_prob": vp}


def _register_builtins() -> None:
    register(Tool("Slope", "Calculates slope gradient from a DEM (degrees)",
                  ["input grid", "output grid"],
                  _stencil_tool(kernels.slope_kernel, 1, "slope")))
    register(Tool("Aspect", "Calculates aspect (slope orientation) from a DEM",
                  ["input grid", "output grid"],
                  _stencil_tool(kernels.aspect_kernel, 1, "aspect")))
    register(Tool("Hillshade", "Calculates hillshade from a DEM",
                  ["input grid", "output grid"],
                  _stencil_tool(kernels.hillshade_kernel, 1, "shade")))
    register(Tool("MeanFilter", "Smooths a grid with an X-by-Y box mean",
                  ["input grid", "output grid", "filter x", "filter y"],
                  _stencil_tool(kernels.mean_filter_kernel, 1, "mean_val",
                                {"rx": 1, "ry": 1})))
    register(Tool("FillSmallNodataHoles",
                  "Fills single-cell NoData gaps (two-pass)",
                  ["input grid", "output grid"],
                  _stencil_tool(kernels.fill_small_nodata_holes_kernel, 2,
                                "value")))

    register(Tool("DeviationFromMean",
                  "Deviation from mean elevation (windowed z-score)",
                  ["input grid", "output grid", "neighbourhood size"],
                  _stencil_tool(kernels.deviation_from_mean_kernel, 0, "dev",
                                {"r": 8}, _mid_range)))

    def _quant(spark, grid, meta, num_bins: int = 5, **kw):
        return WS.quantiles(grid, num_bins=num_bins)
    register(Tool("Quantiles", "Transforms values into quantile classes",
                  ["input grid", "output grid", "number of bins"], _quant))

    def _fill(spark, grid, meta, fix_flats: bool = True, **kw):
        from go_spatial_spark.operators.hydrology import fill_depressions
        return fill_depressions(grid, meta, fix_flats=fix_flats)
    register(Tool("FillDepressions",
                  "Fills depressions in a DEM (priority-flood)",
                  ["input DEM", "output DEM", "fix flats"], _fill))

    def _d8(spark, grid, meta, tile: int = 256, **kw):
        from go_spatial_spark.operators.hydrology import d8_flow_accum
        return d8_flow_accum(long_to_tiles(grid, meta, tile=tile), meta,
                             tile=tile)
    register(Tool("D8FlowAccumulation",
                  "D8 flow accumulation (upstream cell counts)",
                  ["input DEM", "output grid"], _d8))

    def _fd8(spark, grid, meta, tile: int = 256, **kw):
        from go_spatial_spark.operators.hydrology import fd8_flow_accum
        return fd8_flow_accum(long_to_tiles(grid, meta, tile=tile), meta,
                              tile=tile)
    register(Tool("FD8FlowAccum",
                  "FD8 multiple-flow-direction accumulation",
                  ["input DEM", "output grid"], _fd8))

    def _breach(spark, grid, meta, max_depth: float = -1.0,
                max_length: int = -1, constrained: bool = False,
                post_breach_fill: bool = False, **kw):
        from go_spatial_spark.operators.hydrology import breach_depressions
        return breach_depressions(grid, meta, max_depth=max_depth,
                                  max_length=max_length,
                                  constrained=constrained,
                                  post_breach_fill=post_breach_fill)
    register(Tool("BreachDepressions",
                  "Breaches depressions in a DEM (least-cost carving; "
                  "optional MaxDepth/MaxLength constraints, constrained "
                  "outlet lowering, post-breach filling)",
                  ["input DEM", "output DEM", "max depth", "max length",
                   "constrained breaching", "post-breach filling"],
                  _breach))

    def _breach_streams(spark, grid, meta, streams: DataFrame = None, **kw):
        from go_spatial_spark.operators.hydrology import breach_streams
        if streams is None:
            raise ValueError("BreachStreams needs streams= grid")
        return breach_streams(grid, streams, meta)
    register(Tool("BreachStreams",
                  "Carves a stream network into a DEM "
                  "(unregistered in the reference: breachStreams.go)",
                  ["input DEM", "input streams", "output DEM"],
                  _breach_streams))

    def _diff_mean(spark, grid, meta, r: int = 8, tile: int = 256, **kw):
        return WS.diff_from_mean(grid, meta.rows, meta.cols, r=r, tile=tile)
    register(Tool("DifferenceFromMean",
                  "Difference from mean elevation (windowed)",
                  ["input grid", "output grid", "neighbourhood size"],
                  _diff_mean))

    register(Tool("DeviationFromMeanTraditional",
                  "DEV over the full window, zero unless it holds more "
                  "than two cells (the reference's brute-force variant; "
                  "unregistered in the reference)",
                  ["input grid", "output grid", "neighbourhood size"],
                  _stencil_tool(kernels.dev_from_mean_traditional_kernel, 0,
                                "dev", {"r": 8}, _mid_range)))

    register(Tool("ElevationPercentile",
                  "Local elevation percentile (integral histogram)",
                  ["input grid", "output grid", "neighbourhood size",
                   "number of bins"],
                  _stencil_tool(WS.elevation_percentile_kernel, 0,
                                "percentile", {"r": 5, "num_bins": 10},
                                _elev_pct_maps)))

    # the reference's r = min..max step loop (:355) in one stencil
    max_dev = _stencil_tool(WS.max_elev_deviation_kernel, 0,
                            ("max_dev", "scale"), {"scales": (4, 8, 12)},
                            _mid_range)
    register(Tool("MaximumElevationDeviation",
                  "Multiscale max |DEV| + scale raster",
                  ["input grid", "output magnitude", "output scale",
                   "min scale", "max scale", "step"],
                  lambda *a, **kw: max_dev(*a, **kw).withColumn(
                      "scale", F.col("scale").cast("int"))))

    def _wb2gt(spark, grid, meta, input_file: str = None,
               output_file: str = None, **kw):
        from go_spatial_spark.sources.raster_io import whitebox_to_geotiff
        if not input_file or not output_file:
            raise ValueError("Whitebox2GeoTiff needs input_file=/output_file=")
        whitebox_to_geotiff(spark, input_file, output_file)
        from go_spatial_spark.sources.raster_io import read_geotiff
        _meta, df = read_geotiff(spark, output_file)
        return df
    register(Tool("Whitebox2GeoTiff",
                  "Converts a Whitebox .dep/.tas raster to GeoTIFF",
                  ["input file", "output file"], _wb2gt))

    def _gt_tags(spark, grid, meta, input_file: str = None, **kw):
        from go_spatial_spark.sources.raster_io import geotiff_tags
        if not input_file:
            raise ValueError("PrintGeoTiffTags needs input_file=")
        return geotiff_tags(spark, input_file)
    register(Tool("PrintGeoTiffTags", "Prints a GeoTIFF's tag table",
                  ["input file"], _gt_tags))

    def _las_info(spark, grid, meta, input_file: str = None, **kw):
        from go_spatial_spark.sources.raster_io import las_info
        if not input_file:
            raise ValueError("PrintLASInfo needs input_file=")
        return las_info(spark, input_file)
    register(Tool("PrintLASInfo", "Prints a LAS file's header summary",
                  ["input file"], _las_info))

    def _hs_trim(spark, grid, meta, tile: int = 256, **kw):
        shade = run_stencil(long_to_tiles(grid, meta, tile=tile), meta,
                            kernels.hillshade_kernel, halo=1, tile=tile,
                            output="long")
        return WS.hillshade_display_trim(shade)
    register(Tool("HillshadeDisplayTrim",
                  "Hillshade display min/max at 1% histogram tails",
                  ["input DEM", "output (new_min,new_max)"], _hs_trim))


_register_builtins()
