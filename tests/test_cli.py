"""Console/CLI front end (go-spatial.go:40-485 parity): informational
commands, REPL dispatch, and the file-in/file-out `run` path through
the extension-dispatch reader/writer."""

import numpy as np

from go_spatial_spark import registry
from go_spatial_spark.cli import Console, _split_tool_args, main
from go_spatial_spark.grid import (
    NODATA, RasterMeta, synthetic_dem, synthetic_dem_numpy,
)
from go_spatial_spark.sources.raster_io import read_raster, write_raster
from tests.test_kernels import golden_slope


def _console(spark=None):
    lines = []
    con = Console(spark=spark, out=lines.append)
    return con, lines


def test_info_commands():
    con, lines = _console()
    con.listtools()
    text = "\n".join(lines)
    assert "Slope" in text and "BreachDepressions" in text
    lines.clear()
    con.version()
    assert "version 0.1.1" in lines[0]
    lines.clear()
    con.rasterformats()
    assert any("GeoTiff" in ln for ln in lines)
    assert not any("Unknown" in ln for ln in lines)
    lines.clear()
    con.toolhelp("slo")  # truncate-match, pluginManager.go:110-121
    assert "Slope" in lines[0]
    lines.clear()
    con.toolhelp("nosuch")
    assert "Unrecognized tool name" in lines[0]


def test_repl_dispatch():
    con, lines = _console()
    assert con.dispatch("help")
    assert any(ln.startswith("run") for ln in lines)
    lines.clear()
    assert con.dispatch("bench")
    assert lines == ["Benchmark Mode = off"]
    assert con.dispatch("benchon") and con.bench_mode
    assert con.dispatch("nosuchcmd")
    assert any("unrecognized command" in ln for ln in lines)
    assert not con.dispatch("exit")


def test_split_tool_args():
    assert _split_tool_args('"a.dep;b.tif;3"') == ["a.dep", "b.tif", "3"]
    assert _split_tool_args("a.dep, b.tif") == ["a.dep", "b.tif"]
    assert _split_tool_args("") == []


def test_run_slope_file_roundtrip(spark, tmp_path):
    rows, cols = 20, 20
    meta = RasterMeta(rows=rows, cols=cols)
    dem = synthetic_dem(spark, rows, cols)
    in_path = str(tmp_path / "dem.dep")
    write_raster(dem, meta, in_path)

    con, lines = _console(spark)
    con.cwd = str(tmp_path) + "/"
    con.dispatch('run slope "dem.dep;out.tif"')
    assert any("Wrote" in ln for ln in lines)

    m2, out = read_raster(spark, str(tmp_path / "out.tif"))
    pdf = out.toPandas()
    arr = np.full((rows, cols), NODATA)
    arr[pdf["row"], pdf["col"]] = pdf["value"]
    want = golden_slope(synthetic_dem_numpy(rows, cols), 8.0)
    valid = want != NODATA
    assert np.allclose(arr[valid], want[valid], atol=1e-6)


def _run_slope_in_place(spark, tmp_path, name):
    """``run slope "<name>;<name>"``: the writer must not clobber the
    file its lazy input scan still reads, and leaves no part file."""
    rows, cols = 20, 20
    write_raster(synthetic_dem(spark, rows, cols),
                 RasterMeta(rows=rows, cols=cols), str(tmp_path / name))
    before = sorted(p.name for p in tmp_path.iterdir())
    con, lines = _console(spark)
    con.cwd = str(tmp_path) + "/"
    con.dispatch(f'run slope "{name};{name}"')
    assert any("Wrote" in ln for ln in lines)
    assert sorted(p.name for p in tmp_path.iterdir()) == before

    _, out = read_raster(spark, str(tmp_path / name))
    pdf = out.toPandas()
    arr = np.full((rows, cols), NODATA)
    arr[pdf["row"], pdf["col"]] = pdf["value"]
    want = golden_slope(synthetic_dem_numpy(rows, cols), 8.0)
    valid = want != NODATA
    assert np.allclose(arr[valid], want[valid], atol=1e-6)


def test_run_rewrites_tif_in_place(spark, tmp_path):
    _run_slope_in_place(spark, tmp_path, "dem.tif")


def test_run_rewrites_dep_in_place(spark, tmp_path):
    _run_slope_in_place(spark, tmp_path, "dem.dep")


def test_run_default_tif_extension(spark, tmp_path):
    rows, cols = 12, 12
    meta = RasterMeta(rows=rows, cols=cols)
    write_raster(synthetic_dem(spark, rows, cols), meta,
                 str(tmp_path / "dem.dep"))
    con, _ = _console(spark)
    con.cwd = str(tmp_path) + "/"
    con.run("hillshade", ["dem.dep", "shade"])  # no extension
    assert (tmp_path / "shade.tif").exists()  # meanFilter.go:98-101


def test_run_max_elev_deviation_writes_two_rasters(spark, tmp_path):
    """MaximumElevationDeviation takes input, magnitude and scale paths,
    then min/max/step, and writes max_dev and scale to their own files
    (maximumElevationDeviation.go:543-591)."""
    rows, cols = 24, 24
    meta = RasterMeta(rows=rows, cols=cols)
    grid = synthetic_dem(spark, rows, cols)
    write_raster(grid, meta, str(tmp_path / "dem.dep"))
    con, lines = _console(spark)
    con.cwd = str(tmp_path) + "/"
    con.dispatch('run MaximumElevationDeviation '
                 '"dem.dep;mag.tif;scale.tif;2;6;2"')
    assert sum("Wrote" in ln for ln in lines) == 2

    want = registry.run_tool(spark, "MaximumElevationDeviation", grid, meta,
                             scales=[2, 4, 6]).toPandas()
    for name, col in (("mag.tif", "max_dev"), ("scale.tif", "scale")):
        _, out = read_raster(spark, str(tmp_path / name))
        pdf = out.toPandas()
        got = np.full((rows, cols), NODATA)
        got[pdf["row"], pdf["col"]] = pdf["value"]
        exp = np.full((rows, cols), NODATA)
        exp[want["row"], want["col"]] = want[col]
        assert np.array_equal(got, exp)
    assert set(np.unique(exp[exp != NODATA])) == {2.0, 4.0, 6.0}


def test_main_flags(capsys):
    assert main(["-listtools"]) == 0
    out = capsys.readouterr().out
    assert "Slope" in out
    assert main(["-toolargs", "MeanFilter"]) == 0
    out = capsys.readouterr().out
    assert "filter x" in out


def test_run_error_handling(spark):
    """Missing args / missing input keep the console alive with the
    reference-style messages (no IndexError / FileNotFoundError)."""
    con, lines = _console(spark)
    assert con.run("slope", []) is None
    assert any("arguments not specified" in ln for ln in lines)
    lines.clear()
    assert con.run("slope", ["/nope/missing.dep", "/tmp/out.tif"]) is None
    assert any("no such file or directory" in ln for ln in lines)
    lines.clear()
    assert con.dispatch("run slope")  # REPL path, no args at all
    assert any("arguments not specified" in ln for ln in lines)


def test_run_grid_tool_without_output(spark, tmp_path):
    """A grid tool needs its input and one output path per raster it
    writes; the input alone prints the console's message instead of
    reaching the writer with an empty path."""
    write_raster(synthetic_dem(spark, 8, 8), RasterMeta(rows=8, cols=8),
                 str(tmp_path / "dem.dep"))
    con, lines = _console(spark)
    con.cwd = str(tmp_path) + "/"
    for args in (["dem.dep"], ["dem.dep", " "]):
        lines.clear()
        assert con.run("slope", args) is None
        assert any("arguments not specified" in ln for ln in lines)
    lines.clear()
    assert con.run("MaximumElevationDeviation", ["dem.dep", "mag.tif"]) \
        is None
    assert any("arguments not specified" in ln for ln in lines)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["dem.dep",
                                                          "dem.tas"]


def test_meanfilter_y_defaults_to_x():
    """meanFilter.go:115: filterSizeY defaults to filterSizeX."""
    from go_spatial_spark.cli import _EXTRA_ARGS
    f = _EXTRA_ARGS["meanfilter"]
    assert f(["7"]) == {"rx": 3, "ry": 3}
    assert f(["7", "3"]) == {"rx": 3, "ry": 1}
    assert f([]) == {"rx": 1, "ry": 1}
    assert f(["1"]) == {"rx": 0, "ry": 0}


def test_elevation_percentile_flat_raster(spark):
    """Flat raster (range 0): both prep paths agree (bin 0, no NULL
    lumping into the last bin) instead of diverging."""
    from go_spatial_spark.operators import window_stats as WS
    flat = np.full((10, 10), 5.0)
    mn, bs, bn, vp = WS.elevation_percentile_maps(flat, NODATA, 10)
    assert bs > 0
    from pyspark.sql import functions as F
    grid = spark.range(100).select(
        (F.col("id") / 10).cast("int").alias("row"),
        (F.col("id") % 10).cast("int").alias("col"),
        F.lit(5.0).alias("value"))
    mn2, bs2, bn2, vp2 = WS.elevation_percentile_maps_distributed(
        grid, NODATA, 10)
    assert (mn, bs) == (mn2, bs2)
    assert np.array_equal(bn, bn2)
    # val_prob is NaN on never-occupied high-res bins (0/0) in BOTH
    # paths — the maps are only ever indexed at occupied bins
    assert np.array_equal(vp, vp2, equal_nan=True)
