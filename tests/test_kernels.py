"""Golden parity: tiled Spark kernels vs straight-line per-cell replicas
of the cited Go algorithms (exact float64 equality, reference-test style
— rasterFormat_test.go asserts exact golden cells).
"""

import math

import numpy as np
import pytest

from go_spatial_spark.grid import (
    NODATA, RasterMeta, long_to_tiles, run_stencil, synthetic_dem,
    synthetic_dem_numpy, tiles_to_long,
)
from go_spatial_spark import kernels

DX = kernels.DX
DY = kernels.DY
R2D = 180.0 / math.pi
D2R = math.pi / 180.0


def _val(arr, r, c):
    if 0 <= r < arr.shape[0] and 0 <= c < arr.shape[1]:
        return arr[r, c]
    return NODATA


def _grad(arr, row, col, eight_g):
    z = arr[row, col]
    N = [0.0] * 8
    for n in range(8):
        zn = _val(arr, row + DY[n], col + DX[n])
        N[n] = zn if zn != NODATA else z
    fy = (N[6] - N[4] + 2 * (N[7] - N[3]) + N[0] - N[2]) / eight_g
    fx = (N[2] - N[4] + 2 * (N[1] - N[5]) + N[0] - N[6]) / eight_g
    return fy, fx


def golden_slope(arr, eight_g):
    """slope.go:196-226, straight-line."""
    out = np.full_like(arr, NODATA)
    for row in range(arr.shape[0]):
        for col in range(arr.shape[1]):
            if arr[row, col] == NODATA:
                continue
            fy, fx = _grad(arr, row, col, eight_g)
            out[row, col] = np.arctan(math.sqrt(fx * fx + fy * fy)) * R2D
    return out


def golden_aspect(arr, eight_g):
    """aspect.go:198-234."""
    out = np.full_like(arr, NODATA)
    for row in range(arr.shape[0]):
        for col in range(arr.shape[1]):
            if arr[row, col] == NODATA:
                continue
            fy, fx = _grad(arr, row, col, eight_g)
            if fx != 0:
                out[row, col] = 180 - np.arctan(fy / fx) * R2D + 90 * (fx / abs(fx))
            else:
                out[row, col] = -1.0
    return out


def golden_hillshade(arr, eight_g):
    """hillshade.go:211-251."""
    azimuth = (315.0 - 90.0) * D2R
    altitude = 30.0 * D2R
    sin_t, cos_t = np.sin(altitude), math.cos(altitude)
    out = np.full_like(arr, NODATA)
    for row in range(arr.shape[0]):
        for col in range(arr.shape[1]):
            if arr[row, col] == NODATA:
                continue
            fy, fx = _grad(arr, row, col, eight_g)
            if fx != 0:
                tan_s = math.sqrt(fx * fx + fy * fy)
                aspect = (180 - np.arctan(fy / fx) * R2D + 90 * (fx / abs(fx))) * D2R
                t1 = tan_s / math.sqrt(1 + tan_s * tan_s)
                t2 = sin_t / tan_s
                t3 = cos_t * np.sin(azimuth - aspect)
                z = t1 * (t2 - t3)
            else:
                z = 0.5
            v = math.floor(z * 255)
            out[row, col] = 0.0 if v < 0 else v
    return out


def golden_mean_filter(arr, rx, ry):
    """meanFilter.go:252-294."""
    out = np.full_like(arr, NODATA)
    for row in range(arr.shape[0]):
        for col in range(arr.shape[1]):
            if arr[row, col] == NODATA:
                continue
            total, num = 0.0, 0
            for dy in range(-ry, ry + 1):
                for dx in range(-rx, rx + 1):
                    zn = _val(arr, row + dy, col + dx)
                    if zn != NODATA:
                        total += zn
                        num += 1
            if num > 0:
                out[row, col] = total / num
    return out


def golden_dev(arr, r):
    """deviationFromMean.go:300-330 semantics via its integral-image
    window algebra: clamped exclusive prefixes mean grid row 0 / col 0
    never contribute to any window."""
    valid = arr != NODATA
    mn, mx = arr[valid].min(), arr[valid].max()
    k = mn + (mx - mn) / 2.0
    rows, cols = arr.shape
    out = np.full_like(arr, NODATA)
    for row in range(rows):
        for col in range(cols):
            if not valid[row, col]:
                continue
            y1, y2 = max(row - r, 1), min(row + r, rows - 1)
            x1, x2 = max(col - r, 1), min(col + r, cols - 1)
            s = s2 = 0.0
            n = 0
            for rr in range(y1, y2 + 1):
                for cc in range(x1, x2 + 1):
                    if valid[rr, cc]:
                        zz = arr[rr, cc] - k
                        s += zz
                        s2 += zz * zz
                        n += 1
            if n > 0:
                v = (s2 - (s * s) / n) / n
                if v > 0:
                    out[row, col] = ((arr[row, col] - k) - mean_of(s, n)) / math.sqrt(v)
                else:
                    out[row, col] = 0.0
            else:
                out[row, col] = 0.0
    return out


def mean_of(s, n):
    return s / n


def golden_fill_holes(arr):
    """fillSmallNodataHoles.go:168-205, straight-line two passes."""
    rows, cols = arr.shape
    rout = np.full_like(arr, NODATA)
    for row in range(1, rows - 1):
        for col in range(cols):
            z = arr[row, col]
            if z == NODATA:
                z1, z2 = arr[row - 1, col], arr[row + 1, col]
                if z1 != NODATA and z2 != NODATA:
                    rout[row, col] = (z1 + z2) / 2.0
            else:
                rout[row, col] = z
    for row in range(rows):
        for col in range(1, cols - 1):
            if rout[row, col] == NODATA:
                z1, z2 = rout[row, col - 1], rout[row, col + 1]
                if z1 != NODATA and z2 != NODATA:
                    rout[row, col] = (z1 + z2) / 2.0
    return rout


def _run(spark, kernel, rows, cols, tile, halo, ctx_extra=None):
    meta = RasterMeta(rows=rows, cols=cols)
    dem = synthetic_dem(spark, rows, cols)
    tiles = long_to_tiles(dem, meta, tile=tile)
    out = run_stencil(tiles, meta, kernel, halo=halo, tile=tile,
                      ctx_extra=ctx_extra)
    pdf = tiles_to_long(out, meta, tile=tile).toPandas()
    arr = np.full((rows, cols), NODATA, dtype=np.float64)
    arr[pdf["row"].to_numpy(), pdf["col"].to_numpy()] = pdf["value"].to_numpy()
    return arr


ROWS, COLS, TILE = 31, 29, 8  # non-divisible tiling on purpose


@pytest.fixture(scope="module")
def dem_np():
    return synthetic_dem_numpy(ROWS, COLS)


def test_slope_golden(spark, dem_np):
    got = _run(spark, kernels.slope_kernel, ROWS, COLS, TILE, 1)
    want = golden_slope(dem_np, 8.0 * 1.0)
    assert np.array_equal(got, want)


def test_aspect_golden(spark, dem_np):
    got = _run(spark, kernels.aspect_kernel, ROWS, COLS, TILE, 1)
    want = golden_aspect(dem_np, 8.0 * 1.0)
    assert np.array_equal(got, want)


def test_hillshade_golden(spark, dem_np):
    got = _run(spark, kernels.hillshade_kernel, ROWS, COLS, TILE, 1)
    want = golden_hillshade(dem_np, 8.0 * 1.0)
    assert np.array_equal(got, want)


def test_mean_filter_golden(spark, dem_np):
    got = _run(spark, kernels.mean_filter_kernel, ROWS, COLS, TILE, 3,
               ctx_extra={"rx": 3, "ry": 2})
    want = golden_mean_filter(dem_np, 3, 2)
    assert np.array_equal(got, want)


def test_dev_golden(spark, dem_np):
    valid = dem_np != NODATA
    mn, mx = dem_np[valid].min(), dem_np[valid].max()
    k = mn + (mx - mn) / 2.0
    got = _run(spark, kernels.deviation_from_mean_kernel, ROWS, COLS, TILE, 4,
               ctx_extra={"r": 4, "k": k})
    want = golden_dev(dem_np, 4)
    assert np.array_equal(got, want)


def test_fill_holes_golden(spark, dem_np):
    got = _run(spark, kernels.fill_small_nodata_holes_kernel,
               ROWS, COLS, TILE, 2)
    want = golden_fill_holes(dem_np)
    assert np.array_equal(got, want)


def test_dev_traditional_literal_golden(spark, dem_np):
    """The DeviationFromMeanTraditional tool must match the reference
    tool's semantics (deviationFromMeanTraditionalMethod.go:227-252):
    FULL window including global row/col 0, population variance,
    output zeroed when n <= 2 or v <= 0 — checked against an
    independent NumPy window scan (different loop order, same f64
    arithmetic)."""
    from go_spatial_spark import registry

    r = 3
    valid = dem_np != NODATA
    mn, mx = dem_np[valid].min(), dem_np[valid].max()
    k = mn + (mx - mn) / 2.0

    want = np.zeros_like(dem_np)
    R, C = dem_np.shape
    for row in range(R):
        for col in range(C):
            z = dem_np[row, col]
            if z == NODATA:
                continue
            y1, y2 = max(0, row - r), min(R - 1, row + r)
            x1, x2 = max(0, col - r), min(C - 1, col + r)
            win = dem_np[y1:y2 + 1, x1:x2 + 1]
            wv = win[win != NODATA] - k
            n = wv.size
            if n > 2:
                s1, s2 = wv.sum(), (wv * wv).sum()
                v = (s2 - (s1 * s1) / n) / n
                if v > 0:
                    want[row, col] = ((z - k) - s1 / n) / np.sqrt(v)

    dem = synthetic_dem(spark, ROWS, COLS)
    got_rows = registry.run_tool(spark, "DeviationFromMeanTraditional", dem,
                                 RasterMeta(rows=ROWS, cols=COLS), r=r,
                                 tile=TILE).collect()
    got = np.zeros_like(dem_np)
    for rr in got_rows:
        got[rr.row, rr.col] = rr.dev
    # the first row/col band contributes (DeviationFromMean excludes
    # it) and the n<=2 zeros apply
    assert np.allclose(got, want, rtol=0, atol=0), \
        np.argwhere(got != want)[:5]
