"""NumPy focal kernels (run inside `mapInPandas`/`applyInPandas` tiles).

Each kernel reproduces the *exact* floating-point expression order of the
cited reference tool so outputs are bit-comparable with straight-line
replays. All kernels are fully vectorized — no per-cell Python.

Neighbor numbering (reference convention, e.g. slope.go:198-199):
    dX = [ 1, 1, 1, 0, -1, -1, -1,  0]
    dY = [-1, 0, 1, 1,  1,  0, -1, -1]
so N0=NE, N1=E, N2=SE, N3=S, N4=SW, N5=W, N6=NW, N7=N.
"""

from __future__ import annotations

import numpy as np

DX = (1, 1, 1, 0, -1, -1, -1, 0)
DY = (-1, 0, 1, 1, 1, 0, -1, -1)
RAD_TO_DEG = 180.0 / np.pi
DEG_TO_RAD = np.pi / 180.0


def _neighbors(padded: np.ndarray, halo: int, nodata: float):
    """Return (center, [N0..N7]) views with NoData neighbors replaced by
    the center value (slope.go:208-215 convention)."""
    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo
    c = padded[halo:halo + h, halo:halo + w]
    out = []
    for dx, dy in zip(DX, DY):
        n = padded[halo + dy:halo + dy + h, halo + dx:halo + dx + w]
        out.append(np.where(n != nodata, n, c))
    return c, out


def _gradients(c, N, eight_grid_res):
    """Horn 3rd-order finite differences (slope.go:216-217)."""
    fy = (N[6] - N[4] + 2 * (N[7] - N[3]) + N[0] - N[2]) / eight_grid_res
    fx = (N[2] - N[4] + 2 * (N[1] - N[5]) + N[0] - N[6]) / eight_grid_res
    return fy, fx


def _scaled_neighbors(padded: np.ndarray, halo: int, ctx):
    """(mask-center, scaled neighbors): applies the geographic
    z-conversion factor (slope.go:168-175, 207-215 — z and every zN
    are multiplied by zConvFactor before the gradient; a NoData
    neighbor takes the already-scaled center). Identity for projected
    grids (factor 1)."""
    c, N = _neighbors(padded, halo, ctx.meta.nodata)
    zf = ctx.meta.z_conv_factor
    if zf != 1.0:
        N = [n * zf for n in N]
    return c, N


def slope_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """Slope in degrees (slope.go:196-226); geographic grids get the
    zConvFactor elevation scaling (slope.go:168-175)."""
    nodata = ctx.meta.nodata
    c, N = _scaled_neighbors(padded, halo, ctx)
    fy, fx = _gradients(c, N, 8.0 * ctx.meta.mean_cellsize)
    with np.errstate(invalid="ignore"):
        out = np.arctan(np.sqrt(fx * fx + fy * fy)) * RAD_TO_DEG
    return np.where(c != nodata, out, nodata)


def aspect_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """Aspect in degrees; -1 where fx==0 (aspect.go:219-227);
    geographic zConvFactor per aspect.go:170-175."""
    nodata = ctx.meta.nodata
    c, N = _scaled_neighbors(padded, halo, ctx)
    fy, fx = _gradients(c, N, 8.0 * ctx.meta.mean_cellsize)
    with np.errstate(divide="ignore", invalid="ignore"):
        val = 180.0 - np.arctan(fy / fx) * RAD_TO_DEG + 90.0 * (fx / np.abs(fx))
    out = np.where(fx != 0.0, val, -1.0)
    return np.where(c != nodata, out, nodata)


def hillshade_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """Hillshade, azimuth 315 / altitude 30 hard-coded
    (hillshade.go:137-140, 229-247); geographic zConvFactor per
    hillshade.go:175-180."""
    nodata = ctx.meta.nodata
    azimuth = (315.0 - 90.0) * DEG_TO_RAD
    altitude = 30.0 * DEG_TO_RAD
    sin_theta = np.sin(altitude)
    cos_theta = np.cos(altitude)
    c, N = _scaled_neighbors(padded, halo, ctx)
    fy, fx = _gradients(c, N, 8.0 * ctx.meta.mean_cellsize)
    with np.errstate(divide="ignore", invalid="ignore"):
        tan_slope = np.sqrt(fx * fx + fy * fy)
        aspect = (180.0 - np.arctan(fy / fx) * RAD_TO_DEG
                  + 90.0 * (fx / np.abs(fx))) * DEG_TO_RAD
        term1 = tan_slope / np.sqrt(1 + tan_slope * tan_slope)
        term2 = sin_theta / tan_slope
        term3 = cos_theta * np.sin(azimuth - aspect)
        z = term1 * (term2 - term3)
    z = np.where(fx != 0.0, z, 0.5)
    value = np.floor(z * 255)
    value = np.where(value < 0, 0.0, value)
    return np.where(c != nodata, value, nodata)


def _box_integrals(padded: np.ndarray, halo: int, nodata: float, k: float = 0.0):
    """Exclusive-prefix integral images of (z-k), (z-k)^2 and valid count
    over the padded block (deviationFromMean.go:196-239 structure)."""
    valid = padded != nodata
    zz = np.where(valid, padded - k, 0.0)
    H, W = padded.shape
    I = np.zeros((H + 1, W + 1), dtype=np.float64)
    I2 = np.zeros((H + 1, W + 1), dtype=np.float64)
    IN = np.zeros((H + 1, W + 1), dtype=np.int64)
    I[1:, 1:] = zz.cumsum(0).cumsum(1)
    I2[1:, 1:] = (zz * zz).cumsum(0).cumsum(1)
    IN[1:, 1:] = valid.astype(np.int64).cumsum(0).cumsum(1)
    return I, I2, IN


def _window_sum(I: np.ndarray, halo: int, h: int, w: int, r: int):
    """Sum over [row-r, row+r] x [col-r, col+r] for every center cell of
    the (h, w) block, using the exclusive-prefix integral image."""
    # center cell (i, j) is padded[(halo+i, halo+j)]; window rows
    # [halo+i-r, halo+i+r] -> I[halo+i+r+1] - I[halo+i-r]
    a = I[halo + r + 1:halo + r + 1 + h, halo + r + 1:halo + r + 1 + w]
    b = I[halo - r:halo - r + h, halo - r:halo - r + w]
    c = I[halo - r:halo - r + h, halo + r + 1:halo + r + 1 + w]
    d = I[halo + r + 1:halo + r + 1 + h, halo - r:halo - r + w]
    return a + b - c - d


def mean_filter_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """NoData-aware box mean (meanFilter.go:252-294). ctx.extra:
    rx, ry (half-sizes). halo must be >= max(rx, ry)."""
    nodata = ctx.meta.nodata
    rx = int(ctx.extra.get("rx", 1))
    ry = int(ctx.extra.get("ry", 1))
    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo
    c = padded[halo:halo + h, halo:halo + w]
    valid = padded != nodata
    zz = np.where(valid, padded, 0.0)
    H, W = padded.shape
    I = np.zeros((H + 1, W + 1), dtype=np.float64)
    IN = np.zeros((H + 1, W + 1), dtype=np.int64)
    I[1:, 1:] = zz.cumsum(0).cumsum(1)
    IN[1:, 1:] = valid.astype(np.int64).cumsum(0).cumsum(1)

    def win(M, r_row, r_col):
        a = M[halo + r_row + 1:halo + r_row + 1 + h, halo + r_col + 1:halo + r_col + 1 + w]
        b = M[halo - r_row:halo - r_row + h, halo - r_col:halo - r_col + w]
        cc = M[halo - r_row:halo - r_row + h, halo + r_col + 1:halo + r_col + 1 + w]
        d = M[halo + r_row + 1:halo + r_row + 1 + h, halo - r_col:halo - r_col + w]
        return a + b - cc - d

    total = win(I, ry, rx)
    num = win(IN, ry, rx)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = total / num.astype(np.float64)
    out = np.where((c != nodata) & (num > 0), mean, nodata)
    return out


def _dev_window(padded: np.ndarray, work: np.ndarray, halo: int, ctx,
                min_n: int) -> np.ndarray:
    """DEV of the centre cells of ``padded`` over their windows in
    ``work``; 0 where a window holds ``min_n`` or fewer valid cells or
    its variance is not positive."""
    nodata = ctx.meta.nodata
    r = int(ctx.extra["r"])
    k = float(ctx.extra["k"])
    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo
    c = padded[halo:halo + h, halo:halo + w]
    I, I2, IN = _box_integrals(work, halo, nodata, k)
    s = _window_sum(I, halo, h, w, r)
    s2 = _window_sum(I2, halo, h, w, r)
    n = _window_sum(IN, halo, h, w, r).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        v = (s2 - (s * s) / n) / n
        mean = s / n
        dev = ((c - k) - mean) / np.sqrt(v)
    out = np.where((n > min_n) & (v > 0), dev, 0.0)
    return np.where(c != nodata, out, nodata)


def _without_grid_row0_col0(padded: np.ndarray, halo: int, ctx):
    """``padded`` with grid row 0 and col 0 NoData: the reference's
    clamped exclusive prefix (y1 = clamp(row-r-1, 0) -> rows y1+1..y2)
    leaves them out of every window."""
    work = padded.copy()
    i0, j0 = halo - ctx.row0, halo - ctx.col0
    if 0 <= i0 < padded.shape[0]:
        work[i0, :] = ctx.meta.nodata
    if 0 <= j0 < padded.shape[1]:
        work[:, j0] = ctx.meta.nodata
    return work


def deviation_from_mean_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """DEV = ((z-k) - mean) / stdev over a (2r+1)^2 window
    (deviationFromMean.go:300-330), including the reference's
    integral-image edge quirk: grid row 0 and col 0 never contribute.
    ctx.extra: r, k."""
    return _dev_window(padded, _without_grid_row0_col0(padded, halo, ctx),
                       halo, ctx, 0)


def dev_from_mean_traditional_kernel(padded: np.ndarray, halo: int,
                                     ctx) -> np.ndarray:
    """DeviationFromMeanTraditional (deviationFromMeanTraditionalMethod.go
    :174-299): DEV over the FULL window, grid row 0 and col 0 included,
    and 0 unless the window holds more than two valid cells (:227-252,
    ``if n > 2 { v = (sumSqr - sum*sum/n)/n ... }``). ctx.extra: r, k."""
    return _dev_window(padded, padded, halo, ctx, 2)


def fill_small_nodata_holes_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """Two-pass single-width hole filling
    (fillSmallNodataHoles.go:168-205), including the reference quirk
    that global rows 0 and rows-1 come out all-NoData (pass 1 loops
    rows 1..rows-2 over an output initialized to NoData). Pass 2's
    left-to-right in-place scan is provably local (a fill at c requires
    rout[c] valid, so a filled cell is never the left neighbor of
    another fill) -> halo 2 suffices for one-shot evaluation."""
    nodata = ctx.meta.nodata
    rows = ctx.meta.rows
    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo

    # --- pass 1 (vertical, reads input) over padded interior (1-cell rim)
    p1 = np.full_like(padded, nodata)
    up = padded[:-2, 1:-1]
    dn = padded[2:, 1:-1]
    ce = padded[1:-1, 1:-1]
    fill = (ce == nodata) & (up != nodata) & (dn != nodata)
    p1[1:-1, 1:-1] = np.where(fill, (up + dn) / 2.0, np.where(ce != nodata, ce, nodata))
    # global row bounds: pass 1 only writes global rows 1..rows-2
    grow = np.arange(padded.shape[0]) + (ctx.row0 - halo)
    bad = (grow < 1) | (grow > rows - 2)
    p1[bad, :] = nodata

    # --- pass 2 (horizontal, reads pass-1 output)
    out = p1.copy()
    le = p1[:, :-2]
    ri = p1[:, 2:]
    ce2 = p1[:, 1:-1]
    fill2 = (ce2 == nodata) & (le != nodata) & (ri != nodata)
    out[:, 1:-1] = np.where(fill2, (le + ri) / 2.0, ce2)
    # pass 2 loops cols 1..cols-1: col 0 / last col never filled, but
    # they keep their pass-1 values (copy semantics) — already the case.
    return out[halo:halo + h, halo:halo + w]
