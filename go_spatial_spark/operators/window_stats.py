"""Global- and window-statistics operators: Quantiles (histogram-
approximated ntile), DifferenceFromMean (fixed-point integral image on
full-width row bands), ElevationPercentile (integral histogram),
MaximumElevationDeviation (every scale's DEV in one stencil).

Quantiles reproduces tools/quantiles.go:163-280, with the flat-raster
guard of ElevationPercentile on the range:
  valueRange = max(ceil(max - min), 1); binSize = valueRange / 10000
  bin = min(floor((z - min)/binSize), 9999)
  cdf[bin] = 100 * cumulative_count / n
  class = floor(cdf / (100/numBins)), clamped to numBins-1; output +1

The 10k-bin histogram is a fixed-size aggregate: groupBy(bin).count()
shuffles 10k rows regardless of input scale, the bin->class map is
built driver-side (NumPy, identical float ops) and broadcast back —
the same two-pass shape the reference uses, distributed.
"""

from __future__ import annotations

import math
from dataclasses import replace

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from go_spatial_spark.kernels import (
    _window_sum, _without_grid_row0_col0, deviation_from_mean_kernel)

HIGH_RES_BINS = 10000


def quantiles(grid: DataFrame, num_bins: int = 5,
              value_col: str = "value") -> DataFrame:
    spark = grid.sparkSession
    mn, mx, n = grid.agg(
        F.min(value_col), F.max(value_col), F.count(value_col)).first()
    value_range = max(math.ceil(mx - mn), 1)  # flat-raster guard, as
    bin_size = value_range / float(HIGH_RES_BINS)  # ElevationPercentile

    binned = grid.withColumn(
        "bin",
        F.least(F.floor((F.col(value_col) - F.lit(mn)) / F.lit(bin_size)),
                F.lit(HIGH_RES_BINS - 1)))
    hist = binned.groupBy("bin").count().toPandas()

    counts = np.zeros(HIGH_RES_BINS, dtype=np.int64)
    counts[hist["bin"].to_numpy(dtype=np.int64)] = hist["count"].to_numpy()
    cum = counts.cumsum()
    cdf = 100.0 * cum.astype(np.float64) / float(n)
    qp = 100.0 / float(num_bins)
    cls = np.floor(cdf / qp).astype(np.int64)
    cls[cls == num_bins] = num_bins - 1

    import pandas as pd
    mapping = spark.createDataFrame(
        pd.DataFrame({"bin": np.arange(HIGH_RES_BINS, dtype=np.int64),
                      "quantile": (cls + 1).astype(np.int32)}))
    return (binned.join(F.broadcast(mapping), "bin")
            .select("row", "col", "quantile"))


def quantiles_oracle_sql(dem_sql: str, num_bins: int = 5) -> str:
    return f"""
    WITH dem AS ({dem_sql}),
    s AS (SELECT min(value) AS mn, max(value) AS mx,
                 count(*) AS n FROM dem),
    bz AS (SELECT mn, n, greatest(ceil(mx - mn), 1)
                 / {float(HIGH_RES_BINS)} AS bs FROM s),
    b AS (SELECT row, col,
                 least(CAST(floor((value - mn) / bs) AS BIGINT),
                       {HIGH_RES_BINS - 1}) AS bin
          FROM dem, bz),
    h AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
    cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cumc FROM h),
    cls AS (SELECT bin,
              CAST(CASE WHEN floor((100.0 * cumc / n) / (100.0 / {num_bins}))
                             = {num_bins}
                        THEN {num_bins - 1}
                        ELSE floor((100.0 * cumc / n) / (100.0 / {num_bins}))
                   END AS INT) + 1 AS quantile
            FROM cum, bz)
    SELECT b.row, b.col, cls.quantile FROM b JOIN cls USING (bin)
    """


# ---------------------------------------------------------------------------
# DifferenceFromMean — differenceFromMean.go:174-340
# ---------------------------------------------------------------------------
# The reference builds a *fixed-point* integral image: per-row float
# prefix sums of (z-k)*100 are truncated to uint64 per cell, then
# accumulated down columns as integers (differenceFromMean.go:210-226).
# The truncation depends on the absolute row prefix from column 0, so
# the operator is NOT halo-computable on tiles, only on full-width rows.

def diff_from_mean_band(z: np.ndarray, valid: np.ndarray, first: int,
                        lo: int, hi: int, r: int, k: float) -> np.ndarray:
    """DifferenceFromMean of grid rows lo..hi-1, given the values ``z``
    and present-cell mask ``valid`` of the full-width grid rows
    first..first+len(z)-1 (the band's rows and every row within r of
    them). Window corners use the reference's clamped indices
    (y1 = clamp(row-r-1, 0) etc.), so grid row 0 and col 0 never
    contribute. 0.0 where the window is empty."""
    m, cols = z.shape
    zz = np.where(valid, (z - k) * 100.0, 0.0)
    fixed = np.floor(np.cumsum(zz, axis=1)).astype(np.int64)  # sequential
    cnt = np.cumsum(valid, axis=1, dtype=np.int64)
    c = np.arange(cols)
    x2, x1 = np.minimum(c + r, cols - 1), np.maximum(c - r - 1, 0)
    # exclusive prefixes down the band: P[i] sums band rows < i
    P = np.zeros((2, m + 1, cols), dtype=np.int64)
    P[0, 1:] = np.cumsum(fixed[:, x2] - fixed[:, x1], axis=0)
    P[1, 1:] = np.cumsum(cnt[:, x2] - cnt[:, x1], axis=0)
    y = np.arange(lo, hi)
    s, n = P[:, np.minimum(y + r, first + m - 1) - first + 1] \
        - P[:, np.maximum(y - r - 1, 0) - first + 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        out = (z[lo - first:hi - first] - k) \
            - (s.astype(np.float64) / 100.0) / n.astype(np.float64)
    return np.where(n > 0, out, 0.0)


def diff_from_mean(grid: DataFrame, rows: int, cols: int, r: int = 8,
                   tile: int = 256) -> DataFrame:
    """One pass over row bands of max(1, tile^2 // cols) rows: k =
    min(value) from one aggregate, an explode in the JVM sends each
    cell to every band within r rows of it, and one Arrow task per
    band runs `diff_from_mean_band`. A task holds about tile^2 cells
    plus 2r halo rows of ``cols`` cells, ~100 bytes each in NumPy."""
    k = grid.agg(F.min("value")).first()[0]
    band = max(1, tile * tile // cols)

    def run(key, table):
        lo = key[0].as_py() * band
        hi = min(lo + band, rows)
        first = max(lo - r, 0)
        z = np.zeros((min(hi + r, rows) - first, cols))
        valid = np.zeros(z.shape, dtype=bool)
        at = (table.column("row").to_numpy() - first,
              table.column("col").to_numpy())
        z[at] = table.column("value").to_numpy()
        valid[at] = True
        out = diff_from_mean_band(z, valid, first, lo, hi, r, k)
        oy, ox = np.nonzero(valid[lo - first:hi - first])
        return pa.table({"row": pa.array((oy + lo).astype(np.int32)),
                         "col": pa.array(ox.astype(np.int32)),
                         "diff": pa.array(out[oy, ox])})

    def to_band(off):
        return F.floor((F.col("row") + off) / band).cast("int")
    return (grid.select("row", "col", "value", F.explode(F.sequence(
        F.greatest(to_band(-r), F.lit(0)),
        F.least(to_band(r), F.lit((rows - 1) // band)))).alias("band"))
        .groupBy("band")
        .applyInArrow(run, schema="row int, col int, diff double"))


def diff_from_mean_oracle_sql(dem_sql: str, rows: int, cols: int,
                              r: int = 8) -> str:
    """DuckDB oracle: the fixed-point integral image as two cascaded
    window functions over the dense grid, then four corner joins."""
    return f"""
    WITH dem AS MATERIALIZED ({dem_sql}),
    k AS (SELECT min(value) AS kv FROM dem),
    grid AS (SELECT (i // {cols})::INT AS row, (i % {cols})::INT AS col
             FROM range(0, {rows * cols}) t(i)),
    cells AS (
      SELECT g.row, g.col, d.value,
             CASE WHEN d.value IS NULL THEN 0.0
                  ELSE (d.value - (SELECT kv FROM k)) * 100.0 END AS zz,
             CASE WHEN d.value IS NULL THEN 0 ELSE 1 END AS vc
      FROM grid g LEFT JOIN dem d ON d.row = g.row AND d.col = g.col),
    pre AS (
      SELECT row, col, value, vc,
             SUM(zz) OVER (PARTITION BY row ORDER BY col
                           ROWS UNBOUNDED PRECEDING) AS rowpre,
             SUM(vc) OVER (PARTITION BY row ORDER BY col
                           ROWS UNBOUNDED PRECEDING) AS rowcnt
      FROM cells),
    ii AS (
      SELECT row, col, value,
             SUM(CAST(floor(rowpre) AS BIGINT))
               OVER (PARTITION BY col ORDER BY row
                     ROWS UNBOUNDED PRECEDING) AS I,
             SUM(rowcnt) OVER (PARTITION BY col ORDER BY row
                               ROWS UNBOUNDED PRECEDING) AS N2
      FROM pre),
    corners AS (
      SELECT c.row, c.col, c.value,
             a.I AS ia, b.I AS ib, cc.I AS ic, d.I AS id,
             a.N2 AS na, b.N2 AS nb, cc.N2 AS nc, d.N2 AS nd
      FROM (SELECT * FROM ii WHERE value IS NOT NULL) c
      JOIN ii a ON a.row = least(c.row + {r}, {rows - 1})
               AND a.col = least(c.col + {r}, {cols - 1})
      JOIN ii b ON b.row = greatest(least(c.row - {r} - 1, {rows - 1}), 0)
               AND b.col = greatest(least(c.col - {r} - 1, {cols - 1}), 0)
      JOIN ii cc ON cc.row = greatest(least(c.row - {r} - 1, {rows - 1}), 0)
                AND cc.col = least(c.col + {r}, {cols - 1})
      JOIN ii d ON d.row = least(c.row + {r}, {rows - 1})
               AND d.col = greatest(least(c.col - {r} - 1, {cols - 1}), 0)
    )
    SELECT row, col,
           CASE WHEN (na + nb - nc - nd) > 0
                THEN (value - (SELECT kv FROM k))
                     - (CAST(ia + ib - ic - id AS DOUBLE) / 100.0)
                       / CAST(na + nb - nc - nd AS DOUBLE)
                ELSE 0.0 END AS diff
    FROM corners
    """


# ---------------------------------------------------------------------------
# ElevationPercentile — elevationPercentile.go:195-453
# ---------------------------------------------------------------------------

def elevation_percentile_maps(dem: np.ndarray, nodata: float,
                              num_bins: int):
    """Global equal-frequency coarse-bin maps
    (elevationPercentile.go:243-265): sequential scan over the 10k-bin
    histogram. Returns (min, bin_size, bin_num_map, val_prob_map)."""
    valid = dem != nodata
    mn = dem[valid].min()
    mx = dem[valid].max()
    # flat raster (range 0) guard: clamp to 1 so bin_size > 0 and every
    # cell lands in bin 0 — consistently with the distributed path
    # (where floor(x/0)=NULL would silently lump cells into the LAST bin)
    value_range = max(math.ceil(mx - mn), 1)
    bin_size = value_range / float(HIGH_RES_BINS)
    idx = np.floor((dem[valid] - mn) / bin_size).astype(np.int64)
    idx[idx >= HIGH_RES_BINS] = HIGH_RES_BINS - 1
    histo = np.bincount(idx, minlength=HIGH_RES_BINS).astype(np.int64)
    return _maps_from_histo(float(mn), bin_size, histo, num_bins)


def elevation_percentile_maps_distributed(grid: DataFrame, nodata: float,
                                          num_bins: int):
    """Same maps from a long-form grid DataFrame without ever pulling
    cells to the driver: min/max and the 10k-bin histogram are Spark
    aggregations (one partial-agg shuffle of <= 10k rows); only the
    bounded histogram is collected, so the prep scales to any grid.
    Bit-identical to the NumPy path (same f64 expressions)."""
    v = grid.where(F.col("value") != nodata)
    mn, mx = v.agg(F.min("value"), F.max("value")).first()
    value_range = max(math.ceil(mx - mn), 1)  # flat-raster guard (see
    bin_size = value_range / float(HIGH_RES_BINS)  # NumPy twin above)
    idx = F.floor((F.col("value") - F.lit(mn)) / F.lit(bin_size)) \
        .cast("long")
    idx = F.least(idx, F.lit(HIGH_RES_BINS - 1))
    hist_rows = (v.select(idx.alias("bin")).groupBy("bin").count()
                 .collect())
    histo = np.zeros(HIGH_RES_BINS, dtype=np.int64)
    for r in hist_rows:
        histo[int(r["bin"])] = int(r["count"])
    return _maps_from_histo(float(mn), bin_size, histo, num_bins)


def _maps_from_histo(mn: float, bin_size: float, histo: np.ndarray,
                     num_bins: int):
    """The sequential 10k-bin scan shared by both prep paths."""
    n_valid = int(histo.sum())
    qp = n_valid // num_bins  # uint32 integer division in the reference
    bin_num = np.zeros(HIGH_RES_BINS, dtype=np.int64)
    bin_total = np.zeros(num_bins, dtype=np.int64)
    val_prob = np.zeros(HIGH_RES_BINS, dtype=np.float64)
    running = 0
    b = 0
    for i in range(HIGH_RES_BINS):
        running += histo[i]
        if running > qp and b < num_bins - 1:
            b += 1
            running = histo[i]
        bin_num[i] = b
        bin_total[b] += histo[i]
        val_prob[i] = float(running)
    # empty-bin semantics: a coarse bin with zero total (all-flat
    # rasters concentrate every cell in one high-res bin) contributes
    # NaN probabilities that the percentile kernel never reads (no
    # cell maps into an empty bin) — divide only where defined instead
    # of letting NumPy emit a RuntimeWarning future readers must
    # re-triage
    denom = bin_total[bin_num].astype(np.float64)
    val_prob = np.divide(val_prob, denom,
                         out=np.full_like(val_prob, np.nan),
                         where=denom > 0)
    return float(mn), float(bin_size), bin_num, val_prob


def elevation_percentile_kernel(padded: np.ndarray, halo: int, ctx):
    """Per-tile integral histogram over coarse bins; percentile =
    100*(numLess + valProb[j]*g[bin])/N (elevationPercentile.go:398-422).
    The clamped-prefix quirk == grid row 0 / col 0 excluded (see
    kernels._without_grid_row0_col0)."""
    nodata = ctx.meta.nodata
    r = int(ctx.extra["r"])
    mn = ctx.extra["mn"]
    bin_size = ctx.extra["bin_size"]
    bin_num = ctx.extra["bin_num"]
    val_prob = ctx.extra["val_prob"]
    num_bins = int(ctx.extra["num_bins"])

    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo
    c = padded[halo:halo + h, halo:halo + w]

    work = _without_grid_row0_col0(padded, halo, ctx)
    valid = work != nodata
    with np.errstate(invalid="ignore"):
        jv = np.floor((work - mn) / bin_size)
    jv = np.where(valid, jv, 0).astype(np.int64)
    jv[jv >= HIGH_RES_BINS] = HIGH_RES_BINS - 1
    coarse = np.where(valid, bin_num[jv], -1)

    H, W = work.shape
    g = np.zeros((num_bins, h, w), dtype=np.int64)
    for b in range(num_bins):
        plane = (coarse == b).astype(np.int64)
        I = np.zeros((H + 1, W + 1), dtype=np.int64)
        I[1:, 1:] = plane.cumsum(0).cumsum(1)
        g[b] = _window_sum(I, halo, h, w, r)

    # center high-res bin / coarse bin (computed on the *unmasked* z)
    cv = c != nodata
    with np.errstate(invalid="ignore"):
        jc = np.floor((c - mn) / bin_size)
    jc = np.where(cv, jc, 0).astype(np.int64)
    jc[jc >= HIGH_RES_BINS] = HIGH_RES_BINS - 1
    bc = bin_num[jc]

    N = g.sum(axis=0).astype(np.float64)
    cum = np.concatenate([np.zeros((1, h, w), dtype=np.int64),
                          np.cumsum(g, axis=0)], axis=0)
    num_less = np.take_along_axis(cum, bc[None, :, :], axis=0)[0]
    g_bin = np.take_along_axis(g, bc[None, :, :], axis=0)[0]
    vp = val_prob[jc]
    with np.errstate(divide="ignore", invalid="ignore"):
        pct = 100.0 * (num_less.astype(np.float64)
                       + vp * g_bin.astype(np.float64)) / N
    out = np.where(cv & (N > 0), pct, ctx.meta.nodata)
    return out


def elevation_percentile_oracle_sql(dem_sql: str, rows: int, cols: int,
                                    r: int, dem_np: np.ndarray,
                                    nodata: float, num_bins: int) -> str:
    """Oracle with the global coarse-bin maps inlined as VALUES (the
    sequential bin scan is not SQL-expressible; the maps are derived
    deterministically from the same synthetic DEM in NumPy)."""
    mn, bin_size, bin_num, val_prob = elevation_percentile_maps(
        dem_np, nodata, num_bins)
    # string->double cast: DuckDB types bare float literals as DECIMAL,
    # and wide decimals lose a ulp converting via int128/10^scale
    vals = ", ".join(
        f"({i}, {int(bin_num[i])}, CAST('{val_prob[i]!r}' AS DOUBLE))"
        for i in range(HIGH_RES_BINS))
    return f"""
    WITH dem AS MATERIALIZED ({dem_sql}),
    maps(j, bin_num, val_prob) AS (VALUES {vals}),
    binned AS (
      SELECT d.row, d.col, d.value,
             least(CAST(floor((d.value - CAST('{mn!r}' AS DOUBLE)) / CAST('{bin_size!r}' AS DOUBLE)) AS BIGINT),
                   {HIGH_RES_BINS - 1}) AS j
      FROM dem d),
    bm AS (
      SELECT b.row, b.col, b.value, b.j, m.bin_num AS cb, m.val_prob AS vp
      FROM binned b JOIN maps m ON m.j = b.j),
    win AS (
      SELECT c.row, c.col, c.vp, c.cb,
             count(n.row) AS N,
             sum(CASE WHEN n.cb < c.cb THEN 1 ELSE 0 END) AS num_less,
             sum(CASE WHEN n.cb = c.cb THEN 1 ELSE 0 END) AS g_bin
      FROM bm c
      LEFT JOIN bm n
        ON n.row BETWEEN greatest(c.row - {r}, 1) AND c.row + {r}
       AND n.col BETWEEN greatest(c.col - {r}, 1) AND c.col + {r}
      GROUP BY c.row, c.col, c.vp, c.cb)
    SELECT row, col,
           100.0 * (CAST(num_less AS DOUBLE)
                    + vp * CAST(g_bin AS DOUBLE)) / CAST(N AS DOUBLE)
             AS percentile
    FROM win WHERE N > 0
    """


# ---------------------------------------------------------------------------
# MaximumElevationDeviation — maximumElevationDeviation.go:269-621
# ---------------------------------------------------------------------------

def max_elev_deviation_kernel(padded: np.ndarray, halo: int, ctx):
    """Multiscale DEV on one tile at halo max(scales): for each scale r,
    ascending, DEV of the block cropped to halo r (the very input a
    halo-r stencil gives the DEV kernel), keeping the max |DEV| and its
    scale (strict >, so the smallest scale wins ties — reference
    :408-424). Returns the signed magnitude and scale planes."""
    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo
    best = scale = None
    for r in sorted(ctx.extra["scales"]):
        dev = deviation_from_mean_kernel(
            padded[halo - r:halo + h + r, halo - r:halo + w + r], r,
            replace(ctx, extra={**ctx.extra, "r": r}))
        if best is None:
            best, scale = dev, np.full(dev.shape, float(r))
            continue
        wins = np.abs(dev) > np.abs(best)
        best, scale = np.where(wins, dev, best), np.where(wins, r, scale)
    return np.stack([best, scale])


def max_elev_deviation_oracle_sql(dev_sql_for_scale, scales: list[int]) -> str:
    """dev_sql_for_scale(r) -> the DEV oracle SQL for radius r."""
    unions = " UNION ALL ".join(
        f"SELECT row, col, dev, {r} AS scale FROM ({dev_sql_for_scale(r)})"
        for r in scales)
    return f"""
    WITH alls AS ({unions}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY row, col ORDER BY abs(dev) DESC, scale ASC) AS rn
      FROM alls)
    SELECT row, col, dev AS max_dev, scale FROM ranked WHERE rn = 1
    """


def hillshade_display_trim(shade: DataFrame,
                           value_col: str = "value") -> DataFrame:
    """Display min/max trim at the 1% histogram tails
    (hillshade.go:196-313): 256-bin global histogram of the shade
    values, targetCellNum = int(numCells * 0.01), newMin = first bin
    ascending whose cumulative count reaches the target, newMax = first
    bin descending. The reference iterates all 256 bins including empty
    ones (a zero target stops at bin 0 / bin 255), so the histogram is
    densified with a range(256) left join before the cumulative
    windows. Pure Catalyst: groupBy(bin).count() + 256-row window sums
    — the window is a single tiny partition by construction.

    Returns one row (new_min double, new_max double); the reference
    applies them to the raster display config only when
    newMax > newMin, never to cell values.
    """
    from pyspark.sql.window import Window

    spark = shade.sparkSession
    bins = spark.range(0, 256).select(F.col("id").cast("int").alias("bin"))
    h = (shade.select(F.col(value_col).cast("int").alias("bin"))
         .groupBy("bin").agg(F.count("*").alias("cnt")))
    full = (bins.join(h, "bin", "left")
            .select("bin", F.coalesce("cnt", F.lit(0)).alias("cnt")))
    w_asc = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0)
    w_desc = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    g = (full
         .withColumn("target",
                     F.floor(F.sum("cnt").over(w_all).cast("double") * 0.01))
         .withColumn("cum_asc", F.sum("cnt").over(w_asc))
         .withColumn("cum_desc", F.sum("cnt").over(w_desc)))
    return g.agg(
        F.min(F.when(F.col("cum_asc") >= F.col("target"), F.col("bin")))
        .cast("double").alias("new_min"),
        F.max(F.when(F.col("cum_desc") >= F.col("target"), F.col("bin")))
        .cast("double").alias("new_max"))
