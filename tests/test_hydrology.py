"""Hydrology golden parity: Spark paths vs exact NumPy replays of the
Go algorithms (fillDepressions.go, d8FlowAccumulation.go)."""

import numpy as np
import pytest

from go_spatial_spark.grid import (
    NODATA, TILE_SCHEMA, RasterMeta, long_to_tiles, run_stencil,
    synthetic_dem, synthetic_dem_numpy, tiles_to_long,
)
from go_spatial_spark.operators import hydrology as H

ROWS, COLS, TILE = 40, 37, 16
META = RasterMeta(rows=ROWS, cols=COLS)


def _collect(df, col, rows=ROWS, cols=COLS):
    pdf = df.toPandas()
    arr = np.full((rows, cols), NODATA, dtype=np.float64)
    arr[pdf["row"].to_numpy(), pdf["col"].to_numpy()] = pdf[col].to_numpy()
    return arr


def test_fill_depressions_exact(spark):
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = H.fill_depressions_np(dem_np, fix_flats=True)
    got = _collect(
        H.fill_depressions(synthetic_dem(spark, ROWS, COLS), META), "filled")
    assert np.array_equal(got, want)
    # sanity: the synthetic surface actually has depressions
    valid = dem_np != NODATA
    assert (want[valid] > dem_np[valid]).sum() > 10


def test_fill_depressions_monotone():
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    filled = H.fill_depressions_np(dem_np, fix_flats=True)
    valid = dem_np != NODATA
    assert np.all(filled[valid] >= dem_np[valid])


def test_d8_pointer_kernel(spark):
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = H.d8_pointer_np(dem_np, META)
    want = np.where(want < 0, NODATA, want)
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META, tile=TILE)
    got = _collect(tiles_to_long(
        run_stencil(tiles, META, H.d8_pointer_kernel, halo=1, tile=TILE),
        META, tile=TILE), "value")
    assert np.array_equal(got, want)


def test_d8_flow_accum_distributed(spark):
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = H.d8_accum_np(dem_np, META)
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META, tile=TILE)
    got = _collect(H.d8_flow_accum(tiles, META, tile=TILE), "accum")
    assert np.array_equal(got, want)
    # mass conservation: every valid cell drains to exactly one
    # terminal cell, so terminal accumulations sum to the valid count
    valid = dem_np != NODATA
    sinks = (H.d8_pointer_np(dem_np, META) == 0)
    assert got[sinks].sum() == valid.sum()


def _np_tiles(spark, dem, tile, keep_empty=True):
    """Tile form of a dense DEM; ``keep_empty=False`` leaves out tiles
    that hold only NoData, as a long-form source would."""
    recs = []
    for ty in range(-(-dem.shape[0] // tile)):
        for tx in range(-(-dem.shape[1] // tile)):
            a = np.ascontiguousarray(
                dem[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile])
            if keep_empty or (a != NODATA).any():
                recs.append((ty, tx, a.shape[0], a.shape[1], a.tobytes()))
    return spark.createDataFrame(recs, TILE_SCHEMA)


def _serpentine(rows, cols):
    """Channel rows joined at alternating ends by one cell, NoData
    between: one flow path snakes through every valid cell."""
    dem = np.full((rows, cols), NODATA)
    z = float(rows * cols)
    for i, r in enumerate(range(0, rows, 2)):
        cs = range(cols) if i % 2 == 0 else range(cols - 1, -1, -1)
        for c in cs:
            dem[r, c] = z
            z -= 1.0
        if r + 1 < rows:
            dem[r + 1, c] = z
            z -= 1.0
    return dem


def _nodata_tile_dem():
    dem = synthetic_dem_numpy(40, 37)
    dem[16:32, 16:32] = NODATA  # tile (1, 1) at tile 16
    return dem


def _tilted(rows, cols, seed=7):
    r = np.arange(rows, dtype=np.float64)[:, None]
    c = np.arange(cols, dtype=np.float64)[None, :]
    noise = np.random.default_rng(seed).integers(0, 8, (rows, cols)) / 64.0
    return 2.0 * (rows + cols) - r - 0.5 * c + noise


D8_EDGE_CASES = {
    "ragged_33x65_t16": (lambda: synthetic_dem_numpy(33, 65), 16, True),
    "tile1": (lambda: synthetic_dem_numpy(11, 13), 1, True),
    "tile2": (lambda: synthetic_dem_numpy(17, 15), 2, True),
    "tile_ge_raster": (lambda: synthetic_dem_numpy(20, 23), 32, True),
    "nodata_tile_present": (_nodata_tile_dem, 16, True),
    "nodata_tile_absent": (_nodata_tile_dem, 16, False),
    "tilted_64x40_t4": (lambda: _tilted(64, 40), 4, True),
    "serpentine_15x24_t4": (lambda: _serpentine(15, 24), 4, True),
}


@pytest.mark.parametrize("case", sorted(D8_EDGE_CASES))
def test_d8_flow_accum_edge_shapes(spark, case):
    make, tile, keep_empty = D8_EDGE_CASES[case]
    dem = make()
    rows, cols = dem.shape
    meta = RasterMeta(rows=rows, cols=cols)
    want = H.d8_accum_np(dem, meta)
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    cached = field.get(cm).size()
    acc = H.d8_flow_accum(_np_tiles(spark, dem, tile, keep_empty), meta,
                          tile=tile)
    got = _collect(acc, "accum", rows, cols)
    assert np.array_equal(got, want)
    assert field.get(cm).size() <= cached


def _cached_plans(spark):
    """CacheManager entries; an operator call must not add any."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def test_fd8_flow_accum_distributed(spark):
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = H.fd8_accum_np(dem_np)
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META, tile=TILE)
    cached = _cached_plans(spark)
    got = _collect(H.fd8_flow_accum(tiles, META, tile=TILE), "accum")
    assert _cached_plans(spark) <= cached
    valid = dem_np != NODATA
    # FD8 float sums are order-dependent across the tile boundary —
    # compare with tight tolerance (module docstring)
    assert np.allclose(got[valid], want[valid], rtol=1e-12, atol=1e-9)
    assert np.array_equal(got[~valid], want[~valid])


FD8_EDGE_CASES = {
    **D8_EDGE_CASES,
    # flow crosses 74 tile edges on its way down the strip
    "tilted_strip_3x150_t2": (lambda: _tilted(3, 150), 2, True),
}


@pytest.mark.parametrize("case", sorted(FD8_EDGE_CASES))
def test_fd8_flow_accum_edge_shapes(spark, case):
    make, tile, keep_empty = FD8_EDGE_CASES[case]
    dem = make()
    rows, cols = dem.shape
    meta = RasterMeta(rows=rows, cols=cols)
    want = H.fd8_accum_np(dem)
    cached = _cached_plans(spark)
    got = _collect(H.fd8_flow_accum(_np_tiles(spark, dem, tile, keep_empty),
                                    meta, tile=tile), "accum", rows, cols)
    assert _cached_plans(spark) <= cached
    valid = dem != NODATA
    assert np.allclose(got[valid], want[valid], rtol=1e-12, atol=1e-9)
    assert np.array_equal(got[~valid], want[~valid])


def test_fd8_job_count(spark):
    """FD8's perimeter solve takes a fixed number of Spark jobs, final
    collect included, however many tile edges its flow crosses."""
    sc = spark.sparkContext
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META, tile=TILE)
    sc.setJobGroup("fd8_jobs", "fd8_flow_accum")
    try:
        got = _collect(H.fd8_flow_accum(tiles, META, tile=TILE), "accum")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    valid = dem_np != NODATA
    assert np.allclose(got[valid], H.fd8_accum_np(dem_np)[valid],
                       rtol=1e-12, atol=1e-9)
    assert len(sc.statusTracker().getJobIdsForGroup("fd8_jobs")) <= 6


def _plain_fd8_landing(zpad, mass):
    """Where the flow of ``mass`` (tile cell -> amount) in a halo-1 padded
    block lands on its ring: each valid tile cell, taken by descending
    z, passes what it holds to its strictly lower valid neighbours in
    proportion to (z - zn)^2."""
    h, w = zpad.shape[0] - 2, zpad.shape[1] - 2
    held = dict(mass)
    cells = sorted(((r, c) for r in range(1, h + 1) for c in range(1, w + 1)
                    if zpad[r, c] != NODATA), key=lambda rc: -zpad[rc])
    landed = {}
    for r, c in cells:
        if (r, c) not in held:
            continue
        lower = [(r + dy, c + dx) for dy, dx in zip(H.DY, H.DX)
                 if NODATA != zpad[r + dy, c + dx] < zpad[r, c]]
        drops = [(zpad[r, c] - zpad[n]) ** 2 for n in lower]
        for n, d in zip(lower, drops):
            ring = not (1 <= n[0] <= h and 1 <= n[1] <= w)
            to = landed if ring else held
            to[n] = to.get(n, 0.0) + held[r, c] * d / sum(drops)
    return landed


@pytest.mark.parametrize("shape", [(1, 1), (2, 2), (29, 37)],
                         ids="{0[0]}x{0[1]}".format)
def test_fd8_transfer_rows_match_plain_sweep(shape):
    """FD8's pass-1 transfer map (`_fd8_boundary`) against a plain sweep
    per unit source: a unit fed at each inflow cell, one at a time, lands
    on the ring as the (p, L, M) rows say, and a unit at every valid cell
    as the (-1, L, base) rows say. Random tilted DEMs with NoData and many
    equal-height neighbours; at 29 x 37 the inflow cells that reach the
    ring fill more than one block of transfer columns."""
    from types import SimpleNamespace
    h, w = shape
    tile, cols = 32, 96
    for seed in range(6):
        rng = np.random.default_rng(seed)
        # a tilt to the east, so flow crosses the tile
        zpad = rng.integers(0, 4, (h + 2, w + 2)) - 3.0 * np.arange(w + 2)
        zpad[rng.random(zpad.shape) < 0.15] = NODATA
        t = SimpleNamespace(ty=1, tx=1, h=h, w=w, data=zpad.tobytes())

        def g(r, c):
            return (tile - 1 + r) * cols + tile - 1 + c
        valid = [(r, c) for r in range(1, h + 1) for c in range(1, w + 1)
                 if zpad[r, c] != NODATA]
        want = {(-1, g(*L)): m for L, m in
                _plain_fd8_landing(zpad, dict.fromkeys(valid, 1.0)).items()}
        for p in valid:
            if any(not (1 <= p[0] + dy <= h and 1 <= p[1] + dx <= w)
                   and zpad[p[0] + dy, p[1] + dx] > zpad[p]
                   for dy, dx in zip(H.DY, H.DX)):
                want.update({(g(*p), g(*L)): m for L, m in
                             _plain_fd8_landing(zpad, {p: 1.0}).items()})
        rel = H._fd8_boundary(t, tile, cols, NODATA)
        if h > 2:
            assert len({p for p, _ in want if p >= 0}) > H._FD8_BLOCK
        got = {(a, b): v for a, b, v in rel.itertuples(index=False)}
        assert len(got) == len(rel)  # each row once
        assert got.keys() == want.keys()
        assert np.allclose([got[k] for k in want], list(want.values()),
                           rtol=1e-12, atol=0)


def test_breach_depressions_removes_pits(spark):
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    assert H.count_interior_pits(dem_np) > 0
    want = H.breach_depressions_np(dem_np)
    assert H.count_interior_pits(want) == 0
    got = _collect(
        H.breach_depressions(synthetic_dem(spark, ROWS, COLS), META),
        "breached")
    assert np.array_equal(got, want)


def test_breach_streams_exact(spark):
    from pyspark.sql import functions as F
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    streams_np = H.synthetic_streams_numpy(ROWS, COLS)
    want = H.breach_streams_np(dem_np, streams_np)
    g = spark.range(ROWS * COLS).select(
        (F.col("id") / COLS).cast("int").alias("row"),
        (F.col("id") % COLS).cast("int").alias("col"))
    streams = g.where((F.col("row") == ROWS // 2)
                      | (F.col("col") == COLS // 2)
                      | (F.col("row") == F.col("col"))) \
        .withColumn("value", F.lit(1.0))
    got = _collect(H.breach_streams(
        synthetic_dem(spark, ROWS, COLS), streams, META), "breached")
    assert np.array_equal(got, want)


def golden_minimax_fill(dem, nodata=NODATA):
    """Independent global oracle: textbook Priority-Flood minimax
    spill (Barnes et al. 2014 semantics, epsilon=0)."""
    import heapq
    rows, cols = dem.shape
    valid = dem != nodata
    W = np.full_like(dem, np.inf)
    heap = []
    for r in range(rows):
        for c in range(cols):
            if not valid[r, c]:
                continue
            edge = any(
                not (0 <= r + H.DY[n] < rows and 0 <= c + H.DX[n] < cols)
                or dem[r + H.DY[n], c + H.DX[n]] == nodata
                for n in range(8))
            if edge:
                W[r, c] = dem[r, c]
                heapq.heappush(heap, (W[r, c], r, c))
    while heap:
        wv, r, c = heapq.heappop(heap)
        if wv > W[r, c]:
            continue
        for n in range(8):
            rn, cn = r + H.DY[n], c + H.DX[n]
            if 0 <= rn < rows and 0 <= cn < cols and valid[rn, cn]:
                cand = max(dem[rn, cn], wv)
                if cand < W[rn, cn]:
                    W[rn, cn] = cand
                    heapq.heappush(heap, (cand, rn, cn))
    return np.where(valid, W, nodata)


def test_fill_depressions_tiled_exact(spark):
    """Distributed tiled priority-flood == independent global minimax
    oracle, bit-exact. (The sequential reference replay deviates from
    minimax near edges due to its stale-zN seed-priority quirk — see
    fill_depressions_tiled docstring.)"""
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = golden_minimax_fill(dem_np)
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META, tile=TILE)
    cached = _cached_plans(spark)
    got = _collect(H.fill_depressions_tiled(tiles, META, tile=TILE),
                   "filled")
    assert np.array_equal(got, want)
    assert _cached_plans(spark) <= cached
    # filling is monotone and bounded by the global max
    valid = dem_np != NODATA
    assert np.all(got[valid] >= dem_np[valid])


def _corner_basin(n=12, tile=6):
    """A basin in the tile south-east of a four-tile corner whose only
    spill is the diagonal step across that corner into a channel that
    runs to the grid corner; everything else is a higher plateau."""
    dem = np.full((n, n), 9.0)
    dem[tile:tile + 3, tile:tile + 3] = 2.0
    dem[tile, tile] = 1.0
    dem[tile - 1, tile - 1] = 3.0  # the diagonal step
    for i in range(tile - 1):
        dem[i, i] = 1.5
    return dem


def _walled_plateau(rows=13, cols=17):
    """A flat plateau crossing tile edges inside a wall, with pits, and
    one gap in the wall as its only outlet below the wall height."""
    dem = np.full((rows, cols), 5.0)
    dem[[0, -1], :] = 9.0
    dem[:, [0, -1]] = 9.0
    dem[rows // 2, -1] = 6.0
    dem[3, 3] = dem[rows - 4, cols - 5] = 4.0
    return dem


FILL_EDGE_CASES = {
    **D8_EDGE_CASES,
    "corner_basin_12_t6": (_corner_basin, 6, True),
    "walled_plateau_13x17_t4": (_walled_plateau, 4, True),
}


@pytest.mark.parametrize("case", sorted(FILL_EDGE_CASES))
def test_fill_tiled_edge_shapes(spark, case):
    make, tile, keep_empty = FILL_EDGE_CASES[case]
    dem = make()
    rows, cols = dem.shape
    meta = RasterMeta(rows=rows, cols=cols)
    cached = _cached_plans(spark)
    got = _collect(H.fill_depressions_tiled(
        _np_tiles(spark, dem, tile, keep_empty), meta, tile=tile),
        "filled", rows, cols)
    assert np.array_equal(got, golden_minimax_fill(dem))
    assert _cached_plans(spark) <= cached


def test_fill_tiled_job_count(spark):
    """The label-graph solve takes a fixed number of Spark jobs, final
    collect included, however many tile edges a spill path crosses."""
    sc = spark.sparkContext
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META, tile=TILE)
    sc.setJobGroup("fill_tiled_jobs", "fill_depressions_tiled")
    try:
        got = _collect(H.fill_depressions_tiled(tiles, META, tile=TILE),
                       "filled")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert np.array_equal(
        got, golden_minimax_fill(synthetic_dem_numpy(ROWS, COLS)))
    assert len(sc.statusTracker().getJobIdsForGroup("fill_tiled_jobs")) <= 5


def test_breach_selective_nonbinding_equals_full():
    # a constraint that never binds must produce the complete-breach
    # output bit-exactly (shared queue/trace machinery cross-check);
    # same for constrained mode (breachDepressions.go:299-312 downgrade)
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    full = H.breach_depressions_np(dem_np)
    sel = H.breach_depressions_np(dem_np, max_depth=1e300)
    con = H.breach_depressions_np(dem_np, max_depth=1e300, constrained=True)
    assert np.array_equal(sel, full)
    assert np.array_equal(con, full)


def test_breach_selective_binding_leaves_pits_for_filling():
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    n0 = H.count_interior_pits(dem_np)
    assert n0 > 0
    # constraints tight enough that some pits can't be breached
    sel = H.breach_depressions_np(dem_np, max_depth=0.05, max_length=2)
    full = H.breach_depressions_np(dem_np)
    # selective never lowers below the full breach surface on carved
    # paths, and leaves at least one pit unsolved here
    assert H.count_interior_pits(sel) > 0
    assert H.count_interior_pits(full) == 0
    # post-breach fill raises cells only, and resolves (most) pits;
    # the reference's floodorder encode/decode quirk exempts the last
    # column, so compare against the unfilled selective output
    filled = H.breach_depressions_np(dem_np, max_depth=0.05, max_length=2,
                                     post_breach_fill=True)
    valid = dem_np != NODATA
    assert np.all(filled[valid] >= sel[valid])
    assert H.count_interior_pits(filled) < H.count_interior_pits(sel)


def test_breach_constrained_lowers_outlets():
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    sel = H.breach_depressions_np(dem_np, max_depth=0.05, max_length=2)
    con = H.breach_depressions_np(dem_np, max_depth=0.05, max_length=2,
                                  constrained=True)
    valid = dem_np != NODATA
    # conforming pits carve identically in both modes; non-conforming
    # pits additionally get their outlet lowered in constrained mode,
    # so constrained <= selective everywhere with strict improvement
    # somewhere
    assert np.all(con[valid] <= sel[valid] + 1e-12)
    assert (con[valid] < sel[valid] - 1e-12).any()


def test_breach_constrained_outlet_cut_depth():
    # crafted 1-D valley: pit behind a tall ridge; constrained breaching
    # with maxDepth=D must cut the ridge crest to outletHeight - D
    # (breachDepressions.go:702-731)
    rows, cols = 7, 9
    dem = np.full((rows, cols), 9.0)
    # river row with a pit at col 4, ridge at col 6, falling edge at col 8
    prof = [5.0, 4.0, 3.0, 2.0, 1.0, 6.0, 8.0, 3.0, 0.5]
    dem[3, :] = prof
    D = 2.0
    con = H.breach_depressions_np(dem, max_depth=D, max_length=1,
                                  constrained=True)
    ridge = con[3, 6]
    # outletHeight is the highest ORIGINAL cell on the breach path (8.0)
    assert abs(ridge - (8.0 - D)) < 1e-9


def test_breach_constrained_spark_matches_replay(spark):
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = H.breach_depressions_np(dem_np, max_depth=0.1, max_length=5,
                                   constrained=True, post_breach_fill=True)
    got = _collect(
        H.breach_depressions(synthetic_dem(spark, ROWS, COLS), META,
                             max_depth=0.1, max_length=5, constrained=True,
                             post_breach_fill=True), "breached")
    assert np.array_equal(got, want)


def _strict_pits(dem, nodata=NODATA):
    """Cells strictly below ALL 8 in-bounds valid neighbors, with no
    NoData/off-grid contact (the seeds breaching must eliminate)."""
    rows, cols = dem.shape
    n = 0
    for r in range(rows):
        for c in range(cols):
            z = dem[r, c]
            if z == nodata:
                continue
            pit = True
            for k in range(8):
                r2, c2 = r + H.DY[k], c + H.DX[k]
                if not (0 <= r2 < rows and 0 <= c2 < cols) or \
                        dem[r2, c2] == nodata or dem[r2, c2] <= z:
                    pit = False
                    break
            if pit:
                n += 1
    return n


def test_breach_minimax_np_invariants():
    dem = synthetic_dem_numpy(ROWS, COLS)
    assert _strict_pits(dem) > 0
    out = H.breach_minimax_np(dem)
    valid = dem != NODATA
    assert np.array_equal(out == NODATA, ~valid)
    # carving only lowers, and drains every strict pit
    assert np.all(out[valid] <= dem[valid])
    assert (out[valid] < dem[valid]).sum() > 0
    assert _strict_pits(out) == 0


def test_breach_tiled_matches_replay(spark):
    """Distributed minimax-path breach == single-node replay of the
    same specified semantics, bit-exact, on ragged tiles."""
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = H.breach_minimax_np(dem_np)
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META,
                          tile=TILE)
    cached = _cached_plans(spark)
    got = _collect(H.breach_depressions_tiled(tiles, META, tile=TILE),
                   "value")
    assert np.array_equal(got, want)
    assert _cached_plans(spark) <= cached
    assert _strict_pits(got) == 0


def _u_plateau():
    """A U-shaped plateau (z 5) whose arms meet only in the tile below
    theirs (tile 4): a pit tops one arm, and the other arm drops into a
    channel to the grid edge, so D's shortest path and the carve leave
    the arms' tile and come back."""
    dem = np.full((8, 8), 9.0)
    dem[1:6, 1] = dem[1:6, 3] = dem[5, 1:4] = 5.0
    dem[0, 1] = 4.0  # the channel
    dem[1, 3] = 3.0  # the pit
    return dem


def _flat_lake(n=14):
    """A flat lake (z 5) over 4 x 4 tiles of 4, walled in and drained by
    the grid corner diagonal to its far corner, with two pits. The
    carve from the pit at (2, 2) crosses a low pair of cells (not pits)
    in a middle tile, which lowers what it carries on."""
    dem = np.full((n, n), 9.0)
    dem[1:-1, 1:-1] = 5.0
    dem[-1, -1] = 4.0
    dem[2, 2], dem[6, 9] = 3.0, 2.0
    dem[6, 6:8] = 1.0
    return dem


BREACH_EDGE_CASES = {
    **FILL_EDGE_CASES,
    "u_plateau_8_t4": (_u_plateau, 4, True),
    "flat_lake_14_t4": (_flat_lake, 4, True),
}


@pytest.mark.parametrize("case", sorted(BREACH_EDGE_CASES))
def test_breach_tiled_edge_shapes(spark, case):
    make, tile, keep_empty = BREACH_EDGE_CASES[case]
    dem = make()
    rows, cols = dem.shape
    meta = RasterMeta(rows=rows, cols=cols)
    cached = _cached_plans(spark)
    got = _collect(H.breach_depressions_tiled(
        _np_tiles(spark, dem, tile, keep_empty), meta, tile=tile),
        "value", rows, cols)
    assert np.array_equal(got, H.breach_minimax_np(dem))
    assert _cached_plans(spark) <= cached


def test_breach_tiled_job_count(spark):
    """The three chained perimeter solves take a fixed number of Spark
    jobs, final collect included, however far plateaus and carve paths
    reach across tiles."""
    sc = spark.sparkContext
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META, tile=TILE)
    sc.setJobGroup("breach_tiled_jobs", "breach_depressions_tiled")
    try:
        got = _collect(H.breach_depressions_tiled(tiles, META, tile=TILE),
                       "value")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert np.array_equal(
        got, H.breach_minimax_np(synthetic_dem_numpy(ROWS, COLS)))
    assert len(sc.statusTracker().getJobIdsForGroup("breach_tiled_jobs")) <= 12


def _plain_bfs(level, src):
    """Unit-step distances from cell ``src`` over 8-adjacent valid cells
    of the same level."""
    from collections import deque
    h, w = level.shape
    dist = np.full((h, w), np.inf)
    dist[src] = 0
    todo = deque([src])
    while todo:
        r, c = todo.popleft()
        for dy, dx in zip(H.DY, H.DX):
            rn, cn = r + dy, c + dx
            if 0 <= rn < h and 0 <= cn < w and level[rn, cn] != NODATA \
                    and level[rn, cn] == level[r, c] \
                    and dist[rn, cn] == np.inf:
                dist[rn, cn] = dist[r, c] + 1
                todo.append((rn, cn))
    return dist


@pytest.mark.parametrize("shape", [(1, 1), (2, 2), (7, 9), (12, 5),
                                   (16, 16)], ids="{0[0]}x{0[1]}".format)
def test_perimeter_distances_match_plain_bfs(shape):
    """Breach's in-tile plateau BFS (`_plateau_bfs`) and its pruned
    perimeter-to-perimeter distances (`_perimeter_distances`) against a
    plain BFS per source, on random W tiles with several levels and
    NoData obstacles. The ring is pass 1's: cells of other tiles, never
    lower or level."""
    h, w = shape
    for seed in range(4):
        rng = np.random.default_rng(seed)
        W = rng.choice([1.0, 2.0, 3.0], size=shape, p=[0.04, 0.8, 0.16])
        W[rng.random(shape) < 0.12] = NODATA
        if h * w <= 4:
            W[:] = 2.0  # one plateau with no drop: every pair is kept
        pad = np.full((h + 2, w + 2), np.inf)
        pad[1:-1, 1:-1] = W
        nbr, same, _, drop, perim = H._plateau_graph(
            pad.ravel(), h, w, NODATA)
        cells = [(r, c) for r in range(h) for c in range(w)
                 if W[r, c] != NODATA]
        want_drop = {(r, c) for r, c in cells if any(
            0 <= r + dy < h and 0 <= c + dx < w
            and (W[r + dy, c + dx] == NODATA or W[r + dy, c + dx] < W[r, c])
            for dy, dx in zip(H.DY, H.DX))}
        want_perim = {(r, c) for r, c in cells
                      if r in (0, h - 1) or c in (0, w - 1)}
        ld = np.full(shape, np.inf)
        for src in want_drop:
            ld = np.minimum(ld, _plain_bfs(W, src))

        def at(mask):
            return {divmod(int(i), w + 2) for i in np.flatnonzero(mask)}
        assert at(drop) == {(r + 1, c + 1) for r, c in want_drop}
        assert at(perim) == {(r + 1, c + 1) for r, c in want_perim}
        got_ld = H._plateau_bfs(nbr, same, np.where(drop, 0.0, np.inf))
        assert np.array_equal(
            got_ld.reshape(h + 2, w + 2)[1:-1, 1:-1][W != NODATA],
            ld[W != NODATA])
        want = set()
        for q in want_perim:
            if ld[q] > 0:
                dq = _plain_bfs(W, q)
                want |= {(p, q, dq[p]) for p in want_perim
                         if p != q and dq[p] < ld[p]}
        p, q, d = H._perimeter_distances(nbr, same, got_ld, perim)
        got = {(divmod(int(a), w + 2), divmod(int(b), w + 2), float(k))
               for a, b, k in zip(p, q, d)}
        assert got == {((a + 1, b + 1), (c + 1, e + 1), k)
                       for (a, b), (c, e), k in want}
        assert len(got) == p.size  # each pair once
        if h * w == 4:
            assert len(got) == 12


def _kill_driver_solve(monkeypatch, solve="_spill_solve"):
    """Simulate a driver killed in ``solve``, after the pass 1 that
    feeds it persisted."""
    def killed(*args, **kwargs):
        raise RuntimeError("killed in the driver solve")
    monkeypatch.setattr(H, solve, killed)


def test_fill_tiled_checkpoint_resume(spark, tmp_path, monkeypatch):
    """Kill/resume contract: a run killed in the driver solve leaves its
    persisted pass-1 relation; the restarted run resumes from it (pass 1
    is never rebuilt) and equals the no-checkpoint result."""
    ck = str(tmp_path / "fill_ck")
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META,
                          tile=TILE)
    want = _collect(H.fill_depressions_tiled(tiles, META, tile=TILE),
                    "filled")
    with monkeypatch.context() as m:
        _kill_driver_solve(m)
        with pytest.raises(RuntimeError, match="killed"):
            H.fill_depressions_tiled(tiles, META, tile=TILE, ckpt_dir=ck)
    from go_spatial_spark.checkpoint import CheckpointManager
    cm = CheckpointManager(ck)
    assert cm.has_stage("fill_w")
    got = _collect(H.fill_depressions_tiled(tiles, META, tile=TILE,
                                            ckpt_dir=ck), "filled")
    assert np.array_equal(got, want)
    assert stages_count(cm, "fill_w") == 1  # pass 1 not rebuilt
    # every persisted stage carries per-partition lineage metrics
    assert all("partition_rows" in m for m in cm.metrics())
    # a third run reads the completed pass: no new stages
    n_stages = len(cm.metrics())
    got2 = _collect(H.fill_depressions_tiled(tiles, META, tile=TILE,
                                             ckpt_dir=ck), "filled")
    assert np.array_equal(got2, want)
    assert len(cm.metrics()) == n_stages


@pytest.mark.parametrize("solve, done", [
    ("_spill_solve", ["w"]),
    ("_plateau_solve", ["w", "d"]),
    ("_forest_solve", ["w", "d", "walk"]),
], ids=["w", "d", "walk"])
def test_breach_tiled_checkpoint_resume(spark, tmp_path, monkeypatch, solve,
                                        done):
    """Same contract for the breach pipeline's three solves (W, D and
    the carve walk): a run killed in one of their driver solves -> the
    resumed run equals the replay output, and reads each completed
    pass 1 rather than rebuilding it."""
    ck = str(tmp_path / "breach_ck")
    dem_np = synthetic_dem_numpy(ROWS, COLS)
    want = H.breach_minimax_np(dem_np)
    tiles = long_to_tiles(synthetic_dem(spark, ROWS, COLS), META,
                          tile=TILE)
    with monkeypatch.context() as m:
        _kill_driver_solve(m, solve)
        with pytest.raises(RuntimeError, match="killed"):
            H.breach_depressions_tiled(tiles, META, tile=TILE, ckpt_dir=ck)
    from go_spatial_spark.checkpoint import CheckpointManager
    cm = CheckpointManager(ck)
    assert [s for s in ("w", "d", "walk") if cm.has_stage(s)] == done
    got = _collect(H.breach_depressions_tiled(tiles, META, tile=TILE,
                                              ckpt_dir=ck), "value")
    assert np.array_equal(got, want)
    for stage in ("w", "d", "walk"):
        assert stages_count(cm, stage) == 1
    assert cm.has_stage("walk")


def stages_count(cm, name):
    return [m["stage"] for m in cm.metrics()].count(name)
