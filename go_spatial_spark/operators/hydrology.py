"""Hydrological operators: FillDepressions (priority-flood) and D8
flow accumulation (pointer + topological accumulation).

Two execution paths, per SURVEY.md §2.5 / §7:

- **exact path** (small rasters / oracle): a faithful replay of the
  reference algorithms, incl. its quirks — run inside one Spark
  partition via applyInPandas so golden fixture parity holds:
  * fillDepressions.go:162-341: edge-seeded priority flood, priority
    key int64(int64(z*10^(8-digits))*100000 + flatindex%100000),
    epsilon-gradient SMALL_NUM = 10^-(8-digits) when fixFlats
    (fillDepressions.go:216-222, 286-322). The seed-push priority uses
    the *last examined* neighbor value zN (a reference quirk at
    fillDepressions.go:262 — zN, not z), reproduced bit-for-bit.
    Ties replay identically because ReferenceHeap mirrors the 1-indexed
    binary heap with strict-> comparisons (breachDepressions.go:972-1016).
  * d8FlowAccumulation.go:182-313: steepest-descent pointer
    (first-max-wins over n=0..7, dist=[diag,cx,diag,cy,...]), FIFO
    topological sweep, init value 1.

- **distributed path** (the 100 TB design): D8 and FD8 accumulation,
  the epsilon-0 fill surface and the minimax-path breach run as two-pass
  perimeter-graph solves (R. Barnes, Environ. Model. Softw. 2017 and
  Computers & Geosciences 2016) in a fixed number of Spark jobs, however
  many tile edges a flow path crosses (`_perimeter_solve`). Pass 1
  solves each tile locally and emits its perimeter relation; the driver
  solves that small graph once (O(n_tiles * 4 * tile) rows, more on
  flat plateaus for breach and on smooth slopes for FD8); pass 2
  finishes each tile with the solved inputs. D8 sums are
  integer-valued, and the fill and breach surfaces take input
  elevations, so all three are bit-identical to their single-node
  oracles; FD8's float sums match its replay within rtol 1e-12.
"""

from __future__ import annotations

import heapq
import math
import operator
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from go_spatial_spark.checkpoint import CheckpointManager
from go_spatial_spark.grid import NODATA, TILE_SCHEMA, RasterMeta, run_stencil

DX = (1, 1, 1, 0, -1, -1, -1, 0)
DY = (-1, 0, 1, 1, 1, 0, -1, -1)


class ReferenceHeap:
    """1-indexed binary min-heap replicating the reference PQueue's
    swim/sink comparison order (strict >), so pop order matches the Go
    implementation even among equal priorities."""

    def __init__(self):
        self.prio: list[int] = [0]  # index 0 unused
        self.val: list[tuple] = [None]
        self.n = 0

    def push(self, value, priority: int):
        self.prio.append(priority)
        self.val.append(value)
        self.n += 1
        k = self.n
        p, v = self.prio, self.val
        while k > 1 and p[k // 2] > p[k]:
            p[k // 2], p[k] = p[k], p[k // 2]
            v[k // 2], v[k] = v[k], v[k // 2]
            k //= 2

    def pop(self):
        p, v = self.prio, self.val
        out = v[1]
        p[1], v[1] = p[self.n], v[self.n]
        del p[self.n], v[self.n]
        self.n -= 1
        k = 1
        while 2 * k <= self.n:
            j = 2 * k
            if j < self.n and p[j] > p[j + 1]:
                j += 1
            if not p[k] > p[j]:
                break
            p[k], p[j] = p[j], p[k]
            v[k], v[j] = v[j], v[k]
            k = j
        return out

    def __len__(self):
        return self.n


def fill_depressions_np(dem: np.ndarray, fix_flats: bool = True,
                        nodata: float = NODATA) -> np.ndarray:
    """Exact NumPy/heap replay of fillDepressions.go:162-341."""
    rows, cols = dem.shape
    valid = dem != nodata
    mn = dem[valid].min()
    mx = dem[valid].max()
    elev_digits = len(str(int(mx - mn)))
    mult = math.pow(10, float(8 - elev_digits))
    small = 1.0 / mult if fix_flats else 0.0

    out = np.full_like(dem, nodata)
    in_queue = np.zeros((rows + 2, cols + 2), dtype=bool)
    heap = ReferenceHeap()
    num_solved = 0
    num_total = rows * cols

    def val(r, c):
        if 0 <= r < rows and 0 <= c < cols:
            return dem[r, c]
        return nodata

    # seed: edge cells (any NoData/out-of-grid neighbor). Priority uses
    # the *last* zN examined (neighbor 7 = north) — reference quirk.
    for row in range(rows):
        for col in range(cols):
            z = dem[row, col]
            if z != nodata:
                is_edge = False
                zn = z
                for n in range(8):
                    zn = val(row + DY[n], col + DX[n])
                    if zn == nodata:
                        is_edge = True
                if is_edge:
                    p = int(int(zn * mult)) * 100000
                    heap.push((row, col, 0), p)
                    in_queue[row + 1, col + 1] = True
                    out[row, col] = z
                    num_solved += 1
            else:
                num_solved += 1

    while num_solved < num_total:
        row, col, flatindex = heap.pop()
        z = out[row, col]
        for i in range(8):
            rn, cn = row + DY[i], col + DX[i]
            zn = val(rn, cn)
            if zn != nodata and not in_queue[rn + 1, cn + 1]:
                n = 0
                if zn <= z:
                    zn = z + small
                    n = flatindex + 1
                num_solved += 1
                out[rn, cn] = zn
                p = int(int(zn * mult)) * 100000 + (n % 100000)
                heap.push((rn, cn, n), p)
                in_queue[rn + 1, cn + 1] = True
    return out


def fill_depressions(grid: DataFrame, meta: RasterMeta,
                     fix_flats: bool = True) -> DataFrame:
    """Exact single-partition path: the whole raster is one pandas
    group (documented small-raster constraint; the epsilon-0
    `fill_depressions_tiled` is the scale path, see module docstring)."""
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        dem = np.full((rows, cols), nodata, dtype=np.float64)
        dem[pdf["row"].to_numpy(), pdf["col"].to_numpy()] = (
            pdf["value"].to_numpy())
        out = fill_depressions_np(dem, fix_flats=fix_flats, nodata=nodata)
        rr, cc = np.nonzero(out != nodata)
        return pd.DataFrame({"row": rr.astype(np.int32),
                             "col": cc.astype(np.int32),
                             "filled": out[rr, cc]})

    return (grid.repartition(1)
            .mapInPandas(lambda it: [solve(pd.concat(list(it)))],
                         schema="row int, col int, filled double"))


# ---------------------------------------------------------------------------
# D8 pointer + flow accumulation
# ---------------------------------------------------------------------------

def d8_pointer_np(dem: np.ndarray, meta: RasterMeta,
                  nodata: float = NODATA) -> np.ndarray:
    """Pointer grid (0 = no downslope, 1..8 = n+1); -1 marks NoData.
    Exact replica of d8FlowAccumulation.go:197-236 (first-max-wins)."""
    cx, cy = meta.cellsize_x, meta.cellsize_y
    diag = math.sqrt(cx * cx + cy * cy)
    dist = (diag, cx, diag, cy, diag, cx, diag, cy)
    rows, cols = dem.shape
    valid = dem != nodata
    zpad = np.full((rows + 2, cols + 2), nodata)
    zpad[1:-1, 1:-1] = dem
    max_slope = np.full(dem.shape, -np.inf)
    direction = np.zeros(dem.shape, dtype=np.int8)
    for n in range(8):
        zn = zpad[1 + DY[n]:1 + DY[n] + rows, 1 + DX[n]:1 + DX[n] + cols]
        nv = zn != nodata
        with np.errstate(invalid="ignore"):
            slope = (dem - zn) / dist[n]
        better = nv & (slope > max_slope)
        max_slope = np.where(better, slope, max_slope)
        direction = np.where(better, n + 1, direction)
    direction = np.where(max_slope > 0, direction, 0)
    out = np.where(valid, direction.astype(np.float64), -1.0)
    return out


def d8_pointer_kernel(padded: np.ndarray, halo: int, ctx) -> np.ndarray:
    """Tile kernel: same pointer math with halo-1 neighbor access.
    NoData centers -> meta.nodata so tiles_to_long drops them."""
    nodata = ctx.meta.nodata
    h = padded.shape[0] - 2 * halo
    w = padded.shape[1] - 2 * halo
    c = padded[halo:halo + h, halo:halo + w]
    cx, cy = ctx.meta.cellsize_x, ctx.meta.cellsize_y
    diag = math.sqrt(cx * cx + cy * cy)
    dist = (diag, cx, diag, cy, diag, cx, diag, cy)
    max_slope = np.full(c.shape, -np.inf)
    direction = np.zeros(c.shape, dtype=np.int8)
    for n in range(8):
        zn = padded[halo + DY[n]:halo + DY[n] + h,
                    halo + DX[n]:halo + DX[n] + w]
        nv = zn != nodata
        with np.errstate(invalid="ignore"):
            slope = (c - zn) / dist[n]
        better = nv & (slope > max_slope)
        max_slope = np.where(better, slope, max_slope)
        direction = np.where(better, n + 1, direction)
    direction = np.where(max_slope > 0, direction, 0)
    return np.where(c != nodata, direction.astype(np.float64), nodata)


def d8_accum_np(dem: np.ndarray, meta: RasterMeta,
                nodata: float = NODATA) -> np.ndarray:
    """FIFO topological replay (d8FlowAccumulation.go:240-313).
    Output = accumulation at valid cells, NoData elsewhere."""
    rows, cols = dem.shape
    ptr = d8_pointer_np(dem, meta, nodata)
    valid = ptr >= 0
    indeg = np.zeros(dem.shape, dtype=np.int32)
    for r in range(rows):
        for c in range(cols):
            d = int(ptr[r, c])
            if d > 0:
                indeg[r + DY[d - 1], c + DX[d - 1]] += 1
    acc = np.where(valid, 1.0, nodata)
    from collections import deque
    q = deque((r, c) for r in range(rows) for c in range(cols)
              if valid[r, c] and indeg[r, c] == 0)
    while q:
        r, c = q.popleft()
        d = int(ptr[r, c])
        if d > 0:
            rn, cn = r + DY[d - 1], c + DX[d - 1]
            acc[rn, cn] += acc[r, c]
            indeg[rn, cn] -= 1
            if indeg[rn, cn] == 0:
                q.append((rn, cn))
    return np.where(valid, acc, nodata)


def _tile_graph(dirs: np.ndarray, nodata: float):
    """One pointer tile as a forest over flat cell indices: (valid,
    in-tile receiver or -1, exit mask, receiver row, receiver col)."""
    h, w = dirs.shape
    valid = (dirs != nodata).ravel()
    d = np.where(valid, dirs.ravel(), 0).astype(np.int64)
    rr, cc = np.divmod(np.arange(h * w), w)
    tr, tc = rr + np.array((0,) + DY)[d], cc + np.array((0,) + DX)[d]
    inside = (tr >= 0) & (tr < h) & (tc >= 0) & (tc < w)
    return valid, np.where(inside & (d > 0), tr * w + tc, -1), ~inside, tr, tc


def _passed(acc: np.ndarray, cap: np.ndarray | None, idx: np.ndarray
            ) -> np.ndarray:
    """What nodes ``idx`` pass downstream: all they hold (no ``cap``), or
    min(acc, cap), nothing while they hold +inf (the breach carve)."""
    if cap is None:
        return acc[idx]
    return np.where(acc[idx] < np.inf, np.minimum(acc[idx], cap[idx]),
                    acc[idx])


def _sweep(src: np.ndarray, dst: np.ndarray, acc: np.ndarray,
           share: np.ndarray | None = None,
           cap: np.ndarray | None = None) -> np.ndarray:
    """Push every node's value into everything downstream of it along the
    edges src -> dst of a DAG, one frontier of ready nodes per step
    (Kahn), in place. Without ``cap`` receivers add what a node holds,
    times the edge's ``share`` if given (FD8; ``acc`` may then hold one
    column per unit source); D8's integer-valued float64 sums are exact
    in any order. With ``cap`` they keep the minimum of what `_passed`
    hands them (the breach carve)."""
    join = np.add if cap is None else np.minimum
    order = np.argsort(src, kind="stable")
    src, dst = src[order], dst[order]
    if share is not None:
        share = share[order].reshape((-1,) + (1,) * (acc.ndim - 1))
    first = np.searchsorted(src, np.arange(acc.shape[0] + 1))
    has = first[1:] > first[:-1]
    indeg = np.bincount(dst, minlength=acc.shape[0])
    front = np.flatnonzero(has & (indeg == 0))
    while front.size:
        k = first[front + 1] - first[front]
        e = np.arange(k.sum()) + np.repeat(first[front] - np.cumsum(k) + k, k)
        val = _passed(acc, cap, src[e])
        join.at(acc, dst[e], val if share is None else val * share[e])
        tgt, n = np.unique(dst[e], return_counts=True)
        indeg[tgt] -= n
        front = tgt[has[tgt] & (indeg[tgt] == 0)]
    return acc


def _accumulate(nxt: np.ndarray, acc: np.ndarray,
                cap: np.ndarray | None = None) -> np.ndarray:
    """`_sweep` over a forest of receiver indices (-1 = root)."""
    src = np.flatnonzero(nxt >= 0)
    return _sweep(src, nxt[src], acc, cap=cap)


def _path_ends(nxt: np.ndarray, cap: np.ndarray | None = None):
    """Root of every node's path (pointer doubling) and, with ``cap``,
    the lowest cap along it, both ends included (else None)."""
    end = np.where(nxt >= 0, nxt, np.arange(nxt.size))
    low = None if cap is None else np.minimum(cap, cap[end])
    while not np.array_equal(end[end], end):
        if low is not None:
            low = np.minimum(low, low[end])
        end = end[end]
    return end, low


def _by_tile(key: np.ndarray, n_tx: int, *arrays) -> dict:
    """Split arrays by tile key ``ty * n_tx + tx``, keeping their order:
    {(ty, tx): the arrays' entries of that tile}."""
    order = np.argsort(key, kind="stable")
    keys, first = np.unique(key[order], return_index=True)
    return {divmod(int(k), n_tx): tuple(a[idx] for a in arrays)
            for k, idx in zip(keys, np.split(order, first[1:]))}


def _perimeter_solve(tiles: DataFrame, boundary, rel_schema: str, solve,
                     finish, out_schema: str, ckpt=None,
                     stage: str | None = None) -> DataFrame:
    """Two-pass perimeter-graph scaffold (R. Barnes, Environ. Model.
    Softw. 2017; Computers & Geosciences 2016) in a fixed number of Spark
    jobs, whatever the number of tiles a path crosses.

    The tiles are materialised once by ``localCheckpoint``. Pass 1 maps
    ``boundary(t)`` over every tile row ``t`` (a pandas frame of its
    perimeter relation) and collects the relation to the driver.
    ``solve(relation)`` returns the solved inputs of each tile keyed by
    ``(ty, tx)``. Pass 2 maps ``finish(t, inputs)`` over the tiles, with
    ``None`` for a tile the solve has nothing for. With ``ckpt`` (a
    CheckpointManager) the pass-1 relation persists as stage ``stage``,
    so a run killed later resumes from the completed pass.
    """
    tiles = tiles.localCheckpoint()

    def each(fn):
        def run(it):
            for pdf in it:
                for t in pdf.itertuples(index=False):
                    yield fn(t)
        return run

    pass1 = tiles.mapInPandas(each(boundary), schema=rel_schema)
    rel = pass1 if ckpt is None else ckpt.run_stage(
        tiles.sparkSession, stage, lambda: pass1)
    resolved = solve(rel.toPandas())
    return tiles.mapInPandas(
        each(lambda t: finish(t, resolved.get((int(t.ty), int(t.tx))))),
        schema=out_schema)


# Pass 1 of a forest solve emits one row per exit cell (src = -1: the
# value it passes on, landing on the out-of-tile cell dst) and one per
# valid perimeter cell whose in-tile path leaves the tile (dst: where
# the path lands; val: the share of its inflow that lands there, 1 on a
# D8 path, or the lowest cap on the way). FD8's pass 1 emits the same
# rows, one per ring cell an inflow cell's flow reaches (`_fd8_boundary`).
_FOREST_SCHEMA = "src long, dst long, val double"


def _forest_boundary(t, tile: int, cols: int, graph, acc: np.ndarray,
                     cap: np.ndarray | None = None) -> pd.DataFrame:
    """Pass 1 of a forest solve over one tile's `_tile_graph`: its local
    sweep of ``acc`` as `_FOREST_SCHEMA` rows."""
    valid, nxt, exits, tr, tc = graph
    r0, c0 = t.ty * tile, t.tx * tile
    acc = _accumulate(nxt, acc, cap)
    land = (tr + r0) * cols + tc + c0
    rr, cc = np.divmod(np.arange(nxt.size), t.w)
    perim = np.flatnonzero(valid & ((rr == 0) | (rr == t.h - 1)
                                    | (cc == 0) | (cc == t.w - 1)))
    end, low = _path_ends(nxt, cap)
    perim = perim[exits[end[perim]]]
    ex = np.flatnonzero(exits)
    return pd.DataFrame({
        "src": np.r_[np.full(ex.size, -1),
                     (rr[perim] + r0) * cols + cc[perim] + c0],
        "dst": np.r_[land[ex], land[end[perim]]],
        "val": np.r_[_passed(acc, cap, ex),
                     np.ones(perim.size) if cap is None else low[perim]]})


def _forest_solve(rel: pd.DataFrame, meta: RasterMeta, tile: int,
                  carve: bool = False) -> dict:
    """Driver half of a forest solve: the landing cells are the nodes,
    each path row an edge from p to a cell it lands on next. Their inflow
    ``I(L) = base(L) + sum(val * I(p) for edges p -> L)`` (a forest for
    D8, FD8's weighted DAG), or with ``carve`` the minimum of base(L) and
    of what each such p passes on past the lowest z of its path. Returns
    {(ty, tx): (cells, inflow)}."""
    src, dst, val = (rel[k].to_numpy() for k in ("src", "dst", "val"))
    lands = src < 0
    nodes, inv = np.unique(dst[lands], return_inverse=True)
    # every path row ends at a landing cell, so its dst is a node too
    path = ~lands & np.isin(src, nodes)
    at = np.searchsorted(nodes, src[path])
    to = np.searchsorted(nodes, dst[path])
    if carve:
        inflow, cap = np.full(nodes.size, np.inf), np.full(nodes.size, np.inf)
        np.minimum.at(inflow, inv, val[lands])
        cap[at] = val[path]
        share = None
    else:
        inflow = np.bincount(inv, weights=val[lands], minlength=nodes.size)
        cap, share = None, val[path]
    nr, nc = np.divmod(nodes, meta.cols)
    n_tx = math.ceil(meta.cols / tile)
    return _by_tile(nr // tile * n_tx + nc // tile, n_tx, nodes,
                    _sweep(at, to, inflow, share, cap))


def _forest_finish(t, tile: int, cols: int, graph, acc: np.ndarray,
                   inflow, cap: np.ndarray | None = None) -> np.ndarray:
    """Pass 2 of a forest solve: the tile's sweep of ``acc`` again, with
    the solved inflows joined in at their cells."""
    if inflow is not None:
        g, v = inflow
        at = (g // cols - t.ty * tile) * t.w + g % cols - t.tx * tile
        acc[at] = acc[at] + v if cap is None else np.minimum(acc[at], v)
    return _accumulate(graph[1], acc, cap)


def d8_flow_accum(dem_tiles: DataFrame, meta: RasterMeta,
                  tile: int = 256) -> DataFrame:
    """Distributed D8 accumulation as a two-pass boundary-graph solve
    (R. Barnes, Environ. Model. Softw. 2017) on `_perimeter_solve`,
    bit-identical to `d8_accum_np` in a fixed number of Spark jobs.

    Pointer tiles come from one halo-1 stencil. Pass 1 accumulates each
    tile locally and emits, for each exit cell, its local mass and the
    out-of-tile cell it lands on, and for each valid perimeter cell the
    landing cell its in-tile path exits to (`_forest_boundary`). The
    driver solves the perimeter forest once (`_forest_solve`). Pass 2
    re-runs each tile's sweep with the inflows added at their cells.
    """
    cols, nodata = meta.cols, meta.nodata

    def graph(t):
        dirs = np.frombuffer(t.data, dtype=np.float64).reshape(t.h, t.w)
        return _tile_graph(dirs, nodata)

    def boundary(t):
        g = graph(t)
        return _forest_boundary(t, tile, cols, g, g[0].astype(np.float64))

    def finish(t, inflow):
        g = graph(t)
        acc = _forest_finish(t, tile, cols, g, g[0].astype(np.float64),
                             inflow)
        idx = np.flatnonzero(g[0])
        return pd.DataFrame({
            "row": (idx // t.w + t.ty * tile).astype(np.int32),
            "col": (idx % t.w + t.tx * tile).astype(np.int32),
            "accum": acc[idx]})

    ptr_tiles = run_stencil(dem_tiles, meta, d8_pointer_kernel,
                            halo=1, tile=tile)
    return _perimeter_solve(ptr_tiles, boundary, _FOREST_SCHEMA,
                            lambda rel: _forest_solve(rel, meta, tile),
                            finish, "row int, col int, accum double")


# ---------------------------------------------------------------------------
# FD8 flow accumulation — fd8FlowAccum.go:199-813
# ---------------------------------------------------------------------------
# Multiple flow direction: every strictly-lower valid neighbor receives
# faValue * (z-zN)^2 / sum_of_weights (fd8FlowAccum.go:356-383); inflow
# count = number of strictly-higher valid neighbors (:476-495).
# Unlike D8, the float result depends on the order contributions are
# added, so the distributed perimeter solve can differ from the
# sequential replay in the last ulps — goldens compare with rtol=1e-12.

def fd8_accum_np(dem: np.ndarray, nodata: float = NODATA) -> np.ndarray:
    """Sequential FIFO replay of the serial path (fd8FlowAccum.go:464-599)."""
    rows, cols = dem.shape
    valid = dem != nodata

    def val(r, c):
        if 0 <= r < rows and 0 <= c < cols:
            return dem[r, c]
        return nodata

    indeg = np.zeros(dem.shape, dtype=np.int32)
    for r in range(rows):
        for c in range(cols):
            if valid[r, c]:
                j = 0
                for n in range(8):
                    zn = val(r + DY[n], c + DX[n])
                    if zn > dem[r, c] and zn != nodata:
                        j += 1
                indeg[r, c] = j
    out = np.where(valid, 1.0, nodata)
    from collections import deque
    q = deque((r, c) for r in range(rows) for c in range(cols)
              if valid[r, c] and indeg[r, c] == 0)
    while q:
        row, col = q.popleft()
        z = dem[row, col]
        fa = out[row, col]
        weights = np.zeros(8)
        total = 0.0
        down = [False] * 8
        for n in range(8):
            zn = val(row + DY[n], col + DX[n])
            if zn < z and zn != nodata:
                weights[n] = (z - zn) ** 2
                total += weights[n]
                down[n] = True
        for n in range(8):
            if down[n]:
                r2, c2 = row + DY[n], col + DX[n]
                out[r2, c2] += fa * (weights[n] / total)
                indeg[r2, c2] -= 1
                if indeg[r2, c2] == 0:
                    q.append((r2, c2))
    return np.where(valid, out, nodata)


# Inflow cells whose unit columns one transfer sweep carries, so that a
# tile's working set stays at _FD8_BLOCK doubles per cell.
_FD8_BLOCK = 64


def _fd8_sweep(t, tile: int, cols: int, nodata: float, inflow=None):
    """FD8 inside one halo-1 padded tile ``t``, over its flat
    (h + 2) x (w + 2) cells: every valid tile cell starts at 1, plus the
    solved ``inflow`` (global cells, values), and passes its share
    (z - zn)^2 / sum (fd8FlowAccum.go:356-383) to each strictly lower
    valid neighbour; ring cells only receive. Returns the tile's graph
    (src, dst, share, its valid cells, its inflow cells: those with a
    strictly higher valid ring neighbour, the ring cells flow lands on,
    the global index of every cell) and the swept values."""
    z = np.frombuffer(t.data, dtype=np.float64)
    w = t.w + 2
    inner = np.zeros((t.h + 2, w), dtype=bool)
    inner[1:-1, 1:-1] = True
    inner = inner.ravel()
    cells = np.flatnonzero(inner & (z != nodata))
    nbr = cells + (np.array(DY) * w + np.array(DX))[:, None]
    zc, zn = z[cells], z[nbr]
    down = (zn != nodata) & (zn < zc)
    drop = np.where(down, (zc - zn) ** 2, 0.0)
    with np.errstate(invalid="ignore"):
        share = drop / drop.sum(axis=0)
    up = (zn != nodata) & (zn > zc) & ~inner[nbr]
    r0, c0 = t.ty * tile - 1, t.tx * tile - 1  # the padded block's corner
    rr, cc = np.divmod(np.arange(z.size), w)
    g = (rr + r0) * cols + cc + c0
    graph = (np.broadcast_to(cells, nbr.shape)[down], nbr[down], share[down],
             cells, cells[up.any(axis=0)], np.unique(nbr[down & ~inner[nbr]]),
             g)
    acc = np.zeros(z.size)
    acc[cells] = 1.0
    if inflow is not None:
        gi, v = inflow
        acc[(gi // cols - r0) * w + gi % cols - c0] += v
    return graph, _sweep(graph[0], graph[1], acc, graph[2])


def _fd8_boundary(t, tile: int, cols: int, nodata: float) -> pd.DataFrame:
    """Pass 1 of FD8 over one tile, as `_FOREST_SCHEMA` rows. Flow is
    linear in its inputs, so the tile hands the driver a transfer map:
    (-1, L, base) for the local mass landing on ring cell L, and (p, L, M)
    for the share M of a unit entering at inflow cell p that lands on L,
    swept for _FD8_BLOCK inflow cells at a time."""
    (src, dst, share, _, inflow, land, g), acc = _fd8_sweep(t, tile, cols,
                                                            nodata)
    rows = [(np.full(land.size, -1), g[land], acc[land])]
    for b in range(0, inflow.size, _FD8_BLOCK):
        p = inflow[b:b + _FD8_BLOCK]
        unit = np.zeros((g.size, p.size))
        unit[p, np.arange(p.size)] = 1.0
        M = _sweep(src, dst, unit, share)[land]
        li, pj = np.nonzero(M)
        rows.append((g[p[pj]], g[land[li]], M[li, pj]))
    src, dst, val = (np.concatenate(c) for c in zip(*rows))
    return pd.DataFrame({"src": src, "dst": dst, "val": val})


def fd8_flow_accum(dem_tiles: DataFrame, meta: RasterMeta,
                   tile: int = 256) -> DataFrame:
    """Distributed FD8 accumulation as a two-pass perimeter-graph solve
    (R. Barnes, Environ. Model. Softw. 2017) on `_perimeter_solve`, within
    rtol 1e-12 of `fd8_accum_np` in a fixed number of Spark jobs.

    One halo-1 stencil hands each tile its padded DEM block. Pass 1 emits
    each tile's transfer map (`_fd8_boundary`); the driver solves the
    weighted DAG of landing cells once (`_forest_solve`; acyclic, as flow
    only falls); pass 2 re-sweeps each tile with the solved inflows added
    at their cells (`_fd8_sweep`).
    """
    cols, nodata = meta.cols, meta.nodata

    def finish(t, inflow):
        (_, _, _, cells, _, _, g), acc = _fd8_sweep(t, tile, cols, nodata,
                                                    inflow)
        return pd.DataFrame({"row": (g[cells] // cols).astype(np.int32),
                             "col": (g[cells] % cols).astype(np.int32),
                             "accum": acc[cells]})

    padded = run_stencil(dem_tiles, meta, lambda z, halo, ctx: z, halo=1,
                         tile=tile)
    return _perimeter_solve(
        padded, lambda t: _fd8_boundary(t, tile, cols, nodata),
        _FOREST_SCHEMA, lambda rel: _forest_solve(rel, meta, tile), finish,
        "row int, col int, accum double")


# ---------------------------------------------------------------------------
# BreachDepressions (full-breach mode) — breachDepressions.go:259-505
# ---------------------------------------------------------------------------

BACKLINK = (5, 6, 7, 8, 1, 2, 3, 4)  # breachDepressions.go:297


def breach_depressions_np(dem: np.ndarray,
                          nodata: float = NODATA,
                          max_depth: float = -1.0,
                          max_length: int = -1,
                          constrained: bool = False,
                          post_breach_fill: bool = False) -> np.ndarray:
    """Exact replay of all three BreachDepressions modes
    (breachDepressions.go:259-814): pit pre-lowering to
    lowestNeighbour - SMALL_NUM (:406-414), edge-seeded priority queue
    with quantization 10^(5-digits) (:328-329), then

    * complete breach (:450-505) when neither constraint is set:
      least-cost carve via backLink trace with an epsilon-decrementing
      channel;
    * selective breach (:506-612) when MaxDepth/MaxLength is set: a
      dry-run trace measures path length and depth (vs the ORIGINAL
      dem, :551) with early exit on either constraint (:562-568); only
      conforming pits are carved, the rest are left for filling;
    * constrained breach (:613-778) additionally lowers the outlet of
      non-conforming pits as far as the constraints allow: the trace
      records the highest original cell (outletHeight/outletDist,
      :666-670), the target cut is outletHeight - maxDepth walked out
      to targetDist = maxLength or outletDist + maxLength/2 (:708-731),
      and the path is lowered to min(current, zTest) until a cell at
      or below the pit elevation is met (:733-757).

    When a constraint left unsolved pits and ``post_breach_fill`` is
    on, the pop order is replayed raising each cell above its
    downslope neighbor (:783-814).  The reference encodes the PADDED
    pop coordinates with the UNPADDED column count
    (``floodorder[i] = row*columns + col`` with row,col in 1..rows/cols,
    :518-520) so decoding sends every last-column cell to the padding
    ring where flowdir=0 — i.e. the last column never gets filled.
    Reproduced verbatim.

    Mode selection mirrors :299-312: a constraint counts as "used"
    only when > 0, and constrained breaching silently downgrades to
    complete breaching when no constraint is used.
    """
    rows, cols = dem.shape
    max_length_or_depth_used = max_depth > 0 or max_length > 0
    if max_length_or_depth_used and max_depth == -1:
        max_depth = sys.float_info.max
    if max_length_or_depth_used and max_length == -1:
        max_length = 2**31 - 1
    perform_constrained = constrained and max_length_or_depth_used
    valid_mask = dem != nodata
    mn = dem[valid_mask].min()
    mx = dem[valid_mask].max()
    elev_digits = len(str(int(mx - mn)))
    mult = math.pow(10, float(5 - elev_digits))
    small = 1.0 / mult * 10.0

    # padded working grids (reference indexes row+1/col+1)
    out = np.full((rows + 2, cols + 2), nodata, dtype=np.float64)
    out[1:-1, 1:-1] = dem
    pits = np.zeros((rows + 2, cols + 2), dtype=bool)
    in_queue = np.zeros((rows + 2, cols + 2), dtype=bool)
    flowdir = np.zeros((rows + 2, cols + 2), dtype=np.int8)

    def dem_val(r, c):
        if 0 <= r < rows and 0 <= c < cols:
            return dem[r, c]
        return nodata

    heap = ReferenceHeap()
    num_pits = 0
    for row in range(rows):
        for col in range(cols):
            z = dem[row, col]
            if z == nodata:
                continue
            is_pit = True
            is_edge = False
            lowest = np.inf
            for n in range(8):
                zn = dem_val(row + DY[n], col + DX[n])
                if zn != nodata and zn < z:
                    is_pit = False
                    break
                elif zn == nodata:
                    is_edge = True
                else:
                    if zn < lowest:
                        lowest = zn
            if is_edge:
                p = int(int(z * mult)) * 100000
                heap.push((row + 1, col + 1, 0), p)
                in_queue[row + 1, col + 1] = True
            if is_pit:
                if not is_edge:
                    pits[row + 1, col + 1] = True
                    num_pits += 1
                if lowest != np.inf:
                    out[row + 1, col + 1] = lowest - small

    def carve(rn, cn, zn):
        # complete-breach channel walk (breachDepressions.go:467-487)
        ztest = zn
        r, c = rn, cn
        while True:
            ztest -= small
            d = flowdir[r, c]
            if d > 0:
                r += DY[d - 1]
                c += DX[d - 1]
                zn2 = out[r, c]
                if zn2 <= ztest or zn2 == nodata:
                    break
                out[r, c] = ztest
            else:
                break

    needs_filling = False
    floodorder: list[int] = []

    if not max_length_or_depth_used:
        # complete breaching (breachDepressions.go:450-505); the loop
        # terminates as soon as the last pit is solved, leaving the
        # rest of the queue unpopped
        num_pits_solved = 0
        while num_pits_solved < num_pits:
            row, col, flatindex = heap.pop()
            for i in range(8):
                rn, cn = row + DY[i], col + DX[i]
                zn = out[rn, cn]
                if zn != nodata and not in_queue[rn, cn]:
                    flowdir[rn, cn] = BACKLINK[i]
                    if pits[rn, cn]:
                        num_pits_solved += 1
                        carve(rn, cn, zn)
                    n = flatindex + 1 if pits[rn, cn] else 0
                    p = int(int(zn * mult)) * 100000 + (n % 100000)
                    heap.push((rn, cn, n), p)
                    in_queue[rn, cn] = True
    elif not perform_constrained:
        # selective breaching (breachDepressions.go:506-612): dry-run
        # trace with constraint early-exit, carve only if conforming
        while len(heap) > 0:
            row, col, flatindex = heap.pop()
            if post_breach_fill:
                floodorder.append(row * cols + col)  # quirk: unpadded cols
            for i in range(8):
                rn, cn = row + DY[i], col + DX[i]
                zn = out[rn, cn]
                if zn != nodata and not in_queue[rn, cn]:
                    flowdir[rn, cn] = BACKLINK[i]
                    if pits[rn, cn]:
                        n_in_path = 0
                        max_path_depth = 0.0
                        ztest = zn
                        r, c = rn, cn
                        while True:
                            ztest -= small
                            d = flowdir[r, c]
                            if d > 0:
                                r += DY[d - 1]
                                c += DX[d - 1]
                                zn2 = out[r, c]
                                if zn2 <= ztest or zn2 == nodata:
                                    n_in_path += 1
                                    break
                                depth = dem[r - 1, c - 1] - ztest
                                if depth > max_path_depth:
                                    max_path_depth = depth
                            else:
                                n_in_path += 1
                                break
                            n_in_path += 1
                            if n_in_path > max_length:
                                break
                            if max_path_depth > max_depth:
                                break
                        if (n_in_path <= max_length
                                and max_path_depth <= max_depth):
                            carve(rn, cn, zn)
                        else:
                            needs_filling = True
                    n = flatindex + 1 if pits[rn, cn] else 0
                    p = int(int(zn * mult)) * 100000 + (n % 100000)
                    heap.push((rn, cn, n), p)
                    in_queue[rn, cn] = True
    else:
        # constrained breaching (breachDepressions.go:613-778)
        while len(heap) > 0:
            row, col, flatindex = heap.pop()
            if post_breach_fill:
                floodorder.append(row * cols + col)  # quirk: unpadded cols
            for i in range(8):
                rn, cn = row + DY[i], col + DX[i]
                zn = out[rn, cn]
                if zn != nodata and not in_queue[rn, cn]:
                    flowdir[rn, cn] = BACKLINK[i]
                    if pits[rn, cn]:
                        # full trace, no early exit; record the highest
                        # ORIGINAL cell along the path (:644-676)
                        n_in_path = 0
                        max_path_depth = 0.0
                        outlet_height = -sys.float_info.max
                        outlet_dist = 0
                        ztest = zn
                        r, c = rn, cn
                        while True:
                            ztest -= small
                            d = flowdir[r, c]
                            if d > 0:
                                r += DY[d - 1]
                                c += DX[d - 1]
                                zn2 = out[r, c]
                                if zn2 <= ztest or zn2 == nodata:
                                    n_in_path += 1
                                    break
                                z_orig = dem[r - 1, c - 1]
                                depth = z_orig - ztest
                                if depth > max_path_depth:
                                    max_path_depth = depth
                                if z_orig > outlet_height:
                                    outlet_height = z_orig
                                    outlet_dist = n_in_path
                            else:
                                n_in_path += 1
                                break
                            n_in_path += 1
                        if (n_in_path <= max_length
                                and max_path_depth <= max_depth):
                            carve(rn, cn, zn)
                        else:
                            # lower the outlet as far as allowed
                            # (:702-757)
                            needs_filling = True
                            ztest = outlet_height - max_depth
                            target_dist = n_in_path
                            if n_in_path > max_length:
                                if outlet_dist < max_length // 2:
                                    target_dist = max_length
                                else:
                                    target_dist = (outlet_dist
                                                   + max_length // 2)
                                r, c = rn, cn
                                for _ in range(target_dist):
                                    d = flowdir[r, c]
                                    if d > 0:
                                        r += DY[d - 1]
                                        c += DX[d - 1]
                                        ztest = out[r, c]
                                    else:
                                        break
                                if outlet_height - ztest > max_depth:
                                    ztest = outlet_height - max_depth
                            r, c = rn, cn
                            n_in_path = 0
                            while True:
                                d = flowdir[r, c]
                                if d > 0:
                                    r += DY[d - 1]
                                    c += DX[d - 1]
                                    zn2 = out[r, c]
                                    if zn2 <= zn or zn2 == nodata:
                                        break
                                    if out[r, c] > ztest:
                                        out[r, c] = ztest
                                else:
                                    break
                                n_in_path += 1
                                if n_in_path > target_dist:
                                    break
                    n = flatindex + 1 if pits[rn, cn] else 0
                    p = int(int(zn * mult)) * 100000 + (n % 100000)
                    heap.push((rn, cn, n), p)
                    in_queue[rn, cn] = True

    if needs_filling and post_breach_fill:
        # post-breach fill replay (:783-814) with the verbatim
        # encode/decode mismatch: padded coords, unpadded column count
        for fo in floodorder:
            row, col = fo // cols, fo % cols
            z = out[row, col]
            d = flowdir[row, col]
            if d > 0:
                rn, cn = row + DY[d - 1], col + DX[d - 1]
                zn = out[rn, cn]
                if zn != nodata and z <= zn + small:
                    out[row, col] = zn + small

    result = out[1:-1, 1:-1].copy()
    result[~valid_mask] = nodata
    return result


def breach_depressions(grid: DataFrame, meta: RasterMeta,
                       max_depth: float = -1.0,
                       max_length: int = -1,
                       constrained: bool = False,
                       post_breach_fill: bool = False) -> DataFrame:
    """Exact single-partition path (same pattern as fill_depressions)."""
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        dem = np.full((rows, cols), nodata, dtype=np.float64)
        dem[pdf["row"].to_numpy(), pdf["col"].to_numpy()] = (
            pdf["value"].to_numpy())
        out = breach_depressions_np(
            dem, nodata=nodata, max_depth=max_depth, max_length=max_length,
            constrained=constrained, post_breach_fill=post_breach_fill)
        rr, cc = np.nonzero(out != nodata)
        return pd.DataFrame({"row": rr.astype(np.int32),
                             "col": cc.astype(np.int32),
                             "breached": out[rr, cc]})

    return (grid.repartition(1)
            .mapInPandas(lambda it: [solve(pd.concat(list(it)))],
                         schema="row int, col int, breached double"))


def count_interior_pits(dem: np.ndarray, nodata: float = NODATA) -> int:
    """Diagnostic: interior cells with no strictly-lower valid neighbor
    and no NoData/edge contact (the breach target set)."""
    rows, cols = dem.shape
    n_pits = 0
    for row in range(rows):
        for col in range(cols):
            z = dem[row, col]
            if z == nodata:
                continue
            is_pit, is_edge = True, False
            for n in range(8):
                r2, c2 = row + DY[n], col + DX[n]
                if 0 <= r2 < rows and 0 <= c2 < cols:
                    zn = dem[r2, c2]
                    if zn == nodata:
                        is_edge = True
                    elif zn < z:
                        is_pit = False
                        break
                else:
                    is_edge = True
            if is_pit and not is_edge:
                n_pits += 1
    return n_pits


# ---------------------------------------------------------------------------
# BreachStreams — breachStreams.go:166-508
# ---------------------------------------------------------------------------

def breach_streams_np(dem: np.ndarray, streams: np.ndarray,
                      nodata: float = NODATA,
                      streams_nodata: float = NODATA) -> np.ndarray:
    """Exact replay of BreachStreams: carve a stream network into a
    DEM. Stream cells get ~10^13-lower queue priorities so they are
    always processed first (breachStreams.go:307-319); pit definition
    is conditioned on stream membership (:283-305); mult=10^(8-digits),
    flat-index modulo 10000 (:313, :442-447).

    Faithfully reproduces two reference quirks: (a) lowestNeighbour is
    the lowest neighbor with zN >= z (lower neighbors are excluded —
    no break in the scan loop, :283-305); (b) inside the carve walk the
    stream-raster lookups use *padded* coordinates
    (streams.Value(r, c) at :394/:401 with r,c already +1), i.e. they
    read the stream flag one cell down-right of the path cell."""
    rows, cols = dem.shape
    valid_mask = dem != nodata
    mn = dem[valid_mask].min()
    mx = dem[valid_mask].max()
    elev_digits = len(str(int(mx - mn)))
    mult = math.pow(10, float(8 - elev_digits))
    small = 1.0 / mult * 10.0

    if streams.shape != dem.shape:
        raise ValueError("input rasters must be of the same dimensions")

    def dem_val(r, c):
        if 0 <= r < rows and 0 <= c < cols:
            return dem[r, c]
        return nodata

    def stream_val(r, c):
        if 0 <= r < rows and 0 <= c < cols:
            return streams[r, c]
        return streams_nodata

    def is_stream_at(r, c):
        s = stream_val(r, c)
        return s != streams_nodata and s > 0

    out = np.full((rows + 2, cols + 2), nodata, dtype=np.float64)
    out[1:-1, 1:-1] = dem
    pits = np.zeros((rows + 2, cols + 2), dtype=bool)
    in_queue = np.zeros((rows + 2, cols + 2), dtype=bool)
    flowdir = np.zeros((rows + 2, cols + 2), dtype=np.int8)
    heap = ReferenceHeap()
    num_pits = 0

    for row in range(rows):
        for col in range(cols):
            z = dem[row, col]
            if z == nodata:
                continue
            is_pit, is_edge = True, False
            lowest = np.inf
            is_stream = is_stream_at(row, col)
            for n in range(8):
                zn = dem_val(row + DY[n], col + DX[n])
                sn = stream_val(row + DY[n], col + DX[n])
                if zn != nodata and zn < z:
                    if not is_stream:
                        is_pit = False
                    elif sn != streams_nodata and sn > 0:
                        is_pit = False
                elif zn == nodata:
                    is_edge = True
                else:
                    if zn < lowest:
                        lowest = zn
            if is_edge:
                if is_stream:
                    p = int(int(z * mult)) * 10000
                else:
                    p = 10000000000000 + int(int(z * mult)) * 10000
                heap.push((row + 1, col + 1, 0), p)
                in_queue[row + 1, col + 1] = True
            if is_pit:
                if not is_edge:
                    pits[row + 1, col + 1] = True
                    num_pits += 1
                if lowest != np.inf and not is_stream:
                    out[row + 1, col + 1] = lowest - small

    num_pits_solved = 0
    while num_pits_solved < num_pits and len(heap):
        row, col, flatindex = heap.pop()
        for i in range(8):
            rn, cn = row + DY[i], col + DX[i]
            zn = out[rn, cn]
            if zn != nodata and not in_queue[rn, cn]:
                flowdir[rn, cn] = BACKLINK[i]
                if pits[rn, cn]:
                    num_pits_solved += 1
                    ztest = zn
                    r, c = rn, cn
                    while True:
                        ztest -= small
                        # reference quirk: padded-coordinate lookup
                        if is_stream_at(r, c):
                            lowest = np.inf
                            for n in range(8):
                                sn = stream_val(r + DY[n], c + DX[n])
                                zn3 = out[r + DY[n], c + DX[n]] \
                                    if (0 <= r + DY[n] < rows + 2
                                        and 0 <= c + DX[n] < cols + 2) \
                                    else nodata
                                if (sn == 0 or sn == streams_nodata) \
                                        and zn3 != nodata:
                                    if zn3 < lowest:
                                        lowest = zn3
                            if lowest < ztest:
                                ztest = lowest - small
                        d = flowdir[r, c]
                        if d > 0:
                            r += DY[d - 1]
                            c += DX[d - 1]
                            zn2 = out[r, c]
                            if zn2 <= ztest or zn2 == nodata:
                                break
                            out[r, c] = ztest
                        else:
                            break
                n = flatindex + 1 if pits[rn, cn] else 0
                if is_stream_at(rn - 1, cn - 1):
                    p = int(int(zn * mult)) * 10000 + (n % 10000)
                else:
                    p = 10000000000000 + int(int(zn * mult)) * 10000 \
                        + (n % 10000)
                heap.push((rn, cn, n), p)
                in_queue[rn, cn] = True
    result = out[1:-1, 1:-1].copy()
    result[~valid_mask] = nodata
    return result


def synthetic_streams_numpy(rows: int, cols: int,
                            nodata: float = NODATA) -> np.ndarray:
    """Deterministic stream network matching the DEM shape (FIXTURES.md
    §3): a cross of channels plus a diagonal, value 1.0 on stream
    cells, NoData elsewhere."""
    s = np.full((rows, cols), nodata)
    s[rows // 2, :] = 1.0
    s[:, cols // 2] = 1.0
    for i in range(min(rows, cols)):
        s[i, i] = 1.0
    return s


def breach_streams(dem_grid: DataFrame, streams_grid: DataFrame,
                   meta: RasterMeta) -> DataFrame:
    """Two-raster exact path: join DEM and streams long forms on
    (row, col) (breachStreams.go's two-input contract, shape equality
    enforced at :209-212), solve in one partition."""
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata
    joined = dem_grid.join(
        streams_grid.withColumnRenamed("value", "stream"),
        ["row", "col"], "left")

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        dem = np.full((rows, cols), nodata, dtype=np.float64)
        dem[pdf["row"].to_numpy(), pdf["col"].to_numpy()] = (
            pdf["value"].to_numpy())
        streams = np.full((rows, cols), nodata, dtype=np.float64)
        sm = pdf["stream"].notna()
        streams[pdf.loc[sm, "row"].to_numpy(),
                pdf.loc[sm, "col"].to_numpy()] = pdf.loc[sm, "stream"]
        out = breach_streams_np(dem, streams, nodata=nodata)
        rr, cc = np.nonzero(out != nodata)
        return pd.DataFrame({"row": rr.astype(np.int32),
                             "col": cc.astype(np.int32),
                             "breached": out[rr, cc]})

    return (joined.repartition(1)
            .mapInPandas(lambda it: [solve(pd.concat(list(it)))],
                         schema="row int, col int, breached double"))


# ---------------------------------------------------------------------------
# Distributed FillDepressions (parallel Priority-Flood on the label graph)
# ---------------------------------------------------------------------------
# The scale path for fillDepressions.go. Without the flat-fix epsilon
# (SMALL_NUM=0, i.e. fixFlats=False) the filled surface has a clean
# closed form: the spill elevation W(c) = minimax over paths from c to
# an outlet (a valid cell with a NoData or off-grid 8-neighbor) of the
# highest z on the path. R. Barnes' parallel Priority-Flood (Computers
# & Geosciences 2016, Algorithms 2-3) computes it in two passes on
# `_perimeter_solve`: each tile floods from its perimeter cells (each
# its own label) and its outlets (the shared ocean label -1), giving a
# local fill F and a label per cell; the driver floods the graph of
# labels from the ocean, giving each label its spill level S; then
# W = max(F, S[label]). Every value is an input elevation, so the
# result is exact in any order. The epsilon path (fixFlats=True) stays
# on the single-partition exact replay — its increments depend on
# global heap visit order.

_NEIGHBORS = tuple(zip(DY, DX))


def _spill_np(dem: np.ndarray, nodata: float) -> np.ndarray:
    """Single-node epsilon-0 spill surface W: a textbook Priority-Flood
    from every valid cell with a NoData or off-grid 8-neighbor
    (fillDepressions.go:247-259 seeds). The oracle of
    `breach_minimax_np`, independent of the label-graph solve."""
    h, w = dem.shape
    valid = dem != nodata
    vpad = np.zeros((h + 2, w + 2), dtype=bool)
    vpad[1:-1, 1:-1] = valid
    edge = valid & ~np.logical_and.reduce(
        [vpad[1 + dy:1 + dy + h, 1 + dx:1 + dx + w] for dy, dx in _NEIGHBORS])
    W = np.where(edge, dem, np.inf)
    er, ec = np.nonzero(edge)
    heap = list(zip(dem[edge].tolist(), er.tolist(), ec.tolist()))
    heapq.heapify(heap)
    while heap:
        wv, r, c = heapq.heappop(heap)
        for dy, dx in _NEIGHBORS:
            rn, cn = r + dy, c + dx
            if 0 <= rn < h and 0 <= cn < w and valid[rn, cn]:
                cand = wv if wv > dem[rn, cn] else dem[rn, cn]
                if cand < W[rn, cn]:
                    W[rn, cn] = cand
                    heapq.heappush(heap, (cand, rn, cn))
    return np.where(valid, W, nodata)


def _label_flood(z: np.ndarray, r0: int, c0: int, rows: int, cols: int,
                 nodata: float):
    """Local Priority-Flood of one DEM tile with top-left cell (r0, c0).

    Seeds are the tile's valid perimeter cells, each labelled with its
    global cell index, and its outlets, which share the ocean label -1;
    a perimeter outlet keeps its own label. Neighbors in other tiles
    count as valid here: the driver finds the outlets among them.
    Returns flat arrays (fill, label, perimeter, outlet); NoData cells
    keep their value and get label -3."""
    h, w = z.shape
    # valid-cell ring: off-grid is NoData, other tiles' cells count valid
    vpad = np.ones((h + 2, w + 2), dtype=bool)
    vpad[1:-1, 1:-1] = z != nodata
    vpad[0] &= r0 > 0
    vpad[-1] &= r0 + h < rows
    vpad[:, 0] &= c0 > 0
    vpad[:, -1] &= c0 + w < cols
    valid = vpad[1:-1, 1:-1]
    outlet = (valid & ~np.logical_and.reduce(
        [vpad[1 + dy:1 + dy + h, 1 + dx:1 + dx + w]
         for dy, dx in _NEIGHBORS])).ravel()
    valid = valid.ravel()
    rr, cc = np.divmod(np.arange(h * w), w)
    perim = valid & ((rr == 0) | (rr == h - 1) | (cc == 0) | (cc == w - 1))
    lab = np.where(valid, -2, -3)
    lab[outlet] = -1
    lab[perim] = ((rr + r0) * cols + cc + c0)[perim]
    seeds = np.flatnonzero(lab >= -1)
    zf = z.ravel()
    heap = list(zip(zf[seeds].tolist(), seeds.tolist()))
    heapq.heapify(heap)
    fill, L = zf.tolist(), lab.tolist()
    while heap:
        f, i = heapq.heappop(heap)
        r, c = divmod(i, w)
        for dy, dx in _NEIGHBORS:
            rn, cn = r + dy, c + dx
            j = rn * w + cn
            if 0 <= rn < h and 0 <= cn < w and L[j] == -2:
                L[j] = L[i]
                if f > fill[j]:
                    fill[j] = f
                heapq.heappush(heap, (fill[j], j))
    return np.array(fill), np.array(L), perim, outlet


def _dijkstra(dist: list, src: np.ndarray, dst: np.ndarray, wt: np.ndarray,
              join) -> np.ndarray:
    """Label-setting search over the directed edges src -> dst from every
    finite entry of ``dist``: dist[v] = min(dist[v], join(dist[u], wt))
    by increasing dist[u], with join add (shortest paths) or max
    (Priority-Flood spill levels)."""
    adj = [[] for _ in dist]
    for u, v, w in zip(src.tolist(), dst.tolist(), wt.tolist()):
        adj[u].append((v, w))
    heap = [(s, u) for u, s in enumerate(dist) if s < math.inf]
    heapq.heapify(heap)
    while heap:
        s, u = heapq.heappop(heap)
        if s > dist[u]:
            continue
        for v, w in adj[u]:
            cand = join(s, w)
            if cand < dist[v]:
                dist[v] = cand
                heapq.heappush(heap, (cand, v))
    return np.array(dist)


def _spill_solve(rel: pd.DataFrame, meta: RasterMeta, tile: int) -> dict:
    """Driver half of the spill surface (Barnes 2016, Algorithm 3).

    ``rel`` holds (a, b, w) rows: a == b is a perimeter cell a with
    elevation w; a != b is the lowest spill elevation w between labels
    a and b inside one tile. Each perimeter cell is joined to its
    8-neighbors in other tiles (edge weight max(z_a, z_b)); a NoData
    or absent neighbor makes it an outlet. A Priority-Flood of the
    label graph from the ocean gives each label its spill level S.
    Returns {(ty, tx): (sorted labels of the tile, their S)}."""
    rows, cols = meta.rows, meta.cols
    a, b, w = (rel[k].to_numpy() for k in ("a", "b", "w"))
    own = a == b
    if not own.any():
        return {}
    order = np.argsort(a[own])
    g, z = a[own][order], w[own][order]
    ea, eb, ew = [a[~own]], [b[~own]], [w[~own]]
    r, c = np.divmod(g, cols)
    for dy, dx in _NEIGHBORS:
        rn, cn = r + dy, c + dx
        ng = rn * cols + cn
        cross = ((rn >= 0) & (rn < rows) & (cn >= 0) & (cn < cols)
                 & ((rn // tile != r // tile) | (cn // tile != c // tile)))
        pos = np.minimum(np.searchsorted(g, ng), g.size - 1)
        hit = cross & (g[pos] == ng)
        out = cross & ~hit
        ea += [g[hit], np.full(out.sum(), -1)]
        eb += [ng[hit], g[out]]
        ew += [np.maximum(z[hit], z[pos[hit]]), z[out]]
    nodes = np.r_[-1, g]
    u = np.searchsorted(nodes, np.concatenate(ea))
    v = np.searchsorted(nodes, np.concatenate(eb))
    ew = np.concatenate(ew)
    S = _dijkstra([-math.inf] + [math.inf] * g.size, np.r_[u, v],
                  np.r_[v, u], np.r_[ew, ew], max)[1:]
    n_tx = math.ceil(cols / tile)
    return _by_tile(r // tile * n_tx + c // tile, n_tx, g, S)


def _spill_surface(dem_tiles: DataFrame, meta: RasterMeta, tile: int,
                   ckpt: CheckpointManager | None, stage: str,
                   tile_form: bool = False) -> DataFrame:
    """The epsilon-0 spill surface W on `_perimeter_solve`: long form
    (row, col, filled), or with ``tile_form`` the DEM tiles with W as an
    extra plane ``wsurf``. With ``ckpt`` the pass-1 relation persists as
    stage ``stage``."""
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata

    def flood(t):
        z = np.frombuffer(t.data, dtype=np.float64).reshape(t.h, t.w)
        return _label_flood(z, t.ty * tile, t.tx * tile, rows, cols, nodata)

    def boundary(t):
        fill, lab, perim, outlet = flood(t)
        F, L = fill.reshape(t.h, t.w), lab.reshape(t.h, t.w)
        po = perim & outlet
        a = [lab[perim], np.full(po.sum(), -1)]
        b = [lab[perim], lab[po]]
        w = [fill[perim], fill[po]]
        # each 8-adjacent pair inside the tile once: E, SW, S, SE
        for dy, dx in ((0, 1), (1, -1), (1, 0), (1, 1)):
            cs = slice(max(0, -dx), t.w - max(0, dx))
            cn = slice(max(0, dx), t.w - max(0, -dx))
            la, lb = L[:t.h - dy, cs], L[dy:, cn]
            m = (la >= -1) & (lb >= -1) & (la != lb)
            a.append(np.minimum(la[m], lb[m]))
            b.append(np.maximum(la[m], lb[m]))
            w.append(np.maximum(F[:t.h - dy, cs][m], F[dy:, cn][m]))
        return (pd.DataFrame({"a": np.concatenate(a),
                              "b": np.concatenate(b),
                              "w": np.concatenate(w)})
                .groupby(["a", "b"], as_index=False)["w"].min())

    def finish(t, spill):
        fill, lab, _, _ = flood(t)
        if spill is not None:
            labels, S = spill
            own = lab >= 0
            fill[own] = np.maximum(
                fill[own], S[np.searchsorted(labels, lab[own])])
        if tile_form:
            return pd.DataFrame({"ty": [t.ty], "tx": [t.tx], "h": [t.h],
                                 "w": [t.w], "data": [t.data],
                                 "wsurf": [fill.tobytes()]})
        idx = np.flatnonzero(lab >= -1)
        rr, cc = np.divmod(idx, t.w)
        return pd.DataFrame({"row": (rr + t.ty * tile).astype(np.int32),
                             "col": (cc + t.tx * tile).astype(np.int32),
                             "filled": fill[idx]})

    return _perimeter_solve(
        dem_tiles, boundary, "a long, b long, w double",
        lambda rel: _spill_solve(rel, meta, tile), finish,
        f"{TILE_SCHEMA}, wsurf binary" if tile_form
        else "row int, col int, filled double",
        ckpt, stage)


def fill_depressions_tiled(dem_tiles: DataFrame, meta: RasterMeta,
                           tile: int = 256,
                           ckpt_dir: str | None = None) -> DataFrame:
    """Distributed FillDepressions: textbook Priority-Flood semantics
    (filled = max(z, minimax spill elevation over paths to an edge),
    epsilon=0).

    NOTE on reference parity: the Go tool's *seed* priorities use the
    stale zN from the neighbor scan (fillDepressions.go:262 — the
    north neighbor's value, NoData for the whole first row), so its
    output is heap-order-dependent and deviates from minimax near
    edges. The single-partition `fill_depressions` replays that quirk
    bit-for-bit; this distributed path implements the specified
    semantics and is tested against an independent global minimax
    oracle (test_fill_depressions_tiled_exact).

    Two passes over the tiles and one driver solve of the label graph
    (see the section comment above), in a fixed number of Spark jobs.
    With `ckpt_dir`, the pass-1 relation persists as stage ``fill_w``
    with per-partition row metrics, and a rerun resumes from it."""
    ckpt = CheckpointManager(ckpt_dir) if ckpt_dir is not None else None
    return _spill_surface(dem_tiles, meta, tile, ckpt, "fill_w")


# ---------------------------------------------------------------------------
# Distributed BreachDepressions (minimax-path carving)
# ---------------------------------------------------------------------------
# The scale path for breachDepressions.go full-breach mode. The Go
# tool's carve is heap-order-dependent (back-links record whichever
# neighbor popped first among equal priorities, breachDepressions.go:
# 450-505), so — exactly as with FillDepressions — the distributed
# operator implements *specified, order-free* semantics and the
# single-partition `breach_depressions` replay keeps bit parity with
# the Go fixture behavior:
#
#   W  = epsilon=0 spill surface (the fill's label-graph solve);
#   D  = distance-to-drop inside each equal-W plateau (the classic
#        flat-resolution distance);
#   backlink(c) = the unique neighbor minimizing (W, D, z, flatindex)
#        among neighbors with (W, D) <lex (W(c), D(c)) — a
#        deterministic minimax flow tree, terminal at outlet cells
#        (any NoData / off-grid 8-neighbor);
#   carve: from every strict interior pit p walk the backlink chain to
#        an outlet carrying v := min(v, z(cell)) (v starts at z_p),
#        setting each cell to min(z, v) — the epsilon->0 limit of the
#        reference's lastValue walk (breachDepressions.go:472-505).
#
# The carved surface drains: along every walked path values are
# non-increasing, so no strict interior pit survives
# (test_breach_tiled_* asserts this plus exact equality with the
# single-node replay of the same semantics).
#
# All three phases run on `_perimeter_solve` (see
# `breach_depressions_tiled`), so a call takes a fixed number of Spark
# jobs however far a plateau or a carve path reaches across tiles.


def _plateau_distance_np(dem: np.ndarray, W: np.ndarray,
                         nodata: float) -> np.ndarray:
    """Single-node D: unit-distance to a W-drop (or outlet) within each
    equal-W plateau. INF never survives (every plateau has a drop)."""
    rows, cols = dem.shape
    valid = dem != nodata
    D = np.full((rows, cols), np.iinfo(np.int64).max, dtype=np.int64)
    heap = []
    for r in range(rows):
        for c in range(cols):
            if not valid[r, c]:
                continue
            drop = False
            for n in range(8):
                rn, cn = r + DY[n], c + DX[n]
                if not (0 <= rn < rows and 0 <= cn < cols) or \
                        not valid[rn, cn]:
                    drop = True   # outlet
                    break
                if W[rn, cn] < W[r, c]:
                    drop = True
                    break
            if drop:
                D[r, c] = 0
                heapq.heappush(heap, (0, r, c))
    while heap:
        d, r, c = heapq.heappop(heap)
        if d > D[r, c]:
            continue
        for n in range(8):
            rn, cn = r + DY[n], c + DX[n]
            if 0 <= rn < rows and 0 <= cn < cols and valid[rn, cn] \
                    and W[rn, cn] == W[r, c] and d + 1 < D[rn, cn]:
                D[rn, cn] = d + 1
                heapq.heappush(heap, (d + 1, rn, cn))
    return D


def _backlinks_np(dem: np.ndarray, W: np.ndarray, D: np.ndarray,
                  cols_global: int, nodata: float,
                  row0: int = 0, col0: int = 0) -> np.ndarray:
    """Per-cell backlink direction 0..7; -1 = outlet (terminal);
    -2 = invalid. Deterministic: argmin (W, D, z, global flatindex)
    over neighbors strictly lexicographically below in (W, D)."""
    rows, cols = dem.shape
    bl = np.full((rows, cols), -2, dtype=np.int8)
    valid = dem != nodata
    for r in range(rows):
        for c in range(cols):
            if not valid[r, c]:
                continue
            outlet = False
            best = None
            best_dir = -2
            for n in range(8):
                rn, cn = r + DY[n], c + DX[n]
                if not (0 <= rn < rows and 0 <= cn < cols) or \
                        not valid[rn, cn]:
                    outlet = True
                    break
                if (W[rn, cn], D[rn, cn]) < (W[r, c], D[r, c]):
                    key = (W[rn, cn], D[rn, cn], dem[rn, cn],
                           (row0 + rn) * cols_global + (col0 + cn))
                    if best is None or key < best:
                        best = key
                        best_dir = n
            bl[r, c] = -1 if outlet else best_dir
    return bl


def breach_minimax_np(dem: np.ndarray, nodata: float = NODATA
                      ) -> np.ndarray:
    """Single-node replay of the distributed breach semantics (the
    oracle for breach_depressions_tiled)."""
    rows, cols = dem.shape
    valid = dem != nodata
    W = _spill_np(dem, nodata)
    D = _plateau_distance_np(dem, W, nodata)
    bl = _backlinks_np(dem, W, D, cols, nodata)
    out = dem.copy()
    for r in range(rows):
        for c in range(cols):
            if not valid[r, c] or bl[r, c] == -1:
                continue
            is_pit = True
            for n in range(8):
                rn, cn = r + DY[n], c + DX[n]
                if not valid[rn, cn] or dem[rn, cn] <= dem[r, c]:
                    is_pit = False
                    break
            if not is_pit:
                continue
            v = dem[r, c]
            rr, cc = r, c
            while True:
                v = min(v, dem[rr, cc])
                if v < out[rr, cc]:
                    out[rr, cc] = v
                d = bl[rr, cc]
                if d < 0:
                    break
                rr += DY[d]
                cc += DX[d]
    return out


def _breach_pad(t, tile: int, meta: RasterMeta, ring):
    """Flat (h+2) x (w+2) planes W, z, D and global cell index of one
    (z, W) tile and its one-cell ring. The D solve's (g, W, z, D) rows
    in ``ring`` fill the ring (cells it lacks are NoData) and seed D;
    with ``ring=None`` (pass 1) the ring cells in the grid read W = +inf,
    valid but neither lower than nor level with any tile cell."""
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata
    r0, c0 = t.ty * tile, t.tx * tile
    pr = np.arange(r0 - 1, r0 + t.h + 1)[:, None]
    pc = np.arange(c0 - 1, c0 + t.w + 1)[None, :]
    ingrid = (pr >= 0) & (pr < rows) & (pc >= 0) & (pc < cols)
    W = np.where(ingrid & (ring is None), np.inf, nodata)
    z = np.full(W.shape, nodata)
    D = np.full(W.shape, np.inf)
    W[1:-1, 1:-1] = np.frombuffer(t.wsurf, dtype=np.float64).reshape(t.h, t.w)
    z[1:-1, 1:-1] = np.frombuffer(t.data, dtype=np.float64).reshape(t.h, t.w)
    if ring is not None:
        g, rW, rz, rD = ring
        lr, lc = g // cols - r0 + 1, g % cols - c0 + 1
        W[lr, lc], z[lr, lc], D[lr, lc] = rW, rz, rD
    return W.ravel(), z.ravel(), D.ravel(), (pr * cols + pc).ravel()


def _plateau_graph(W: np.ndarray, h: int, w: int, nodata: float):
    """Plateau structure of a tile from its flat (h+2) x (w+2) W plane
    with a one-cell ring: the 8 x n flat neighbour indices, the equal-W
    edges between valid tile cells, and the masks of the valid tile
    cells, of its drops (an outlet or a lower-W neighbour: D = 0) and of
    its valid perimeter cells."""
    inner = np.zeros((h + 2, w + 2), dtype=bool)
    inner[1:-1, 1:-1] = True
    inner = inner.ravel()
    step = np.array(DY) * (w + 2) + np.array(DX)
    nbr = np.clip(np.arange(W.size) + step[:, None], 0, W.size - 1)
    Wn = W[nbr]
    valid = inner & (W != nodata)
    same = valid & inner[nbr] & (Wn == W)
    drop = valid & ((Wn == nodata) | (Wn < W)).any(axis=0)
    perim = valid & ~inner[nbr].all(axis=0)
    return nbr, same, valid, drop, perim


def _plateau_bfs(nbr: np.ndarray, same: np.ndarray, d: np.ndarray
                 ) -> np.ndarray:
    """Unit-step distances along the ``same`` edges (8 x n, to ``nbr``)
    from every finite entry of ``d``, each seed starting at its own
    value, in increasing distance order; updates ``d`` in place."""
    k = d.min(initial=np.inf)
    while k < np.inf:
        front = np.flatnonzero(d == k)
        nb = nbr[:, front][same[:, front]]
        d[nb[d[nb] > k + 1]] = k + 1
        k = d[d > k].min(initial=np.inf)
    return d


def _perimeter_distances(nbr: np.ndarray, same: np.ndarray, ld: np.ndarray,
                         perim: np.ndarray):
    """In-tile plateau distances d(p, q) between perimeter cells where
    they beat p's own distance ``ld`` to a drop, the only ones Dijkstra
    over the perimeter can use. One BFS carries a bit per source q (a
    perimeter cell with ld > 0); a cell passes a wave on only while its
    level is below its own ld. That loses no kept pair: the cell i steps
    from q on a shortest path to p has ld > i, since d(q, p) < ld[p] <=
    its ld + d(q, p) - i. Returns flat index arrays (p, q) and their
    distances d."""
    src = np.flatnonzero(perim & (ld > 0))
    j = np.arange(src.size)
    reach = np.zeros((ld.size, -(-src.size // 64)), dtype=np.uint64)
    reach[src, j // 64] = np.left_shift(np.uint64(1),
                                        (j % 64).astype(np.uint64))
    new, hit = np.zeros_like(reach), np.zeros(ld.size, dtype=bool)
    front, bits, k = src, reach[src], 0
    out = [np.empty((3, 0), dtype=np.int64)]
    while front.size:
        for n in range(8):
            m = same[n, front]
            tgt = nbr[n, front[m]]  # distinct per direction
            new[tgt] |= bits[m]
            hit[tgt] = True
        tgt = np.flatnonzero(hit)
        hit[tgt] = False
        bits = new[tgt] & ~reach[tgt]
        new[tgt] = 0
        k += 1
        keep = (ld[tgt] > k) & bits.any(axis=1)
        front, bits = tgt[keep], bits[keep]
        reach[front] |= bits
        at = perim[front]
        pi, qj = np.nonzero(np.unpackbits(bits[at].view(np.uint8), axis=1,
                                          bitorder="little"))
        out.append(np.stack([front[at][pi], src[qj], np.full(pi.size, k)]))
    return np.concatenate(out, axis=1)


def _plateau_solve(rel: pd.DataFrame, meta: RasterMeta, tile: int) -> dict:
    """Driver half of the plateau distance D.

    ``rel`` holds a == b rows (perimeter cell a: its distance d to a
    drop inside its tile, W and z) and a != b rows (a reaches perimeter
    cell b of its tile in d steps on its plateau). A perimeter cell is
    also a drop when an 8-neighbour in another tile is lower in W or
    missing from the relation (NoData or an absent tile); level
    neighbours in other tiles are one step apart. Dijkstra gives every
    perimeter cell its D. Returns, per tile, the (g, W, z, D) rows of
    the perimeter cells in it and in its one-cell ring."""
    rows, cols = meta.rows, meta.cols
    a, b, d, wv, zv = (rel[k].to_numpy() for k in ("a", "b", "d", "w", "z"))
    own = a == b
    order = np.argsort(a[own])
    g, D, W, z = (x[own][order] for x in (a, d, wv, zv))
    if not g.size:
        return {}
    r, c = np.divmod(g, cols)
    src, dst = [np.searchsorted(g, b[~own])], [np.searchsorted(g, a[~own])]
    wt = [d[~own]]
    for dy, dx in _NEIGHBORS:
        rn, cn = r + dy, c + dx
        ng = rn * cols + cn
        cross = ((rn >= 0) & (rn < rows) & (cn >= 0) & (cn < cols)
                 & ((rn // tile != r // tile) | (cn // tile != c // tile)))
        pos = np.minimum(np.searchsorted(g, ng), g.size - 1)
        hit = cross & (g[pos] == ng)
        D[cross & (~hit | (W[pos] < W))] = 0
        level = hit & (W[pos] == W)
        src.append(pos[level])
        dst.append(np.flatnonzero(level))
        wt.append(np.ones(level.sum()))
    D = _dijkstra(D.tolist(), np.concatenate(src), np.concatenate(dst),
                  np.concatenate(wt), operator.add)
    # a cell is in the ring of (or in) the tile of each cell around it
    n_tx = math.ceil(cols / tile)
    key = []
    for dy, dx in ((0, 0), *_NEIGHBORS):
        rn, cn = r + dy, c + dx
        ok = (rn >= 0) & (rn < rows) & (cn >= 0) & (cn < cols)
        key.append(np.where(ok, rn // tile * n_tx + cn // tile, -1))
    key, i = np.divmod(np.unique(np.concatenate(key) * g.size
                                 + np.tile(np.arange(g.size), 9)), g.size)
    i = i[key >= 0]
    return _by_tile(key[key >= 0], n_tx, g[i], W[i], z[i], D[i])


def breach_depressions_tiled(dem_tiles: DataFrame, meta: RasterMeta,
                             tile: int = 256,
                             ckpt_dir: str | None = None) -> DataFrame:
    """Distributed BreachDepressions (full-breach, minimax-path carve).

    Semantics: see the section comment above — W spill surface, D
    plateau distance, deterministic backlink forest, then every strict
    interior pit carves min(z, v) with v := min(v, z) along its chain to
    an outlet. Exactly equal to `breach_minimax_np` on the assembled
    grid.

    Three chained `_perimeter_solve` calls in a fixed number of Spark
    jobs. W is the fill's label-graph solve. For D, pass 1 runs a BFS
    per tile from its local drops (distance ld) and from each perimeter
    cell (`_perimeter_distances`); the driver adds the cross-tile drops
    and steps and runs Dijkstra over the perimeter (`_plateau_solve`);
    pass 2 finishes D from the solved perimeter and, with the ring of
    neighbouring (W, D, z) it was handed, the backlinks and pits. The
    carve is D8's forest solve with min for + (`_forest_solve`).

    With `ckpt_dir`, the pass-1 relation of each solve persists (stages
    ``w``, ``d`` and ``walk``) with per-partition row metrics, and a
    rerun resumes from the completed passes.

    Returns long form (row, col, value) of the carved DEM.
    """
    cols, nodata = meta.cols, meta.nodata
    ckpt = CheckpointManager(ckpt_dir) if ckpt_dir is not None else None
    zw_tiles = _spill_surface(dem_tiles, meta, tile, ckpt, "w",
                              tile_form=True)

    def d_boundary(t):
        W, z, ld, g = _breach_pad(t, tile, meta, None)
        nbr, same, _, drop, perim = _plateau_graph(W, t.h, t.w, nodata)
        ld[drop] = 0
        _plateau_bfs(nbr, same, ld)
        p, q, d = _perimeter_distances(nbr, same, ld, perim)
        perim = np.flatnonzero(perim)
        return pd.DataFrame({"a": np.r_[g[perim], g[p]],
                             "b": np.r_[g[perim], g[q]],
                             "d": np.r_[ld[perim], d],
                             "w": np.r_[W[perim], np.zeros(p.size)],
                             "z": np.r_[z[perim], np.zeros(p.size)]})

    def d_finish(t, ring):
        if ring is None:
            ring = (np.empty(0, dtype=np.int64),) + (np.empty(0),) * 3
        W, z, D, g = _breach_pad(t, tile, meta, ring)
        nbr, same, valid, drop, _ = _plateau_graph(W, t.h, t.w, nodata)
        D[drop] = 0
        _plateau_bfs(nbr, same, D)
        Wn, Dn, zn = W[nbr], D[nbr], z[nbr]
        # backlink: the argmin of (W, D, z, index) among the neighbours
        # below in (W, D), stored as a D8 pointer (direction + 1, outlets
        # 0) so that the carve is D8's forest solve
        lower = (Wn != nodata) & ((Wn < W) | ((Wn == W) & (Dn < D)))
        link = np.lexsort((g[nbr], zn, Dn, np.where(lower, Wn, np.inf)),
                          axis=0)[0] + 1.0
        link[(Wn == nodata).any(axis=0)] = 0.0
        pit = valid & ((zn != nodata) & (zn > z)).all(axis=0)

        def plane(a):
            return a.reshape(t.h + 2, t.w + 2)[1:-1, 1:-1].tobytes()
        return pd.DataFrame({"ty": [t.ty], "tx": [t.tx], "h": [t.h],
                             "w": [t.w], "data": [t.data],
                             "link": [plane(np.where(valid, link, nodata))],
                             "seed": [plane(np.where(pit, z, np.inf))]})

    link_tiles = _perimeter_solve(
        zw_tiles, d_boundary, "a long, b long, d double, w double, z double",
        lambda rel: _plateau_solve(rel, meta, tile), d_finish,
        f"{TILE_SCHEMA}, link binary, seed binary", ckpt, "d")

    def carve(t):
        def plane(b):
            return np.frombuffer(b, dtype=np.float64).reshape(t.h, t.w)
        return (_tile_graph(plane(t.link), nodata), plane(t.data).ravel(),
                plane(t.seed).ravel().copy())

    def walk_finish(t, inflow):
        graph, z, seed = carve(t)
        acc = _forest_finish(t, tile, cols, graph, seed, inflow, z)
        idx = np.flatnonzero(graph[0])
        return pd.DataFrame({
            "row": (idx // t.w + t.ty * tile).astype(np.int32),
            "col": (idx % t.w + t.tx * tile).astype(np.int32),
            "value": np.minimum(z, acc)[idx]})

    def walk_boundary(t):
        graph, z, seed = carve(t)
        return _forest_boundary(t, tile, cols, graph, seed, z)

    return _perimeter_solve(
        link_tiles, walk_boundary, _FOREST_SCHEMA,
        lambda rel: _forest_solve(rel, meta, tile, carve=True),
        walk_finish, "row int, col int, value double", ckpt, "walk")


# ---------------------------------------------------------------------------
# Invariant summaries (driver-correctness gate for the replay family)
# ---------------------------------------------------------------------------
# The heap replays are bit-faithful to reference pop order, so a
# per-cell SQL oracle would have to replay the heap (tautological) —
# see oracles.py's invariant-oracle section. These helpers compute the
# checkable invariants as pure DataFrame plans over the per-cell
# outputs (no collect; equi-joins on shifted keys), so a broken
# operator turns the driver row red.


def _offsets_df(spark):
    return spark.createDataFrame(
        [(DY[n], DX[n]) for n in range(8)], "dy int, dx int")


def interior_pit_count(df: DataFrame, value_col: str,
                       alias: str = "n_interior_pits") -> DataFrame:
    """1-row count of interior pits (all 8 neighbors present and none
    strictly lower — the flat-inclusive breach seeding definition,
    breachDepressions.go:283-305) of a long-form raster. The 8-way
    neighbor lookup is an equi-join on shifted (row, col) keys."""
    spark = df.sparkSession
    off = F.broadcast(_offsets_df(spark))
    c = df.select(F.col("row").alias("r"), F.col("col").alias("c"),
                  F.col(value_col).alias("z"))
    n = df.select(F.col("row").alias("nr"), F.col("col").alias("nc"),
                  F.col(value_col).alias("nz"))
    pits = (c.crossJoin(off)
            .join(n, (F.col("nr") == F.col("r") + F.col("dy"))
                  & (F.col("nc") == F.col("c") + F.col("dx")), "left")
            .groupBy("r", "c", "z")
            .agg(F.count("nz").alias("ndeg"), F.min("nz").alias("mnz"))
            .where((F.col("ndeg") == 8) & (F.col("mnz") >= F.col("z"))))
    return pits.agg(F.count("*").alias(alias))


def fill_invariants(dem: DataFrame, meta: RasterMeta,
                    dem_tiles48, tile: int = 48) -> DataFrame:
    """Invariant summary of the exact FillDepressions replay, 1 row:

    * n_cells — valid-cell count (oracle: genuine count);
    * n_depression_cells — cells strictly below the minimax spill W,
      with W from the independent distributed label-graph solve
      (fill_depressions_tiled); the oracle recomputes W via its own
      recursive CTE — a genuine cross-engine check;
    * n_lowered = 0 — an epsilon-fill never lowers a cell (out is
      z at seeds, max(z_n, out_c [+eps]) elsewhere);
    * n_below_spill = 0 — every first-touch path value is >= the
      minimax over paths, and epsilon only adds;
    * n_interior_pits = 0 — each touched cell is strictly above its
      touching neighbor, so only (edge) seeds lack a lower neighbor.
    """
    filled = fill_depressions(dem, meta)
    w = fill_depressions_tiled(dem_tiles48, meta, tile=tile) \
        .withColumnRenamed("filled", "w")
    j = (filled.join(dem, ["row", "col"]).join(w, ["row", "col"]))
    core = j.agg(
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("value") < F.col("w"), 1).otherwise(0)
              ).alias("n_depression_cells"),
        F.sum(F.when(F.col("filled") < F.col("value"), 1).otherwise(0)
              ).alias("n_lowered"),
        F.sum(F.when(F.col("filled") < F.col("w"), 1).otherwise(0)
              ).alias("n_below_spill"))
    return core.crossJoin(interior_pit_count(filled, "filled"))


def breach_complete_invariants(dem: DataFrame, meta: RasterMeta
                               ) -> DataFrame:
    """Invariant summary of the complete-breach replay (see
    oracles.breach_complete_invariants_sql)."""
    out = breach_depressions(dem, meta)
    j = out.join(dem, ["row", "col"])
    core = j.agg(
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("breached") != F.col("value"), 1).otherwise(0)
              ).alias("golden_n_changed"),
        F.sum(F.when(F.col("breached") < F.col("value"), 1).otherwise(0)
              ).alias("golden_n_lowered"),
        F.sum(F.when(F.col("breached") > F.col("value"), 1).otherwise(0)
              ).alias("golden_n_raised"))
    return (core
            .crossJoin(interior_pit_count(dem, "value", "n_pits_in"))
            .crossJoin(interior_pit_count(out, "breached")))


def breach_constrained_invariants(dem: DataFrame, meta: RasterMeta,
                                  max_depth: float, max_length: int
                                  ) -> DataFrame:
    """Invariant summary of the constrained-breach replay. The depth
    bound is computed from the DEM's own range with the reference's
    quantization constant (breachDepressions.go:328-329):
    SMALL_NUM = 1/10^(5-digits) * 10, bound = max_depth +
    (max_length+1)*SMALL_NUM (deepest legal cut plus the epsilon
    channel gradient over a full-length path)."""
    out = breach_depressions(dem, meta, max_depth=max_depth,
                             max_length=max_length, constrained=True,
                             post_breach_fill=True)
    mn, mx = dem.agg(F.min("value"), F.max("value")).first()
    digits = len(str(int(mx - mn)))
    small = 1.0 / math.pow(10, float(5 - digits)) * 10.0
    bound = max_depth + (max_length + 1) * small
    j = out.join(dem, ["row", "col"])
    core = j.agg(
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("value") - F.col("breached") > F.lit(bound),
                     1).otherwise(0)).alias("n_over_depth_bound"),
        F.sum(F.when(F.col("breached") != F.col("value"), 1).otherwise(0)
              ).alias("golden_n_changed")).withColumn(
        "depth_bound", F.lit(bound))
    return (core
            .crossJoin(interior_pit_count(dem, "value", "n_pits_in"))
            .crossJoin(interior_pit_count(out, "breached")))


def breach_streams_invariants(dem: DataFrame, streams: DataFrame,
                              meta: RasterMeta) -> DataFrame:
    """Invariant summary of the BreachStreams replay (see
    oracles.breach_streams_invariants_sql)."""
    out = breach_streams(dem, streams, meta)
    j = out.join(dem, ["row", "col"])
    core = j.agg(
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("breached") != F.col("value"), 1).otherwise(0)
              ).alias("golden_n_changed"),
        F.sum(F.when(F.col("breached") < F.col("value"), 1).otherwise(0)
              ).alias("golden_n_lowered"),
        F.sum(F.when(F.col("breached") > F.col("value"), 1).otherwise(0)
              ).alias("golden_n_raised"))
    streams_cnt = streams.agg(F.count("*").alias("n_stream_cells"))
    return (core.crossJoin(streams_cnt)
            .crossJoin(interior_pit_count(out, "breached")))


def fd8_invariants(dem_tiles48, meta: RasterMeta, tile: int = 48
                   ) -> DataFrame:
    """Invariant summary of distributed FD8. The headwater set (no
    strictly-higher valid 8-neighbor) is computed from the DEM itself
    — NOT inferred from ``accum == 1.0``: a cell whose only inflow is
    below ~1 ulp of 1.0 would round ``1.0 + inflow`` back to 1.0 and
    be miscounted as a headwater, so float saturation can inflate the
    count on a non-dyadic DEM. On true headwaters accum IS exactly 1.0
    (no inflow terms at all), so ``n_head_accum_mismatch == 0`` is a
    safe one-directional check; ``accum < 1`` is impossible (loads
    non-negative, every valid cell starts at 1)."""
    from go_spatial_spark.grid import tiles_to_long
    acc = fd8_flow_accum(dem_tiles48, meta, tile=tile)
    dem = tiles_to_long(dem_tiles48, meta, tile=tile)
    offs = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dy, dx) != (0, 0)])
    e = dem.select("row", "col", "value", F.explode(offs).alias("o"))
    nbr = dem.select(F.col("row").alias("nr"), F.col("col").alias("nc"),
                     F.col("value").alias("nz"))
    head = (e.join(nbr, (F.col("nr") == F.col("row") + F.col("o.dy"))
                   & (F.col("nc") == F.col("col") + F.col("o.dx")), "left")
            .groupBy("row", "col")
            .agg(F.max(F.when(F.col("nz") > F.col("value"), 1)
                       .otherwise(0)).alias("has_higher"))
            .where(F.col("has_higher") == 0)
            .select("row", "col"))
    head_stats = (head.join(acc, ["row", "col"])
                  .agg(F.count("*").alias("n_headwater"),
                       F.sum(F.when(F.col("accum") != 1.0, 1).otherwise(0)
                             ).alias("n_head_accum_mismatch")))
    return acc.agg(
        F.count("*").alias("n_cells"),
        F.sum(F.when(F.col("accum") < 1.0, 1).otherwise(0)
              ).alias("n_below_one")).crossJoin(head_stats)
