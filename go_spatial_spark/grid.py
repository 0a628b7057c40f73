"""Grid (raster) data model: long form, tile form, halo exchange.

The reference models a raster as one dense in-memory float64 array
(`/root/reference/geospatialfiles/raster/raster.go:55-66`). We model it
as two co-existing DataFrame shapes:

- **long form** — ``(row int, col int, value double)``, one row per
  *valid* cell (NoData cells are simply absent; the reference's NoData
  sentinel `raster.go:104` maps to row-absence at the relational
  boundary).
- **tile form** — ``(ty int, tx int, h int, w int, data binary)``, one
  row per fixed-size tile; ``data`` is a row-major float64 buffer of
  shape (h, w) with NoData cells holding the sentinel (NumPy has no null
  for float64, so the sentinel lives only *inside* tiles).

Focal ("stencil") operators run on tile form via `mapInPandas`/
`applyInPandas` with **halo exchange**: each tile ships only its
`halo`-wide edge strips (not the whole tile) to its 8 neighbors, so
shuffle volume scales with tile *perimeter*, not area — the property
that keeps this viable at 100 TB.

Out-of-grid reads are NoData, matching the reference's default boundary
policy (`raster.go:289-319`, ReflectAtBoundaries=false).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

NODATA = -32768.0  # reference default: raster.go:104


@dataclass(frozen=True)
class RasterMeta:
    """Raster header, mirroring RasterConfig (raster.go:68-87):
    epsg/wkt/xy_units feed the geographic-coordinates detection,
    pixel_is_area the cell-size divisor (raster.go:383-399)."""

    rows: int
    cols: int
    north: float = 0.0
    south: float = 0.0
    east: float = 0.0
    west: float = 0.0
    nodata: float = NODATA
    epsg: int = 0
    wkt: str = ""
    xy_units: str = ""
    pixel_is_area: bool = True

    def __post_init__(self):
        if self.north == 0.0 and self.south == 0.0:
            # default: unit cells, projected coordinates
            object.__setattr__(self, "north", float(self.rows))
            object.__setattr__(self, "east", float(self.cols))

    @property
    def cellsize_x(self) -> float:
        # raster.go:383-390: pixel-is-point grids span (cols-1) cells
        d = self.cols if self.pixel_is_area else self.cols - 1
        return (self.east - self.west) / d

    @property
    def cellsize_y(self) -> float:
        d = self.rows if self.pixel_is_area else self.rows - 1
        return (self.north - self.south) / d

    @property
    def mean_cellsize(self) -> float:
        # slope.go:150-151: eightGridRes = 8 * mean cell size
        return (self.cellsize_x + self.cellsize_y) / 2.0

    @property
    def is_geographic(self) -> bool:
        """Geographic-CRS detection (raster.go:417-436
        IsInGeographicCoordinates): known geographic EPSG codes, a
        non-projected WKT, or degree XY units. Divergence from the
        reference's stop-gap: an EMPTY wkt does not imply geographic
        (the Go version returns true for any raster without a WKT,
        which would flag every headerless projected grid); absent CRS
        metadata here means projected, matching the .dep 'XY Units'
        convention."""
        if self.epsg in (4322, 4326, 4629, 4277):
            return True
        w = self.wkt.lower()
        if w and "projcs[" not in w:
            return True
        return "deg" in self.xy_units.lower()

    @property
    def z_conv_factor(self) -> float:
        """Elevation-unit conversion for geographic grids
        (slope.go:168-175): 1/(113200*cos(midLat)), with the
        reference's verbatim midLat = (north - south)/2 — the half
        EXTENT, not the midpoint — reproduced for parity."""
        if self.is_geographic:
            mid_lat = (self.north - self.south) / 2.0
            if -90.0 <= mid_lat <= 90.0:
                return 1.0 / (113200 * np.cos(np.pi / 180.0 * mid_lat))
        return 1.0


# ---------------------------------------------------------------------------
# Deterministic synthetic DEM
# ---------------------------------------------------------------------------
# All values are multiples of 2^-6 with magnitude < 600 so that sums of
# up to ~2^24 cells are EXACT in float64 regardless of summation order.
# That makes Spark vs DuckDB aggregates bit-identical with no rounding.
# Integer-only congruences keep both engines' arithmetic identical.

_DEM_HOLE_MOD = 997
_DEM_HOLE_LT = 2


def synthetic_dem(spark: SparkSession, rows: int, cols: int) -> DataFrame:
    """Long-form deterministic DEM; NoData holes are absent rows."""
    i = F.col("id")
    r = (i / cols).cast("int").alias("row")
    c = (i % cols).cast("int").alias("col")
    df = spark.range(rows * cols).select(r, c)
    h = (F.col("row") * 7919 + F.col("col") * 104729
         + ((F.col("row") * F.col("col")) % 1543) * 31) % 9973
    base = ((F.col("row") * 13) % 97 + (F.col("col") * 17) % 89) * 2
    value = (base.cast("double") + h.cast("double") / F.lit(64.0)).alias("value")
    hole = ((F.col("row") * 31 + F.col("col") * 17) % _DEM_HOLE_MOD) < _DEM_HOLE_LT
    return df.select("row", "col", value).where(~hole)


def synthetic_dem_sql(rows: int, cols: int) -> str:
    """DuckDB SQL producing the identical long-form DEM (bit-exact)."""
    return f"""
    SELECT (i // {cols})::INT AS row, (i % {cols})::INT AS col,
           ((((i // {cols}) * 13) % 97 + ((i % {cols}) * 17) % 89) * 2)::DOUBLE
           + (((i // {cols}) * 7919 + (i % {cols}) * 104729
               + (((i // {cols}) * (i % {cols})) % 1543) * 31) % 9973)::DOUBLE / 64.0
           AS value
    FROM range(0, {rows} * {cols}) t(i)
    WHERE (((i // {cols}) * 31 + (i % {cols}) * 17) % {_DEM_HOLE_MOD}) >= {_DEM_HOLE_LT}
    """


def synthetic_dem_tiles(spark: SparkSession, rows: int, cols: int,
                        tile: int = 256,
                        with_edges: int | None = None) -> DataFrame:
    """Tile-form synthetic DEM generated directly per tile task —
    bit-identical to ``long_to_tiles(synthetic_dem(...))`` but without
    materializing rows*cols long-form rows + a shuffle (at 16384^2
    that's 268M rows; tile-direct generation is the shape a production
    scan would have: one task per tile split).

    ``with_edges=h`` also emits the edge-strip sidecar (see
    `edge_sidecar_bytes`) in the same generation pass — zero extra
    Arrow crossings, the shape a production ingest would write."""
    n_ty = math.ceil(rows / tile)
    n_tx = math.ceil(cols / tile)
    nodata = NODATA
    par = spark.sparkContext.defaultParallelism
    ids = spark.range(n_ty * n_tx, numPartitions=min(n_ty * n_tx, 4 * par)) \
        .select((F.col("id") / n_tx).cast("int").alias("ty"),
                (F.col("id") % n_tx).cast("int").alias("tx"))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for ty, tx in zip(pdf["ty"].to_numpy(), pdf["tx"].to_numpy()):
                r0, c0 = int(ty) * tile, int(tx) * tile
                h = min(tile, rows - r0)
                w = min(tile, cols - c0)
                r = np.arange(r0, r0 + h, dtype=np.int64)[:, None]
                c = np.arange(c0, c0 + w, dtype=np.int64)[None, :]
                hsh = (r * 7919 + c * 104729 + ((r * c) % 1543) * 31) % 9973
                base = ((r * 13) % 97 + (c * 17) % 89) * 2
                v = base.astype(np.float64) + hsh.astype(np.float64) / 64.0
                hole = ((r * 31 + c * 17) % _DEM_HOLE_MOD) < _DEM_HOLE_LT
                v = np.where(hole, nodata, v)
                rec = (int(ty), int(tx), h, w, v.tobytes())
                if with_edges is not None:
                    rec += (edge_sidecar_bytes(v, with_edges),)
                recs.append(rec)
            if recs:
                cols_ = ["ty", "tx", "h", "w", "data"]
                if with_edges is not None:
                    cols_.append("edges")
                yield pd.DataFrame(recs, columns=cols_)

    schema = TILE_SCHEMA
    if with_edges is not None:
        schema += ", edges binary"
    out = ids.mapInPandas(gen, schema=schema)
    if with_edges is not None:
        out = out.withMetadata("edges", {"halo_max": int(with_edges)})
    return out


def synthetic_dem_numpy(rows: int, cols: int, nodata: float = NODATA) -> np.ndarray:
    """Dense NumPy replica of the synthetic DEM (golden-test oracle)."""
    r = np.arange(rows, dtype=np.int64)[:, None]
    c = np.arange(cols, dtype=np.int64)[None, :]
    h = (r * 7919 + c * 104729 + ((r * c) % 1543) * 31) % 9973
    base = ((r * 13) % 97 + (c * 17) % 89) * 2
    v = base.astype(np.float64) + h.astype(np.float64) / 64.0
    hole = ((r * 31 + c * 17) % _DEM_HOLE_MOD) < _DEM_HOLE_LT
    v = np.where(hole, nodata, v)
    return v


# ---------------------------------------------------------------------------
# long form <-> tile form
# ---------------------------------------------------------------------------

TILE_SCHEMA = "ty int, tx int, h int, w int, data binary"


def long_to_tiles(df: DataFrame, meta: RasterMeta,
                  tile: int = 256) -> DataFrame:
    """Pack long-form cells into fixed-size tiles (one Arrow batch each).

    Partitioning: hash on (ty, tx) — tiles are the unit of parallelism,
    analogous to the reference's row blocks (hillshade.go:184-205) but
    shuffle-addressable. A raster of more than one tile is hash-
    partitioned explicitly: a one-task input (a small file's block
    scan) satisfies the grouping as it stands, so Spark would plan no
    exchange and run every tile, and every stencil after it, on one
    core. A one-tile raster keeps that exchange-free plan.
    """
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata

    def pack(key, pdf):
        ty, tx = int(key[0]), int(key[1])
        h = min(tile, rows - ty * tile)
        w = min(tile, cols - tx * tile)
        arr = np.full((h, w), nodata, dtype=np.float64)
        rr = pdf["row"].to_numpy() - ty * tile
        cc = pdf["col"].to_numpy() - tx * tile
        arr[rr, cc] = pdf["value"].to_numpy(dtype=np.float64)
        return pd.DataFrame({"ty": [ty], "tx": [tx], "h": [h], "w": [w],
                             "data": [arr.tobytes()]})

    keyed = df.withColumn("ty", (F.col("row") / tile).cast("int")).withColumn(
        "tx", (F.col("col") / tile).cast("int")
    )
    if rows > tile or cols > tile:
        keyed = keyed.repartition("ty", "tx")
    # NoData-only tiles produce no long rows → absent tiles are fine:
    # downstream treats absent neighbors as all-NoData.
    return keyed.groupBy("ty", "tx").applyInPandas(pack, schema=TILE_SCHEMA)


def tiles_to_long(tiles: DataFrame, meta: RasterMeta, tile: int = 256,
                  value_col: str | tuple[str, ...] = "value") -> DataFrame:
    """Unpack tile form to long form (valid cells only). A tuple of
    value columns reads tiles that hold one (h, w) plane per column, in
    order; a cell is valid where the first plane is not NoData."""
    names = [value_col] if isinstance(value_col, str) else list(value_col)
    nodata = meta.nodata

    def unpack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = []
            for t in pdf.itertuples(index=False):
                arr = np.frombuffer(t.data, dtype=np.float64).reshape(
                    len(names), t.h, t.w)
                mask = arr[0] != nodata
                rr, cc = np.nonzero(mask)
                outs.append(pd.DataFrame({
                    "row": (rr + t.ty * tile).astype(np.int32),
                    "col": (cc + t.tx * tile).astype(np.int32),
                    **{n: plane[mask] for n, plane in zip(names, arr)}}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return tiles.mapInPandas(unpack, schema="row int, col int, " + ", ".join(
        f"{n} double" for n in names))


# ---------------------------------------------------------------------------
# Edge-strip sidecar: halo strips without a Python pass
# ---------------------------------------------------------------------------
# The single largest fixed cost of a stencil invocation is shipping the
# full tile payload JVM -> Python just to crop its edges into halo
# strips (measured: ~1.7 s of the ~3.6 s noop floor at 16384^2 on
# local[32]). The sidecar stores each tile's four edge aprons ONCE, in
# a layout where every strip any neighbor can request is a CONTIGUOUS
# byte range — so strip extraction becomes a Catalyst `substring` over
# the cached/bucketed tiles, entirely JVM-side, and the tile payload
# crosses the Arrow boundary exactly once per stencil (into the
# cogroup kernel). Cost: 2*halo_max*(h+w)*8 bytes per tile (256 KiB,
# 12.5% of the 2 MiB payload at halo_max=16, tile 512) — at 100 TB that
# is the storage trade that removes a full 100 TB Arrow pass per
# operator invocation.
#
# Layout (halo_max = hm; hr = min(hm, h), hc = min(hm, w)):
#   [0)                     top    : rows 0..hr, all cols    (hr x w)
#   [hr*w*8)                bottom : rows h-hr..h, all cols  (hr x w)
#   [2*hr*w*8)              leftT  : cols 0..hc TRANSPOSED   (hc x h)
#   [2*hr*w*8 + hc*h*8)     rightT : cols w-hc..w TRANSPOSED (hc x h)
# Transposition makes column aprons contiguous per-column; receivers
# transpose back (flag t=1). Row strips ship full-width to all three
# vertical neighbors (diagonals crop receiver-side, flag t=2) — strip
# traffic stays O(perimeter * halo) with a ~3x constant: at halo=1 one
# 512^2 tile sends 6 row strips + 2 column strips of 512 cells, 32 KiB
# or ~1.6% of its payload.

EDGE_HALO_DEFAULT = 16


def edge_sidecar_bytes(arr: np.ndarray, halo_max: int) -> bytes:
    """Serialize the four edge aprons of a (h, w) float64 tile."""
    h, w = arr.shape
    hr = min(halo_max, h)
    hc = min(halo_max, w)
    return (arr[:hr, :].tobytes()
            + arr[h - hr:, :].tobytes()
            + np.ascontiguousarray(arr[:, :hc].T).tobytes()
            + np.ascontiguousarray(arr[:, w - hc:].T).tobytes())


def attach_edges(tiles: DataFrame,
                 halo_max: int = EDGE_HALO_DEFAULT) -> DataFrame:
    """Add the edge-strip sidecar column to tile form (one Arrow pass —
    production ingest writes it at tile creation instead; see
    `synthetic_dem_tiles(with_edges=...)` / `sources.tile_store`)."""
    hm = int(halo_max)

    def add(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            h_np = batch.column(2).to_numpy()
            w_np = batch.column(3).to_numpy()
            dc = batch.column(4)
            edges = []
            for i in range(batch.num_rows):
                h, w = int(h_np[i]), int(w_np[i])
                arr = np.frombuffer(dc[i].as_buffer(),
                                    dtype=np.float64).reshape(h, w)
                edges.append(edge_sidecar_bytes(arr, hm))
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in range(5)]
                + [pa.array(edges, type=pa.binary())],
                names=["ty", "tx", "h", "w", "data", "edges"])

    out = tiles.select("ty", "tx", "h", "w", "data").mapInArrow(
        add, schema=TILE_SCHEMA + ", edges binary")
    return out.withMetadata("edges", {"halo_max": hm})


def edges_halo_max(tiles: DataFrame) -> int:
    """halo_max recorded on the `edges` column, 0 if absent."""
    if "edges" not in tiles.columns:
        return 0
    try:
        return int(tiles.schema["edges"].metadata.get("halo_max", 0))
    except Exception:
        return 0


def _jvm_strips(tiles: DataFrame, halo: int, hm: int, n_ty: int,
                n_tx: int) -> DataFrame:
    """Halo strips sliced from the edge sidecar with Catalyst
    `substring` — no Python pass, no payload crossing. Emits, per tile:
    full-width top/bottom row strips to the three upper/lower
    neighbors (t=2; diagonal receivers crop columns) and full-height
    transposed left/right column strips to the lateral neighbors
    (t=1). Byte offsets follow the sidecar layout above; `hm` is the
    halo_max the sidecar was written with."""
    q = int(halo)
    # per-row effective apron extents (tiles smaller than hm store
    # truncated aprons; strips crop to the tile like the Python path)
    qr = f"least({q}, h)"
    qc = f"least({q}, w)"
    hr = f"least({hm}, h)"
    hc = f"least({hm}, w)"
    top = f"substring(edges, 1, {qr} * w * 8)"
    bot = (f"substring(edges, {hr} * w * 8 + ({hr} - {qr}) * w * 8 + 1, "
           f"{qr} * w * 8)")
    left = f"substring(edges, 2 * {hr} * w * 8 + 1, {qc} * h * 8)"
    right = (f"substring(edges, 2 * {hr} * w * 8 + {hc} * h * 8 "
             f"+ ({hc} - {qc}) * h * 8 + 1, {qc} * h * 8)")
    pieces = []
    for dtx in (-1, 0, 1):
        pieces.append(
            f"named_struct('ty', ty - 1, 'tx', tx + {dtx}, "
            f"'src_dty', 1, 'src_dtx', {-dtx}, "
            f"'h', CAST({qr} AS INT), 'w', w, 't', 2, 'data', {top})")
        pieces.append(
            f"named_struct('ty', ty + 1, 'tx', tx + {dtx}, "
            f"'src_dty', -1, 'src_dtx', {-dtx}, "
            f"'h', CAST({qr} AS INT), 'w', w, 't', 2, 'data', {bot})")
    pieces.append(
        f"named_struct('ty', ty, 'tx', tx - 1, "
        f"'src_dty', 0, 'src_dtx', 1, "
        f"'h', CAST({qc} AS INT), 'w', h, 't', 1, 'data', {left})")
    pieces.append(
        f"named_struct('ty', ty, 'tx', tx + 1, "
        f"'src_dty', 0, 'src_dtx', -1, "
        f"'h', CAST({qc} AS INT), 'w', h, 't', 1, 'data', {right})")
    s = tiles.select(F.explode(F.expr(
        "array(" + ", ".join(pieces) + ")")).alias("s"))
    return (s.select("s.*")
            .where((F.col("ty") >= 0) & (F.col("ty") < n_ty)
                   & (F.col("tx") >= 0) & (F.col("tx") < n_tx)))


# ---------------------------------------------------------------------------
# Halo exchange + stencil runner
# ---------------------------------------------------------------------------

# 8-neighbor offsets in (dty, dtx); strips are cropped to `halo` width so
# the shuffle moves O(perimeter * halo) bytes per tile, not O(area).
_NEIGHBOR_OFFSETS = [(-1, -1), (-1, 0), (-1, 1), (0, -1),
                     (0, 1), (1, -1), (1, 0), (1, 1)]

_STRIP_SCHEMA = ("ty int, tx int, src_dty int, src_dtx int, "
                 "h int, w int, t int, data binary")


def run_stencil(
    tiles: DataFrame,
    meta: RasterMeta,
    kernel: Callable[[np.ndarray, int, "StencilCtx"], np.ndarray],
    halo: int,
    tile: int = 256,
    ctx_extra: dict | None = None,
    boundary: str = "nodata",
    output: str = "tiles",
    value_col: str = "value",
    copartitioned: bool = False,
) -> DataFrame:
    """Run a focal kernel over tile form with halo exchange.

    ``kernel(padded, halo, ctx) -> out`` receives a float64 array of
    shape (h+2*halo, w+2*halo) where out-of-tile cells are filled from
    neighbor strips (or NoData at grid edges / missing tiles), and must
    return the (h, w) output block, a stack of (h, w) planes (read back
    with a tuple ``value_col`` of `tiles_to_long`), or the padded block
    itself (FD8 reads each tile's neighbourhood; ``h`` and ``w`` still
    describe the tile interior). ``ctx`` carries meta + the tile's
    global origin so kernels can reason about absolute coordinates.
    A ``halo`` above ``tile`` raises ``ValueError``: strips come only
    from the 8 adjacent tiles.

    Implementation: each tile emits its center plus up to 8 cropped edge
    strips addressed to neighbor tiles; a groupBy(ty,tx) applyInArrow
    assembles the padded block and runs the kernel. One shuffle total.

    Both Python stages are Arrow-NATIVE (mapInArrow / applyInArrow, not
    the pandas variants): tile payloads are multi-MB binary cells, and
    the pandas bridge materializes every one as a Python bytes object
    twice per crossing (measured ~35% of stencil wall time at 16384^2).
    Arrow batches hand zero-copy buffer views instead; the tile center
    — 95%+ of the emitted bytes — is re-emitted by REFERENCING the
    input batch's columns, no copy at all.

    ``copartitioned=True`` is the at-scale fast path: the caller
    guarantees ``tiles`` is already hash-partitioned on (ty, tx) —
    ``df.repartition("ty","tx")`` upstream, or a bucketed table scan
    (see `sources.tile_store`). Then ONLY the halo strips (O(perimeter)
    bytes/tile) go through a shuffle; the tile payloads are cogrouped
    in place with zero exchange on the big side — Catalyst elides the
    left Exchange because the existing HashPartitioning(ty,tx) already
    satisfies the cogroup's ClusteredDistribution. Shuffle volume drops
    from O(area) to O(perimeter*halo): at a 100 TB raster that is the
    difference between re-shuffling 100 TB per stencil and ~0.8% of it.
    """
    if halo > tile:
        raise ValueError(f"halo {halo} exceeds the tile size {tile}")
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata
    n_ty = math.ceil(rows / tile)
    n_tx = math.ceil(cols / tile)
    extra = dict(ctx_extra or {})
    _strip_names = ["ty", "tx", "src_dty", "src_dtx", "h", "w", "t",
                    "data"]

    def emit(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            tyc = batch.column(0)
            txc = batch.column(1)
            hc = batch.column(2)
            wc = batch.column(3)
            dc = batch.column(4)
            if not copartitioned:
                zeros = pa.array(np.zeros(n, dtype=np.int32))
                # center pieces: reference the input columns — zero-copy
                yield pa.RecordBatch.from_arrays(
                    [tyc, txc, zeros, zeros, hc, wc, zeros, dc],
                    names=_strip_names)
            ty_np = tyc.to_numpy()
            tx_np = txc.to_numpy()
            h_np = hc.to_numpy()
            w_np = wc.to_numpy()
            recs = ([], [], [], [], [], [], [])
            for i in range(n):
                h, w = int(h_np[i]), int(w_np[i])
                arr = np.frombuffer(dc[i].as_buffer(),
                                    dtype=np.float64).reshape(h, w)
                ty, tx = int(ty_np[i]), int(tx_np[i])
                for dty, dtx in _NEIGHBOR_OFFSETS:
                    nty, ntx = ty + dty, tx + dtx
                    if not (0 <= nty < n_ty and 0 <= ntx < n_tx):
                        continue
                    # Crop the strip of this tile adjacent to neighbor
                    # (nty,ntx): the neighbor needs our edge of width halo.
                    rs = slice(0, min(halo, h)) if dty < 0 else (
                        slice(max(0, h - halo), h) if dty > 0
                        else slice(0, h))
                    cs = slice(0, min(halo, w)) if dtx < 0 else (
                        slice(max(0, w - halo), w) if dtx > 0
                        else slice(0, w))
                    strip = np.ascontiguousarray(arr[rs, cs])
                    recs[0].append(nty)
                    recs[1].append(ntx)
                    recs[2].append(-dty)
                    recs[3].append(-dtx)
                    recs[4].append(strip.shape[0])
                    recs[5].append(strip.shape[1])
                    recs[6].append(strip.tobytes())
            if recs[0]:
                arrays = [pa.array(r, type=pa.int32()) for r in recs[:6]]
                arrays.append(pa.array(
                    np.zeros(len(recs[0]), dtype=np.int32)))
                arrays.append(pa.array(recs[6], type=pa.binary()))
                yield pa.RecordBatch.from_arrays(arrays, names=_strip_names)

    hm = edges_halo_max(tiles)
    use_sidecar = copartitioned and 0 < halo <= hm
    if "edges" in tiles.columns:
        # the sidecar must not ride into the kernel cogroup (it would
        # re-add ~hm/tile of payload to the one Arrow crossing left)
        tiles_cg = tiles.drop("edges")
    else:
        tiles_cg = tiles
    if use_sidecar:
        strips = _jvm_strips(tiles, halo, hm, n_ty, n_tx)
    else:
        strips = tiles_cg.mapInArrow(emit, schema=_STRIP_SCHEMA)

    def empty_out() -> pa.Table:
        if output == "long":
            return pa.table({"row": pa.array([], pa.int32()),
                             "col": pa.array([], pa.int32()),
                             "value": pa.array([], pa.float64())})
        return pa.table({"ty": pa.array([], pa.int32()),
                         "tx": pa.array([], pa.int32()),
                         "h": pa.array([], pa.int32()),
                         "w": pa.array([], pa.int32()),
                         "data": pa.array([], pa.binary())})

    def decode_strip(buf, sh: int, sw: int, t: int, dty: int,
                     dtx: int) -> np.ndarray:
        """Strip bytes -> (rows, cols) array in receiver orientation.
        t=0: pre-cropped (Python emit). t=1: transposed column apron
        (sh x sw stored = cols x rows — transpose back). t=2:
        full-width row strip — diagonal receivers crop to the sender's
        edge columns nearest them."""
        sa = np.frombuffer(buf, dtype=np.float64).reshape(sh, sw)
        if t == 1:
            sa = sa.T
        elif t == 2 and dtx != 0 and sa.shape[1] > halo:
            sa = sa[:, -halo:] if dtx < 0 else sa[:, :halo]
        return sa

    def paste(padded: np.ndarray, h: int, w: int, dty: int, dtx: int,
              sa: np.ndarray) -> None:
        # Paste the neighbor strip into the padded frame. The strip
        # came from neighbor (ty+dty, tx+dtx) and is its edge facing
        # us, already cropped to <= halo wide in the offset axis.
        if dty < 0:
            rs = slice(halo - sa.shape[0], halo)
        elif dty > 0:
            rs = slice(halo + h, halo + h + sa.shape[0])
        else:
            rs = slice(halo, halo + sa.shape[0])
        if dtx < 0:
            cs = slice(halo - sa.shape[1], halo)
        elif dtx > 0:
            cs = slice(halo + w, halo + w + sa.shape[1])
        else:
            cs = slice(halo, halo + sa.shape[1])
        padded[rs, cs] = sa

    def assemble(key: tuple, table: pa.Table) -> pa.Table:
        ty = int(key[0].as_py() if hasattr(key[0], "as_py") else key[0])
        tx = int(key[1].as_py() if hasattr(key[1], "as_py") else key[1])
        dty_np = table.column("src_dty").to_numpy()
        dtx_np = table.column("src_dtx").to_numpy()
        h_np = table.column("h").to_numpy()
        w_np = table.column("w").to_numpy()
        t_np = table.column("t").to_numpy()
        dcol = table.column("data").combine_chunks()
        if isinstance(dcol, pa.ChunkedArray):
            dcol = dcol.chunk(0) if dcol.num_chunks else pa.array(
                [], type=pa.binary())
        center = np.nonzero((dty_np == 0) & (dtx_np == 0))[0]
        if center.size == 0:
            return empty_out()
        ci = int(center[0])
        h, w = int(h_np[ci]), int(w_np[ci])
        padded = np.full((h + 2 * halo, w + 2 * halo), nodata,
                         dtype=np.float64)
        padded[halo:halo + h, halo:halo + w] = np.frombuffer(
            dcol[ci].as_buffer(), dtype=np.float64).reshape(h, w)
        for i in range(table.num_rows):
            dty, dtx = int(dty_np[i]), int(dtx_np[i])
            if dty == 0 and dtx == 0:
                continue
            sa = decode_strip(dcol[i].as_buffer(), int(h_np[i]),
                              int(w_np[i]), int(t_np[i]), dty, dtx)
            paste(padded, h, w, dty, dtx, sa)
        return finish(ty, tx, h, w, padded)

    def assemble_cg(key: tuple, left: pa.Table, right: pa.Table) -> pa.Table:
        # left: the tile itself (0 or 1 row, TILE_SCHEMA) — arrived
        # WITHOUT a shuffle (co-partitioned scan); right: <=8 neighbor
        # strips (_STRIP_SCHEMA) from the strip-only shuffle.
        if left.num_rows == 0:
            return empty_out()
        ty = int(key[0].as_py() if hasattr(key[0], "as_py") else key[0])
        tx = int(key[1].as_py() if hasattr(key[1], "as_py") else key[1])
        h = int(left.column("h")[0].as_py())
        w = int(left.column("w")[0].as_py())
        dcol = left.column("data").combine_chunks()
        if isinstance(dcol, pa.ChunkedArray):
            dcol = dcol.chunk(0)
        padded = np.full((h + 2 * halo, w + 2 * halo), nodata,
                         dtype=np.float64)
        padded[halo:halo + h, halo:halo + w] = np.frombuffer(
            dcol[0].as_buffer(), dtype=np.float64).reshape(h, w)
        if right.num_rows:
            dty_np = right.column("src_dty").to_numpy()
            dtx_np = right.column("src_dtx").to_numpy()
            h_np = right.column("h").to_numpy()
            w_np = right.column("w").to_numpy()
            t_np = right.column("t").to_numpy()
            scol = right.column("data").combine_chunks()
            if isinstance(scol, pa.ChunkedArray):
                scol = scol.chunk(0)
            for i in range(right.num_rows):
                dty, dtx = int(dty_np[i]), int(dtx_np[i])
                sa = decode_strip(scol[i].as_buffer(), int(h_np[i]),
                                  int(w_np[i]), int(t_np[i]), dty, dtx)
                paste(padded, h, w, dty, dtx, sa)
        return finish(ty, tx, h, w, padded)

    def finish(ty: int, tx: int, h: int, w: int,
               padded: np.ndarray) -> pa.Table:
        if boundary == "reflect":
            # ReflectAtBoundaries halo policy (raster.go:295-318):
            # out-of-grid reads mirror across the grid edge
            # (row < 0 -> -row-1; row >= rows -> rows-(row-rows)-1),
            # row and column reflections applied independently.
            if ty == 0:
                for i in range(halo):
                    padded[i, :] = padded[2 * halo - 1 - i, :]
            if ty == n_ty - 1 and ty * tile + h == rows:
                for j in range(halo):
                    padded[halo + h + j, :] = padded[halo + h - 1 - j, :]
            if tx == 0:
                for i in range(halo):
                    padded[:, i] = padded[:, 2 * halo - 1 - i]
            if tx == n_tx - 1 and tx * tile + w == cols:
                for j in range(halo):
                    padded[:, halo + w + j] = padded[:, halo + w - 1 - j]
        ctx = StencilCtx(meta=meta, tile=tile, ty=ty, tx=tx,
                         row0=ty * tile, col0=tx * tile, extra=extra)
        out = kernel(padded, halo, ctx)
        out = np.ascontiguousarray(out, dtype=np.float64)
        if output == "long":
            mask = out != nodata
            rr, cc = np.nonzero(mask)
            return pa.table({
                "row": pa.array((rr + ty * tile).astype(np.int32)),
                "col": pa.array((cc + tx * tile).astype(np.int32)),
                "value": pa.array(out[mask])})
        return pa.table({"ty": pa.array([ty], pa.int32()),
                         "tx": pa.array([tx], pa.int32()),
                         "h": pa.array([h], pa.int32()),
                         "w": pa.array([w], pa.int32()),
                         "data": pa.array([out.tobytes()], pa.binary())})

    out_schema = ("row int, col int, value double" if output == "long"
                  else TILE_SCHEMA)
    if copartitioned:
        out_df = (tiles_cg.groupBy("ty", "tx")
                  .cogroup(strips.groupBy("ty", "tx"))
                  .applyInArrow(assemble_cg, schema=out_schema))
    else:
        out_df = strips.groupBy("ty", "tx").applyInArrow(
            assemble, schema=out_schema)
    if output == "long" and value_col != "value":
        out_df = out_df.withColumnRenamed("value", value_col)
    return out_df


@dataclass
class StencilCtx:
    meta: RasterMeta
    tile: int
    ty: int
    tx: int
    row0: int  # global row of padded[halo, halo]
    col0: int
    extra: dict
