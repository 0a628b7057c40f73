"""Raster file-format sources/sinks (SURVEY.md §2.1).

Format support mirrors the reference's registry
(geospatialfiles/raster/rastertype.go:22-62):

- Whitebox GAT  (.dep text header + .tas raw binary)    R/W
- ArcGIS ASCII  (.txt/.asc header + whitespace floats)  R/W
- ArcGIS binary (.hdr text + .flt float32)              R/W
- GRASS ASCII   (north/south/... header + floats)       R/W
- Idrisi        (.rdc header + .rst binary)             R/W
- GeoTIFF       (.tif; strips/tiles, none/LZW/deflate,
                 predictor 2, u/i/f x 8/16/32/64,
                 GDAL_NODATA)                            R (subset)
- LAS LiDAR     (.las v1.x point records)                R

Strategy per SURVEY.md: headers parse and write driver-side; payloads
decode and encode in executors. The binary formats (Whitebox, ArcGIS
binary, Idrisi, GeoTIFF) share one block-range reader, `_read_blocks`,
and one block-range writer, `_write_blocks`. The reader's driver builds
a block index from the header alone (raw row strips, or TIFF
strips/tiles), groups consecutive blocks into tasks with the split rule
of Spark's own file scan, and each task seek-reads and decodes only its
own blocks. The writer's driver writes the header and a NoData plane;
each task of the input's own partitions then pwrites its cells at
``start + (row * cols + col) * itemsize``. Only the two ASCII formats
read and write through the driver. At production scale the data lives
in Parquet/Iceberg and these shims are the ingest edge. All cell values
land as float64 long form (row, col, value), NoData -> absent rows
(raster.go:23-53 semantics: everything is float64 in memory).
"""

from __future__ import annotations

import os
import re
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from go_spatial_spark.grid import NODATA, RasterMeta
from go_spatial_spark.session import _parse_bytes


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _long_form(spark: SparkSession, arr: np.ndarray,
               nodata: float) -> DataFrame:
    """Distribute a driver-decoded array as long form. Only the two
    ASCII formats use it: their text has no seekable blocks. Binary
    formats go through _read_blocks."""
    rows, cols = arr.shape
    mask = arr != nodata
    rr, cc = np.nonzero(mask)
    pdf = pd.DataFrame({"row": rr.astype(np.int32),
                        "col": cc.astype(np.int32),
                        "value": arr[mask].astype(np.float64)})
    # explicit schema: an all-NoData raster yields ZERO rows, and
    # schema inference cannot handle an empty frame
    return spark.createDataFrame(pdf, schema="row int, col int, value double")


# Driver-assembly ceiling of the ASCII sinks: 64M cells = a 512 MB
# float64 plane. Their text has no fixed cell offsets, so they collect
# the raster on the driver; the binary sinks go through _write_blocks.
MAX_DRIVER_CELLS = 64_000_000


def _assemble_driver(df: DataFrame, meta: RasterMeta) -> np.ndarray:
    """Collect a long-form raster into a dense driver-side array for an
    ASCII sink, guarded so a big job fails loudly instead of melting
    the driver."""
    n_cells = meta.rows * meta.cols
    if n_cells > MAX_DRIVER_CELLS:
        raise ValueError(
            f"raster {meta.rows}x{meta.cols} = {n_cells} cells exceeds "
            f"the driver-assembly ceiling ({MAX_DRIVER_CELLS}) of the "
            f"ASCII formats; write a binary format (.tif, .dep, .flt, "
            f".rst) or the Parquet sink")
    pdf = df.toPandas()
    arr = np.full((meta.rows, meta.cols), meta.nodata, dtype=np.float64)
    arr[pdf["row"], pdf["col"]] = pdf["value"]
    return arr


def _read_blocks(spark: SparkSession, path: str, blocks: list, decode_block,
                 nodata: float, height: int, width: int) -> DataFrame:
    """Block-range scan -> long form. ``blocks`` is the index the
    driver built from the header, [(y0, x0, hh, ww, offset, count)];
    ``decode_block(raw, hh, ww)`` turns one block's bytes into an
    (hh, ww) array, clipped here to the grid (ragged edge tiles).
    Consecutive blocks group into tasks by the split rule of Spark's
    file scan (FilePartition.maxSplitBytes), so a small raster reads
    in one task and a large one spreads over the cores. Each task
    seek-reads only its own byte spans: the path must be readable with
    open() on the driver and every executor (local or shared posix
    storage)."""
    size = os.path.getsize(path)
    for y0, x0, _, _, o, c in blocks:
        if o + c > size:
            raise ValueError(
                f"{path}: truncated; the block at row {y0}, col {x0} "
                f"ends at byte {o + c} of {size}")
    total = sum(b[5] for b in blocks)
    split = min(
        _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes")),
        max(_parse_bytes(spark.conf.get("spark.sql.files.openCostInBytes")),
            total // spark.sparkContext.defaultParallelism))
    groups, cur, cur_bytes = [], [], 0
    for b in blocks:
        if cur and cur_bytes + b[5] > split:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(b)
        cur_bytes += b[5]
    groups.append(cur)

    def run(it):
        for pdf in it:
            for gid in pdf["id"].to_numpy():
                rows, cols, vals = [], [], []
                with open(path, "rb") as f:
                    for y0, x0, hh, ww, o, c in groups[int(gid)]:
                        f.seek(o)
                        data = np.asarray(decode_block(f.read(c), hh, ww),
                                          dtype=np.float64)
                        data = data[:height - y0, :width - x0]
                        rr, cc = np.nonzero(data != nodata)
                        rows.append(rr + y0)
                        cols.append(cc + x0)
                        vals.append(data[rr, cc])
                if rows:
                    yield pd.DataFrame({
                        "row": np.concatenate(rows).astype(np.int32),
                        "col": np.concatenate(cols).astype(np.int32),
                        "value": np.concatenate(vals)})

    return spark.range(len(groups), numPartitions=len(groups)) \
        .mapInPandas(run, schema="row int, col int, value double")


def _read_raw(spark: SparkSession, path: str, meta: RasterMeta,
              dtype: str) -> DataFrame:
    """Headerless row-major payload (.tas/.flt/.rst): one row-strip
    block per grid row, at offset y * cols * itemsize."""
    step = meta.cols * np.dtype(dtype).itemsize
    blocks = [(y, 0, 1, meta.cols, y * step, step) for y in range(meta.rows)]

    def decode(raw: bytes, hh: int, ww: int) -> np.ndarray:
        return np.frombuffer(raw, dtype=dtype).reshape(hh, ww)

    return _read_blocks(spark, path, blocks, decode, meta.nodata,
                        meta.rows, meta.cols)


def _write_blocks(df: DataFrame, meta: RasterMeta, path: str, dtype: str,
                  head: bytes = b"") -> tuple[float, float]:
    """Long form -> ``head`` + a row-major ``dtype`` payload, the write
    half of _read_blocks: cell (r, c) goes at byte
    ``len(head) + (r * cols + c) * itemsize``. The driver writes
    ``head`` and a NoData plane (so absent cells need no code) to
    ``path + ".part"``; one mapInArrow over the input's own partitions
    (no exchange) pwrites each run of consecutive cells of each
    flat-index-sorted Arrow batch. The part file replaces ``path`` once
    every task is done (the input may be a lazy scan of ``path``) and
    is removed if the job fails, or if a cell lies outside the grid
    (never written; ``ValueError``). The path must open as the same
    file on the driver and every executor (local or shared posix
    storage). Returns the (min, max) of the values that are not
    NoData, (0.0, 0.0) if none. A NoData value that ``dtype`` cannot
    hold raises ``ValueError`` before any file is made: its cells would
    read back as valid values."""
    rows, cols, nodata = meta.rows, meta.cols, meta.nodata
    with np.errstate(invalid="ignore", over="ignore"):
        held = np.float64(nodata).astype(dtype)
    if not np.array_equal(held, nodata, equal_nan=True):
        raise ValueError(f"NoData {nodata} does not fit {dtype} ({path})")
    item = np.dtype(dtype).itemsize
    start = len(head)
    part = path + ".part"
    with open(part, "wb") as f:
        f.write(head)
        fill = np.full(cols, nodata, np.float64).astype(dtype).tobytes()
        for _ in range(rows):
            f.write(fill)

    def run(batches):
        import pyarrow as pa
        mn, mx, n, bad = np.inf, -np.inf, 0, ""
        fd = os.open(part, os.O_WRONLY)
        try:
            for b in batches:
                r, c, v = (b.column(k).to_numpy(zero_copy_only=False)
                           for k in ("row", "col", "value"))
                inside = (r >= 0) & (r < rows) & (c >= 0) & (c < cols)
                if not inside.all():
                    i = np.flatnonzero(~inside)[0]
                    bad = bad or f"({r[i]}, {c[i]})"
                    r, c, v = r[inside], c[inside], v[inside]
                if not r.size:
                    continue
                idx = r.astype(np.int64) * cols + c
                order = np.argsort(idx, kind="stable")
                idx, v = idx[order], v[order].astype(np.float64)
                valid = v[v != nodata]
                if valid.size:
                    mn = np.minimum(mn, valid.min())
                    mx = np.maximum(mx, valid.max())
                    n += valid.size
                buf = memoryview(v.astype(dtype).tobytes())
                cut = np.flatnonzero(np.diff(idx) != 1) + 1
                for s, e in zip(np.r_[0, cut], np.r_[cut, idx.size]):
                    os.pwrite(fd, buf[s * item:e * item],
                              start + int(idx[s]) * item)
        finally:
            os.close(fd)
        yield pa.RecordBatch.from_pydict(
            {"mn": [float(mn)], "mx": [float(mx)], "n": [n], "bad": [bad]})

    try:
        out = df.select("row", "col", "value").mapInArrow(
            run, "mn double, mx double, n long, bad string").collect()
        bad = [o.bad for o in out if o.bad]
        if bad:
            raise ValueError(f"cell (row, col) = {bad[0]} lies outside "
                             f"the {rows} x {cols} grid")
    except BaseException:
        os.remove(part)
        raise
    os.replace(part, path)
    got = [o for o in out if o.n]
    if not got:
        return 0.0, 0.0
    return (float(np.min([o.mn for o in got])),
            float(np.max([o.mx for o in got])))


# ---------------------------------------------------------------------------
# Whitebox GAT — whiteboxRaster.go:349-505
# ---------------------------------------------------------------------------

_WB_DTYPES = {"FLOAT": "<f4", "DOUBLE": "<f8", "INTEGER": "<i2",
              "BYTE": "<i1"}


def parse_whitebox_header(text: str) -> dict:
    out = {}
    for line in text.splitlines():
        if ":" in line:
            k, _, v = line.partition(":")
            out[k.strip().lower()] = v.strip()
    return out


def read_whitebox(spark: SparkSession, dep_path: str):
    """Read .dep/.tas pair -> (RasterMeta, long-form DataFrame)."""
    with open(dep_path) as f:
        hdr = parse_whitebox_header(f.read())
    rows, cols = int(hdr["rows"]), int(hdr["cols"])
    nodata = float(hdr.get("nodata", NODATA))
    dtype = _WB_DTYPES[hdr.get("data type", "FLOAT").upper()]
    if hdr.get("byte order", "LITTLE_ENDIAN").upper().startswith("BIG"):
        dtype = ">" + dtype[1:]
    meta = RasterMeta(rows=rows, cols=cols,
                      north=float(hdr["north"]), south=float(hdr["south"]),
                      east=float(hdr["east"]), west=float(hdr["west"]),
                      nodata=nodata)
    tas = os.path.splitext(dep_path)[0] + ".tas"
    return meta, _read_raw(spark, tas, meta, dtype)


def write_whitebox(df: DataFrame, meta: RasterMeta, dep_path: str,
                   data_type: str = "FLOAT") -> None:
    """Write long form to .dep/.tas: the .tas payload through
    _write_blocks, then the .dep header with the written min/max."""
    mn, mx = _write_blocks(df, meta, os.path.splitext(dep_path)[0] + ".tas",
                           _WB_DTYPES[data_type])
    with open(dep_path, "w") as f:
        f.write(f"Min:\t{mn}\nMax:\t{mx}\n"
                f"North:\t{meta.north}\nSouth:\t{meta.south}\n"
                f"East:\t{meta.east}\nWest:\t{meta.west}\n"
                f"Cols:\t{meta.cols}\nRows:\t{meta.rows}\n"
                f"Stacks:\t1\nData Type:\t{data_type}\n"
                f"Z Units:\tnot specified\nXY Units:\tnot specified\n"
                f"Projection:\tnot specified\nData Scale:\tcontinuous\n"
                f"Display Min:\t{mn}\nDisplay Max:\t{mx}\n"
                f"Preferred Palette:\tspectrum.pal\n"
                f"NoData:\t{meta.nodata}\nByte Order:\tLITTLE_ENDIAN\n")


# ---------------------------------------------------------------------------
# ArcGIS ASCII — arcGisAsciiRaster.go:31-96
# ---------------------------------------------------------------------------

def read_arcgis_ascii(spark: SparkSession, path: str):
    with open(path) as f:
        text = f.read()
    lines = text.splitlines()
    hdr = {}
    data_start = 0
    for i, line in enumerate(lines):
        parts = line.split()
        if len(parts) == 2 and re.match(r"^[a-zA-Z_]+$", parts[0]):
            hdr[parts[0].lower()] = parts[1]
            data_start = i + 1
        else:
            break
    rows, cols = int(hdr["nrows"]), int(hdr["ncols"])
    cell = float(hdr["cellsize"])
    nodata = float(hdr.get("nodata_value", NODATA))
    west = float(hdr["xllcorner"])
    south = float(hdr["yllcorner"])
    meta = RasterMeta(rows=rows, cols=cols, north=south + rows * cell,
                      south=south, east=west + cols * cell, west=west,
                      nodata=nodata)
    vals = np.array(" ".join(lines[data_start:]).split(), dtype=np.float64)
    arr = vals.reshape(rows, cols)
    return meta, _long_form(spark, arr, nodata)


def write_arcgis_ascii(df: DataFrame, meta: RasterMeta, path: str) -> None:
    arr = _assemble_driver(df, meta)
    with open(path, "w") as f:
        f.write(f"ncols {meta.cols}\nnrows {meta.rows}\n"
                f"xllcorner {meta.west}\nyllcorner {meta.south}\n"
                f"cellsize {meta.cellsize_x}\nnodata_value {meta.nodata}\n")
        for r in range(meta.rows):
            f.write(" ".join(repr(v) for v in arr[r]) + "\n")


# ---------------------------------------------------------------------------
# GRASS ASCII — grassAsciiRaster.go:32-44
# ---------------------------------------------------------------------------

def read_grass_ascii(spark: SparkSession, path: str):
    with open(path) as f:
        lines = f.read().splitlines()
    hdr = {}
    data_start = 0
    for i, line in enumerate(lines):
        parts = line.replace(":", " ").split()
        if len(parts) == 2 and parts[0].lower() in (
                "north", "south", "east", "west", "rows", "cols"):
            hdr[parts[0].lower()] = parts[1]
            data_start = i + 1
        else:
            break
    rows, cols = int(hdr["rows"]), int(hdr["cols"])
    meta = RasterMeta(rows=rows, cols=cols, north=float(hdr["north"]),
                      south=float(hdr["south"]), east=float(hdr["east"]),
                      west=float(hdr["west"]), nodata=NODATA)
    vals = np.array(" ".join(lines[data_start:]).split(), dtype=np.float64)
    return meta, _long_form(spark, vals.reshape(rows, cols), meta.nodata)


def write_grass_ascii(df: DataFrame, meta: RasterMeta, path: str) -> None:
    arr = _assemble_driver(df, meta)
    with open(path, "w") as f:
        f.write(f"north: {meta.north}\nsouth: {meta.south}\n"
                f"east: {meta.east}\nwest: {meta.west}\n"
                f"rows: {meta.rows}\ncols: {meta.cols}\n")
        for r in range(meta.rows):
            f.write(" ".join(repr(v) for v in arr[r]) + "\n")


# ---------------------------------------------------------------------------
# ArcGIS binary — arcGisBinaryRaster.go:35-80  (.hdr + .flt float32)
# ---------------------------------------------------------------------------

def read_arcgis_binary(spark: SparkSession, hdr_path: str):
    with open(hdr_path) as f:
        hdr = {}
        for line in f.read().splitlines():
            parts = line.split()
            if len(parts) >= 2:
                hdr[parts[0].lower()] = parts[1]
    rows, cols = int(hdr["nrows"]), int(hdr["ncols"])
    cell = float(hdr["cellsize"])
    nodata = float(hdr.get("nodata_value", NODATA))
    west = float(hdr["xllcorner"])
    south = float(hdr["yllcorner"])
    order = "<" if hdr.get("byteorder", "LSBFIRST").upper().startswith("LSB") else ">"
    meta = RasterMeta(rows=rows, cols=cols, north=south + rows * cell,
                      south=south, east=west + cols * cell, west=west,
                      nodata=nodata)
    flt = os.path.splitext(hdr_path)[0] + ".flt"
    return meta, _read_raw(spark, flt, meta, order + "f4")


def write_arcgis_binary(df: DataFrame, meta: RasterMeta,
                        hdr_path: str) -> None:
    _write_blocks(df, meta, os.path.splitext(hdr_path)[0] + ".flt", "<f4")
    with open(hdr_path, "w") as f:
        f.write(f"NCOLS {meta.cols}\nNROWS {meta.rows}\n"
                f"XLLCORNER {meta.west}\nYLLCORNER {meta.south}\n"
                f"CELLSIZE {meta.cellsize_x}\nNODATA_VALUE {meta.nodata}\n"
                f"BYTEORDER LSBFIRST\n")


# ---------------------------------------------------------------------------
# Idrisi — idrisiRaster.go:36-43, 385-590  (.rdc + .rst)
# ---------------------------------------------------------------------------

_IDRISI_DTYPES = {"real": "<f4", "integer": "<i2", "byte": "u1"}


def read_idrisi(spark: SparkSession, rdc_path: str):
    hdr = {}
    with open(rdc_path) as f:
        for line in f.read().splitlines():
            if ":" in line:
                k, _, v = line.partition(":")
                hdr[k.strip().lower()] = v.strip()
    rows, cols = int(hdr["rows"]), int(hdr["columns"])
    dtype = _IDRISI_DTYPES[hdr.get("data type", "real").lower()]
    nodata = float(hdr.get("flag value") or NODATA) \
        if hdr.get("flag value", "none").lower() not in ("none", "") else NODATA
    meta = RasterMeta(rows=rows, cols=cols,
                      north=float(hdr["max. y"]), south=float(hdr["min. y"]),
                      east=float(hdr["max. x"]), west=float(hdr["min. x"]),
                      nodata=nodata)
    rst = os.path.splitext(rdc_path)[0] + ".rst"
    return meta, _read_raw(spark, rst, meta, dtype)


def write_idrisi(df: DataFrame, meta: RasterMeta, rdc_path: str,
                 data_type: str = "real") -> None:
    mn, mx = _write_blocks(df, meta, os.path.splitext(rdc_path)[0] + ".rst",
                           _IDRISI_DTYPES[data_type])
    with open(rdc_path, "w") as f:
        f.write(f"file format : IDRISI Raster A.1\nfile title  : \n"
                f"data type   : {data_type}\nfile type   : binary\n"
                f"columns     : {meta.cols}\nrows        : {meta.rows}\n"
                f"ref. system : plane\nref. units  : metres\n"
                f"unit dist.  : 1.0\n"
                f"min. X      : {meta.west}\nmax. X      : {meta.east}\n"
                f"min. Y      : {meta.south}\nmax. Y      : {meta.north}\n"
                f"pos'n error : unknown\n"
                f"resolution  : {meta.cellsize_x}\n"
                f"min. value  : {mn}\nmax. value  : {mx}\n"
                f"display min : {mn}\ndisplay max : {mx}\n"
                f"value units : unspecified\nvalue error : unknown\n"
                f"flag value  : {meta.nodata}\n"
                f"flag def'n  : missing data\nlegend cats : 0\n")


# ---------------------------------------------------------------------------
# GeoTIFF (read subset) — geotiff/geotiff.go:480-829
# ---------------------------------------------------------------------------

_TIFF_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
               10: 8, 11: 4, 12: 8, 16: 8, 17: 8}


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (MSB-first codes, EarlyChange=1) —
    geotiff.go:695-724 semantics, public TIFF 6.0 spec."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table
        table = [bytes([i]) for i in range(256)] + [b"", b""]

    reset()
    bitbuf = bitcnt = 0
    width = 9
    prev: bytes | None = None
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        bitcnt += 8
        while bitcnt >= width:
            code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
            bitcnt -= width
            if code == CLEAR:
                reset()
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _decode_tag_value(bo: str, typ: int, cnt: int, raw: bytes):
    fmt = {1: "B", 3: "H", 4: "I", 5: "II", 8: "h", 9: "i",
           11: "f", 12: "d", 16: "Q", 17: "q", 2: None, 7: None}.get(typ)
    if fmt is None:
        return raw
    if typ == 5:
        vals = struct.unpack(bo + "II" * cnt, raw)
        return [vals[2 * j] / vals[2 * j + 1] for j in range(cnt)]
    return list(struct.unpack(bo + fmt * cnt, raw))


def _parse_tiff_ifd_seek(path: str):
    """Parse the first IFD -> (byte_order, {tag: decoded_value}).
    Header-only, with range reads (seek + read of the entry table and
    out-of-line values) — never loads the payload, so the driver's work
    is O(header) however large the file is."""
    with open(path, "rb") as f:
        head = f.read(8)
        bo = {b"II": "<", b"MM": ">"}.get(head[:2])
        if bo is None or len(head) < 8:
            raise ValueError(f"{path}: not a TIFF file")
        magic, off = struct.unpack(bo + "HI", head[2:8])
        if magic != 42:
            raise ValueError(f"{path}: TIFF magic {magic}; only classic "
                             f"TIFF (42) is supported, not BigTIFF (43)")
        f.seek(off)
        n = struct.unpack(bo + "H", f.read(2))[0]
        entries = f.read(12 * n)
        tags = {}
        for i in range(n):
            e = entries[12 * i:12 * i + 12]
            tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
            size = _TIFF_SIZES.get(typ, 1) * cnt
            if size <= 4:
                raw = e[8:8 + size]
            else:
                ptr = struct.unpack(bo + "I", e[8:12])[0]
                f.seek(ptr)
                raw = f.read(size)
            tags[tag] = _decode_tag_value(bo, typ, cnt, raw)
    return bo, tags


def geotiff_tags(spark: SparkSession, path: str) -> DataFrame:
    """PrintGeoTiffTags equivalent (tools/printGeoTiffTags.go:95-114):
    the parsed first-IFD tag table as a small DataFrame."""
    _, tags = _parse_tiff_ifd_seek(path)
    rows = [(int(t), str(v)[:200]) for t, v in sorted(tags.items())]
    return spark.createDataFrame(rows, "tag int, value string")


def _tiff_decoder(bo: str, tags: dict):
    """-> (decode(raw, hh, ww) -> float64 block, nodata). The callable
    closes over only small header state, so it ships to executors."""
    bits = tags.get(258, [8])[0]
    comp = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    spp = tags.get(277, [1])[0]
    sample_fmt = tags.get(339, [1])[0]
    predictor = tags.get(317, [1])[0]
    nodata = NODATA
    if 42113 in tags:  # GDAL_NODATA (ASCII)
        try:
            nodata = float(tags[42113].split(b"\x00")[0])
        except (ValueError, AttributeError):
            pass
    kind = {1: "u", 2: "i", 3: "f"}[sample_fmt]
    dtype = np.dtype(f"{bo}{kind}{bits // 8}")

    palette = None
    if photometric == 3:  # paletted: 16-bit colormap -> 8-bit ARGB
        cmap = tags[320]
        n_colors = len(cmap) // 3
        r = (np.asarray(cmap[:n_colors], dtype=np.float64)
             / 65535.0 * 255.0).astype(np.uint32)
        g = (np.asarray(cmap[n_colors:2 * n_colors], dtype=np.float64)
             / 65535.0 * 255.0).astype(np.uint32)
        b = (np.asarray(cmap[2 * n_colors:3 * n_colors], dtype=np.float64)
             / 65535.0 * 255.0).astype(np.uint32)
        palette = ((np.uint32(255) << 24) | (r << 16) | (g << 8)
                   | b).astype(np.float64)

    def decomp(seg: bytes) -> bytes:
        if comp == 1:
            return seg
        if comp == 5:
            return _lzw_decode(seg)
        if comp in (8, 32946):
            return zlib.decompress(seg)
        raise NotImplementedError(f"TIFF compression {comp}")

    def decode_block(seg: bytes, hh: int, ww: int) -> np.ndarray:
        """One compressed strip/tile payload -> float64 (hh, ww)."""
        raw = decomp(seg)
        if photometric == 3:
            idx = np.frombuffer(raw, dtype=np.uint8,
                                count=hh * ww).reshape(hh, ww)
            return palette[idx]
        if photometric == 2:  # RGB / RGBA, chunky planar config
            ch_dt = np.uint8 if bits == 8 else np.dtype(f"{bo}u2")
            px = np.frombuffer(raw, dtype=ch_dt,
                               count=hh * ww * spp).reshape(hh, ww, spp)
            if predictor == 2:  # per-channel horizontal differencing
                px = px.cumsum(axis=1, dtype=px.dtype)
            if bits == 16:
                px = (px.astype(np.float64) / 65535.0 * 255.0)
            px = px.astype(np.uint32)
            r, g, b = px[..., 0], px[..., 1], px[..., 2]
            a = px[..., 3] if spp == 4 else np.uint32(255)
            return ((a << np.uint32(24)) | (r << np.uint32(16))
                    | (g << np.uint32(8)) | b).astype(np.float64)
        data = np.frombuffer(raw, dtype=dtype,
                             count=hh * ww).reshape(hh, ww)
        if predictor == 2:
            data = data.cumsum(axis=1, dtype=data.dtype)
        return data

    return decode_block, nodata


def _tiff_blocks(tags: dict) -> list[tuple[int, int, int, int, int, int]]:
    """Strip/tile index from the header alone:
    [(y0, x0, hh, ww, file_offset, byte_count)]."""
    width, height = tags[256][0], tags[257][0]
    blocks = []
    if 322 in tags:  # tiled
        tw, th = tags[322][0], tags[323][0]
        per_row = (width + tw - 1) // tw
        for idx, (o, c) in enumerate(zip(tags[324], tags[325])):
            ty, tx = idx // per_row, idx % per_row
            y0, x0 = ty * th, tx * tw
            blocks.append((y0, x0, th, tw, o, c))
    else:  # strips
        rps = tags.get(278, [height])[0]
        y = 0
        for o, c in zip(tags[273], tags[279]):
            hh = min(rps, height - y)
            blocks.append((y, 0, hh, width, o, c))
            y += hh
    return blocks


def _tiff_meta(tags: dict, nodata: float) -> RasterMeta:
    # georeferencing: ModelTiepoint (33922) + ModelPixelScale (33550)
    width, height = tags[256][0], tags[257][0]
    west = north = 0.0
    csx = csy = 1.0
    if 33550 in tags and 33922 in tags:
        csx, csy = tags[33550][0], tags[33550][1]
        tp = tags[33922]
        west = tp[3] - tp[0] * csx
        north = tp[4] + tp[1] * csy
    return RasterMeta(rows=height, cols=width, north=north,
                      south=north - height * csy, east=west + width * csx,
                      west=west, nodata=nodata)


def read_geotiff(spark: SparkSession, path: str):
    """Pure-NumPy GeoTIFF reader: gray single-band (u/i/f 8-64 bit),
    RGB/RGBA 8/16-bit and 8-bit paletted photometric modes (pixels
    packed to float64((a<<24)|(r<<16)|(g<<8)|b), 16-bit channels
    truncation-rescaled to 8 — geotiff.go:895-990, palette
    construction geotiff.go:592-613), strips or tiles, compression
    none(1)/LZW(5)/deflate(8/32946), horizontal predictor,
    GDAL_NODATA, ModelTiepoint + ModelPixelScale georeferencing.

    The driver parses only the IFD (range reads); the strips/tiles
    decode in `_read_blocks` tasks. Strips with predictor are
    row-independent and tiles are self-contained, so every block
    decodes without its neighbours."""
    bo, tags = _parse_tiff_ifd_seek(path)
    decode_block, nodata = _tiff_decoder(bo, tags)
    meta = _tiff_meta(tags, nodata)
    return meta, _read_blocks(spark, path, _tiff_blocks(tags), decode_block,
                              nodata, meta.rows, meta.cols)


# ---------------------------------------------------------------------------
# LAS LiDAR (read) — lidar/las.go, lasHeader.go, lasPoint.go
# ---------------------------------------------------------------------------

_LAS_SCHEMA = ("x double, y double, z double, intensity int, "
               "class int, return_num int, num_returns int, "
               "gps_time double")


def _las_header(buf: bytes) -> tuple[int, int, int, int, tuple]:
    """Parse the LAS public header block (lasHeader.go fields)."""
    if buf[:4] != b"LASF":
        raise ValueError("not a LAS file (no LASF signature)")
    (offset_to_points,) = struct.unpack("<I", buf[96:100])
    fmt_id = buf[104]
    (rec_len,) = struct.unpack("<H", buf[105:107])
    (n_points,) = struct.unpack("<I", buf[107:111])
    scales = struct.unpack("<6d", buf[131:179])
    return offset_to_points, fmt_id, rec_len, n_points, scales


def _las_decode(raw_bytes: bytes, n: int, rec_len: int, fmt_id: int,
                scales: tuple) -> pd.DataFrame:
    """Decode n fixed-width point records (lasPoint.go:69-149 bit
    fields; las.go:85-93 scale/offset)."""
    sx, sy, sz, ox, oy, oz = scales
    raw = np.frombuffer(raw_bytes, dtype=np.uint8,
                        count=n * rec_len).reshape(n, rec_len)
    xi = raw[:, 0:4].copy().view("<i4").ravel()
    yi = raw[:, 4:8].copy().view("<i4").ravel()
    zi = raw[:, 8:12].copy().view("<i4").ravel()
    inten = raw[:, 12:14].copy().view("<u2").ravel()
    bits = raw[:, 14]
    cls = raw[:, 15]
    gps = np.zeros(n)
    if fmt_id in (1, 3):
        gps = raw[:, 20:28].copy().view("<f8").ravel()
    return pd.DataFrame({
        "x": xi * sx + ox, "y": yi * sy + oy, "z": zi * sz + oz,
        "intensity": inten.astype(np.int32),
        "class": (cls & 0x1F).astype(np.int32),
        "return_num": (bits & 0x07).astype(np.int32),
        "num_returns": ((bits >> 3) & 0x07).astype(np.int32),
        "gps_time": gps})


def read_las(spark: SparkSession, path: str) -> DataFrame:
    """LAS v1.x -> point DataFrame (x, y, z, intensity, class,
    return_num, num_returns, gps_time). Scale/offset decode per
    las.go:85-93; bit fields per lasPoint.go:69-149. Point records are
    fixed width (las.go:66-93), so the driver parses the O(1) header
    and fans out (start, count) record ranges, about four per core;
    each task seek-reads only its own byte span, so a large cloud
    decodes across the cluster instead of on one core. The path must
    be readable with open() on the driver and every executor (local
    or shared posix storage)."""
    with open(path, "rb") as f:
        off, fmt_id, rec_len, n_points, scales = _las_header(f.read(227))
    target = 4 * spark.sparkContext.defaultParallelism
    per_task = max(1, -(-n_points // target))
    ranges = [(s, min(per_task, n_points - s))
              for s in range(0, n_points, per_task)]
    rdf = spark.createDataFrame(ranges, "start long, cnt int") \
        .repartition(max(len(ranges), 1))

    def run(it):
        for pdf in it:
            for t in pdf.itertuples(index=False):
                with open(path, "rb") as f:
                    f.seek(off + int(t.start) * rec_len)
                    raw = f.read(int(t.cnt) * rec_len)
                yield _las_decode(raw, int(t.cnt), rec_len, fmt_id,
                                  scales)

    return rdf.mapInPandas(run, schema=_LAS_SCHEMA)


# ---------------------------------------------------------------------------
# format sniffing — rastertype.go:86-159
# ---------------------------------------------------------------------------

def read_raster(spark: SparkSession, path: str):
    """Extension-dispatch reader (rastertype.go registry); .txt/.asc
    disambiguates ArcGIS vs GRASS by probing the first header line
    (rastertype.go:112-150)."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".dep", ".tas"):
        return read_whitebox(spark, os.path.splitext(path)[0] + ".dep")
    if ext in (".tif", ".tiff"):
        return read_geotiff(spark, path)
    if ext in (".rdc", ".rst"):
        return read_idrisi(spark, os.path.splitext(path)[0] + ".rdc")
    if ext in (".hdr", ".flt"):
        return read_arcgis_binary(spark, os.path.splitext(path)[0] + ".hdr")
    if ext == ".grd":
        return read_grass_ascii(spark, path)
    if ext in (".asc", ".txt"):
        with open(path) as f:
            first = f.readline().split()
        if first and first[0].lower() in ("north", "south", "east", "west",
                                          "rows", "cols", "north:"):
            return read_grass_ascii(spark, path)
        return read_arcgis_ascii(spark, path)
    raise ValueError(f"unknown raster format: {path}")


def write_raster(df: DataFrame, meta: RasterMeta, path: str,
                 value_col: str | None = None) -> None:
    """Extension-dispatch writer (the write half of the rastertype.go
    registry). ``value_col`` names the data column; defaults to the
    single non-(row,col) column of ``df``."""
    if value_col is None:
        extras = [c for c in df.columns if c not in ("row", "col")]
        if len(extras) != 1:
            raise ValueError(f"ambiguous value column among {df.columns}; "
                             f"pass value_col=")
        value_col = extras[0]
    if value_col != "value":
        df = df.withColumnRenamed(value_col, "value")
    ext = os.path.splitext(path)[1].lower()
    if ext in (".dep", ".tas"):
        return write_whitebox(df, meta, os.path.splitext(path)[0] + ".dep")
    if ext in (".tif", ".tiff"):
        # strip-per-row, uncompressed, float64: the reference writer's
        # layout (geotiff.go:83, :256-268)
        _write_blocks(df, meta, path, "<f8", _geotiff_header(meta)[0])
        return None
    if ext in (".rdc", ".rst"):
        return write_idrisi(df, meta, os.path.splitext(path)[0] + ".rdc")
    if ext in (".hdr", ".flt"):
        return write_arcgis_binary(df, meta,
                                   os.path.splitext(path)[0] + ".hdr")
    if ext == ".grd":
        return write_grass_ascii(df, meta, path)
    if ext in (".asc", ".txt"):
        return write_arcgis_ascii(df, meta, path)
    raise ValueError(f"unknown raster format: {path}")


# ---------------------------------------------------------------------------
# GeoTIFF write — geotiff/geotiff.go:50-470 (strip-per-row, uncompressed,
# float64 samples, ModelTiepoint/PixelScale/GDAL_NODATA tags)
# ---------------------------------------------------------------------------

def _geotiff_header(meta: RasterMeta) -> tuple[bytes, int]:
    """IFD + out-of-line tag data for the strip-per-row uncompressed
    float64 layout -> (header bytes, strips_start offset); the strips
    start right after the header. ImageWidth/ImageLength are SHORT up
    to 65,535 and LONG above; the strip offsets are classic-TIFF 32-bit
    LONGs, so a file that would pass 4 GiB raises ``ValueError`` here,
    before any task writes."""
    rows, cols = meta.rows, meta.cols
    bo = "<"
    strip_bytes = cols * 8
    nodata_ascii = (repr(meta.nodata) + "\x00").encode()
    tiepoint = struct.pack(bo + "6d", 0.0, 0.0, 0.0,
                           meta.west, meta.north, 0.0)
    pixscale = struct.pack(bo + "3d", meta.cellsize_x, meta.cellsize_y, 0.0)

    n_tags = 13
    ifd_size = 2 + n_tags * 12 + 4
    data_off = 8 + ifd_size
    overflow = bytearray()

    def alloc(data: bytes) -> int:
        off = data_off + len(overflow)
        overflow.extend(data)
        return off

    tie_off = alloc(tiepoint)
    scale_off = alloc(pixscale)
    nodata_off = alloc(nodata_ascii)
    counts_off = alloc(struct.pack(bo + "I" * rows,
                                   *([strip_bytes] * rows)))
    offsets_off = data_off + len(overflow)
    overflow.extend(b"\x00" * (4 * rows))
    strips_start = data_off + len(overflow)
    if strips_start + rows * strip_bytes > 1 << 32:
        raise ValueError(
            f"a {rows} x {cols} float64 GeoTIFF passes the 4 GiB limit of "
            f"classic TIFF offsets")
    strip_offs = [strips_start + r * strip_bytes for r in range(rows)]
    overflow[offsets_off - data_off:offsets_off - data_off + 4 * rows] = \
        struct.pack(bo + "I" * rows, *strip_offs)

    def short(v):
        return struct.pack(bo + "HH", v, 0)

    def long_(v):
        return struct.pack(bo + "I", v)

    def dim(tag, v):
        return (tag, 3, 1, short(v)) if v <= 0xFFFF else (tag, 4, 1, long_(v))

    entries = [
        dim(256, cols),
        dim(257, rows),
        (258, 3, 1, short(64)),
        (259, 3, 1, short(1)),
        (262, 3, 1, short(1)),
        (273, 4, rows, long_(strip_offs[0]) if rows == 1
         else long_(offsets_off)),
        (277, 3, 1, short(1)),
        (278, 3, 1, short(1)),
        (279, 4, rows, long_(strip_bytes) if rows == 1
         else long_(counts_off)),
        (339, 3, 1, short(3)),
        (33550, 12, 3, long_(scale_off)),
        (33922, 12, 6, long_(tie_off)),
        (42113, 2, len(nodata_ascii), long_(nodata_off)),
    ]
    assert len(entries) == n_tags
    head = bytearray()
    head += b"II" + struct.pack(bo + "HI", 42, 8)
    head += struct.pack(bo + "H", n_tags)
    for tag, typ, cnt, val in sorted(entries):
        head += struct.pack(bo + "HHI", tag, typ, cnt) \
            + val.ljust(4, b"\x00")[:4]
    head += struct.pack(bo + "I", 0)  # next-IFD pointer
    head += bytes(overflow)
    assert len(head) == strips_start
    return bytes(head), strips_start


def whitebox_to_geotiff(spark: SparkSession, dep_path: str,
                        tif_path: str) -> None:
    """Whitebox2GeoTiff (tools/whiteboxRaster2GeoTiff.go:119-185):
    read -> NoData remap is identity here (same sentinel) -> write."""
    meta, df = read_whitebox(spark, dep_path)
    write_raster(df, meta, tif_path)


def las_info(spark: SparkSession, path: str) -> DataFrame:
    """PrintLASInfo equivalent (tools/printLASInfo.go:97-186): LAS
    header summary incl. the creation yday->date conversion (leap-year
    handling via the standard calendar, :121-186)."""
    import datetime
    with open(path, "rb") as f:
        buf = f.read(227)
    _, fmt_id, _, n_points, scales = _las_header(buf)
    sx, sy, sz, ox, oy, oz = scales
    ver_major, ver_minor = buf[24], buf[25]
    (yday,) = struct.unpack("<H", buf[90:92])
    (year,) = struct.unpack("<H", buf[92:94])
    maxx, minx, maxy, miny, maxz, minz = struct.unpack("<6d", buf[179:227])
    if year > 0 and yday > 0:
        d = datetime.date(year, 1, 1) + datetime.timedelta(days=yday - 1)
        created = d.isoformat()
    else:
        created = None
    row = [(f"{ver_major}.{ver_minor}", created, int(fmt_id),
            int(n_points), sx, sy, sz, ox, oy, oz,
            minx, maxx, miny, maxy, minz, maxz)]
    return spark.createDataFrame(row, (
        "version string, created string, point_format int, n_points long, "
        "scale_x double, scale_y double, scale_z double, "
        "off_x double, off_y double, off_z double, "
        "min_x double, max_x double, min_y double, max_y double, "
        "min_z double, max_z double"))
