"""Scale paths of the file sources/sinks: the block-range scan, the
block-range writer and the guarded ASCII writers."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from go_spatial_spark.grid import (
    NODATA, RasterMeta, long_to_tiles, synthetic_dem, synthetic_dem_numpy,
    tiles_to_long,
)
from go_spatial_spark.sources import raster_io as io

FIX = "/root/reference/geospatialfiles/tests/testdata"
GOLDEN = 429.42730712890625  # rasterFormat_test.go:30


def test_geotiff_distributed_matches_driver_read(spark):
    meta, df = io.read_geotiff(spark, f"{FIX}/DEM.tif")
    assert (meta.rows, meta.cols) == (188, 237)
    got = df.where("row = 100 AND col = 100").collect()
    assert len(got) == 1 and got[0]["value"] == GOLDEN
    # the block index: 188 one-row strips
    _, tags = io._parse_tiff_ifd_seek(f"{FIX}/DEM.tif")
    blocks = io._tiff_blocks(tags)
    assert len(blocks) == 188


def _lzw_encode(data: bytes) -> bytes:
    """TIFF LZW as libtiff writes it (TIFF 6.0 section 13): MSB-first
    codes from 9 bits, a Clear code first, one bit wider as soon as the
    next table entry would not fit (the early change), a Clear and a
    reset when the table reaches 4094 entries, and an EOI at the width
    the decoder expects after the last code."""
    clear, eoi = 256, 257
    out = bytearray()
    acc = nacc = 0

    def put(code):
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)
        acc &= (1 << nacc) - 1

    def grow():
        nonlocal table, nxt, width
        nxt += 1
        if nxt == 4094:
            put(clear)
            table, nxt, width = {bytes([i]): i for i in range(256)}, 258, 9
        elif nxt > (1 << width) - 1:
            width += 1

    table, nxt, width = {bytes([i]): i for i in range(256)}, 258, 9
    put(clear)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w])
        table[wc] = nxt
        grow()
        w = bytes([b])
    if w:
        put(table[w])
        grow()
    put(eoi)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _write_tiff(path, arr, rows_per_strip=None, tile=None, deflate=False,
                predictor=False, nodata=None, lzw=False):
    """Minimal little-endian classic TIFF of the one band ``arr`` (its
    dtype sets BitsPerSample and SampleFormat): strips of
    ``rows_per_strip`` rows, or ``tile`` x ``tile`` tiles zero-padded at
    the ragged edges; optionally deflate or LZW, horizontal differencing
    (predictor 2, integer dtypes) and a GDAL_NODATA tag."""
    import struct
    import zlib
    a = arr.astype(arr.dtype.newbyteorder("<"))
    h, w = a.shape
    if tile:
        pad = np.zeros((-(-h // tile) * tile, -(-w // tile) * tile), a.dtype)
        pad[:h, :w] = a
        blocks = [pad[y:y + tile, x:x + tile]
                  for y in range(0, pad.shape[0], tile)
                  for x in range(0, pad.shape[1], tile)]
    else:
        blocks = [a[y:y + rows_per_strip] for y in range(0, h, rows_per_strip)]
    payloads = []
    for b in blocks:
        if predictor:  # integer differences wrap, as the cumsum decode
            b = np.concatenate([b[:, :1], np.diff(b, axis=1)], axis=1)
        raw = np.ascontiguousarray(b).tobytes()
        payloads.append(zlib.compress(raw) if deflate
                        else _lzw_encode(raw) if lzw else raw)
    tags = {256: (4, [w]), 257: (4, [h]), 258: (3, [8 * a.itemsize]),
            259: (3, [8 if deflate else 5 if lzw else 1]), 262: (3, [1]), 277: (3, [1]),
            339: (3, [{"u": 1, "i": 2, "f": 3}[a.dtype.kind]])}
    if predictor:
        tags[317] = (3, [2])
    if nodata is not None:
        tags[42113] = (2, f"{nodata}\x00".encode())
    if tile:
        tags[322] = tags[323] = (3, [tile])
        off_tag, cnt_tag = 324, 325
    else:
        tags[278] = (4, [rows_per_strip])
        off_tag, cnt_tag = 273, 279
    tags[cnt_tag] = (4, [len(p) for p in payloads])
    tags[off_tag] = (4, [0] * len(payloads))
    size = {2: 1, 3: 2, 4: 4}

    def raw(typ, v):
        return v if typ == 2 else struct.pack(
            "<" + {3: "H", 4: "I"}[typ] * len(v), *v)

    data_off = 8 + 2 + 12 * len(tags) + 4
    start = data_off + sum(len(raw(*t)) for t in tags.values()
                           if len(raw(*t)) > 4)
    ends = np.cumsum([start] + [len(p) for p in payloads])
    tags[off_tag] = (4, [int(o) for o in ends[:-1]])
    ifd, extra = b"", b""
    for tag in sorted(tags):
        typ, v = tags[tag]
        r = raw(typ, v)
        ifd += struct.pack("<HHI", tag, typ, len(r) // size[typ])
        if len(r) <= 4:
            ifd += r.ljust(4, b"\x00")
        else:
            ifd += struct.pack("<I", data_off + len(extra))
            extra += r
    with open(path, "wb") as f:
        f.write(b"II" + struct.pack("<HIH", 42, 8, len(tags)) + ifd
                + struct.pack("<I", 0) + extra + b"".join(payloads))


def test_geotiff_distributed_compressed(spark, tmp_path):
    """Deflate-compressed strips decode in the block reader."""
    rng = np.arange(22 * 13, dtype=np.float64).reshape(22, 13) / 8.0
    p = str(tmp_path / "z.tif")
    _write_tiff(p, rng, rows_per_strip=4, deflate=True)
    meta, df = io.read_geotiff(spark, p)
    pdf = df.toPandas()
    got = np.full((22, 13), np.nan)
    got[pdf["row"], pdf["col"]] = pdf["value"]
    assert np.array_equal(got, rng)


def test_driver_writer_ceiling(spark, tmp_path):
    big = RasterMeta(rows=100_000, cols=100_000)
    df = spark.range(1).select(
        F.lit(0).alias("row"), F.lit(0).alias("col"),
        F.lit(1.0).alias("value"))
    with pytest.raises(ValueError, match="driver-assembly ceiling"):
        io._assemble_driver(df, big)
    with pytest.raises(ValueError, match="driver-assembly ceiling"):
        io.write_arcgis_ascii(df, big, str(tmp_path / "never.asc"))
    assert not list(tmp_path.iterdir())


def test_distributed_geotiff_writer_byte_identical(spark, tmp_path):
    """The GeoTIFF is the header plus the dense float64 plane, byte for
    byte, and it round-trips through the block reader."""
    meta = RasterMeta(rows=40, cols=30)
    dem = synthetic_dem(spark, 40, 30)
    p = str(tmp_path / "dist.tif")
    io.write_raster(dem, meta, p)
    with open(p, "rb") as f:
        assert f.read() == io._geotiff_header(meta)[0] + \
            synthetic_dem_numpy(40, 30).astype("<f8").tobytes()
    meta2, back = io.read_geotiff(spark, p)
    assert back.count() == dem.count()
    sym = back.exceptAll(dem).unionAll(dem.exceptAll(back))
    assert sym.count() == 0


def test_geotiff_header_wide_raster(tmp_path):
    """A width above 65,535 goes in as a LONG, and the reader's block
    index finds every strip where the writer puts it."""
    head, start = io._geotiff_header(RasterMeta(rows=10, cols=70000))
    p = tmp_path / "wide.tif"
    p.write_bytes(head)
    _, tags = io._parse_tiff_ifd_seek(str(p))
    assert (tags[256], tags[257]) == ([70000], [10])
    assert io._tiff_blocks(tags) == [
        (r, 0, 1, 70000, start + r * 70000 * 8, 70000 * 8)
        for r in range(10)]


def test_geotiff_header_over_4gib_raises():
    """30000^2 float64 cells (7.2 GB) do not fit 32-bit strip offsets:
    the header refuses before any strip is written."""
    with pytest.raises(ValueError, match="4 GiB"):
        io._geotiff_header(RasterMeta(rows=30000, cols=30000))


def test_distributed_writer_rows_spanning_batches(spark, tmp_path):
    """A grid row whose cells span several Arrow batches still comes
    out as ONE complete strip (regression: a writer that buffered rows
    across unsorted batches clobbered partial strips)."""
    from pyspark.sql import functions as F
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        R, C = 4, 350  # each row is 3.5 batches
        meta = RasterMeta(rows=R, cols=C)
        dem = spark.range(R * C).select(
            (F.col("id") / C).cast("int").alias("row"),
            (F.col("id") % C).cast("int").alias("col"),
            (F.col("id") % 977).cast("double").alias("value"))
        p = str(tmp_path / "b.tif")
        io.write_raster(dem, meta, p)
        want = (np.arange(R * C) % 977).astype("<f8").tobytes()
        with open(p, "rb") as f:
            assert f.read() == io._geotiff_header(meta)[0] + want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _dense_case(dtype, empty, nodata):
    """A 37 x 45 plane for ``dtype``: about a tenth NoData holes and
    one all-NoData 16^2 tile, or all NoData when ``empty``."""
    rng = np.random.default_rng(45)
    if np.dtype(dtype).kind == "f":
        arr = rng.normal(100.0, 50.0, (37, 45))
    else:  # integer payloads hold integral values in their range
        arr = rng.integers(0 if dtype == "u1" else -300, 250,
                           (37, 45)).astype(np.float64)
    arr[rng.random(arr.shape) < 0.1] = nodata
    arr[16:32, 16:32] = nodata
    if empty:
        arr[:] = nodata
    return arr


def _header_minmax(path, keys):
    with open(path) as f:
        hdr = {k.strip().lower(): v.strip() for k, _, v in
               (ln.partition(":") for ln in f.read().splitlines())}
    return [float(hdr[k]) for k in keys]


@pytest.mark.parametrize("ext,data_type", [
    (".dep", "FLOAT"), (".dep", "DOUBLE"), (".dep", "INTEGER"),
    (".rdc", "real"), (".rdc", "integer"), (".rdc", "byte"),
    (".hdr", None), (".tif", None)])
def test_write_blocks_byte_identical(spark, tmp_path, ext, data_type):
    """Every binary format and data type writes the header plus
    ``dense.astype(dtype).tobytes()``: NoData holes, an all-NoData tile
    and ragged edge tiles (a tile-16 round trip of 37 x 45), a
    five-partition input in Arrow batches of 100 cells that cut across
    grid rows, and an empty raster. Whitebox and Idrisi headers carry
    the min/max of the valid cells (0.0 for an empty raster). A byte
    payload cannot hold the default NoData and takes 255."""
    dtype = {".dep": io._WB_DTYPES.get(data_type),
             ".rdc": io._IDRISI_DTYPES.get(data_type),
             ".hdr": "<f4", ".tif": "<f8"}[ext]
    nodata = 255.0 if dtype == "u1" else NODATA
    meta = RasterMeta(rows=37, cols=45, north=37.0, south=0.0, east=45.0,
                      west=0.0, nodata=nodata)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        for empty in (False, True):
            dense = _dense_case(dtype, empty, nodata)
            rr, cc = np.nonzero(dense != nodata)
            df = spark.createDataFrame(
                [(int(r), int(c), float(dense[r, c])) for r, c in zip(rr, cc)],
                "row int, col int, value double")
            df = tiles_to_long(long_to_tiles(df, meta, tile=16), meta,
                               tile=16).repartition(5)
            p = str(tmp_path / f"w{ext}")
            if ext == ".dep":
                io.write_whitebox(df, meta, p, data_type=data_type)
            elif ext == ".rdc":
                io.write_idrisi(df, meta, p, data_type=data_type)
            else:
                io.write_raster(df, meta, p)
            head = io._geotiff_header(meta)[0] if ext == ".tif" else b""
            payload = p if ext == ".tif" else \
                p[:-4] + {".dep": ".tas", ".rdc": ".rst", ".hdr": ".flt"}[ext]
            with open(payload, "rb") as f:
                assert f.read() == head + dense.astype(dtype).tobytes()
            valid = dense[dense != nodata]
            want = [valid.min(), valid.max()] if valid.size else [0.0, 0.0]
            if ext == ".dep":
                assert _header_minmax(p, ("min", "max", "display min",
                                          "display max")) == want * 2
            elif ext == ".rdc":
                assert _header_minmax(p, ("min. value", "max. value",
                                          "display min", "display max")) \
                    == want * 2
            assert not list(tmp_path.glob("*.part"))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.mark.parametrize("ext,data_type", [(".rdc", "byte"),
                                           (".dep", "BYTE")])
def test_write_rejects_nodata_the_payload_cannot_hold(spark, tmp_path, ext,
                                                     data_type):
    """The default NoData -32768 does not fit a byte payload: every
    NoData cell would read back as a valid value, so the writer raises
    before it makes any file."""
    meta = RasterMeta(rows=4, cols=5)
    df = spark.createDataFrame([(0, 0, 1.0)], "row int, col int, value double")
    write = io.write_idrisi if ext == ".rdc" else io.write_whitebox
    with pytest.raises(ValueError, match="NoData -32768.0 does not fit"):
        write(df, meta, str(tmp_path / f"out{ext}"), data_type=data_type)
    assert not list(tmp_path.iterdir())


def test_write_rejects_cells_outside_grid(spark, tmp_path):
    """A negative col would wrap to the far edge of a dense array, and
    a row >= rows has no strip: the writer raises before writing such a
    cell, and the file already at the path stays as it was."""
    meta = RasterMeta(rows=4, cols=5)
    p = tmp_path / "out.tif"
    io.write_raster(spark.createDataFrame([(0, 0, 1.0)],
                                          "row int, col int, value double"),
                    meta, str(p))
    before = p.read_bytes()
    for row, col in ((1, -1), (4, 0)):
        df = spark.createDataFrame([(0, 0, 1.0), (row, col, 2.0)],
                                   "row int, col int, value double")
        with pytest.raises(ValueError, match=r"outside the 4 x 5 grid"):
            io.write_raster(df, meta, str(p))
        assert p.read_bytes() == before
        assert sorted(x.name for x in tmp_path.iterdir()) == ["out.tif"]


ND = -32768.0
_RAW_HEADERS = {
    ".dep": "Rows:\t{r}\nCols:\t{c}\nNorth:\t{r}\nSouth:\t0\nEast:\t{c}\n"
            "West:\t0\nData Type:\t{t}\nNoData:\t-32768\n"
            "Byte Order:\t{bo}\n",
    ".hdr": "NCOLS {c}\nNROWS {r}\nXLLCORNER 0\nYLLCORNER 0\nCELLSIZE 1\n"
            "NODATA_VALUE -32768\nBYTEORDER LSBFIRST\n",
    ".rdc": "data type   : real\ncolumns     : {c}\nrows        : {r}\n"
            "min. X      : 0\nmax. X      : {c}\nmin. Y      : 0\n"
            "max. Y      : {r}\nflag value  : -32768\n",
}
_PAYLOAD = {".dep": ".tas", ".hdr": ".flt", ".rdc": ".rst"}


def _write_case(tmp_path, case, rows, cols):
    """Write one binary-format raster for ``case``; returns (path, the
    array that wrote it as float64). About a tenth of the cells hold
    the NoData value -32768."""
    rng = np.random.default_rng(rows * 1000 + cols)
    vals = rng.normal(0.0, 1e3, (rows, cols))
    dtype = {"tif_tiled_ragged": "<f4", "tif_deflate_pred2": "<i2",
             "tas_float_be": ">f4", "flt": "<f4", "rst": "<f4"}.get(case, "<f8")
    if dtype == "<i2":
        vals = rng.integers(-32768, 32768, (rows, cols))
    arr = vals.astype(dtype)
    arr[rng.random((rows, cols)) < 0.1] = ND
    if case.startswith("tif"):
        p = str(tmp_path / "r.tif")
        # LZW strips of 20 rows fill the 4094-entry code table, so
        # the decoder meets a Clear code mid-strip
        _write_tiff(p, arr, nodata=ND, tile=16 if "tiled" in case else None,
                    rows_per_strip=None if "tiled" in case
                    else 20 if "lzw" in case else 3,
                    deflate="deflate" in case, predictor="pred2" in case,
                    lzw="lzw" in case)
    else:
        ext = {"tas_double": ".dep", "tas_float_be": ".dep", "flt": ".hdr",
               "rst": ".rdc"}[case]
        p = str(tmp_path / ("r" + ext))
        with open(p, "w") as f:
            f.write(_RAW_HEADERS[ext].format(
                r=rows, c=cols, t="DOUBLE" if case == "tas_double"
                else "FLOAT", bo="BIG_ENDIAN" if dtype[0] == ">"
                else "LITTLE_ENDIAN"))
        arr.tofile(str(tmp_path / ("r" + _PAYLOAD[ext])))
    return p, arr.astype(np.float64)


@pytest.mark.parametrize("case", [
    "tif_strip", "tif_tiled_ragged", "tif_deflate_pred2", "tif_lzw",
    "tas_double",
    "tas_float_be", "flt", "rst", "tif_strip_256_default_conf"])
def test_read_blocks_bit_exact(spark, tmp_path, case):
    """Every binary format reads bit-exact against the array that
    wrote it: across several tasks when the file-scan split settings
    are small, and in one task for a 256^2 raster at the default
    settings."""
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    default_conf = case.endswith("_default_conf")
    if not default_conf:
        spark.conf.set(keys[0], "1k")
        spark.conf.set(keys[1], "0")
    try:
        shape = (256, 256) if default_conf else (37, 45)
        p, want = _write_case(tmp_path, case.replace("_256_default_conf", ""),
                              *shape)
        meta, df = io.read_raster(spark, p)
        assert (meta.rows, meta.cols) == shape
        if default_conf:
            assert df.rdd.getNumPartitions() == 1
        else:
            assert df.rdd.getNumPartitions() > 1
        pdf = df.toPandas()
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)
    assert len(pdf) == int((want != ND).sum())
    got = np.full(shape, ND)
    got[pdf["row"], pdf["col"]] = pdf["value"]
    assert np.array_equal(got, want)


@pytest.mark.parametrize("tile,exchanges", [(16, 1), (64, 0)])
def test_one_task_scan_spreads_tiles(spark, tmp_path, tile, exchanges):
    """A small file reads in one task, and a one-task input satisfies
    any grouping as it stands. long_to_tiles must still hash-partition
    a raster of more than one tile (3x3 tiles at 16), or every tile and
    every stencil after it would run on one core; a one-tile raster
    (tile 64) keeps the exchange-free plan."""
    p, _ = _write_case(tmp_path, "tif_strip", 37, 45)
    meta, df = io.read_raster(spark, p)
    assert df.rdd.getNumPartitions() == 1
    plan = long_to_tiles(df, meta, tile=tile)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == exchanges
