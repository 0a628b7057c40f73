"""Format sources: the reference's own golden-value tests
(rasterFormat_test.go:30,84,118,148 — cell(100,100) of the DEM fixture
== 429.42730712890625 in every format) plus writer round-trips."""

import numpy as np
import pandas as pd
import pytest

from go_spatial_spark.grid import NODATA, RasterMeta, synthetic_dem, \
    synthetic_dem_numpy
from go_spatial_spark.sources import raster_io as io

FIX = "/root/reference/geospatialfiles/tests/testdata"
GOLDEN = 429.42730712890625  # rasterFormat_test.go:30


def _cell(df, row, col):
    got = df.where(f"row = {row} AND col = {col}").collect()
    assert len(got) == 1
    return got[0]["value"]


def test_whitebox_golden(spark):
    meta, df = io.read_whitebox(spark, f"{FIX}/DEM.dep")
    assert (meta.rows, meta.cols) == (188, 237)
    assert _cell(df, 100, 100) == GOLDEN


def test_geotiff_golden(spark):
    meta, df = io.read_geotiff(spark, f"{FIX}/DEM.tif")
    assert (meta.rows, meta.cols) == (188, 237)
    assert _cell(df, 100, 100) == GOLDEN


def test_geotiff_64bit(spark):
    meta, df = io.read_geotiff(spark, f"{FIX}/Sample64Bit.tif")
    assert df.count() > 0


def test_idrisi_golden(spark):
    meta, df = io.read_idrisi(spark, f"{FIX}/DEM.rdc")
    assert (meta.rows, meta.cols) == (188, 237)
    assert _cell(df, 100, 100) == GOLDEN


@pytest.mark.parametrize("fmt", ["whitebox", "arcgis_ascii", "arcgis_binary",
                                 "grass_ascii", "idrisi"])
def test_roundtrip(spark, tmp_path, fmt):
    rows, cols = 23, 31
    meta = RasterMeta(rows=rows, cols=cols, north=float(rows),
                      south=0.0, east=float(cols), west=0.0)
    dem = synthetic_dem(spark, rows, cols)
    want = synthetic_dem_numpy(rows, cols)
    if fmt == "whitebox":
        p = str(tmp_path / "t.dep")
        io.write_whitebox(dem, meta, p, data_type="DOUBLE")
        meta2, back = io.read_whitebox(spark, p)
    elif fmt == "arcgis_ascii":
        p = str(tmp_path / "t.asc")
        io.write_arcgis_ascii(dem, meta, p)
        meta2, back = io.read_arcgis_ascii(spark, p)
    elif fmt == "arcgis_binary":
        p = str(tmp_path / "t.hdr")
        io.write_arcgis_binary(dem, meta, p)
        meta2, back = io.read_arcgis_binary(spark, p)
    elif fmt == "grass_ascii":
        p = str(tmp_path / "t.txt")
        io.write_grass_ascii(dem, meta, p)
        meta2, back = io.read_grass_ascii(spark, p)
    else:
        p = str(tmp_path / "t.rdc")
        io.write_idrisi(dem, meta, p, data_type="real")
        meta2, back = io.read_idrisi(spark, p)
    assert (meta2.rows, meta2.cols) == (rows, cols)
    pdf = back.toPandas()
    arr = np.full((rows, cols), NODATA)
    arr[pdf["row"], pdf["col"]] = pdf["value"]
    valid = want != NODATA
    if fmt in ("arcgis_binary", "idrisi"):  # float32 payloads
        assert np.allclose(arr[valid], want[valid], rtol=1e-6)
    else:
        assert np.array_equal(arr[valid], want[valid])
    assert np.array_equal(arr[~valid], want[~valid])


def test_format_sniffing(spark, tmp_path):
    rows, cols = 9, 9
    meta = RasterMeta(rows=rows, cols=cols)
    dem = synthetic_dem(spark, rows, cols)
    pa = str(tmp_path / "a.asc")
    io.write_arcgis_ascii(dem, meta, pa)
    pg = str(tmp_path / "g.txt")
    io.write_grass_ascii(dem, meta, pg)
    ma, _ = io.read_raster(spark, pa)
    mg, _ = io.read_raster(spark, pg)
    assert ma.rows == mg.rows == rows


def test_geotiff_write_roundtrip(spark, tmp_path):
    rows, cols = 19, 27
    meta = RasterMeta(rows=rows, cols=cols, north=float(rows), south=0.0,
                      east=float(cols), west=0.0)
    dem = synthetic_dem(spark, rows, cols)
    p = str(tmp_path / "w.tif")
    io.write_raster(dem, meta, p)
    meta2, back = io.read_geotiff(spark, p)
    assert (meta2.rows, meta2.cols) == (rows, cols)
    assert meta2.nodata == meta.nodata
    want = synthetic_dem_numpy(rows, cols)
    pdf = back.toPandas()
    arr = np.full((rows, cols), NODATA)
    arr[pdf["row"], pdf["col"]] = pdf["value"]
    assert np.array_equal(arr, want)


def test_whitebox_to_geotiff(spark, tmp_path):
    src = "/root/reference/geospatialfiles/tests/testdata/DEM.dep"
    dst = str(tmp_path / "conv.tif")
    io.whitebox_to_geotiff(spark, src, dst)
    meta, df = io.read_geotiff(spark, dst)
    assert (meta.rows, meta.cols) == (188, 237)
    assert _cell(df, 100, 100) == GOLDEN


def test_geotiff_tags(spark):
    tags = io.geotiff_tags(spark, f"{FIX}/DEM.tif").toPandas()
    got = set(tags["tag"])
    # width, height, bits/sample, strip offsets must be present
    assert {256, 257, 258, 273}.issubset(got)
    assert tags[tags.tag == 256]["value"].iloc[0] == "[237]"


def test_geotiff_tags_of_written_file(spark, tmp_path):
    """The header parser behind every GeoTIFF read, on a file from
    write_raster: all 13 tags the GeoTIFF writer emits come back
    decoded."""
    rows, cols = 7, 11
    meta = RasterMeta(rows=rows, cols=cols, north=50.0, south=43.0,
                      east=16.5, west=5.5, nodata=-9999.0)
    p = str(tmp_path / "tags.tif")
    io.write_raster(synthetic_dem(spark, rows, cols), meta, p)
    got = dict(io.geotiff_tags(spark, p).collect())
    assert sorted(got) == [256, 257, 258, 259, 262, 273, 277, 278, 279,
                           339, 33550, 33922, 42113]
    assert got[256] == f"[{cols}]" and got[257] == f"[{rows}]"
    assert got[258] == "[64]"     # bits per sample
    assert got[259] == "[1]"      # no compression
    assert got[262] == "[1]" and got[277] == "[1]" and got[278] == "[1]"
    assert got[339] == "[3]"      # IEEE float samples
    assert got[279] == str([cols * 8] * rows)  # one strip per row
    assert len(got[273].strip("[]").split(",")) == rows
    assert got[33550] == str([1.0, 1.0, 0.0])
    assert got[33922] == str([0.0, 0.0, 0.0, 5.5, 50.0, 0.0])
    assert got[42113] == str(b"-9999.0\x00")  # GDAL_NODATA, ASCII


def test_las_roundtrip(spark, tmp_path):
    """Synthesize a minimal LAS 1.2 file (point format 1) and read it
    back: scale/offset decode per las.go:85-93, bit fields per
    lasPoint.go:69-149."""
    import struct
    n = 100
    header = bytearray(227)
    header[0:4] = b"LASF"
    header[24] = 1   # version major
    header[25] = 2   # version minor
    struct.pack_into("<H", header, 90, 42)    # file creation yday
    struct.pack_into("<H", header, 92, 2020)  # year
    struct.pack_into("<H", header, 94, 227)   # header size
    struct.pack_into("<I", header, 96, 227)   # offset to points
    header[104] = 1  # point format 1 (with gps_time)
    struct.pack_into("<H", header, 105, 28)   # record length
    struct.pack_into("<I", header, 107, n)    # n points
    struct.pack_into("<6d", header, 131, 0.01, 0.01, 0.001, 100.0, 200.0, 5.0)
    pts = bytearray()
    for i in range(n):
        rec = bytearray(28)
        struct.pack_into("<3i", rec, 0, i * 10, i * 20, i * 3)
        struct.pack_into("<H", rec, 12, i % 7)        # intensity
        rec[14] = (1 | (2 << 3))                      # return 1 of 2
        rec[15] = i % 13                              # class
        struct.pack_into("<d", rec, 20, 1000.0 + i)   # gps_time
        pts += rec
    p = str(tmp_path / "t.las")
    with open(p, "wb") as f:
        f.write(bytes(header) + bytes(pts))

    df = io.read_las(spark, p).orderBy("gps_time").toPandas()
    assert len(df) == n
    assert df["x"].iloc[3] == 3 * 10 * 0.01 + 100.0
    assert df["y"].iloc[7] == 7 * 20 * 0.01 + 200.0
    assert df["z"].iloc[9] == 9 * 3 * 0.001 + 5.0
    assert (df["return_num"] == 1).all()
    assert (df["num_returns"] == 2).all()
    assert df["class"].iloc[12] == 12

    info = io.las_info(spark, p).toPandas()
    assert info["n_points"].iloc[0] == n
    assert info["version"].iloc[0] == "1.2"
    assert info["created"].iloc[0] == "2020-02-11"  # yday 42, leap year
    assert info["point_format"].iloc[0] == 1


def test_bucketed_tile_store_roundtrip_and_exchange_free(spark, tmp_path):
    """Tiles written bucketed on (ty,tx) scan back with a partitioning
    that satisfies the stencil cogroup — values round-trip exactly and
    the stencil plan has no exchange on the tile-payload side."""
    from go_spatial_spark import kernels
    from go_spatial_spark.grid import (
        RasterMeta, run_stencil, synthetic_dem_tiles)
    from go_spatial_spark.sources.tile_store import (
        read_tiles_bucketed, write_tiles_bucketed)

    meta = RasterMeta(rows=70, cols=53, nodata=-1.0)
    tiles = synthetic_dem_tiles(spark, 70, 53, tile=32)
    write_tiles_bucketed(tiles, meta, "t_store_test", buckets=4,
                         path=str(tmp_path / "t_store"))
    try:
        back, meta2 = read_tiles_bucketed(spark, "t_store_test")
        assert (meta2.rows, meta2.cols, meta2.nodata) == (70, 53, -1.0)
        a = {(r.ty, r.tx): bytes(r.data) for r in tiles.collect()}
        b = {(r.ty, r.tx): bytes(r.data) for r in back.collect()}
        assert a == b
        out = run_stencil(back, meta2, kernels.slope_kernel, halo=1,
                          tile=32, output="tiles", copartitioned=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        cg = next(i for i, l in enumerate(lines)
                  if "FlatMapCoGroupsInArrow" in l)
        assert "Exchange" not in "\n".join(lines[cg:cg + 3]), plan
        # exactly one exchange total: the strips side
        assert plan.count("Exchange") == 1, plan
        assert out.count() == tiles.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_store_test")


def _mk_tiff(entries, payload, extra=b""):
    """Minimal little-endian classic TIFF: one IFD + one strip payload.
    entries = [(tag, type, [values])]; oversize values go in `extra`
    which the caller pre-offsets."""
    import struct as S
    n = len(entries)
    ifd_off = 8
    hdr = b"II" + S.pack("<HI", 42, ifd_off)
    body = S.pack("<H", n)
    sizes = {1: 1, 3: 2, 4: 4}
    fmts = {1: "B", 3: "H", 4: "I"}
    data_off = ifd_off + 2 + 12 * n + 4
    deferred = b""
    for tag, typ, vals in entries:
        sz = sizes[typ] * len(vals)
        raw = S.pack("<" + fmts[typ] * len(vals), *vals)
        if sz <= 4:
            body += S.pack("<HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
        else:
            body += S.pack("<HHI", tag, typ, len(vals)) + S.pack(
                "<I", data_off + len(deferred))
            deferred += raw
    body += S.pack("<I", 0)  # next IFD
    return hdr + body + deferred + payload


def test_read_geotiff_rgb_and_paletted(spark, tmp_path):
    """RGB(A)/paletted photometric modes pack each pixel to
    float64((a<<24)|(r<<16)|(g<<8)|b) exactly as the reference
    (geotiff.go:895-990; palette geotiff.go:592-613)."""
    import struct as S
    import numpy as np
    from go_spatial_spark.sources.raster_io import read_geotiff

    w, h = 3, 2
    # --- 8-bit RGB ---
    px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3) * 7
    entries = [(256, 4, [w]), (257, 4, [h]), (258, 3, [8, 8, 8]),
               (259, 3, [1]), (262, 3, [2]), (277, 3, [3]),
               (278, 4, [h]), (279, 4, [w * h * 3])]
    # strip offset = end of (header + ifd + deferred); compute after a
    # dry build with offset 0, then patch
    blob0 = _mk_tiff(entries + [(273, 4, [0])], b"")
    strip_off = len(blob0)
    blob = _mk_tiff(entries + [(273, 4, [strip_off])], px.tobytes())
    p = tmp_path / "rgb.tif"
    p.write_bytes(blob)
    meta, df = read_geotiff(spark, str(p))
    got = {(r.row, r.col): r.value for r in df.collect()}
    for y in range(h):
        for x in range(w):
            r_, g_, b_ = (int(px[y, x, 0]), int(px[y, x, 1]),
                          int(px[y, x, 2]))
            want = float((255 << 24) | (r_ << 16) | (g_ << 8) | b_)
            assert got[(y, x)] == want

    # --- 16-bit RGBA (ExtraSamples ignored by the packer; alpha read) --
    px16 = (np.arange(w * h * 4, dtype=np.uint16).reshape(h, w, 4)
            * 4111)
    entries = [(256, 4, [w]), (257, 4, [h]), (258, 3, [16] * 4),
               (259, 3, [1]), (262, 3, [2]), (277, 3, [4]),
               (278, 4, [h]), (279, 4, [w * h * 8])]
    blob0 = _mk_tiff(entries + [(273, 4, [0])], b"")
    blob = _mk_tiff(entries + [(273, 4, [len(blob0)])],
                    px16.astype("<u2").tobytes())
    p = tmp_path / "rgba16.tif"
    p.write_bytes(blob)
    meta, df = read_geotiff(spark, str(p))
    got = {(r.row, r.col): r.value for r in df.collect()}
    for y in range(h):
        for x in range(w):
            r_, g_, b_, a_ = (int(px16[y, x, k] / 65535.0 * 255.0)
                              for k in range(4))
            want = float((a_ << 24) | (r_ << 16) | (g_ << 8) | b_)
            assert got[(y, x)] == want

    # --- 8-bit paletted ---
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    cmap_r = [0] * 256
    cmap_g = [0] * 256
    cmap_b = [0] * 256
    for i, (r_, g_, b_) in enumerate([(65535, 0, 32768),
                                      (256, 512, 1024),
                                      (40000, 50000, 60000),
                                      (1, 2, 3)]):
        cmap_r[i], cmap_g[i], cmap_b[i] = r_, g_, b_
    entries = [(256, 4, [w]), (257, 4, [h]), (258, 3, [8]),
               (259, 3, [1]), (262, 3, [3]), (277, 3, [1]),
               (278, 4, [h]), (279, 4, [w * h]),
               (320, 3, cmap_r + cmap_g + cmap_b)]
    blob0 = _mk_tiff(entries + [(273, 4, [0])], b"")
    blob = _mk_tiff(entries + [(273, 4, [len(blob0)])], idx.tobytes())
    p = tmp_path / "pal.tif"
    p.write_bytes(blob)
    meta, df = read_geotiff(spark, str(p))
    got = {(r.row, r.col): r.value for r in df.collect()}
    pal = []
    for i in range(256):
        pr = int(cmap_r[i] / 65535.0 * 255.0)
        pg = int(cmap_g[i] / 65535.0 * 255.0)
        pb = int(cmap_b[i] / 65535.0 * 255.0)
        pal.append(float((255 << 24) | (pr << 16) | (pg << 8) | pb))
    for y in range(h):
        for x in range(w):
            assert got[(y, x)] == pal[idx[y, x]]


@pytest.mark.parametrize("n", [0, 1, 17, 50_000])
def test_read_las_matches_point_formula(spark, tmp_path, n):
    """read_las decodes exactly the values of the formula that wrote
    the file, for a header-only file, one record, a ragged last record
    range and a cloud that fans out across >1 task. All scales are
    exact dyadics, so int*scale+offset is bit-identical in NumPy."""
    import struct
    header = bytearray(227)
    header[0:4] = b"LASF"
    header[24], header[25] = 1, 2
    struct.pack_into("<H", header, 94, 227)
    struct.pack_into("<I", header, 96, 227)
    header[104] = 1
    struct.pack_into("<H", header, 105, 28)
    struct.pack_into("<I", header, 107, n)
    struct.pack_into("<6d", header, 131, 0.25, 0.5, 0.015625,
                     100.0, -50.0, 12.5)
    i = np.arange(n, dtype=np.int64)
    xi, yi, zi = (i * 3) % 100_000, (i * 7) % 90_001, (i * i) % 4096
    inten, ret, cls = (i * 11) % 613, (i % 5) + 1, i % 13
    gps = 1000.0 + i * 0.5
    rec = np.zeros((n, 28), dtype=np.uint8)
    rec[:, 0:4] = xi.astype("<i4")[:, None].view(np.uint8)
    rec[:, 4:8] = yi.astype("<i4")[:, None].view(np.uint8)
    rec[:, 8:12] = zi.astype("<i4")[:, None].view(np.uint8)
    rec[:, 12:14] = inten.astype("<u2")[:, None].view(np.uint8)
    rec[:, 14] = ret | (5 << 3)
    rec[:, 15] = cls
    rec[:, 20:28] = gps[:, None].view(np.uint8)
    p = str(tmp_path / "pts.las")
    with open(p, "wb") as f:
        f.write(bytes(header) + rec.tobytes())

    df = io.read_las(spark, p)
    if n == 50_000:
        assert df.rdd.getNumPartitions() > 1
    got = df.toPandas().sort_values("gps_time").reset_index(drop=True)
    want = pd.DataFrame({
        "x": xi * 0.25 + 100.0, "y": yi * 0.5 - 50.0,
        "z": zi * 0.015625 + 12.5, "intensity": inten.astype(np.int32),
        "class": cls.astype(np.int32), "return_num": ret.astype(np.int32),
        "num_returns": np.full(n, 5, dtype=np.int32), "gps_time": gps})
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@pytest.mark.parametrize("reader", ["geotiff_tags", "read_las", "las_info"])
def test_malformed_header_raises_value_error(spark, tmp_path, reader):
    """A file without the TIFF byte order / magic or the LAS signature
    is rejected with ValueError (not an assert, which python -O
    strips)."""
    p = tmp_path / "junk.bin"
    p.write_bytes(bytes(range(7, 256)) * 2)
    with pytest.raises(ValueError):
        getattr(io, reader)(spark, str(p))


@pytest.mark.parametrize("fmt", ["tas", "tif"])
def test_truncated_payload_raises_value_error(spark, tmp_path, fmt):
    """A payload shorter than its header promises is rejected on the
    driver, before any task starts."""
    rows, cols = 6, 5
    arr = np.arange(rows * cols, dtype="<f8").reshape(rows, cols)
    if fmt == "tas":
        p = tmp_path / "t.dep"
        p.write_text(f"Rows:\t{rows}\nCols:\t{cols}\nNorth:\t{rows}\n"
                     f"South:\t0\nEast:\t{cols}\nWest:\t0\n"
                     f"Data Type:\tDOUBLE\nNoData:\t-32768\n")
        (tmp_path / "t.tas").write_bytes(arr.tobytes()[:-8])
    else:
        entries = [(256, 4, [cols]), (257, 4, [rows]), (258, 3, [64]),
                   (259, 3, [1]), (262, 3, [1]), (277, 3, [1]),
                   (278, 4, [rows]), (279, 4, [arr.nbytes]), (339, 3, [3])]
        head = len(_mk_tiff(entries + [(273, 4, [0])], b""))
        p = tmp_path / "t.tif"
        p.write_bytes(_mk_tiff(entries + [(273, 4, [head])],
                               arr.tobytes())[:-8])
    with pytest.raises(ValueError, match="truncated"):
        io.read_raster(spark, str(p))
