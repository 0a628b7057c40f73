"""Command-line front end mirroring the reference's console
(go-spatial.go:40-485): the same non-interactive flags (-listtools,
-toolhelp, -toolargs, -run/-args/-cwd, -version, -help) and the same
interactive REPL commands (listtools, toolhelp, toolargs, run,
rasterformats, version, help, pwd, cwd, bench*, exit), but every tool
is a native Spark DataFrame transform: ``run`` reads the input raster
with the extension-dispatch reader, executes the registered tool, and
writes the result with the extension-dispatch writer (unknown output
extensions default to GeoTIFF, meanFilter.go:98-101).
"""

from __future__ import annotations

import os
import shlex
import sys
import time

from go_spatial_spark import registry

VERSION = "0.1.1"  # mirrors go-spatial.go:18

# rastertype.go:34-61 (the reference prints every non-Unknown name,
# including formats its codecs don't implement; we support all listed
# R/W formats except Surfer/SAGA, matching its actual codec set)
_RASTER_FORMATS = [
    ("ArcGisAsciiRaster", [".txt", ".asc"]),
    ("ArcGisBinaryRaster", [".flt", ".hdr"]),
    ("GeoTiff", [".tif", ".tiff"]),
    ("GrassAsciiRaster", [".grd"]),
    ("IdrisiRaster", [".rst", ".rdc"]),
    ("WhiteboxRaster", [".tas", ".dep"]),
]

# tool name -> (extra positional args after input/output, kwarg
# builder). Positions follow each tool's arg_descriptions; builders
# convert the reference's arg convention (e.g. full filter sizes) to
# the engine's kwargs (radii).
def _meanfilter_args(a):
    """meanFilter.go:104-122: filterSizeY DEFAULTS to filterSizeX.
    Radii are floor(size/2) — the reference's own window bounds
    (-halfFilter..+halfFilter, meanFilter.go:256-262; for even sizes
    the Go tool panics on its dX/dY arrays sized filterSize^2, so the
    loop-bound reading is the faithful non-crashing interpretation)."""
    sx = _int(a, 0, 3)
    sy = _int(a, 1, sx)
    return {"rx": max(sx // 2, 0), "ry": max(sy // 2, 0)}


_EXTRA_ARGS = {
    "meanfilter": _meanfilter_args,
    "deviationfrommean": lambda a: {"r": _int(a, 0, 8)},
    "deviationfrommeantraditional": lambda a: {"r": _int(a, 0, 8)},
    "differencefrommean": lambda a: {"r": _int(a, 0, 8)},
    "elevationpercentile": lambda a: {"r": _int(a, 0, 5),
                                      "num_bins": _int(a, 1, 10)},
    "quantiles": lambda a: {"num_bins": _int(a, 0, 5)},
    "maximumelevationdeviation": lambda a: {
        "scales": list(range(_int(a, 0, 4), _int(a, 1, 12) + 1,
                             _int(a, 2, 4)))},
    "filldepressions": lambda a: {"fix_flats": _bool(a, 0, True)},
    "breachdepressions": lambda a: {"max_depth": _float(a, 0, -1.0),
                                    "max_length": _int(a, 1, -1),
                                    "constrained": _bool(a, 2, False),
                                    "post_breach_fill": _bool(a, 3, False)},
}

# tools that take files directly rather than an input grid
_FILE_TOOLS = {"whitebox2geotiff", "printgeotifftags", "printlasinfo"}

# tools that write several rasters: one output argument per value
# column, in order, after the input (maximumElevationDeviation.go
# :543-591 writes the magnitude, then the scale)
_MULTI_OUT = {"maximumelevationdeviation": ("max_dev", "scale")}

_OUT_EXTS = (".dep", ".tas", ".tif", ".tiff", ".rdc", ".rst", ".hdr",
             ".flt", ".asc", ".txt", ".grd")


def _int(a, i, d):
    return int(float(a[i])) if len(a) > i and a[i].strip() else d


def _float(a, i, d):
    return float(a[i]) if len(a) > i and a[i].strip() else d


def _bool(a, i, d):
    if len(a) <= i or not a[i].strip():
        return d
    return a[i].strip().lower() in ("t", "true", "1", "yes", "y")


class Console:
    """State + commands of the GoSpatial console."""

    def __init__(self, spark=None, out=print):
        self._spark = spark
        self.out = out
        self.cwd = os.getcwd() + os.sep
        self.bench_mode = False

    @property
    def spark(self):
        if self._spark is None:
            from go_spatial_spark.session import get_spark
            self._spark = get_spark("gospatial-cli")
        return self._spark

    # -- informational commands --------------------------------------
    def version(self):
        self.out(f"GoSpatial-Spark version {VERSION}")

    def listtools(self):
        self.out("The following tools are available:")
        for name, desc in registry.list_tools():
            self.out(f"{name:<32}{desc}")

    def toolhelp(self, name):
        try:
            tool = self._resolve(name)
        except KeyError:
            self.out(f"Unrecognized tool name '{name}'. Type 'listtools' "
                     f"for a list of available tools.")
            return
        self.out(f"{tool.name}: {tool.description}")
        self.out("Arguments:")
        for i, a in enumerate(tool.arg_descriptions):
            self.out(f"  [{i}] {a}")

    def toolargs(self, name):
        try:
            tool = self._resolve(name)
        except KeyError:
            self.out(f"Unrecognized tool name '{name}'. Type 'listtools' "
                     f"for a list of available tools.")
            return
        for i, a in enumerate(tool.arg_descriptions):
            self.out(f"  [{i}] {a}")

    def rasterformats(self):
        self.out("The following raster formats are supported for "
                 "reading/writing:")
        for name, exts in _RASTER_FORMATS:
            self.out(f"{name:<20}{exts}")

    def _resolve(self, name):
        key = name.lower()
        if key in registry._REGISTRY:
            return registry._REGISTRY[key]
        matches = [k for k in registry._REGISTRY if k.startswith(key)]
        if len(matches) == 1:  # truncate-match, pluginManager.go:110-121
            return registry._REGISTRY[matches[0]]
        raise KeyError(name)

    # -- run ----------------------------------------------------------
    def _abspath(self, p):
        p = p.strip()
        if p and not os.path.isabs(p):
            return os.path.join(self.cwd, p)
        return p

    def run(self, name, args):
        """Read input raster -> tool -> write output raster."""
        from go_spatial_spark.sources.raster_io import (
            geotiff_tags, las_info, read_raster, whitebox_to_geotiff,
            write_raster)
        try:
            tool = self._resolve(name)
        except KeyError:
            self.out(f"Unrecognized tool name '{name}'. Type 'listtools' "
                     f"for a list of available tools.")
            return None
        key = tool.name.lower()
        t0 = time.time()

        # arg-count / input-existence validation (the reference prints
        # 'no such file or directory' and keeps the console alive): the
        # input, then one path per output raster
        need = 1 if key in ("printgeotifftags", "printlasinfo") else \
            1 + len(_MULTI_OUT.get(key, (None,)))
        if len(args) < need or not all(a.strip() for a in args[:need]):
            self.out(f"Tool arguments not specified for '{tool.name}'; "
                     f"type 'toolargs {tool.name}' for the argument list")
            return None
        probe = self._abspath(args[0])
        base = os.path.splitext(probe)[0]
        if not os.path.exists(probe) and not (
                os.path.exists(base + ".dep")
                or os.path.exists(base + ".hdr")
                or os.path.exists(base + ".rdc")):
            self.out(f"open {probe}: no such file or directory")
            return None

        if key in _FILE_TOOLS:
            if key == "printgeotifftags":
                df = geotiff_tags(self.spark, self._abspath(args[0]))
                for r in df.collect():
                    self.out(f"{r.tag}: {r.value}")
            elif key == "printlasinfo":
                df = las_info(self.spark, self._abspath(args[0]))
                for r in df.collect():
                    self.out(f"{r[0]}: {r[1]}")
            else:
                whitebox_to_geotiff(self.spark, self._abspath(args[0]),
                                    self._abspath(args[1]))
                df = None
            if self.bench_mode:
                self.out(f"Elapsed time: {time.time() - t0:.3f} s")
            return df

        in_path = self._abspath(args[0])
        cols = _MULTI_OUT.get(key, (None,))
        out_paths = []
        for i in range(1, 1 + len(cols)):
            p = self._abspath(args[i]) if len(args) > i else ""
            if os.path.splitext(p)[1].lower() not in _OUT_EXTS:
                p += ".tif"  # default, meanFilter.go:98-101
            out_paths.append(p)
        meta, grid = read_raster(self.spark, in_path)
        kwargs = _EXTRA_ARGS.get(key, lambda a: {})(args[1 + len(cols):])
        out = registry.run_tool(self.spark, tool.name, grid, meta, **kwargs)
        if len(cols) > 1:
            out = out.localCheckpoint()  # computed once, written per column
        for col, p in zip(cols, out_paths):
            write_raster(out if col is None
                         else out.select("row", "col", col), meta, p)
        if self.bench_mode:
            self.out(f"Elapsed time: {time.time() - t0:.3f} s")
        for p in out_paths:
            self.out(f"Wrote {p}")
        return out

    # -- REPL ----------------------------------------------------------
    HELP = [
        ("bench", "Prints the current benchmarking mode"),
        ("benchoff", "Turns benchmarking mode off"),
        ("benchon", "Turns benchmarking mode on"),
        ("cwd", "Changes the working directory (also 'cd'), "
                "e.g. cwd /data/"),
        ("exit", "Exits (also 'logout' or 'esc')"),
        ("help", "Prints a list of available commands (also 'h')"),
        ("listtools", "Lists all available tools"),
        ("pwd", "Prints the working directory"),
        ("rasterformats", "Prints the supported raster formats"),
        ("run", "Runs a specified tool (also 'r'), e.g. run toolname "
                "\"arg1;arg2;arg3;...\""),
        ("toolargs", "Prints the argument descriptions for a tool"),
        ("toolhelp", "Prints help documentation for a tool, "
                     "e.g. toolhelp BreachDepressions"),
        ("version", "Prints version information (also 'v')"),
    ]

    def help(self):
        self.out("The following commands are recognized:")
        for k, v in self.HELP:
            self.out(f"{k:<15}{v}")

    def dispatch(self, line) -> bool:
        """One REPL command; returns False on exit."""
        parts = shlex.split(line.strip())
        if not parts:
            self.out("Empty command, type 'help' for details...")
            return True
        cmd, rest = parts[0].lower(), parts[1:]
        if cmd in ("exit", "logout", "esc"):
            self.out("Goodbye for now")
            return False
        if cmd in ("help", "h"):
            self.help()
        elif cmd in ("version", "v"):
            self.version()
        elif cmd == "listtools":
            self.listtools()
        elif cmd == "toolhelp":
            if rest:
                self.toolhelp(rest[0])
            else:
                self.out("Tool name not specified, e.g. toolhelp "
                         "BreachDepressions")
        elif cmd == "toolargs":
            if rest:
                self.toolargs(rest[0])
            else:
                self.out("Tool name not specified, e.g. toolargs "
                         "BreachDepressions")
        elif cmd == "rasterformats":
            self.rasterformats()
        elif cmd == "pwd":
            self.out(self.cwd)
        elif cmd in ("cwd", "cd"):
            if rest:
                self.cwd = rest[0].rstrip(os.sep) + os.sep
            self.out(self.cwd)
        elif cmd == "benchon":
            self.bench_mode = True
        elif cmd == "benchoff":
            self.bench_mode = False
        elif cmd == "bench":
            self.out(f"Benchmark Mode = {'on' if self.bench_mode else 'off'}")
        elif cmd in ("run", "r"):
            if not rest:
                self.out("Tool name not specified, e.g. run BreachDepressions")
            else:
                args = _split_tool_args(" ".join(rest[1:]))
                self.run(rest[0], args)
        else:
            self.out(f"unrecognized command '{cmd}', type 'help' for "
                     f"details...")
        return True


def _split_tool_args(s: str) -> list[str]:
    """Comma/semicolon-delimited tool args (go-spatial.go:127-135)."""
    s = s.strip().strip('"')
    if not s:
        return []
    for sep in (";", ","):
        if sep in s:
            return [p.strip() for p in s.split(sep)]
    return [s]


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    import argparse
    ap = argparse.ArgumentParser(prog="go_spatial_spark",
                                 add_help=False)
    ap.add_argument("-run", "--run", default="")
    ap.add_argument("-args", "--args", default="")
    ap.add_argument("-cwd", "--cwd", default="")
    ap.add_argument("-listtools", "--listtools", action="store_true")
    ap.add_argument("-toolhelp", "--toolhelp", default="")
    ap.add_argument("-toolargs", "--toolargs", default="")
    ap.add_argument("-help", "--help", action="store_true")
    ap.add_argument("-version", "--version", action="store_true")
    ns = ap.parse_args(argv)

    con = Console()
    if ns.cwd:
        con.cwd = ns.cwd.replace('"', "").rstrip(os.sep) + os.sep
    if ns.listtools:
        con.listtools()
    elif ns.version:
        con.version()
    elif ns.help:
        con.help()
    elif ns.toolhelp:
        con.toolhelp(ns.toolhelp)
    elif ns.toolargs:
        con.toolargs(ns.toolargs)
    elif ns.run:
        con.run(ns.run.replace('"', "").strip(),
                _split_tool_args(ns.args.replace("%s", " ")))
    else:
        print("Welcome to GoSpatial-Spark")
        print("Type 'help' to review available commands and 'exit' to "
              "log out.")
        while True:
            try:
                line = input("Please enter a command: ")
            except EOFError:
                break
            try:
                if not con.dispatch(line):
                    break
            except Exception as e:  # keep the console alive, like the
                print(e)            # reference's error prints
    return 0
