"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are what we would
submit cluster-side via spark-submit --py-files (AQE on, Arrow on,
shuffle partitions sized to parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem(phys_bytes: int | None = None) -> str:
    """Driver heap for this host: half of physical memory, capped at
    48g. Falls back to 4g where the page counts are not available."""
    if phys_bytes is None:
        try:
            phys_bytes = (os.sysconf("SC_PAGE_SIZE")
                          * os.sysconf("SC_PHYS_PAGES"))
        except (AttributeError, ValueError, OSError):
            return "4g"
    return f"{min(phys_bytes // 2 >> 20, 48 << 10)}m"


# python-worker daemon that forked workers inherit (see daemon.py)
DAEMON_MODULE = "go_spatial_spark.daemon"


def get_spark(app: str = "go_spatial_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to 2x parallelism (good local-mode default; on a
    real cluster AQE coalesces from a higher initial number anyway).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    driver_mem = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                  or default_driver_mem())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4.1 local mode: the python-worker REUSE pool serializes
        # worker handoff at high thread counts (measured 10-20x task
        # stalls at local[32] on Arrow-UDF stages); fresh forks are
        # cheap and scale linearly
        .config("spark.python.worker.reuse", "false")
        # fresh forks inherit a daemon that has ALREADY imported
        # numpy/pandas/pyarrow (copy-on-write) — removes the ~0.5-1s
        # per-worker import cost that made reuse=false expensive
        # (measured: 1024^2 stencil 2.1s -> 1.2s, Arrow cosine stage
        # 4s -> 1.3s at local[32], stable across trials)
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    # $SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v pairs, applied
    # LAST so a probe can override any named config above — the whole
    # point of the hook is benchmark A/B experiments without code
    # edits (applied first, it would silently no-op any probe of a
    # config this function also sets).
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            # log each applied override: because the hook is applied
            # LAST it silently wins over every hardened named config
            # above, so a probe config leaking from a bench/A-B
            # environment into a production run must leave a trace
            import sys as _sys
            print(f"[session] SPARK_GRAFT_EXTRA_CONF override: "
                  f"{k.strip()}={v.strip()}", file=_sys.stderr)
            builder = builder.config(k.strip(), v.strip())
    # single-threaded math libs inside the (many) python workers:
    # 32 workers x N BLAS/Arrow threads oversubscribes the host
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parse_bytes(v: str) -> int:
    """'134217728b' / '128m' / '1g' -> bytes."""
    v = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if v.endswith(suf):
            v = v[: -len(suf)]
            mult = m
            break
    return int(float(v)) * mult


def _estimated_scan_partitions(spark, files) -> int | None:
    """Split count the file scan will produce, from driver-side file
    stats alone (ceil(size/maxPartitionBytes) per file). None when the
    files aren't cheaply stat-able (non-local storage)."""
    import math
    try:
        mpb = _parse_bytes(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"))
    except Exception:
        mpb = 128 << 20
    total = 0
    for f in files:
        p = f[len("file:"):] if f.startswith("file:") else (
            f if f.startswith("/") else None)
        if p is None or not os.path.exists(p):
            return None
        total += max(1, math.ceil(os.path.getsize(p) / mpb))
    return total


# Logical-plan nodes that (re)establish a partitioning the file-stat
# estimate can't see. If any appears, the frame's real partition count
# may exceed the scan estimate — e.g. an upstream .repartition(4*cpus)
# over a small file would be "estimated" at 1 split and coalesced back
# down with a fresh full shuffle, the opposite of the no-op contract.
_PARTITIONING_NODES = (
    "Repartition", "RebalancePartitions", "Join", "Aggregate", "Sort",
    "Window", "Deduplicate", "InMemoryRelation", "Union",
)


def ensure_parallelism(df, min_parts: int | None = None):
    """Spread a DataFrame across the cluster if its scan produced too
    few partitions (small local files read as one split; at production
    scale the scan itself yields thousands). Cheap no-op when already
    parallel — this guards explode-heavy fan-out operators whose
    map-side work would otherwise serialize.

    The partition count comes from driver-side file stats
    (inputFiles + size/maxPartitionBytes) ONLY when the analyzed plan
    is a bare scan (Project/Filter/Generate over a relation) — for any
    plan containing a partitioning-establishing node (repartition,
    join, aggregate, cache, ...) the estimate is blind to the plan's
    actual partitioning, so we fall back to df.rdd.getNumPartitions().
    """
    spark = df.sparkSession
    want = min_parts or spark.sparkContext.defaultParallelism
    est = None
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        bare_scan = not any(n in plan for n in _PARTITIONING_NODES)
    except Exception:
        bare_scan = False
    if bare_scan:
        try:
            files = df.inputFiles()
        except Exception:
            files = []
        est = _estimated_scan_partitions(spark, files) if files else None
    parts = est if est is not None else df.rdd.getNumPartitions()
    if parts < want:
        return df.repartition(want)
    return df
