"""Bucketed tile storage: the durable form of stencil co-location.

`run_stencil(copartitioned=True)` needs its input hash-partitioned on
(ty, tx). Within a job that comes from `repartition("ty","tx")`; this
module makes the property *durable*: tiles are written as a Spark
bucketed + sorted table (`bucketBy(n, "ty","tx")`), so every later scan
reports `HashPartitioning(ty, tx, n)` to Catalyst and a stencil —
in any later job — runs with ZERO exchange on the tile payloads; only
the O(perimeter*halo) strips shuffle, and Spark's bucket hash is the
same Murmur3 as its shuffle hash, so the strips exchange co-partitions
exactly onto the stored buckets.

At 100 TB this is the difference between re-shuffling the raster once
per stencil in a pipeline (hillshade → slope → DEV …) and shuffling
only perimeter strips per stage: the tile table is written once,
bucketed, and every downstream neighborhood op is exchange-free on the
big side.

The reference has no analog — it re-reads the whole raster into RAM per
tool run (whiteboxRaster.go:357-360); bucketed tile tables are the
Spark-native replacement for that working-set assumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from go_spatial_spark.grid import RasterMeta

_META_KEYS = ("rows", "cols", "north", "south", "east", "west",
              "nodata", "epsg")


def write_tiles_bucketed(tiles: DataFrame, meta: RasterMeta, name: str,
                         buckets: int | None = None,
                         path: str | None = None) -> None:
    """Persist tile form as a bucketed+sorted table named `name`.

    `buckets` defaults to the session's shuffle partitions (matching
    what a `repartition("ty","tx")` would produce). Raster header
    fields (RasterConfig, raster.go:68-87) ride along as table
    properties via the comment channel — recovered by
    `read_tiles_bucketed`.
    """
    spark = tiles.sparkSession
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    writer = (tiles.write.mode("overwrite")
              .bucketBy(buckets, "ty", "tx").sortBy("ty", "tx"))
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)
    props = [f"'gss.{k}'='{getattr(meta, k)!r}'" for k in _META_KEYS]
    from go_spatial_spark.grid import edges_halo_max
    hm = edges_halo_max(tiles)
    if hm:
        # persist the sidecar's halo_max so a later scan re-attaches
        # the column metadata run_stencil keys the JVM-strip path on
        props.append(f"'gss.edges_halo_max'='{hm}'")
    spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ({', '.join(props)})")


def read_tiles_bucketed(spark: SparkSession, name: str
                        ) -> tuple[DataFrame, RasterMeta]:
    """Scan a bucketed tile table; returns (tiles, meta).

    The returned DataFrame satisfies ClusteredDistribution(ty, tx)
    straight off the scan — pass it to
    `run_stencil(..., copartitioned=True)`.
    """
    rows = spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    props = {r["key"]: r["value"] for r in rows}
    kwargs = {}
    for k in _META_KEYS:
        v = props.get(f"gss.{k}")
        if v is not None:
            kwargs[k] = (int if k in ("rows", "cols", "epsg")
                         else float)(v.strip("'"))
    tiles = spark.table(name)
    hm = props.get("gss.edges_halo_max")
    if hm is not None and "edges" in tiles.columns:
        tiles = tiles.withMetadata(
            "edges", {"halo_max": int(hm.strip("'"))})
    return tiles, RasterMeta(**kwargs)
