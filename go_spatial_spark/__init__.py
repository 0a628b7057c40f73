"""go_spatial_spark — a PySpark-native spatial-join + tiling analytics engine.

A from-scratch, Spark-first re-expression of the query/data-processing
capabilities of the GoSpatial reference (jblindsay/go-spatial): a dense
raster grid model re-cast as tile-partitioned DataFrames, focal/window
operators as halo-exchange `mapInPandas` kernels, hydrology as tiled
drivers (D8 and FD8 accumulation, fill and breach as two-pass
perimeter-graph solves), raster/LiDAR readers and writers, plus the
point-in-polygon and kNN spatial joins behind the geocoded-pages
pipeline (H3-style cell indexing).

Design rules (see SURVEY.md):
- DataFrame/SQL first; Catalyst does pushdown/pruning/broadcast.
- Python never touches rows one at a time: Arrow-batched kernels only.
- Every operator that is SQL-expressible ships with a DuckDB oracle.
"""

from go_spatial_spark.session import get_spark
from go_spatial_spark.grid import RasterMeta, synthetic_dem, long_to_tiles, tiles_to_long

__version__ = "0.1.0"
