"""Parquet round-trip for geometry DataFrames.

EWKB-in-binary needs nothing special — ``spark.read.parquet`` just works
(the reference makes the same point for its Binary columns, README.md:36).
What :func:`write_geoparquet` adds is the geometry's bbox as four native
double columns, ``plans.BBOX_COLS`` (``bbox_xmin``, ``bbox_ymin``,
``bbox_xmax``, ``bbox_ymax``), written next to the geometry by
``plans.materialize_bbox``. No ``geo`` footer key is written. A bbox read
is then plain comparisons on those columns, which reach the parquet scan's
``PushedFilters`` and prune row groups by their min/max stats; the read
drops the columns again, so a reader sees the columns it wrote. A file
without them (a foreign parquet file) gets its bbox derived by one
``st_bounds`` pass, with no pushdown.

``partition_grid=g`` also partitions the files by ``_cell_x``/``_cell_y``
= ``floor(bbox_xmin / g)``/``floor(bbox_ymin / g)``, the cell of the bbox's
min corner. A read with the same ``g`` prunes every cell directory whose
min corner lies above or right of the window; that is all the cell key
can say, since a geometry may extend any distance from its min corner.
The pushed ``bbox_xmax``/``bbox_ymax`` comparisons prune the rest. The
result never depends on the grid: it is every row whose bbox overlaps the
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_st_spark.plans import BBOX_COLS, materialize_bbox, push_window_filter

__all__ = ["read_geoparquet", "write_geoparquet"]


def write_geoparquet(
    df: DataFrame,
    path: str,
    geometry_name: str = "geometry",
    partition_grid: float | None = None,
    mode: str = "overwrite",
    zorder: bool = False,
    extent: tuple[float, float, float, float] | None = None,
    zorder_bits: int = 16,
) -> None:
    """Write parquet with the ``BBOX_COLS`` columns; optionally partition by
    a bbox grid cell so spatial filters prune whole files
    (`_cell_x`/`_cell_y` partition columns), and/or Z-order-cluster rows
    (``zorder=True``) so the row groups' bbox min/max stats are spatially
    tight (prunes via ordinary parquet stats, no partition dirs).

    At 100 TB the partition_grid is the difference between scanning every
    file and scanning only the files whose cells intersect a query window.
    """
    if zorder:
        from polars_st_spark.functions.zorder import zorder_repartition

        df = zorder_repartition(
            df, geometry_name=geometry_name, extent=extent, bits=zorder_bits
        )
    df = materialize_bbox(df, geometry_name)
    if partition_grid:
        df = (
            df.withColumn("_cell_x", F.floor(F.col(BBOX_COLS[0]) / partition_grid).cast("long"))
            .withColumn("_cell_y", F.floor(F.col(BBOX_COLS[1]) / partition_grid).cast("long"))
        )
        df.write.mode(mode).partitionBy("_cell_x", "_cell_y").parquet(path)
    else:
        df.write.mode(mode).parquet(path)


def read_geoparquet(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float] | None = None,
    geometry_name: str = "geometry",
    partition_grid: float | None = None,
) -> DataFrame:
    """Read parquet; with ``bbox`` the rows whose bbox overlaps the window.
    With ``partition_grid`` too, the cell partition columns are filtered
    first (partition pruning); the bbox comparisons are pushed into the
    scan. The ``BBOX_COLS`` columns are not part of the result."""
    df = spark.read.parquet(path)
    if bbox is not None:
        _, _, x1, y1 = bbox
        if partition_grid and "_cell_x" in df.columns:
            df = df.where(
                (F.col("_cell_x") <= int(x1 // partition_grid))
                & (F.col("_cell_y") <= int(y1 // partition_grid))
            )
        df = push_window_filter(df, bbox, geometry_name, exact=False)
    return df.drop(*BBOX_COLS)
