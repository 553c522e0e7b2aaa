"""Spatial aggregations (reference: §2.7, expressions.rs:873-999).

Implemented as GROUPED_AGG pandas UDFs (usable in ``groupBy().agg(...)`` and
whole-frame ``select``), plus a pure-Spark-SQL ``st_total_bounds`` that needs
no Python at all for the aggregation step.

Scale notes (100 TB):
- GROUPED_AGG ships all group values to one task. ``union_all`` /
  ``intersection_all`` are associative+commutative (reference:
  expressions.rs:985-999), so for huge groups use
  :func:`polars_st_spark.operators.grouped.union_all_two_phase`, which does a
  map-side partial union per shuffle partition first (the treeAggregate
  pattern).
- ``difference_all``/``symmetric_difference_all`` are order-dependent left
  folds (reference: expressions.rs:873-886) — use the frame-level variants in
  ``operators.grouped`` that sort within each group by an explicit key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from polars_st_spark.functions.factory import col_or_lit
from polars_st_spark.geo import setops
from polars_st_spark.geo.wkb import from_ewkb, to_ewkb

__all__ = [
    "st_union_all",
    "st_intersection_all",
    "st_difference_all",
    "st_symmetric_difference_all",
    "st_coverage_union_all",
    "st_collect",
    "st_total_bounds",
    "st_polygonize_agg",
    "st_voronoi_polygons_agg",
    "st_delaunay_triangles_agg",
]


def _decode_series(s: pd.Series):
    return [None if b is None else from_ewkb(bytes(b)) for b in s]


def union_series(s: pd.Series, grid_size: float | None = None) -> bytes:
    """EWKB union of one pandas Series of EWKB values — the kernel behind
    ``st_union_all``, exposed so the two-phase map side
    (``operators.grouped.union_all_two_phase``) runs the IDENTICAL code
    path (including the uniform axis-rect slab-union fast lane)."""
    from polars_st_spark.geo.rectregion import RectRegion, region_to_geometry
    from polars_st_spark.geo.arrowwkb import uniform_batch_pa
    from polars_st_spark.geo.wkb import header_info

    if len(s) and not s.isna().any():
        fast = uniform_batch_pa(s)
        if fast is not None and fast[0] == "ring" and fast[2]:
            c = fast[1]
            boxes = zip(
                c[:, :, 0].min(axis=1), c[:, :, 1].min(axis=1),
                c[:, :, 0].max(axis=1), c[:, :, 1].max(axis=1),
            )
            region = RectRegion([tuple(map(float, b)) for b in boxes])
            region = region.union(RectRegion())  # normalize to disjoint
            srid = header_info(bytes(s.iloc[0]))[3]
            return to_ewkb(region_to_geometry(region, srid))
    geoms = _decode_series(s)
    if grid_size is None and geoms and all(g is not None for g in geoms):
        # rectilinear fast path (r10): inputs that are hole-free axis-rect
        # (multi)polygons — the exact shape the two-phase union's partials
        # have (region_to_geometry emits disjoint rect parts) — union
        # through ONE slab normalize instead of the general overlay
        # engine. Bails on the first non-rect part, so non-rect data pays
        # one cheap ring check.
        from polars_st_spark.geo.rectregion import rect_parts

        boxes = []
        for g in geoms:
            parts = rect_parts(g)
            if parts is None:
                boxes = None
                break
            boxes += parts
        if boxes:  # all-empty batches keep the general kernel's
            # GEOMETRYCOLLECTION EMPTY convention
            region = RectRegion(boxes).union(RectRegion())
            return to_ewkb(region_to_geometry(region, geoms[0].srid))
    return to_ewkb(setops.union_all(geoms, grid_size))


def _union_all_udf(grid_size: float | None = None):
    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        return union_series(s, grid_size)

    return agg


def st_union_all(col, grid_size: float | None = None) -> Column:
    """Aggregate union; empty/all-null → GEOMETRYCOLLECTION EMPTY
    (reference: expressions.rs:985-999). Uniform axis-rect groups take a
    vectorized slab-union path with no per-row decode."""
    return _union_all_udf(grid_size)(col_or_lit(col))


def _intersection_all_udf(grid_size: float | None = None):
    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        return to_ewkb(setops.intersection_all(_decode_series(s), grid_size))

    return agg


def st_intersection_all(col, grid_size: float | None = None) -> Column:
    """(reference: expressions.rs:901-914)"""
    return _intersection_all_udf(grid_size)(col_or_lit(col))


def st_difference_all(col, grid_size: float | None = None) -> Column:
    """Order-dependent left fold (reference: expressions.rs:873-886).

    WARNING: Spark shuffles are unordered — group value order is whatever the
    shuffle delivers. For deterministic results use
    :func:`polars_st_spark.operators.grouped.difference_all_ordered` with an
    explicit sort key (SURVEY §7 hard part 4)."""

    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        return to_ewkb(setops.difference_all(_decode_series(s), grid_size))

    return agg(col_or_lit(col))


def st_symmetric_difference_all(col, grid_size: float | None = None) -> Column:
    """Order-dependent left fold (reference: expressions.rs:932-948); same
    ordering caveat as st_difference_all."""

    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        return to_ewkb(setops.symmetric_difference_all(_decode_series(s), grid_size))

    return agg(col_or_lit(col))


def _polygonize_agg_udf():
    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        from polars_st_spark.geo.setops import collect as _collect

        gs = [g for g in _decode_series(s) if g is not None]
        merged = _collect(gs) if gs else None
        if merged is None:
            from polars_st_spark.geo.types import empty_collection

            return to_ewkb(empty_collection())
        import numpy as np

        from polars_st_spark.geo.algos import line_merge as _lm
        from polars_st_spark.geo.types import Geometry, GeometryType

        lm = _lm(merged)
        chains = [lm.coords] if lm.type_id == GeometryType.LineString else [
            g.coords for g in (lm.geoms or [])
        ]
        polys = [
            Geometry(GeometryType.Polygon, srid=merged.srid, rings=[c.copy()])
            for c in chains
            if c is not None and len(c) >= 4 and np.allclose(c[0], c[-1])
        ]
        return to_ewkb(Geometry(GeometryType.GeometryCollection, srid=merged.srid, geoms=polys))

    return agg


def st_polygonize_agg(col) -> Column:
    """Polygonize the group's combined linework (reference: functions.rs:1221-1226)."""
    return _polygonize_agg_udf()(col_or_lit(col))


def st_voronoi_polygons_agg(col, tolerance: float = 0.0) -> Column:
    """Voronoi diagram of all the group's vertices (reference: functions.rs:1791-1802)."""

    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        from polars_st_spark.geo.setops import collect as _collect
        from polars_st_spark.geo.triangulate import voronoi_polygons
        from polars_st_spark.geo.types import empty_collection

        gs = [g for g in _decode_series(s) if g is not None]
        if not gs:
            return to_ewkb(empty_collection())
        return to_ewkb(voronoi_polygons(_collect(gs), tolerance))

    return agg(col_or_lit(col))


def st_delaunay_triangles_agg(col, tolerance: float = 0.0, only_edges: bool = False) -> Column:
    """Triangulation of all the group's vertices (reference: functions.rs:1364-1373)."""

    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        from polars_st_spark.geo.setops import collect as _collect
        from polars_st_spark.geo.triangulate import delaunay_triangles
        from polars_st_spark.geo.types import empty_collection

        gs = [g for g in _decode_series(s) if g is not None]
        if not gs:
            return to_ewkb(empty_collection())
        return to_ewkb(delaunay_triangles(_collect(gs), tolerance, only_edges))

    return agg(col_or_lit(col))


def _coverage_union_all_udf():
    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        return to_ewkb(setops.union_all(_decode_series(s)))

    return agg


def st_coverage_union_all(col) -> Column:
    """Union of a non-overlapping coverage (reference: functions.rs:1213-1219)."""
    return _coverage_union_all_udf()(col_or_lit(col))


def _collect_udf(into: int | None = None):
    @pandas_udf("binary")
    def agg(s: pd.Series) -> bytes:
        gs = [g for g in _decode_series(s) if g is not None]
        return to_ewkb(setops.collect(gs, into=into))

    return agg


def st_collect(col, into: int | None = None) -> Column:
    """Gather group geometries into Multi*/GeometryCollection with supertype
    inference (reference: functions.rs:1238-1276)."""
    return _collect_udf(into)(col_or_lit(col))


def st_total_bounds(bounds_col) -> list[Column]:
    """Aggregate [min xmin, min ymin, max xmax, max ymax] over an
    ``st_bounds`` array column — pure Spark SQL, no UDF for the agg step
    (reference: expressions.rs:512-527; SURVEY §2.7 total_bounds).

    Usage::

        df.select(st_bounds("geom").alias("b")) \\
          .agg(*st_total_bounds("b"))  # -> xmin, ymin, xmax, ymax columns
    """
    b = col_or_lit(bounds_col)

    def skip_nan(c: Column) -> Column:
        return F.when(F.isnan(c), F.lit(None)).otherwise(c)

    return [
        F.min(skip_nan(b[0])).alias("xmin"),
        F.min(skip_nan(b[1])).alias("ymin"),
        F.max(skip_nan(b[2])).alias("xmax"),
        F.max(skip_nan(b[3])).alias("ymax"),
    ]
