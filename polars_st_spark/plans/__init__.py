"""Plan-level helpers: pushdown-friendly bbox materialization, explain
utilities and Catalyst's plan statistics.

Pandas UDFs are opaque to Catalyst (SURVEY §4): a filter written as
``st_intersects(geom, window)`` cannot reach the Parquet scan. The mitigation
is to keep the bbox as four *native* double columns — then a window filter is
plain comparisons that Catalyst pushes into the scan (min/max row-group
pruning), and the exact spatial predicate only runs on the survivors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["materialize_bbox", "bbox_filter", "push_window_filter", "explain_str",
           "plan_stats", "bounded_fetch", "write_bucketed"]

BBOX_COLS = ("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax")


def materialize_bbox(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    """Add native bbox columns next to the geometry. Do this once at ingest
    (and persist) so every later spatial filter is pushdown-eligible."""
    from polars_st_spark.functions.scalar import st_bounds

    b = st_bounds(geom_col)
    df = df.withColumn("_b", b)
    for i, name in enumerate(BBOX_COLS):
        df = df.withColumn(name, F.col("_b")[i])
    return df.drop("_b")


def bbox_filter(x0: float, y0: float, x1: float, y1: float) -> Column:
    """Native-column bbox-overlap predicate over materialized bbox columns —
    pure comparisons, fully Catalyst-visible (pushdown + pruning)."""
    return (
        (F.col(BBOX_COLS[0]) <= x1)
        & (F.col(BBOX_COLS[2]) >= x0)
        & (F.col(BBOX_COLS[1]) <= y1)
        & (F.col(BBOX_COLS[3]) >= y0)
    )


def push_window_filter(
    df: DataFrame,
    window: tuple[float, float, float, float],
    geom_col: str = "geometry",
    exact: bool = True,
) -> DataFrame:
    """bbox prefilter (pushdown-eligible) + optional exact predicate on the
    survivors. If bbox columns are absent they are derived on the fly (no
    pushdown — materialize at ingest for scans to prune)."""
    x0, y0, x1, y1 = window
    if BBOX_COLS[0] not in df.columns:
        df = materialize_bbox(df, geom_col)
    out = df.where(bbox_filter(x0, y0, x1, y1))
    if exact:
        from polars_st_spark.functions.predicate import st_intersects

        wkt = f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
        out = out.where(st_intersects(geom_col, wkt))
    return out


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The formatted plan as a string (for assertions on pushdown/codegen)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)  # type: ignore[attr-defined]


def plan_stats(df: DataFrame) -> tuple[int | None, int | None]:
    """``(size_bytes, row_count)`` of ``df`` as Catalyst's optimizer
    estimates them — read off the optimized logical plan, so no Spark job
    runs. ``row_count`` is None where Catalyst does not know it (after a
    filter, a Python UDF projection or an aggregate; an RDD-backed frame);
    it is exact for cached, local and ``range`` inputs, renames of them and
    limits over them. Both are None when there is no JVM plan to read
    (e.g. a Spark Connect DataFrame)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rows = stats.rowCount()
        return (int(stats.sizeInBytes()),
                int(rows.get()) if rows.isDefined() else None)
    except Exception:
        return None, None


def bounded_fetch(df: DataFrame, max_rows: int) -> DataFrame:
    """The frame to collect when at most ``max_rows`` rows of ``df`` may
    reach the driver: ``df`` itself when Catalyst's row count proves it fits
    (one job), otherwise ``df.limit(max_rows + 1)`` (a limit collect scans
    partitions in growing rounds, often several jobs). Catalyst's count can
    be an estimate (a sample's), so the caller checks the length of what it
    fetched. The count is read off the limited frame, so collecting that
    frame reuses the plan Catalyst already optimized."""
    bounded = df.limit(max_rows + 1)
    _, rows = plan_stats(bounded)
    return df if rows is not None and rows <= max_rows else bounded


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist ``df`` as a BUCKETED managed table: rows are hash-partitioned
    into ``n_buckets`` files per partition by ``bucket_cols`` at write time,
    so every later equi-join or aggregation on those keys between bucketed
    tables (same keys, same bucket count) runs WITHOUT a shuffle — the
    classic co-location investment for fact tables that are joined
    repeatedly at 100 TB (pay one shuffle at ingest, never again).

    Spark only honors bucket metadata through the catalog, hence
    ``saveAsTable`` (a path-based ``save`` silently drops bucketing).
    Read back with ``spark.table(table)``; tests/test_plans.py asserts the
    bucketed self-join plan has no Exchange."""
    w = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
