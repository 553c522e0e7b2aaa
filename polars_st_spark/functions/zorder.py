"""Z-order (Morton) spatial clustering keys — pure JVM-side bit arithmetic.

Interleaving the quantized x/y of each geometry's bbox center gives a 1-D
sort key under which spatially-near rows are file-near. Writing parquet
sorted by this key makes every file's min/max column statistics (and the
geoparquet bbox convention) tight, so a bbox query prunes most files — at
100 TB this is the difference between scanning the world and scanning the
query window. The same key feeds ``repartitionByRange`` for spatially
co-located partitions ahead of grid joins.

Everything here is built-in Spark expressions (shift/and/or) — no UDF, fully
inside whole-stage codegen; only the bbox-center extraction touches the
geometry column. Morton is chosen over Hilbert: one-pass branch-free bit
spreading (Hilbert's rotations need per-level state), and locality within
2× of Hilbert for range scans — the standard engine tradeoff (cf. Delta
Lake/Iceberg Z-ordering, both public designs).

Reference parity: the reference has no clustering writer; this extends the
engine for the large-scale pipeline case (SURVEY §2.1 notes the geoparquet
writer extra).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key_nd", "zorder_key_xy", "st_zorder_key", "zorder_repartition"]

_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(v: Column) -> Column:
    """Spread a 16-bit value so its bits occupy even positions (magic-mask
    dilation, public bit-twiddling identity)."""
    for shift, mask in _SPREAD_STEPS:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def _quantize(v: Column, lo: float, hi: float, n: int) -> Column:
    q = F.floor((v - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(n))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), q)).cast("long")


def zorder_key_xy(
    x: Column | str,
    y: Column | str,
    extent: tuple[float, float, float, float],
    bits: int = 16,
) -> Column:
    """Morton key (long) interleaving ``bits``-bit quantizations of x and y
    over ``extent`` = (xmin, ymin, xmax, ymax). Values outside the extent
    clamp to the border cell. ``bits`` ≤ 16."""
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    x0, y0, x1, y1 = extent
    n = 1 << bits
    qx = _quantize(x, x0, x1, n)
    qy = _quantize(y, y0, y1, n)
    return _spread16(qx).bitwiseOR(F.shiftleft(_spread16(qy), 1))


def st_zorder_key(
    geom: Column | str,
    extent: tuple[float, float, float, float],
    bits: int = 16,
) -> Column:
    """Morton key of a geometry's bbox center (points: the point itself)."""
    from polars_st_spark.functions.factory import geom_arg
    from polars_st_spark.functions.scalar import st_bounds

    b = st_bounds(geom_arg(geom))
    cx = (b[0] + b[2]) / 2
    cy = (b[1] + b[3]) / 2
    return zorder_key_xy(cx, cy, extent, bits)


def zorder_repartition(
    df: DataFrame,
    geometry_name: str = "geometry",
    extent: tuple[float, float, float, float] | None = None,
    bits: int = 16,
    num_partitions: int | None = None,
    key_name: str | None = None,
) -> DataFrame:
    """Range-partition + sort ``df`` along the Z-order curve of its geometry.

    ``extent`` defaults to the dataset's total bounds (one extra aggregation
    job — pass it explicitly in pipelines that already know it). The key
    column is dropped unless ``key_name`` is given. Written with its bbox
    columns (``write_geoparquet(zorder=True)``), each file's row groups get
    tight bbox min/max stats; ``read_geoparquet(bbox=...)`` then skips
    non-overlapping row groups via ordinary parquet stats pruning — no
    spatial index structure needed.
    """
    from polars_st_spark.functions.scalar import st_bounds

    return _zorder_by_box(df, st_bounds(geometry_name), extent, bits,
                          num_partitions, key_name)


def _zorder_by_box(df, box, extent, bits, num_partitions=None, key_name=None):
    """:func:`zorder_repartition` keyed on the center of ``box``, each
    row's ``[xmin, ymin, xmax, ymax]`` array — ``write_geoparquet`` passes
    the ``plans.BBOX_COLS`` it just materialised, so the key costs no
    bounds pass of its own."""
    if extent is None:
        row = df.select(box.alias("_b")).select(
            F.min(F.col("_b")[0]).alias("x0"),
            F.min(F.col("_b")[1]).alias("y0"),
            F.max(F.col("_b")[2]).alias("x1"),
            F.max(F.col("_b")[3]).alias("y1"),
        ).first()
        extent = (row["x0"], row["y0"], row["x1"], row["y1"])
        if extent[0] is None:
            return df
        if extent[2] <= extent[0] or extent[3] <= extent[1]:
            # degenerate extent (single location): nothing to cluster by
            return df
    key = zorder_key_xy((box[0] + box[2]) / 2, (box[1] + box[3]) / 2, extent, bits)
    tmp = key_name or "_zkey"
    out = df.withColumn(tmp, key)
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    out = out.repartitionByRange(parts, F.col(tmp)).sortWithinPartitions(tmp)
    return out if key_name else out.drop(tmp)


def zorder_key_nd(
    cols: list,
    extents: list[tuple[float, float]],
    bits: int | None = None,
) -> Column:
    """Morton key over ``d`` NUMERIC columns — multi-dimensional clustering
    for composite keys (e.g. (x, y, timestamp) layout, or any column set a
    table is commonly range-filtered on; cf. Delta/Iceberg multi-column
    Z-ordering, public designs). ``extents[i] = (lo, hi)`` per column;
    ``bits`` defaults to the largest per-dim width fitting 63 bits total
    (e.g. 31 for d=2, 21 for d=3, 15 for d=4).

    Built from single-reference bit terms (linear expression-tree growth —
    the geohash lesson: self-referencing magic-mask dilation doubles the
    tree per step), all inside whole-stage codegen."""
    d = len(cols)
    if d < 1 or d != len(extents):
        raise ValueError("cols and extents must be same nonzero length")
    if bits is None:
        bits = 63 // d
    if not 1 <= bits <= 63 // d:
        raise ValueError(f"bits must be in [1, {63 // d}] for {d} dims")
    out = None
    for j, (c, (lo, hi)) in enumerate(zip(cols, extents)):
        if hi <= lo:
            raise ValueError(f"extent {j}: hi must exceed lo")
        c = F.col(c) if isinstance(c, str) else c
        q = _quantize(c.cast("double"), lo, hi, 1 << bits)
        for i in range(bits):
            bit = F.shiftrightunsigned(q, i).bitwiseAND(F.lit(1)) if i else q.bitwiseAND(F.lit(1))
            pos = i * d + j
            term = F.shiftleft(bit, pos) if pos else bit
            out = term if out is None else out.bitwiseOR(term)
    return out
