"""Pair-predicate join: evaluate a spatial predicate over an explicit pair
relation (cross-with-small-side, equi-, or theta-join) with a Catalyst-visible
bounding-box prune, so the Arrow-batched exact predicate only ever sees pairs
whose boxes could match.

This is the column-vs-column complement of ``st_sjoin`` (reference sjoin:
polars-st ``DataFrame.st.join``): sjoin builds a spatial index when there is
no join condition at all; ``filter_pairs`` is for when the pair relation is
already decided (a business key, a cross with a tiny dimension) and only the
predicate evaluation needs to scale.

Why it scales: a pandas-UDF predicate is opaque to Catalyst, so
``pairs.where(st_intersects(a, b))`` ships EVERY pair's two EWKB blobs
through Arrow to Python. Here the box prune is plain double comparisons on
native (or once-derived) bbox columns — whole-stage codegen, evaluated
join-side — and Spark's python-UDF-in-filter extraction keeps the exact
predicate physically AFTER that filter, so Arrow transfer shrinks by the
prune selectivity (5x on the B2 bench shape). At 100 TB the prune also
avoids materializing the non-candidate pairs into the Python stage at all;
with ``lbox``/``rbox`` pointing at ingest-materialized native columns
(``plans.materialize_bbox``) the prune stage runs with ZERO Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_st_spark.plans import plan_stats

__all__ = ["filter_pairs"]

_PREDICATES = {
    "intersects", "disjoint", "within", "contains", "contains_properly",
    "covers", "covered_by", "crosses", "touches", "overlaps", "equals",
    "dwithin",
}


def _overlap(lb, rb) -> Column:
    return (lb[0] <= rb[2]) & (rb[0] <= lb[2]) & (lb[1] <= rb[3]) & (rb[1] <= lb[3])


def _within_box(inner, outer) -> Column:
    return (
        (inner[0] >= outer[0]) & (inner[2] <= outer[2])
        & (inner[1] >= outer[1]) & (inner[3] <= outer[3])
    )


def _prune(predicate: str, lb, rb, distance: float | None) -> Column:
    """Necessary bbox condition for the predicate to hold (never prunes a
    true pair; closed-interval tests keep boundary touches)."""
    if predicate in ("intersects", "crosses", "touches", "overlaps"):
        return _overlap(lb, rb)
    if predicate in ("contains", "contains_properly", "covers"):
        return _within_box(rb, lb)
    if predicate in ("within", "covered_by"):
        return _within_box(lb, rb)
    if predicate == "equals":
        return (lb[0] == rb[0]) & (lb[1] == rb[1]) & (lb[2] == rb[2]) & (lb[3] == rb[3])
    if predicate == "dwithin":
        dx = F.greatest(lb[0] - rb[2], rb[0] - lb[2], F.lit(0.0))
        dy = F.greatest(lb[1] - rb[3], rb[1] - lb[3], F.lit(0.0))
        return (dx * dx + dy * dy) <= F.lit(float(distance) * float(distance))
    raise AssertionError(predicate)


def _with_box(df: DataFrame, geom: str, box, tag: str) -> DataFrame:
    """Attach ``_{tag}box`` array<double>[4]. ``box`` = names of existing
    native xmin/ymin/xmax/ymax columns (zero Python); None derives it from
    the geometry with ONE ``st_bounds`` evaluation (single Arrow pass per
    side — n + m rows instead of n*m pairs). A null geometry never passes
    the exact predicate, so its rows are dropped first; the derived box is
    made non-nullable (see :func:`filter_pairs`)."""
    if box is not None:
        return df.withColumn(f"_{tag}box", F.array(*[F.col(c).cast("double") for c in box]))
    from polars_st_spark.functions.scalar import st_bounds

    nan_box = F.array(*[F.lit(float("nan"))] * 4)
    return (df.where(F.col(geom).isNotNull())
            .withColumn(f"_{tag}box", F.coalesce(st_bounds(geom), nan_box)))


def filter_pairs(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    on: Column | None = None,
    lcol: str = "geometry",
    rcol: str = "geometry",
    lbox: tuple[str, str, str, str] | None = None,
    rbox: tuple[str, str, str, str] | None = None,
    distance: float | None = None,
    broadcast: str | bool = "auto",
    exact: str = "udf",
) -> DataFrame:
    """Pairs (all left columns + all right columns) where ``predicate(lcol,
    rcol)`` holds. ``on=None`` is a cross join — only sensible when one side
    is small; ``broadcast="auto"`` broadcasts the right side when Catalyst
    stats say it fits (<=64MB). Right columns that clash with left names get
    a ``_right`` suffix. ``distance`` is required for ``dwithin`` (strict
    ``<``, matching ``st_dwithin``).

    Derived boxes (``lbox``/``rbox`` None) cost one bounds evaluation per
    side. The box join condition rejects nulls, so on a nullable box
    column Catalyst infers ``isnotnull(_lbox)``/``isnotnull(_rbox)`` and
    pushes it below the projection that computes the box, cloning the
    bounds UDF into that filter as a second Python pass per side. The
    derived box is ``coalesce(st_bounds(g), NaN box)`` over the non-null
    geometries: a non-nullable column, so no such filter is inferred. The
    UDF stays deterministic, so a later filter on a left or right column
    is still pushed below the bounds pass, down to the scan.

    ``exact`` picks the physical lane for the refinement that runs on the
    bbox-prune survivors: ``"udf"`` (default) evaluates the pandas-UDF
    column predicate inside the filter; ``"arrow"`` (supports all five of
    intersects/within/contains/covers/covered_by) routes survivors through
    the zero-copy ``operators.arrowpath.predicate_arrow`` kernel, which
    skips the one-bytes-object-per-row pandas materialization.

    Operand envelope for the arrow lane's closed-form path: only rows where
    BOTH operands are points or axis-aligned rectangles (verified per row by
    ``arrowpath._rect_box``) take the O(1) interval test; every other row —
    general polygons, lines, multi-parts — falls back to the same per-row
    DE-9IM kernels the UDF lane uses, so for non-bbox-shaped data the arrow
    lane has no closed-form advantage. Measured verdict (r10, 10x/100x
    grains, BENCH_SCALE_NOTES_r10.md ``b2_lane_comparison``): Spark's fused
    ArrowEvalPython refinement (``exact="udf"``) beats mapInArrow at every
    grain for the b2 shape (9.1s vs 25.3-30.4s at 100x) because mapInArrow
    round-trips all columns JVM->Python->JVM; ``exact="arrow"`` is kept for
    narrow keys+verdict consumers (see ``predicate_arrow(keep=...)``), not
    as the default. Identical results either way (tests/test_arrowpath.py
    parity + ``arrow_predicate`` driver gate)."""
    if predicate not in _PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    if predicate == "dwithin" and distance is None:
        raise ValueError("dwithin requires distance=")
    from polars_st_spark.functions import predicate as P

    if predicate == "disjoint":
        # Pruning cannot help (non-overlap PROVES disjoint but overlapping
        # boxes still need the exact check — nearly all pairs at typical
        # selectivity) and a two-branch union would re-evaluate the join.
        pairs = _suffixed(left, right, on, broadcast)
        return pairs.where(P.st_disjoint(lcol, _rname(left, right, rcol)))

    lb = _with_box(left, lcol, lbox, "l")
    rb = _with_box(right, rcol, rbox, "r")
    pairs = _suffixed(lb, rb, on, broadcast)
    rgeom = _rname(lb, rb, rcol)

    prune = _prune(predicate, F.col("_lbox"), F.col("_rbox"), distance)
    if exact == "arrow":
        if predicate not in ("intersects", "within", "contains",
                             "covers", "covered_by"):
            raise ValueError(
                "exact='arrow' supports intersects/within/contains/"
                f"covers/covered_by, got {predicate!r}")
        from polars_st_spark.operators.arrowpath import predicate_arrow

        survivors = pairs.where(prune).drop("_lbox", "_rbox")
        out = predicate_arrow(survivors, lcol, rgeom, predicate=predicate,
                              out_col="__pred")
        return out.where(F.col("__pred")).drop("__pred")
    if exact != "udf":
        raise ValueError(f"exact must be 'udf' or 'arrow', got {exact!r}")
    if predicate == "dwithin":
        refine = P.st_dwithin(lcol, rgeom, float(distance))
    else:
        refine = getattr(P, f"st_{predicate}")(lcol, rgeom)
    # One AND-filter: Catalyst's python-UDF extraction evaluates the bbox
    # conjunct join-side (codegen) and places ArrowEvalPython after it, so
    # only prune survivors reach Python. With one bounds pass per side the
    # plan has 3 ArrowEvalPython nodes: 2 bounds + 1 refine (asserted in
    # tests/test_plans.py).
    return pairs.where(prune & refine).drop("_lbox", "_rbox")


def _rname(l: DataFrame, r: DataFrame, rcol: str) -> str:
    return rcol + "_right" if rcol in l.columns else rcol


def _suffixed(l: DataFrame, r: DataFrame, on, broadcast) -> DataFrame:
    clashes = [c for c in r.columns if c in l.columns]
    for c in clashes:
        r = r.withColumnRenamed(c, c + "_right")
    return _cross_or_join(l, r, on, broadcast)


def _cross_or_join(l: DataFrame, r: DataFrame, on, broadcast) -> DataFrame:
    if broadcast == "auto":
        size, _ = plan_stats(r)
        broadcast = size is not None and size <= 64 * 1024 * 1024
    if broadcast:
        r = F.broadcast(r)
    return l.crossJoin(r) if on is None else l.join(r, on)
