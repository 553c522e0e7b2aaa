"""Pair-predicate join: evaluate a spatial predicate over an explicit pair
relation (cross-with-small-side, equi-, or theta-join), with a
Catalyst-visible bounding-box prune where it pays, so the Arrow-batched
exact predicate only sees pairs whose boxes could match.

This is the column-vs-column complement of ``st_sjoin`` (reference sjoin:
polars-st ``DataFrame.st.join``): sjoin builds a spatial index when there is
no join condition at all; ``filter_pairs`` is for when the pair relation is
already decided (a business key, a cross with a tiny dimension) and only the
predicate evaluation needs to scale.

Two plans. ``"prune"``: a Python predicate is opaque to Catalyst, so
``pairs.where(st_intersects(a, b))`` ships EVERY pair's two EWKB blobs
through Arrow to Python. Here the box prune is plain double comparisons on
native (or once-derived) bbox columns — whole-stage codegen, evaluated
join-side — and Spark's python-UDF-in-filter extraction keeps the exact
predicate physically AFTER that filter, so Arrow transfer shrinks by the
prune selectivity. At 100 TB the prune also avoids materializing the
non-candidate pairs into the Python stage at all; with ``lbox``/``rbox``
pointing at ingest-materialized native columns (``plans.materialize_bbox``)
the prune stage runs with ZERO Python. ``"cross"``: a broadcast cross join
and the predicate alone, one Python node, for pair sets small enough that
shipping every pair costs less than the two bounds passes (the predicate
UDFs run their own box lanes).
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

    Two plans; the result carries the choice as ``_chosen_strategy``:

    - ``"cross"``: the non-null pairs and the exact predicate, one
      ArrowEvalPython node. Every pair's two geometries cross to Python.
      Taken for a cross join (``on=None``) of derived boxes with
      ``exact="udf"`` when Catalyst's statistics
      (:func:`~polars_st_spark.plans.plan_stats`, no job) size both sides,
      the right side fits the broadcast guard (64 MB) and so does the pair
      payload ``rows_l * size_r + rows_r * size_l``. ``disjoint`` always
      runs it: a box test cannot prune it. The 64 MB cut is the
      conservative end of the measured range, not the crossover: on 4
      cores the cross plan was still the faster one at an 85 MB payload
      (0.37 s against 0.41 s).
    - ``"prune"`` for every other input: one bounds pass per side, the box
      test in the join condition, the exact predicate on the survivors: 3
      ArrowEvalPython nodes with derived boxes, 1 with ``lbox``/``rbox``.

    Derived boxes (``lbox``/``rbox`` None) cost one bounds evaluation per
    side. The box join condition rejects nulls, so on a nullable box
    column Catalyst infers ``isnotnull(_lbox)``/``isnotnull(_rbox)`` and
    pushes it below the projection that computes the box, cloning the
    bounds UDF into that filter as a second Python pass per side. The
    derived box is ``coalesce(st_bounds(g), NaN box)`` over the non-null
    geometries: a non-nullable column, so no such filter is inferred. The
    UDF stays deterministic, so a later filter on a left or right column
    is still pushed below the bounds pass, down to the scan. A prune cross
    join that does not broadcast repartitions the boxed right side, so
    its bounds pass runs once, in a map stage of its own; a
    ``CartesianProduct`` would otherwise re-evaluate it per left
    partition, in the stage of the left bounds pass and the refine. The
    repartition keeps ``defaultParallelism`` partitions, not
    ``spark.sql.shuffle.partitions``: the product runs one task per pair
    of left and right partitions.

    ``exact`` picks the physical lane for the refinement: ``"udf"``
    (default) evaluates the ``functions.predicate`` UDF inside the filter,
    chained into one ArrowEvalPython node that reads only the two
    geometry columns; ``"arrow"`` (intersects/within/contains/covers/
    covered_by) routes the pairs through
    ``operators.arrowpath.predicate_arrow``, a ``mapInArrow`` pass that
    round-trips every column, for narrow keys-and-verdict consumers (see
    ``predicate_arrow(keep=...)``). Identical results either way
    (tests/test_arrowpath.py parity + the ``arrow_predicate`` query in
    ``scripts/check_oracle.py``)."""
    if predicate not in _PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    if predicate == "dwithin" and distance is None:
        raise ValueError("dwithin requires distance=")
    if exact not in ("udf", "arrow"):
        raise ValueError(f"exact must be 'udf' or 'arrow', got {exact!r}")
    if exact == "arrow" and predicate not in _ARROW_PREDICATES:
        raise ValueError(
            "exact='arrow' supports intersects/within/contains/"
            f"covers/covered_by, got {predicate!r}")
    strategy = ("cross" if predicate == "disjoint"
                else _pick(left, right, on, lbox, rbox, broadcast, exact))
    from polars_st_spark.functions import predicate as P

    if strategy == "cross":
        lb = left.where(F.col(lcol).isNotNull())
        rb = right.where(F.col(rcol).isNotNull())
        keep = None
    else:
        lb = _with_box(left, lcol, lbox, "l")
        rb = _with_box(right, rcol, rbox, "r")
        keep = _prune(predicate, F.col("_lbox"), F.col("_rbox"), distance)
    broadcast = _broadcasts(rb, broadcast)
    if keep is not None and on is None and not broadcast:
        rb = rb.repartition(rb.sparkSession.sparkContext.defaultParallelism, "_rbox")
    pairs = _suffixed(lb, rb, on, broadcast)
    rgeom = _rname(lb, rb, rcol)
    if exact == "arrow":
        from polars_st_spark.operators.arrowpath import predicate_arrow

        if keep is not None:
            pairs = pairs.where(keep).drop("_lbox", "_rbox")
        out = predicate_arrow(pairs, lcol, rgeom, predicate=predicate, out_col="__pred")
        out = out.where(F.col("__pred")).drop("__pred")
    else:
        if predicate == "dwithin":
            refine = P.st_dwithin(lcol, rgeom, float(distance))
        else:
            refine = getattr(P, f"st_{predicate}")(lcol, rgeom)
        # One AND-filter: Catalyst's python-UDF extraction evaluates the
        # bbox conjunct join-side (codegen) and places ArrowEvalPython after
        # it, so only prune survivors reach Python.
        cond = refine if keep is None else keep & refine
        out = pairs.where(cond).drop("_lbox", "_rbox")
    out._chosen_strategy = strategy
    return out


_ARROW_PREDICATES = ("intersects", "within", "contains", "covers", "covered_by")
_BROADCAST_BYTES = 64 * 1024 * 1024


def _pick(left: DataFrame, right: DataFrame, on, lbox, rbox, broadcast, exact) -> str:
    """``filter_pairs``' plan (see there), from plan statistics."""
    if (on is not None or lbox is not None or rbox is not None
            or broadcast is False or exact != "udf"):
        return "prune"
    size_l, rows_l = plan_stats(left)
    size_r, rows_r = plan_stats(right)
    if None in (size_l, rows_l, size_r, rows_r) or size_r > _BROADCAST_BYTES:
        return "prune"
    return "cross" if rows_l * size_r + rows_r * size_l <= _BROADCAST_BYTES else "prune"


def _broadcasts(r: DataFrame, broadcast) -> bool:
    if broadcast == "auto":
        size, _ = plan_stats(r)
        return size is not None and size <= _BROADCAST_BYTES
    return bool(broadcast)


def _rname(l: DataFrame, r: DataFrame, rcol: str) -> str:
    return rcol + "_right" if rcol in l.columns else rcol


def _suffixed(l: DataFrame, r: DataFrame, on, broadcast: bool) -> DataFrame:
    clashes = [c for c in r.columns if c in l.columns]
    for c in clashes:
        r = r.withColumnRenamed(c, c + "_right")
    if broadcast:
        r = F.broadcast(r)
    return l.crossJoin(r) if on is None else l.join(r, on)
