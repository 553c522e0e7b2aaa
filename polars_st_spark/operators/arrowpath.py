"""Zero-copy Arrow-native bulk measures (r9 — the 100 TB fast lane for
elementwise sweeps).

The pandas-UDF path materializes one Python ``bytes`` object per row when
Arrow hands the EWKB column to pandas — at 60 M rows that object churn IS
the cost (the r8 100x ramp's ``b1_elementwise`` was memory-bandwidth bound
at a 5.2 s floor). ``measure_arrow`` runs through ``mapInArrow`` instead:
the worker receives the raw Arrow batch and parses it with the package's
one batch reader, ``geo/arrowwkb.uniform_batch_pa`` — numpy strided views
of the Arrow buffers, no per-row objects anywhere.

Semantics are identical to ``st_area`` / ``st_length`` (same translated
shoelace / perimeter arithmetic as the ring lane in
``functions/scalar.py``; rows outside the uniform envelope fall back to
the exact per-row kernels), asserted row-for-row in
``tests/test_arrowpath.py`` and hash-checked against a closed-form DuckDB
oracle in the ``arrow_measure`` driver gate.

Reference: the measure surface of §2.3 (functions.rs:794-817); this module
is a physical-plan alternative, not new semantics.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from polars_st_spark.geo.arrowwkb import uniform_batch_pa

__all__ = ["bounds_arrow", "measure_arrow", "predicate_arrow"]


def _uniform_rows(arr):
    """Parsed coordinates for a batch whose VALID rows are structurally
    uniform: ``(coords, gtype, rows)`` where ``coords`` is float64
    ``(n_valid, npts, 2)``, ``gtype`` is 1 (Point) or 3 (single-ring
    Polygon) and ``rows`` is the index array of the batch rows the coords
    belong to (None when the batch has no nulls). Returns None when the
    valid rows leave the uniform envelope of ``uniform_batch_pa``.

    Nulls do not abort the batch (VERDICT r9 "What's wrong" #2 — one null
    row used to drop a whole 10k-row Arrow batch to the per-row kernels):
    the parser runs on the valid rows, gathered once, and callers scatter
    the results back through ``rows``."""
    rows = None
    if arr.null_count:
        rows = np.flatnonzero(arr.is_valid().to_numpy(zero_copy_only=False))
        arr = arr.drop_null()
    parsed = uniform_batch_pa(arr)
    if parsed is None:
        return None
    if parsed[0] == "point2d":
        return np.stack(parsed[1:], axis=-1)[:, None, :], 1, rows
    return parsed[1], 3, rows


def _null_mask(arr):
    return arr.is_null().to_numpy(zero_copy_only=False) if arr.null_count else None


def _uniform_measures(arr):
    """(area, length) float64 arrays (full batch length, NaN at null
    slots) for a structurally-uniform batch, or None when the valid rows
    leave the fast envelope."""
    parsed = _uniform_rows(arr)
    if parsed is None:
        return None
    c, gtype, rows = parsed
    n = len(arr)
    if gtype == 1:
        area = np.zeros(n, dtype=np.float64)
        length = np.zeros(n, dtype=np.float64)
        if rows is not None:
            area[:] = np.nan
            length[:] = np.nan
            area[rows] = 0.0
            length[rows] = 0.0
        return area, length
    # translate to each ring's first vertex (same cancellation robustness
    # and arithmetic order as scalar._area_udf's ring path)
    x = c[:, :, 0] - c[:, :1, 0]
    y = c[:, :, 1] - c[:, :1, 1]
    a = 0.5 * np.abs(
        np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1))
    d = np.diff(c, axis=1)
    ln = np.sqrt((d * d).sum(axis=2)).sum(axis=1)
    if rows is None:
        return a, ln
    area = np.full(n, np.nan)
    length = np.full(n, np.nan)
    area[rows] = a
    length[rows] = ln
    return area, length


def _fallback_measures(arr):
    """Exact per-row kernels for batches outside the uniform envelope."""
    from polars_st_spark.geo import algos
    from polars_st_spark.geo.wkb import from_ewkb

    area = np.full(len(arr), np.nan)
    length = np.full(len(arr), np.nan)
    for i, v in enumerate(arr):
        b = v.as_py()
        if b is None:
            continue
        g = from_ewkb(bytes(b))
        area[i] = algos.area(g)
        length[i] = algos.length(g)
    return area, length


def measure_arrow(df: DataFrame, col: str, keep: tuple = ()) -> DataFrame:
    """``df`` + EWKB column → DataFrame of ``keep`` columns + ``area`` /
    ``length`` doubles, computed zero-copy on the Arrow buffers (see module
    docstring). Null geometry → null measures."""
    import pyarrow as pa

    names = list(keep) + ["area", "length"]
    in_schema = df.select(*keep, col).schema
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in in_schema if f.name != col
    )
    out_schema = (out_fields + ", " if out_fields else "") + "area double, length double"
    gcol = col

    def fn(batches):
        for rb in batches:
            arr = rb.column(rb.schema.get_field_index(gcol))
            fast = _uniform_measures(arr)
            area, length = fast if fast is not None else _fallback_measures(arr)
            mask = _null_mask(arr)
            cols = [rb.column(rb.schema.get_field_index(k)) for k in names[:-2]]
            cols.append(pa.array(area, type=pa.float64(),
                                 mask=mask if mask is not None else None))
            cols.append(pa.array(length, type=pa.float64(),
                                 mask=mask if mask is not None else None))
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.select(*keep, col).mapInArrow(fn, out_schema)


def _rect_box(coords, gtype):
    """Per-row (xmin, ymin, xmax, ymax) plus an ``is_exact`` mask for rows
    whose geometry the box REPRESENTS EXACTLY under set predicates: points
    (degenerate box) and axis-aligned closed rectangles (5-point ring,
    every edge axis-parallel, positive bbox area equal to the shoelace
    area — excludes bowties and slivers). Rows outside that class get
    is_exact=False and must take the exact per-row kernel."""
    x, y = coords[:, :, 0], coords[:, :, 1]
    box = (x.min(axis=1), y.min(axis=1), x.max(axis=1), y.max(axis=1))
    if gtype == 1:
        return box, np.ones(len(coords), dtype=bool)
    if coords.shape[1] != 5:
        return box, np.zeros(len(coords), dtype=bool)
    dx = np.diff(x, axis=1)
    dy = np.diff(y, axis=1)
    closed = (x[:, 0] == x[:, 4]) & (y[:, 0] == y[:, 4])
    axis_par = ((dx == 0) | (dy == 0)).all(axis=1)
    bbox_area = (box[2] - box[0]) * (box[3] - box[1])
    shoelace = 0.5 * np.abs(
        np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1))
    return box, closed & axis_par & (bbox_area > 0) & (shoelace == bbox_area)


_BOX_PREDICATES = ("intersects", "within", "contains", "covers", "covered_by")


def _box_predicate(pred, lb, rb):
    """Exact predicate over boxes that ARE the geometries (see _rect_box).
    intersects: closed-set overlap. within/contains: containment, which for
    nondegenerate rectangles (and points strictly inside) implies the
    interior-interior condition; a point ON the container's boundary is NOT
    within (interiors disjoint), hence the strict form for degenerate
    left/right boxes."""
    lxmin, lymin, lxmax, lymax = lb
    rxmin, rymin, rxmax, rymax = rb
    if pred == "intersects":
        return ((lxmin <= rxmax) & (rxmin <= lxmax)
                & (lymin <= rymax) & (rymin <= lymax))
    if pred in ("contains", "covers"):  # X(l, r) == mirrored(r, l)
        lb, rb = rb, lb
        lxmin, lymin, lxmax, lymax = lb
        rxmin, rymin, rxmax, rymax = rb
    inside = ((lxmin >= rxmin) & (lxmax <= rxmax)
              & (lymin >= rymin) & (lymax <= rymax))
    if pred in ("covers", "covered_by"):
        # covers/covered_by: plain closed-set containment — no interior
        # condition, so a point ON the boundary IS covered
        return inside
    # within(l, r): l ⊆ r, with the strict boundary rule only when l is a
    # point and r is a proper rectangle (point ON the rect's boundary has
    # disjoint interiors → not within). When BOTH sides are points,
    # within/contains is plain equality — `inside` reduces to exactly that
    # (a point's interior is itself in DE-9IM point×point terms).
    degen_l = (lxmin == lxmax) & (lymin == lymax)  # point-like left side
    degen_r = (rxmin == rxmax) & (rymin == rymax)  # point-like right side
    strict = ((lxmin > rxmin) & (lxmax < rxmax)
              & (lymin > rymin) & (lymax < rymax))
    return np.where(degen_l & ~degen_r, strict, inside)


def predicate_arrow(df: DataFrame, lcol: str, rcol: str,
                    predicate: str = "intersects",
                    out_col: str = "pred",
                    keep: tuple | None = None) -> DataFrame:
    """All input columns + boolean ``out_col`` = ``predicate(lcol, rcol)``,
    evaluated zero-copy on the Arrow buffers (r10, VERDICT r9 item 2 — the
    fast lane for the b2 shape: survivor refinement after a codegen bbox
    prune, without the pandas path's one-bytes-object-per-row churn).

    Rows where BOTH sides are points or axis-aligned rectangles (the
    overwhelming case for bbox-shaped data; verified per row, see
    _rect_box) get the closed-form interval predicate, which is EXACT for
    that class; every other row takes the same per-row DE-9IM kernels as
    ``st_intersects``/``st_within``/``st_contains``. Null on either side →
    null, matching the column predicates. Parity is test-asserted
    (tests/test_arrowpath.py) and hash-checked in the ``arrow_predicate``
    driver gate.

    Reference: the binary-predicate surface of §2.3
    (/root/reference/src/functions.rs:900-1010); this is a physical-plan
    alternative, not new semantics."""
    import pyarrow as pa

    if predicate not in _BOX_PREDICATES:
        raise ValueError(
            f"predicate must be one of {_BOX_PREDICATES}, got {predicate!r}")
    if out_col in df.columns:
        raise ValueError(f"out_col={out_col!r} collides with an input column")
    from polars_st_spark.geo import predicates as _P
    from polars_st_spark.geo.wkb import from_ewkb

    exact_fn = getattr(_P, predicate)
    if keep is not None:
        # NARROW mode (r10, measured): yield only ``keep`` + the verdict.
        # mapInArrow replaces the stream, so in the default all-columns
        # mode the geometry binaries ROUND-TRIP JVM->Python->JVM — at the
        # 100x b2 grain that transfer made this lane 3x slower than the
        # one-way pandas-UDF refinement (30.4s vs 9.1s). When the consumer
        # needs only keys + verdict (count / id-pair sinks), narrow mode
        # ships keys+geoms in and keys+bool out — the transfer-optimal
        # shape for this node type.
        df = df.select(*keep, lcol, rcol)
        out_names = list(keep) + [out_col]
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema if f.name in keep
        ) + f", {out_col} boolean"
    else:
        out_names = list(df.columns) + [out_col]
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema
        ) + f", {out_col} boolean"
    names = out_names

    def _side(arr):
        """(box full-length arrays, exact mask, valid mask or None) or
        None when the side leaves the uniform envelope entirely."""
        parsed = _uniform_rows(arr)
        if parsed is None:
            return None
        coords, gtype, rows = parsed
        box, ok = _rect_box(coords, gtype)
        n = len(arr)
        if rows is None:
            return box, ok, None
        full_box = []
        for v in box:
            fb = np.full(n, np.nan)
            fb[rows] = v
            full_box.append(fb)
        full_ok = np.zeros(n, dtype=bool)
        full_ok[rows] = ok
        vmask = np.zeros(n, dtype=bool)
        vmask[rows] = True
        return tuple(full_box), full_ok, vmask

    def _exact_rows(larr, rarr, idx, res):
        for i in idx:
            lv, rv = larr[int(i)].as_py(), rarr[int(i)].as_py()
            if lv is None or rv is None:
                continue
            res[int(i)] = exact_fn(from_ewkb(bytes(lv)), from_ewkb(bytes(rv)))

    def fn(batches):
        for rb in batches:
            larr = rb.column(rb.schema.get_field_index(lcol))
            rarr = rb.column(rb.schema.get_field_index(rcol))
            n = len(larr)
            res = np.zeros(n, dtype=bool)
            lparsed = _side(larr)
            rparsed = _side(rarr)
            null_mask = np.zeros(n, dtype=bool)
            if lparsed is not None and rparsed is not None:
                lb, lok, lvalid = lparsed
                rb_, rok, rvalid = rparsed
                if lvalid is not None:
                    null_mask |= ~lvalid
                if rvalid is not None:
                    null_mask |= ~rvalid
                fast = lok & rok & ~null_mask
                res[fast] = _box_predicate(
                    predicate,
                    tuple(v[fast] for v in lb),
                    tuple(v[fast] for v in rb_))
                slow = np.flatnonzero(~fast & ~null_mask)
                _exact_rows(larr, rarr, slow, res)
            else:
                null_mask = np.array([
                    larr[i].as_py() is None or rarr[i].as_py() is None
                    for i in range(n)
                ], dtype=bool)
                _exact_rows(larr, rarr, np.flatnonzero(~null_mask), res)
            if keep is not None:
                cols = [rb.column(rb.schema.get_field_index(k))
                        for k in names[:-1]]
            else:
                cols = [rb.column(i) for i in range(rb.num_columns)]
            cols.append(pa.array(res, type=pa.bool_(),
                                 mask=null_mask if null_mask.any() else None))
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.mapInArrow(fn, out_schema)


def _uniform_bounds(arr):
    """(xmin, ymin, xmax, ymax) float64 arrays (full batch length, NaN at
    null slots) for a structurally-uniform batch, or None outside the fast
    envelope (same rules and null handling as _uniform_measures)."""
    parsed = _uniform_rows(arr)
    if parsed is None:
        return None
    c, _gtype, rows = parsed
    x, y = c[:, :, 0], c[:, :, 1]
    vals = (x.min(axis=1), y.min(axis=1), x.max(axis=1), y.max(axis=1))
    if rows is None:
        return vals
    n = len(arr)
    out = []
    for v in vals:
        full = np.full(n, np.nan)
        full[rows] = v
        out.append(full)
    return tuple(out)


def _fallback_bounds(arr):
    from polars_st_spark.geo.wkb import from_ewkb

    out = np.full((len(arr), 4), np.nan)
    for i, v in enumerate(arr):
        b = v.as_py()
        if b is None:
            continue
        out[i] = from_ewkb(bytes(b)).bounds()
    return out[:, 0], out[:, 1], out[:, 2], out[:, 3]


def bounds_arrow(df: DataFrame, col: str, keep: tuple = ()) -> DataFrame:
    """``df`` + EWKB column → ``keep`` columns + ``xmin/ymin/xmax/ymax``
    doubles, zero-copy on the Arrow buffers — the scale path for bbox
    materialization at ingest (the columns ``plans.materialize_bbox`` /
    ``filter_pairs``'s prune want native). Same values as ``st_bounds``
    (NaN for empties via the fallback kernel); null geometry → null row
    values."""
    import pyarrow as pa

    names = list(keep) + ["xmin", "ymin", "xmax", "ymax"]
    in_schema = df.select(*keep, col).schema
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in in_schema if f.name != col
    )
    out_schema = ((out_fields + ", " if out_fields else "")
                  + "xmin double, ymin double, xmax double, ymax double")
    gcol = col

    def fn(batches):
        for rb in batches:
            arr = rb.column(rb.schema.get_field_index(gcol))
            fast = _uniform_bounds(arr)
            vals = fast if fast is not None else _fallback_bounds(arr)
            mask = _null_mask(arr)
            cols = [rb.column(rb.schema.get_field_index(k)) for k in names[:-4]]
            for v in vals:
                cols.append(pa.array(np.ascontiguousarray(v),
                                     type=pa.float64(), mask=mask))
            yield pa.RecordBatch.from_arrays(cols, names)

    return df.select(*keep, col).mapInArrow(fn, out_schema)
