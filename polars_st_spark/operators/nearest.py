"""Nearest-neighbor spatial join: for each left geometry, the ``k``
closest right geometries (the geopandas ``sjoin_nearest`` surface — the
reference engine itself stops at predicate joins, SURVEY §2.9; this
extends the join family for the pipeline mandate).

Two strategies, chosen by whether a distance cap exists:

- ``max_distance`` set (the 100 TB path): right geometries are assigned to
  every cell of a ``max_distance``-sized grid that their bbox EXPANDED by
  ``max_distance`` touches; left geometries to every cell their own bbox
  touches (one cell for points). For any pair within the cap the closest
  left point's cell is in both sets, so candidates come from one hash
  equi-join on cell id — never a cross product — then multi-cell pairs
  are deduplicated by a REFERENCE-CELL filter (each pair counts only in
  the lexicographically smallest common cell — a codegen predicate, not
  a shuffle), the exact distance kernel filters, and a per-left-row
  top-k window ranks.
  Replication is bounded: ceil(w/d+2)·ceil(h/d+2) cells per right row
  (compact geometries ⇒ ~9), bbox cells per left row.
- ``max_distance`` None: the right side is broadcast and every pair is
  scored (exact, simple — correct only when the right side is small, the
  dimension-table case; raises above ``broadcast_limit`` rows instead of
  melting the cluster).

Ties on distance break by a content hash of the full right row —
deterministic across runs and partitionings, no reliance on row order
(rows identical in every column are interchangeable either way).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_st_spark.functions.scalar import st_bounds
from polars_st_spark.plans import bounded_fetch

__all__ = ["st_sjoin_nearest", "nearest_cell_stats"]


def st_sjoin_nearest(
    left: DataFrame,
    right: DataFrame,
    k: int = 1,
    max_distance: float | None = None,
    how: str = "inner",
    lsuffix: str = "",
    rsuffix: str = "_right",
    left_on: str = "geometry",
    right_on: str = "geometry",
    distance_col: str = "distance",
    broadcast_limit: int = 1_000_000,
    max_cell_candidates: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """k-nearest spatial join. Output: left columns + matched right columns
    (name conflicts suffixed) + ``distance_col``; ``how='left'`` keeps
    unmatched left rows (possible only with ``max_distance``) with nulls.
    Rank ties on identical distances resolve by right-geometry content
    hash, so results are deterministic and rerun-stable.

    ``max_cell_candidates`` (grid strategy only): guard against a
    degenerate cell whose left×right candidate product would dominate the
    join (the hot-cell failure mode VERDICT r4 flagged as p6's run-to-run
    spread suspect) — when any cell exceeds the cap the join RAISES naming
    the cell and its product (a silent drop would change results; choose a
    smaller ``max_distance``, pre-aggregate coincident points, or raise
    the cap). Costs one extra count aggregation on each staged cell table;
    leave None (default) to skip. :func:`nearest_cell_stats` returns the
    same histogram for offline diagnosis.

    ``strategy`` (max_distance None only): ``"auto"``/``"strtree"`` (r5
    default) broadcasts the right side and answers each left row with an
    EXPANDING-RING STRtree query — work is O(n_left · (k + log n_right))
    instead of the ``"cross"`` plan's O(n_left · n_right) full cross-join
    scoring (kept available for audit; identical distances, ties may pick
    a different equal-distance row — strtree ties break on a stable
    content digest of the right row). Both collect the right side through
    the driver when called, in ONE fetch that is also the
    ``broadcast_limit`` guard: a plain fetch when Catalyst's row count
    (:func:`~polars_st_spark.plans.plan_stats`) proves the side fits,
    otherwise ``limit(broadcast_limit + 1)``; more rows fetched than the
    limit raise. The grid strategy runs no job before the action unless
    ``max_cell_candidates`` is set.

    The chosen plan (``"strtree"``, ``"cross"`` or ``"grid"``) is exposed
    on the result as ``df._chosen_strategy``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if distance_col in left.columns or distance_col in right.columns:
        raise ValueError(
            f"distance_col={distance_col!r} collides with an existing input "
            "column; pass a different distance_col"
        )
    from pyspark.sql.window import Window

    # stage a unique left row id BEFORE any join (monotonic id is evaluated
    # per source row only when staged in its own projection)
    lid = "__nn_lrow"
    lstaged = left.select(F.monotonically_increasing_id().alias(lid), "*")

    # suffix conflicting columns like st_sjoin
    overlap = [c for c in right.columns if c in left.columns]
    rsel = [
        F.col(c).alias(c + rsuffix) if c in overlap else F.col(c)
        for c in right.columns
    ]
    rstaged = right.select(*rsel)
    r_geom = right_on + rsuffix if right_on in overlap else right_on

    tie = F.xxhash64(*[F.col(c) for c in rstaged.columns])
    # the distance UDF appears in the candidate filter AND the rank order;
    # a deterministic copy would be cloned by filter pushdown into a second
    # ArrowEvalPython pass over the candidate stream. The evaluate-once
    # copy pins ONE evaluation in a staged projection; the filter and the
    # rank read the materialized column.
    from polars_st_spark.functions.factory import evaluate_once
    from polars_st_spark.functions.scalar import _distance_pair_udf

    dist = evaluate_once(_distance_pair_udf)(F.col(left_on), F.col(r_geom))

    if max_distance is None:
        if strategy not in ("auto", "strtree", "cross"):
            raise ValueError(f"strategy must be auto/strtree/cross, got {strategy!r}")
        # the guard and the strtree payload are ONE fetch
        rtab = bounded_fetch(rstaged, broadcast_limit).toArrow()
        if rtab.num_rows > broadcast_limit:
            raise ValueError(
                f"right side has more than broadcast_limit={broadcast_limit} "
                "rows; pass max_distance= for the scalable grid strategy (or "
                "raise broadcast_limit explicitly)"
            )
        if strategy in ("auto", "strtree"):
            ranked = _nearest_strtree(
                lstaged, rstaged, rtab, k, left_on, r_geom, distance_col, lid)
            out = _finish_how(ranked, lstaged, lid, how)
            out._chosen_strategy = "strtree"
            return out
        # null/empty left geometries produce null distance for EVERY
        # candidate; drop those pairs so the strategies agree (the grid
        # path never cells such rows) and how='left' routes them to the
        # unmatched set instead of k arbitrary null-distance matches
        cand = (
            lstaged.crossJoin(F.broadcast(rstaged))
            .withColumn(distance_col, dist)
            .where(F.col(distance_col).isNotNull())
        )
    else:
        d = float(max_distance)
        if d <= 0:
            raise ValueError("max_distance must be positive")
        def cell_array(b, pad: float):
            # all (cx, cy) cells touched by bbox b expanded by pad — a flat
            # array of structs via sequence/transform, JVM-side
            cx0 = F.floor((b[0] - pad) / d).cast("long")
            cx1 = F.floor((b[2] + pad) / d).cast("long")
            cy0 = F.floor((b[1] - pad) / d).cast("long")
            cy1 = F.floor((b[3] + pad) / d).cast("long")
            return F.flatten(
                F.transform(
                    F.sequence(cx0, cx1),
                    lambda cx: F.transform(
                        F.sequence(cy0, cy1),
                        lambda cy: F.struct(cx.alias("cx"), cy.alias("cy")),
                    ),
                )
            )

        # left: own-bbox cells (one for points). right: bbox ⊕ d cells.
        # The closest left point lies in the left bbox AND within d of the
        # right bbox, so its cell is in both sets — no pair escapes.
        # The bounds UDF result must be STAGED as a column before the
        # higher-order cell lambda (Spark rejects Python UDFs inside
        # lambda functions at analysis).
        l2 = lstaged.withColumn("__nn_lb", st_bounds(F.col(left_on))).withColumn(
            "__nn_cell", F.explode(cell_array(F.col("__nn_lb"), 0.0))
        )
        r2 = rstaged.withColumn("__nn_rb", st_bounds(F.col(r_geom))).withColumn(
            "__nn_cell", F.explode(cell_array(F.col("__nn_rb"), d))
        )
        # reference-cell dedup (the grid-sjoin trick): a pair sharing several
        # cells is counted ONLY in the lexicographically smallest common one
        # — a codegen filter on the join output instead of a dropDuplicates
        # SHUFFLE of every candidate pair
        ref_cx = F.greatest(
            F.floor(F.col("__nn_lb")[0] / d), F.floor((F.col("__nn_rb")[0] - d) / d)
        ).cast("long")
        ref_cy = F.greatest(
            F.floor(F.col("__nn_lb")[1] / d), F.floor((F.col("__nn_rb")[1] - d) / d)
        ).cast("long")
        if max_cell_candidates is not None:
            hot = (
                l2.groupBy("__nn_cell").count()
                .withColumnRenamed("count", "_nl")
                .join(r2.groupBy("__nn_cell").count()
                      .withColumnRenamed("count", "_nr"), on="__nn_cell")
                .where(F.col("_nl") * F.col("_nr") > int(max_cell_candidates))
                .select("__nn_cell", (F.col("_nl") * F.col("_nr")).alias("_prod"))
                .orderBy(F.col("_prod").desc())
                .limit(3)
                .collect()
            )
            if hot:
                cells = ", ".join(
                    f"cell({r['__nn_cell']['cx']},{r['__nn_cell']['cy']})"
                    f"={r['_prod']}" for r in hot)
                raise ValueError(
                    "st_sjoin_nearest: cell candidate product exceeds "
                    f"max_cell_candidates={max_cell_candidates}: {cells}. "
                    "Use a smaller max_distance, pre-aggregate coincident "
                    "points, or raise the cap."
                )
        cand = (
            l2.join(r2, on="__nn_cell")
            .where((F.col("__nn_cell.cx") == ref_cx) & (F.col("__nn_cell.cy") == ref_cy))
            .drop("__nn_cell", "__nn_lb", "__nn_rb")
            .withColumn(distance_col, dist)
            .where(F.col(distance_col) <= F.lit(d))
        )

    w = Window.partitionBy(lid).orderBy(
        F.col(distance_col).asc_nulls_last(), tie.asc())
    ranked = (
        cand.withColumn("__nn_rank", F.row_number().over(w))
        .where(F.col("__nn_rank") <= k)
        .drop("__nn_rank")
    )
    out = _finish_how(ranked, lstaged, lid, how)
    out._chosen_strategy = "cross" if max_distance is None else "grid"
    return out


def _finish_how(ranked: DataFrame, lstaged: DataFrame, lid: str, how: str) -> DataFrame:
    if how == "inner":
        return ranked.drop(lid)
    # how='left': rejoin unmatched left rows with null right columns
    matched = ranked
    out_cols = [c for c in matched.columns if c != lid]
    unmatched = lstaged.join(
        matched.select(lid).distinct(), on=lid, how="left_anti"
    )
    mtypes = {f.name: f.dataType for f in matched.schema.fields}
    for c in out_cols:
        if c not in unmatched.columns:
            unmatched = unmatched.withColumn(c, F.lit(None).cast(mtypes[c]))
    return matched.select(*out_cols).unionByName(
        unmatched.select(*out_cols)
    )


def _tie_digest(rtab, tz: str) -> np.ndarray:
    """uint64 content digest per right row: ``pd.util.hash_pandas_object``
    of the rows as ``DataFrame.toPandas()`` gives them, so equal-distance
    winners do not depend on how the side was fetched. ``toArrow()``
    timestamps are tz-aware UTC microseconds where ``toPandas()`` gives
    naive nanoseconds in the session time zone; they are converted before
    hashing. Nested cells (array, map and struct columns) are not
    hashable as pandas gives them; each such cell is hashed as the
    ``repr`` of its Python value (``to_pylist``), so the digest of every
    other column type is unchanged."""
    import pandas as pd
    import pyarrow as pa

    pdf = rtab.to_pandas()
    for c, field in zip(pdf.columns, rtab.schema):
        col = pdf[c]
        if pa.types.is_nested(field.type):
            pdf[c] = pd.Series(
                [repr(v) for v in rtab.column(field.name).to_pylist()],
                index=pdf.index, dtype=object)
            continue
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            col = col.dt.tz_convert(tz).dt.tz_localize(None)
        if pd.api.types.is_datetime64_dtype(col.dtype):
            pdf[c] = col.astype("datetime64[ns]")
    return pd.util.hash_pandas_object(pdf, index=False).to_numpy()


def _nearest_strtree(
    lstaged: DataFrame,
    rstaged: DataFrame,
    rtab,
    k: int,
    left_on: str,
    r_geom: str,
    distance_col: str,
    lid: str,
) -> DataFrame:
    """Broadcast expanding-ring STRtree k-NN (the r5 no-cap default).

    The right table arrives collected as the Arrow table ``rtab``
    (``broadcast_limit``-guarded by the caller) and is broadcast with its
    bboxes; each worker bulk-loads one STR-packed R-tree and answers every
    left row with an expanding box query: start at a density-derived
    radius, double until >= k candidates AND the k-th candidate distance
    fits inside the ring (an item whose bbox misses a box expanded by r is
    > r away — Chebyshev bound), then rank exact distances. Ties break on
    a stable content digest of the right row (:func:`_tie_digest` —
    rerun- and partitioning-independent). Output rows are ``take``s of the
    left batch and the right table, so every column keeps its Arrow type.
    Null/empty left rows emit nothing — how='left' routes them to the
    unmatched set. The ring rounds run per Arrow batch for all unresolved
    left rows together, scoring each round's candidate pairs with one
    batch distance lane (:func:`_knn_rounds`)."""
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = lstaged.sparkSession
    rbatch = pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in rtab.columns], names=rtab.column_names)
    rbounds = _driver_bounds(rbatch.column(r_geom))
    digest = (_tie_digest(rtab, spark.conf.get("spark.sql.session.timeZone"))
              if rbatch.num_rows else np.empty(0, dtype=np.uint64))
    bc = spark.sparkContext.broadcast((rbatch, rbounds, digest))
    out_schema = StructType(
        list(lstaged.schema.fields)
        + list(rstaged.schema.fields)
        + [StructField(distance_col, DoubleType())]
    )
    names = list(lstaged.columns) + list(rstaged.columns) + [distance_col]

    def fn(batches):
        from polars_st_spark.geo.index import STRtree

        rbatch_, rb, dg = bc.value
        rgeo = rbatch_.column(r_geom)
        tree = STRtree(rb)
        rcache: dict = {}  # right row -> decoded geometry, for the whole task
        for batch in batches:
            li, ri, d = _knn_rounds(batch.column(left_on), rgeo, tree, rb, dg, k,
                                    rcache)
            if not len(li):
                continue
            lpart = batch.take(pa.array(li, type=pa.int64()))
            rpart = rbatch_.take(pa.array(ri, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                lpart.columns + rpart.columns
                + [pa.array(d, type=pa.float64())], names=names)

    return lstaged.mapInArrow(fn, schema=out_schema)


def _knn_rounds(lgeo, rgeo, tree, rb: np.ndarray, dg: np.ndarray, k: int,
                rcache: dict):
    """(left rows, right rows, distances) of the ``k`` nearest right rows
    of every non-empty row of the left EWKB array ``lgeo``, by expanding
    rings over ``tree`` (the STRtree of the right bboxes ``rb``); ties
    rank by the right-row digest ``dg``. Output is ordered by left row,
    then rank.

    Every unresolved left row takes one ring round per pass: its
    candidates are ``tree.query`` of its box grown by its radius; a row
    with enough candidates is scored, and all scored rows' pairs are
    gathered with ``take`` and scored by ONE ``scalar.distance_lanes``
    call. When no lane takes the round, each pair pays one
    ``algos.distance`` on geometries decoded once: left rows per batch,
    right rows per task through ``rcache``. A row resolves when its k-th
    distance fits inside its ring, or when the ring holds every valid
    right row; otherwise its radius doubles. Each row's rounds,
    candidates and ranking are those of a row-at-a-time loop."""
    from polars_st_spark.functions.scalar import distance_lanes
    from polars_st_spark.geo import algos
    from polars_st_spark.geo.wkb import from_ewkb

    def decoded(cache, geo, j):
        g = cache.get(j)
        if g is None:
            g = cache[j] = from_ewkb(geo[j].as_py())
        return g

    lcache: dict = {}
    with np.errstate(invalid="ignore"):
        nv = int((~np.isnan(rb[:, 0])).sum())
    empty = np.empty(0, dtype=np.int64)
    if not nv or not len(lgeo):
        return empty, empty, np.empty(0)
    span = max(np.nanmax(rb[:, 2]) - np.nanmin(rb[:, 0]),
               np.nanmax(rb[:, 3]) - np.nanmin(rb[:, 1]), 1e-9)
    kk = min(k, nv)
    r0 = max(span * ((kk / nv) ** 0.5), span * 1e-6)
    lb = _driver_bounds(lgeo)
    rows = np.flatnonzero(~np.isnan(lb[:, 0]))
    radius = np.full(len(rows), r0)
    hits: dict = {}  # left row -> (right rows, distances) in rank order
    while len(rows):
        cands = [tree.query(lb[i, 0] - r, lb[i, 1] - r, lb[i, 2] + r, lb[i, 3] + r)
                 for i, r in zip(rows.tolist(), radius.tolist())]
        full = np.array([len(c) == nv for c in cands], dtype=bool)
        scored = [t for t, c in enumerate(cands) if len(c) >= kk or full[t]]
        done = np.zeros(len(rows), dtype=bool)
        if scored:
            lens = [len(cands[t]) for t in scored]
            li = np.repeat(rows[scored], lens)
            ri = np.concatenate([cands[t] for t in scored])
            ds_all = distance_lanes(lgeo.take(li), rgeo.take(ri))
            if ds_all is None:
                ds_all = np.array([
                    algos.distance(decoded(lcache, lgeo, i), decoded(rcache, rgeo, j))
                    for i, j in zip(li.tolist(), ri.tolist())], dtype=float)
            for t, ds in zip(scored, np.split(ds_all, np.cumsum(lens)[:-1])):
                cand = cands[t]
                ok = ~np.isnan(ds)
                cand2, ds2 = cand[ok], ds[ok]
                if len(cand2) >= kk or full[t]:
                    if len(cand2):
                        top = np.lexsort((dg[cand2], ds2))[:kk]
                        if ds2[top[-1]] <= radius[t] or full[t]:
                            hits[int(rows[t])] = (cand2[top], ds2[top])
                            done[t] = True
                    elif full[t]:
                        done[t] = True
        radius = radius * 2.0
        done |= (radius > 4 * span) & full
        rows, radius = rows[~done], radius[~done]
    if not hits:
        return empty, empty, np.empty(0)
    order = sorted(hits)
    return (np.repeat(np.asarray(order, dtype=np.int64), [len(hits[i][0]) for i in order]),
            np.concatenate([hits[i][0] for i in order]),
            np.concatenate([hits[i][1] for i in order]))


def _driver_bounds(bufs) -> np.ndarray:
    """(n, 4) bboxes of EWKB values (NaN for null/empty/odd rows) —
    vectorized through the CSR parsers with a scalar fallback."""
    from polars_st_spark.geo import ragged
    from polars_st_spark.geo.wkb import from_ewkb

    for parser in (ragged.parse_polygonal, ragged.parse_lineal,
                   ragged.parse_multipoints):
        p = parser(bufs)
        if p is not None:
            return ragged.bounds(p)
    out = np.full((len(bufs), 4), np.nan)
    for i, b in enumerate(ragged.as_binary_array(bufs).to_pylist()):
        if b is None:
            continue
        g = from_ewkb(b)
        bb = g.bounds()
        if bb[0] == bb[0]:
            out[i] = bb
    return out


def nearest_cell_stats(
    left: DataFrame,
    right: DataFrame,
    max_distance: float,
    left_on: str = "geometry",
    right_on: str = "geometry",
    top: int = 20,
) -> DataFrame:
    """Per-cell candidate diagnosis for the grid strategy of
    :func:`st_sjoin_nearest` (VERDICT r4 #5): the ``top`` cells by
    left×right candidate product, with both side counts — run this when a
    nearest join's wall time spreads run-to-run to see whether a hot cell
    (coincident points, a cap much larger than point spacing) dominates
    the distance kernel. Returns (cx, cy, n_left, n_right, product)."""
    d = float(max_distance)
    if d <= 0:
        raise ValueError("max_distance must be positive")

    def cells(df, geom, pad):
        b = st_bounds(F.col(geom))
        staged = df.select(b.alias("__b"))
        cx0 = F.floor((F.col("__b")[0] - pad) / d).cast("long")
        cx1 = F.floor((F.col("__b")[2] + pad) / d).cast("long")
        cy0 = F.floor((F.col("__b")[1] - pad) / d).cast("long")
        cy1 = F.floor((F.col("__b")[3] + pad) / d).cast("long")
        arr = F.flatten(F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(
                F.sequence(cy0, cy1),
                lambda cy: F.struct(cx.alias("cx"), cy.alias("cy")),
            ),
        ))
        return staged.select(F.explode(arr).alias("__nn_cell"))

    lc = cells(left, left_on, 0.0).groupBy("__nn_cell").count() \
        .withColumnRenamed("count", "n_left")
    rc = cells(right, right_on, d).groupBy("__nn_cell").count() \
        .withColumnRenamed("count", "n_right")
    return (
        lc.join(rc, on="__nn_cell")
        .select(
            F.col("__nn_cell.cx").alias("cx"),
            F.col("__nn_cell.cy").alias("cy"),
            "n_left", "n_right",
            (F.col("n_left") * F.col("n_right")).alias("product"),
        )
        .orderBy(F.col("product").desc())
        .limit(top)
    )
