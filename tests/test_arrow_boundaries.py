"""The aggregate, grouped-union and broadcast-join boundaries run on Arrow.

Two results that a pandas conversion got wrong (an int64 column holding a
null becomes float64, so 2**60 + 1 reads back as 2**60), the aggregates
with no other test, and the plan shape that one ``.agg()`` of every library
aggregate must keep."""

import datetime

import pytest
from pyspark.sql import functions as F

import polars_st_spark as st
from polars_st_spark.operators.grouped import (
    symmetric_difference_all_ordered,
    union_all_grouped,
    union_all_two_phase,
)
from polars_st_spark.operators.sjoin import st_sjoin
from polars_st_spark.streaming import windowed_spatial_agg

BIG = 2**60


def _rects(spark, rows, schema="k long, x0 double, y0 double, x1 double, y1 double"):
    """(key, x0, y0, x1, y1) rows -> (key, rectangle) in ONE partition; a
    None x0 gives a null geometry."""
    df = spark.createDataFrame(rows, schema).coalesce(1)
    geom = F.when(F.col("x0").isNotNull(), st.st_rectangle("x0", "y0", "x1", "y1"))
    return df.select(df.columns[0], geom.alias("g"))


def test_broadcast_left_join_keeps_int64_right_key(spark):
    """A batch with a matched and an unmatched left row: the right key
    2**60 + 1 must come back exactly, as the grid strategy returns it."""
    left = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 50.0, 50.0), (3, 1.5, 0.5)], "id long, x double, y double"
    ).coalesce(1).select("id", st.st_point("x", "y").alias("geometry"))
    right = spark.createDataFrame(
        [(BIG + 1, 0.0), (BIG + 3, 1.0)], "zid long, x0 double"
    ).select("zid", st.st_rectangle("x0", F.lit(0.0), F.col("x0") + 1, F.lit(1.0))
             .alias("geometry"))

    def pairs(strategy):
        out = st_sjoin(left, right, predicate="within", how="left", strategy=strategy)
        return sorted((r["id"], r["zid"]) for r in out.collect())

    got = pairs("broadcast")
    assert got == [(1, BIG + 1), (2, None), (3, BIG + 3)]
    assert got == pairs("grid")


def test_two_phase_union_keeps_int64_keys_apart(spark):
    """Keys 2**60, 2**60 + 1 and null in one partition are three groups."""
    df = _rects(spark, [(BIG, 0.0, 0.0, 1.0, 1.0), (BIG + 1, 5.0, 0.0, 6.0, 1.0),
                        (None, 10.0, 0.0, 11.0, 1.0), (BIG, 0.5, 0.0, 1.0, 1.0)])

    def areas(out):
        rows = out.select("k", st.st_area("union_geom").alias("a")).collect()
        assert len(rows) == 3
        return {r["k"]: r["a"] for r in rows}

    two = areas(union_all_two_phase(df, ["k"], "g", min_partitions=None))
    assert two == {None: 1.0, BIG: 1.0, BIG + 1: 1.0}
    assert two == areas(union_all_grouped(df, ["k"], "g", strategy="single"))


def test_sjoin_broadcast_mixed_type_right_matches_grid(spark):
    """Every right-side type survives the broadcast path unchanged: a
    nullable int64, a string, a timestamp and an array, null and not."""
    left = spark.createDataFrame(
        [(i, i * 0.7 % 4, 0.5) for i in range(12)], "id long, x double, y double"
    ).repartition(3).select("id", st.st_point("x", "y").alias("geometry"))
    right = spark.createDataFrame(
        [(BIG + 1, "a", datetime.datetime(2020, 1, 2, 3, 4, 5), [1, None], 0.0),
         (None, None, None, None, 1.0),
         (7, "c", datetime.datetime(1999, 12, 31), [], 2.0)],
        "zid long, s string, ts timestamp, arr array<int>, x0 double",
    ).select("zid", "s", "ts", "arr",
             st.st_rectangle("x0", F.lit(0.0), F.col("x0") + 1, F.lit(1.0)).alias("geometry"))
    for how in ("inner", "left"):
        b = st_sjoin(left, right, predicate="intersects", how=how, strategy="broadcast")
        g = st_sjoin(left, right, predicate="intersects", how=how, strategy="grid")
        assert b.schema == g.schema
        rows = sorted(map(tuple, b.collect()), key=repr)
        assert rows == sorted(map(tuple, g.collect()), key=repr)
        assert any(r[2] == BIG + 1 for r in rows)
        assert (how == "left") == any(r[6] is None for r in rows)


def test_symmetric_difference_and_coverage_union_aggregates(spark):
    df = _rects(spark, [(1, 0.0, 0.0, 2.0, 1.0), (1, 1.0, 0.0, 3.0, 1.0),
                        (2, 0.0, 0.0, 1.0, 1.0), (2, 1.0, 0.0, 2.0, 1.0),
                        (2, 0.0, 1.0, 2.0, 2.0)])
    out = {r["k"]: r for r in df.groupBy("k").agg(
        st.st_symmetric_difference_all("g").alias("sd"),
        st.st_coverage_union_all("g").alias("cu"),
    ).select("k", st.st_area("sd").alias("sd_area"), st.st_bounds("sd").alias("sd_b"),
             st.st_area("cu").alias("cu_area"), st.st_bounds("cu").alias("cu_b")).collect()}
    # [0,2]x[0,1] xor [1,3]x[0,1] = [0,1]x[0,1] + [2,3]x[0,1]
    assert out[1]["sd_area"] == pytest.approx(2.0)
    assert out[1]["sd_b"] == [0.0, 0.0, 3.0, 1.0]
    # three tiles of a 2x2 square
    assert out[2]["cu_area"] == pytest.approx(4.0)
    assert out[2]["cu_b"] == [0.0, 0.0, 2.0, 2.0]


def test_symmetric_difference_all_ordered(spark):
    df = spark.createDataFrame(
        [(1, 2, 0.0, 3.0), (1, 1, 0.0, 2.0), (1, 3, 1.0, 3.0), (2, 1, 0.0, 1.0)],
        "k int, o int, x0 double, x1 double",
    ).select("k", "o", st.st_rectangle("x0", F.lit(0.0), "x1", F.lit(1.0)).alias("g"))
    out = {r["k"]: (r["a"], r["b"]) for r in symmetric_difference_all_ordered(
        df, ["k"], "g", "o").select(
            "k", st.st_area("symdiff_geom").alias("a"),
            st.st_bounds("symdiff_geom").alias("b")).collect()}
    # ([0,2] xor [0,3]) xor [1,3] = [2,3] xor [1,3] = [1,2]
    assert out[1][0] == pytest.approx(1.0) and out[1][1] == [1.0, 0.0, 2.0, 1.0]
    assert out[2] == (pytest.approx(1.0), [0.0, 0.0, 1.0, 1.0])


def test_windowed_spatial_agg_on_batch_frame(spark):
    """On a batch frame ``withWatermark`` is a no-op: one row per window."""
    rows = [(0, 0.0), (600, 1.0), (4000, 5.0), (4100, 5.5)]
    df = spark.createDataFrame(rows, "t long, x0 double").select(
        F.col("t").cast("timestamp").alias("ts"),
        st.st_rectangle("x0", F.lit(0.0), F.col("x0") + 1, F.lit(1.0)).alias("g"))
    union = windowed_spatial_agg(df, "ts", "g", agg="union_all")
    got = sorted(r["a"] for r in union.select(st.st_area("agg_geom").alias("a")).collect())
    assert got == pytest.approx([1.5, 2.0])
    coll = windowed_spatial_agg(df, "ts", "g", agg="collect")
    got = sorted(r["n"] for r in coll.select(
        st.st_count_geometries("agg_geom").alias("n")).collect())
    assert got == [2, 2]


def test_every_library_aggregate_in_one_agg_node(spark):
    df = _rects(spark, [(1, 0.0, 0.0, 2.0, 2.0), (1, 1.0, 1.0, 3.0, 3.0)])
    out = df.groupBy("k").agg(
        st.st_union_all("g"), st.st_intersection_all("g"), st.st_difference_all("g"),
        st.st_symmetric_difference_all("g"), st.st_coverage_union_all("g"),
        st.st_collect("g"), st.st_polygonize_agg("g"), st.st_voronoi_polygons_agg("g"),
        st.st_delaunay_triangles_agg("g"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    (node,) = [ln for ln in plan.splitlines() if "ArrowAggregatePython" in ln]
    assert node.rstrip().endswith(", 252"), plan  # Arrow grouped agg, not pandas (202)
    (row,) = out.collect()
    assert all(v is not None for v in row)


def test_null_rows_across_batches_and_all_null_group(spark):
    rows = [(1, None if i % 3 == 0 else float(i), 0.0, i + 1.0, 1.0) for i in range(9)]
    rows += [(2, None, None, None, None)] * 3
    df = _rects(spark, rows)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        out = {r["k"]: r for r in df.groupBy("k").agg(
            st.st_union_all("g").alias("u"), st.st_collect("g").alias("c"),
        ).select("k", st.st_area("u").alias("a"), st.st_to_wkt("u").alias("w"),
                 st.st_count_geometries("c").alias("n")).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    # non-null rects [i, i+1] x [0, 1] for i in 1,2,4,5,7,8: [1,3]+[4,6]+[7,9]
    assert out[1]["a"] == pytest.approx(6.0)
    assert out[1]["n"] == 6
    assert out[2]["w"] == "GEOMETRYCOLLECTION EMPTY"
    assert out[2]["a"] == 0.0
