"""register_sql_functions: the ST_* SQL surface must produce exactly what
the Column API produces (same UDF objects, fast paths included)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import polars_st_spark as st
from polars_st_spark.functions.sqlreg import SQL_FUNCTIONS


@pytest.fixture(scope="module")
def sql_ready(spark):
    names = st.register_sql_functions(spark)
    assert set(SQL_FUNCTIONS) <= set(names)
    df = spark.range(20).select(
        F.col("id").alias("k"),
        st.st_point(F.col("id") % 7 + 0.5, (F.col("id") * 3) % 5 + 0.5).alias("pt"),
        st.st_rectangle(F.lit(2.0), F.lit(1.0), F.lit(5.0), F.lit(4.0)).alias("rect"),
    )
    df.createOrReplaceTempView("sqlreg_t")
    return spark


def test_sql_scalar_functions_match_column_api(sql_ready):
    spark = sql_ready
    got = spark.sql("""
        SELECT k, st_area(rect) AS a, st_length(rect) AS l,
               st_x(pt) AS x, st_y(pt) AS y, st_srid(pt) AS srid,
               st_geometry_type(pt) AS t, st_is_valid(rect) AS v,
               st_is_empty(pt) AS e
        FROM sqlreg_t ORDER BY k
    """).collect()
    ref = (spark.table("sqlreg_t").select(
        "k",
        st.st_area("rect").alias("a"), st.st_length("rect").alias("l"),
        st.st_x("pt").alias("x"), st.st_y("pt").alias("y"),
        st.st_srid("pt").alias("srid"),
        st.st_geometry_type("pt").alias("t"),
        st.st_is_valid("rect").alias("v"), st.st_is_empty("pt").alias("e"),
    ).orderBy("k").collect())
    assert [r.asDict() for r in got] == [r.asDict() for r in ref]


def test_sql_predicates_match_column_api(sql_ready):
    spark = sql_ready
    got = spark.sql("""
        SELECT k, st_intersects(pt, rect) AS i, st_within(pt, rect) AS w,
               st_contains(rect, pt) AS c, st_disjoint(pt, rect) AS d,
               st_touches(pt, rect) AS t
        FROM sqlreg_t ORDER BY k
    """).collect()
    ref = (spark.table("sqlreg_t").select(
        "k",
        st.st_intersects("pt", F.col("rect")).alias("i"),
        st.st_within("pt", F.col("rect")).alias("w"),
        st.st_contains("rect", F.col("pt")).alias("c"),
        st.st_disjoint("pt", F.col("rect")).alias("d"),
        st.st_touches("pt", F.col("rect")).alias("t"),
    ).orderBy("k").collect())
    assert [r.asDict() for r in got] == [r.asDict() for r in ref]
    # sanity: the data actually exercises both outcomes
    assert {r["i"] for r in got} == {True, False}


def test_sql_distance_matches_column_api(sql_ready):
    spark = sql_ready
    got = spark.sql(
        "SELECT k, st_distance(pt, rect) AS d FROM sqlreg_t ORDER BY k"
    ).collect()
    ref = (spark.table("sqlreg_t").select(
        "k", st.st_distance("pt", F.col("rect")).alias("d"))
        .orderBy("k").collect())
    assert [r.asDict() for r in got] == [r.asDict() for r in ref]
    assert any(r["d"] > 0 for r in got) and any(r["d"] == 0 for r in got)


def test_sql_wkt_roundtrip(sql_ready):
    spark = sql_ready
    rows = spark.sql("""
        SELECT st_to_wkt(pt) AS w,
               st_x(st_from_wkt(st_to_wkt(pt))) AS x2, st_x(pt) AS x1
        FROM sqlreg_t
    """).collect()
    for r in rows:
        assert r["w"].startswith("POINT")
        assert r["x2"] == r["x1"]


def test_register_is_idempotent(sql_ready):
    names = st.register_sql_functions(sql_ready)
    assert "st_area" in names
    assert sql_ready.sql(
        "SELECT st_area(rect) AS a FROM sqlreg_t LIMIT 1").collect()[0]["a"] == 9.0


# ----------------------------------------------------------------------
# r9: full-inventory registry — parameterized ops, set ops, aggregates
# ----------------------------------------------------------------------

def _match(spark, sql_exprs: str, ref_cols, order="k"):
    got = spark.sql(
        f"SELECT k, {sql_exprs} FROM sqlreg_t ORDER BY {order}").collect()
    ref = (spark.table("sqlreg_t").select("k", *ref_cols)
           .orderBy(order).collect())
    assert [r.asDict() for r in got] == [r.asDict() for r in ref]
    return got


def test_sql_registry_size(sql_ready):
    assert len(SQL_FUNCTIONS) >= 60


def test_sql_parameterized_constructive_match_column_api(sql_ready):
    got = _match(
        sql_ready,
        """st_area(st_buffer(pt, 2.0)) AS ba,
           st_to_wkt(st_simplify(rect, 0.5)) AS simp,
           st_to_wkt(st_segmentize(rect, 1.5)) AS seg,
           st_to_wkt(st_remove_repeated_points(rect, 0.0)) AS rrp,
           st_to_wkt(st_set_precision(pt, 0.5)) AS sp""",
        [
            st.st_area(st.st_buffer("pt", 2.0)).alias("ba"),
            st.st_to_wkt(st.st_simplify("rect", 0.5)).alias("simp"),
            st.st_to_wkt(st.st_segmentize("rect", 1.5)).alias("seg"),
            st.st_to_wkt(st.st_remove_repeated_points("rect", 0.0)).alias("rrp"),
            st.st_to_wkt(st.st_set_precision("pt", 0.5)).alias("sp"),
        ],
    )
    assert all(r["ba"] > 0 for r in got)


def test_sql_affine_match_column_api(sql_ready):
    _match(
        sql_ready,
        """st_to_wkt(st_translate(pt, 3.0, -1.0)) AS tr,
           st_to_wkt(st_rotate(rect, 90.0)) AS ro,
           st_to_wkt(st_scale(rect, 2.0, 3.0)) AS sc,
           st_to_wkt(st_skew(rect, 10.0, 0.0)) AS sk,
           st_to_wkt(st_flip_coordinates(pt)) AS fl""",
        [
            st.st_to_wkt(st.st_translate("pt", 3.0, -1.0)).alias("tr"),
            st.st_to_wkt(st.st_rotate("rect", 90.0)).alias("ro"),
            st.st_to_wkt(st.st_scale("rect", 2.0, 3.0)).alias("sc"),
            st.st_to_wkt(st.st_skew("rect", 10.0, 0.0)).alias("sk"),
            st.st_to_wkt(st.st_flip_coordinates("pt")).alias("fl"),
        ],
    )


def test_sql_setops_match_column_api(sql_ready):
    _match(
        sql_ready,
        """st_to_wkt(st_intersection(pt, rect)) AS i,
           st_to_wkt(st_union(pt, rect)) AS u,
           st_to_wkt(st_difference(rect, pt)) AS d,
           st_to_wkt(st_symmetric_difference(pt, rect)) AS s,
           st_to_wkt(st_shortest_line(pt, rect)) AS sl""",
        [
            st.st_to_wkt(st.st_intersection("pt", F.col("rect"))).alias("i"),
            st.st_to_wkt(st.st_union("pt", F.col("rect"))).alias("u"),
            st.st_to_wkt(st.st_difference("rect", F.col("pt"))).alias("d"),
            st.st_to_wkt(st.st_symmetric_difference("pt", F.col("rect"))).alias("s"),
            st.st_to_wkt(st.st_shortest_line("pt", F.col("rect"))).alias("sl"),
        ],
    )


def test_sql_crs_match_column_api(sql_ready):
    _match(
        sql_ready,
        """st_srid(st_set_srid(pt, 4326)) AS srid,
           st_to_wkt(st_to_srid(st_set_srid(pt, 4326), 3857)) AS merc""",
        [
            st.st_srid(st.st_set_srid("pt", 4326)).alias("srid"),
            st.st_to_wkt(st.st_to_srid(st.st_set_srid("pt", 4326), 3857)).alias("merc"),
        ],
    )


def test_sql_relate_family_match_column_api(sql_ready):
    got = _match(
        sql_ready,
        """st_relate(pt, rect) AS rel,
           st_relate_pattern(pt, rect, 'T********') AS rp,
           st_dwithin(pt, rect, 1.5) AS dw,
           st_equals_exact(pt, pt, 0.0) AS ee""",
        [
            st.st_relate("pt", F.col("rect")).alias("rel"),
            st.st_relate_pattern("pt", F.col("rect"), "T********").alias("rp"),
            st.st_dwithin("pt", F.col("rect"), 1.5).alias("dw"),
            st.st_equals_exact("pt", F.col("pt"), 0.0).alias("ee"),
        ],
    )
    assert {r["dw"] for r in got} == {True, False}
    assert all(r["ee"] for r in got)


def test_sql_constructive_zero_param_match_column_api(sql_ready):
    _match(
        sql_ready,
        """st_to_wkt(st_centroid(rect)) AS c,
           st_to_wkt(st_convex_hull(rect)) AS ch,
           st_to_wkt(st_envelope(rect)) AS e,
           st_to_wkt(st_boundary(rect)) AS b,
           st_to_wkt(st_reverse(rect)) AS r,
           st_bounds(rect) AS bd,
           st_count_coordinates(rect) AS cc""",
        [
            st.st_to_wkt(st.st_centroid("rect")).alias("c"),
            st.st_to_wkt(st.st_convex_hull("rect")).alias("ch"),
            st.st_to_wkt(st.st_envelope("rect")).alias("e"),
            st.st_to_wkt(st.st_boundary("rect")).alias("b"),
            st.st_to_wkt(st.st_reverse("rect")).alias("r"),
            st.st_bounds("rect").alias("bd"),
            st.st_count_coordinates("rect").alias("cc"),
        ],
    )


def test_sql_per_row_parameter_dispatch(sql_ready):
    # non-constant parameter column: each row buffers by its own distance
    rows = sql_ready.sql("""
        SELECT k, st_area(st_buffer(pt, cast(k + 1 AS double))) AS a
        FROM sqlreg_t ORDER BY k
    """).collect()
    ref = (sql_ready.table("sqlreg_t")
           .select("k", st.st_area(st.st_buffer(
               "pt", (F.col("k") + 1).cast("double"))).alias("a"))
           .orderBy("k").collect())
    assert [r.asDict() for r in rows] == [r.asDict() for r in ref]
    assert rows[0]["a"] < rows[-1]["a"]


def test_sql_aggregates_in_group_by(sql_ready):
    """SQL GROUP BY runs the aggregates as Arrow grouped-aggregate UDFs
    (evalType 252): Spark rejects a SQL function that wraps an aggregate,
    so the Column API's collect_list form is not registered."""
    sql = sql_ready.sql("""
        SELECT k % 2 AS b, st_area(st_union_all(rect)) AS a,
               st_count_geometries(st_collect(pt)) AS n
        FROM sqlreg_t GROUP BY k % 2 ORDER BY b
    """)
    plan = sql._jdf.queryExecution().executedPlan().toString()
    (node,) = [ln for ln in plan.splitlines() if "ArrowAggregatePython" in ln]
    assert node.rstrip().endswith(", 252"), plan
    got = sql.collect()
    ref = (sql_ready.table("sqlreg_t")
           .groupBy((F.col("k") % 2).alias("b"))
           .agg(st.st_area(st.st_union_all("rect")).alias("a"),
                st.st_count_geometries(st.st_collect("pt")).alias("n"))
           .orderBy("b").collect())
    assert [r.asDict() for r in got] == [r.asDict() for r in ref]
    assert all(r["a"] == 9.0 for r in got)  # identical rects union to one
    assert sum(r["n"] for r in got) == 20


def test_sql_null_parameter_yields_null(sql_ready):
    row = sql_ready.sql("""
        SELECT st_buffer(pt, cast(NULL AS double)) AS b FROM sqlreg_t LIMIT 1
    """).collect()[0]
    assert row["b"] is None
