"""Tests: cast, triangulation, precision, sources, streaming, plans helpers."""

import os

import pytest
from pyspark.sql import functions as F

import polars_st_spark as st
from polars_st_spark.plans import bbox_filter, explain_str, materialize_bbox, push_window_filter
from polars_st_spark.sources import (
    read_geojson,
    read_ndgeojson,
    write_geojson,
    write_ndgeojson,
    read_geoparquet,
    write_geoparquet,
)


@pytest.fixture(scope="module")
def geoms(spark):
    rows = [
        (1, "POINT (1 2)"),
        (2, "LINESTRING (0 0, 1 0, 1 1, 0 0)"),
        (3, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
        (4, "MULTIPOINT ((0 0), (1 0), (1 1), (0 1), (0.5 0.5))"),
    ]
    return spark.createDataFrame(rows, ["id", "wkt"]).withColumn(
        "geom", st.st_from_wkt("wkt")
    ).cache()


def _v(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def test_cast(geoms):
    v = _v(geoms.withColumn("out", st.st_geometry_type(st.st_cast("geom", "GeometryCollection"))), "out")
    assert v[1] == "GeometryCollection"
    v = _v(
        geoms.where(F.col("id") == 1).withColumn(
            "out", st.st_to_wkt(st.st_cast("geom", "MultiPoint"))
        ),
        "out",
    )
    assert v[1] == "MULTIPOINT ((1 2))"


def test_delaunay_voronoi(geoms):
    d = geoms.where(F.col("id") == 4).withColumn("out", st.st_count_geometries(st.st_delaunay_triangles("geom")))
    assert _v(d, "out")[4] == 4
    vor = geoms.where(F.col("id") == 4).withColumn("out", st.st_count_geometries(st.st_voronoi_polygons("geom")))
    assert _v(vor, "out")[4] == 5


def test_precision(geoms):
    v = _v(geoms.withColumn("out", st.st_precision("geom")), "out")
    assert v[1] == 0.0
    df = geoms.where(F.col("id") == 1).withColumn(
        "out", st.st_to_wkt(st.st_set_precision(st.st_translate("geom", 0.123, 0.0), 0.5))
    )
    assert _v(df, "out")[1] == "POINT (1 2)"


def test_polygonize_build_area(geoms):
    v = _v(
        geoms.where(F.col("id") == 2).withColumn("out", st.st_area(st.st_build_area("geom"))),
        "out",
    )
    assert v[2] == 0.5
    v = _v(
        geoms.where(F.col("id") == 2).withColumn(
            "out", st.st_count_geometries(st.st_polygonize("geom"))
        ),
        "out",
    )
    assert v[2] == 1


def test_ndgeojson_roundtrip(spark, geoms, tmp_path):
    path = str(tmp_path / "nd.json")
    write_ndgeojson(geoms.select("id", "geom"), path, geometry_name="geom")
    back = read_ndgeojson(spark, path, geometry_name="geom")
    vals = {r["id"]: r["w"] for r in back.withColumn("w", st.st_to_wkt("geom")).collect()}
    assert vals[1] == "POINT (1 2)"
    assert vals[3] == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert len(vals) == 4


def test_geojson_file_roundtrip(spark, geoms, tmp_path):
    path = str(tmp_path / "fc.geojson")
    write_geojson(geoms.select("id", "geom"), path, geometry_name="geom")
    back = read_geojson(spark, path, geometry_name="geom")
    assert back.count() == 4
    vals = {r["id"]: r["w"] for r in back.withColumn("w", st.st_to_wkt("geom")).collect()}
    assert vals[1] == "POINT (1 2)"


def test_geoparquet_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "gp")
    df = spark.range(100).select(
        F.col("id"),
        st.st_point((F.col("id") % 10).cast("double"), (F.col("id") / 10).cast("double")).alias("geometry"),
    )
    write_geoparquet(df, path, partition_grid=5.0)
    assert os.path.isdir(path)
    sub = read_geoparquet(spark, path, bbox=(0, 0, 4, 4), partition_grid=5.0)
    ids = {r["id"] for r in sub.collect()}
    assert all((i % 10) <= 4 and (i / 10) <= 4 for i in ids)
    assert len(ids) > 0


def test_geoparquet_cell_prune_keeps_geometry_from_lower_cells(spark, tmp_path):
    """Cells are keyed by the bbox min corner, so a geometry whose min corner
    lies several cells left of (or below) the window still overlaps it;
    the grid read must return it, as the read without a grid does."""
    path = str(tmp_path / "gp")
    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 2000 0, 2000 100, 0 100, 0 0))"),
         (2, "POLYGON ((0 1000, 100 1000, 100 1100, 0 1100, 0 1000))")],
        "id long, wkt string").select("id", st.st_from_wkt("wkt").alias("geometry"))
    write_geoparquet(df, path, partition_grid=500.0)
    window = (1500.0, 0.0, 1600.0, 100.0)
    for grid in (500.0, None):
        got = read_geoparquet(spark, path, bbox=window, partition_grid=grid)
        assert [r["id"] for r in got.collect()] == [1]


def test_plans_bbox_pushdown(spark, tmp_path):
    path = str(tmp_path / "pq")
    df = spark.range(1000).select(
        F.col("id"),
        st.st_point((F.col("id") % 100).cast("double"), (F.col("id") % 50).cast("double")).alias("geometry"),
    )
    materialize_bbox(df).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    filtered = back.where(bbox_filter(0, 0, 10, 10))
    plan = explain_str(filtered)
    assert "PushedFilters" in plan and "bbox_xmin" in plan
    out = push_window_filter(back, (0, 0, 10, 10))
    rows = out.select("id").collect()
    assert all((r["id"] % 100) <= 10 and (r["id"] % 50) <= 10 for r in rows)


def test_streaming_stateless_ops(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    chk = str(tmp_path / "chk")
    df = spark.range(20).select(
        F.col("id"),
        (F.col("id") % 5).cast("double").alias("x"),
        (F.col("id") % 3).cast("double").alias("y"),
    )
    df.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(df.schema).parquet(src)
        .withColumn("geom", st.st_point("x", "y"))
        .withColumn("area_zone", st.st_within("geom", "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("geo_stream_test")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from geo_stream_test").collect()
    assert len(out) == 20
    hits = {r["id"] for r in out if r["area_zone"]}
    assert all((i % 5) < 3 and (i % 3) < 3 and (i % 5) > 0 and (i % 3) > 0 for i in hits)


def test_relate_sample_coincidence():
    # B exactly at A's representative interior point must not erase I x E
    from polars_st_spark.geo.predicates import relate
    from polars_st_spark.geo.wkt import from_wkt

    rect = from_wkt("POLYGON ((0 0, 18 0, 18 18, 0 18, 0 0))")
    assert relate(rect, from_wkt("POINT (9 9)")) == "0F2FF1FF2"
    assert relate(from_wkt("POINT (9 9)"), rect) == "0FFFFF212"
    line = from_wkt("LINESTRING (0 0, 2 0)")
    assert relate(line, from_wkt("POINT (1 0)")) == "0F1FF0FF2"


class TestBufferStyles:
    """Round-2 buffer semantics: caps, joins, erosion, single-sided.
    All expectations are closed-form (exact constructions or stroke algebra)."""

    def _area(self, wkt, *args, **kw):
        from polars_st_spark.geo import algos
        from polars_st_spark.geo.wkt import from_wkt

        return algos.area(algos.buffer(from_wkt(wkt), *args, **kw))

    def test_flat_cap(self):
        assert abs(self._area("LINESTRING (0 0, 10 0)", 2.0, cap_style="flat") - 40.0) < 1e-9

    def test_square_cap(self):
        assert abs(self._area("LINESTRING (0 0, 10 0)", 2.0, cap_style="square") - 56.0) < 1e-9

    def test_round_cap_approx_circle(self):
        import math
        a = self._area("LINESTRING (0 0, 10 0)", 2.0)
        assert abs(a - (40.0 + math.pi * 4.0)) < 0.2

    def test_bevel_join(self):
        a = self._area("LINESTRING (0 0, 10 0, 10 10)", 2.0, cap_style="flat", join_style="bevel")
        assert abs(a - 78.0) < 1e-9

    def test_mitre_join(self):
        a = self._area("LINESTRING (0 0, 10 0, 10 10)", 2.0, cap_style="flat", join_style="mitre")
        assert abs(a - 80.0) < 1e-9

    def test_mitre_limit_clips_spike(self):
        # GEOS semantics: over-limit mitre is CLIPPED at L*dist along the
        # bisector. 90-degree corner, d=2, L=1.1: cut parameter
        # t = L*sqrt(2)-1, corner area = d^2 * (1 - (1-t)^2 / 2).
        import math
        t = 1.1 * math.sqrt(2.0) - 1.0
        corner = 4.0 * (1.0 - (1.0 - t) ** 2 / 2.0)
        a = self._area("LINESTRING (0 0, 10 0, 10 10)", 2.0, cap_style="flat",
                       join_style="mitre", mitre_limit=1.1)
        assert abs(a - (76.0 + corner)) < 1e-9

    def test_mitre_limit_below_corner_is_bevel(self):
        # limit below cos(half-angle): the cut falls below the offset points,
        # degenerating to the bevel triangle
        a = self._area("LINESTRING (0 0, 10 0, 10 10)", 2.0, cap_style="flat",
                       join_style="mitre", mitre_limit=0.5)
        assert abs(a - 78.0) < 1e-9

    def test_mitre_clip_rect_fast_path(self):
        # axis-rect fast path: dodecagon with each corner cut at t = L*sqrt(2)-1
        import math
        t = 1.1 * math.sqrt(2.0) - 1.0
        corners = 4.0 * 4.0 * (1.0 - (1.0 - t) ** 2 / 2.0)
        a = self._area("POLYGON ((0 0, 18 0, 18 18, 0 18, 0 0))", 2.0,
                       join_style="mitre", mitre_limit=1.1)
        assert abs(a - (324.0 + 144.0 + corners)) < 1e-9

    def test_mitre_clip_general_path_matches_fast_path(self):
        # same square rotated 45 degrees goes through the general overlay
        # path; rotation-invariant area must agree with the fast path
        import math

        from polars_st_spark.geo import algos
        from polars_st_spark.geo.wkt import from_wkt

        sq = from_wkt("POLYGON ((0 0, 18 0, 18 18, 0 18, 0 0))")
        rot = algos.rotate(sq, 45.0)
        a = algos.area(algos.buffer(rot, 2.0, join_style="mitre", mitre_limit=1.1))
        t = 1.1 * math.sqrt(2.0) - 1.0
        expect = 324.0 + 144.0 + 16.0 * (1.0 - (1.0 - t) ** 2 / 2.0)
        assert abs(a - expect) < 1e-6

    def test_erode_rect_exact(self):
        a = self._area("POLYGON ((0 0, 18 0, 18 18, 0 18, 0 0))", -2.0)
        assert abs(a - 196.0) < 1e-9

    def test_erode_to_empty(self):
        assert self._area("POLYGON ((0 0, 18 0, 18 18, 0 18, 0 0))", -10.0) == 0.0

    def test_erode_triangle_general_path(self):
        import math
        a = self._area("POLYGON ((0 0, 10 0, 0 10, 0 0))", -1.0)
        assert abs(a - (33.0 - 8.0 * math.sqrt(2.0))) < 0.05

    def test_zero_distance(self):
        assert abs(self._area("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", 0.0) - 16.0) < 1e-9
        assert self._area("LINESTRING (0 0, 4 0)", 0.0) == 0.0

    def test_point_caps(self):
        assert abs(self._area("POINT (3 4)", 2.0, cap_style="square") - 16.0) < 1e-9
        assert self._area("POINT (3 4)", 2.0, cap_style="flat") == 0.0

    def test_single_sided(self):
        a = self._area("LINESTRING (0 0, 10 0)", 2.0, single_sided=True)
        assert abs(a - 20.0) < 1e-9
        a = self._area("LINESTRING (0 0, 10 0)", -2.0, single_sided=True)
        assert abs(a - 20.0) < 1e-9
        a = self._area("LINESTRING (0 0, 10 0, 10 10)", 2.0, single_sided=True)
        assert abs(a - 36.0) < 1e-9

    def test_bad_style_raises(self):
        import pytest
        with pytest.raises(ValueError):
            self._area("POINT (0 0)", 1.0, cap_style="pointy")
