"""Physical-plan audits: the regressions that silently destroy scale
(duplicated pandas-UDF evaluation, lost broadcast, lost pushdown) assert on
the formatted plan, not on timings (VERDICT r1 plan-audit discipline)."""

from pyspark.sql import functions as F

import polars_st_spark as st
from polars_st_spark.plans import explain_str, python_fanout, stages


def _count(plan: str, token: str) -> int:
    # formatted explain prints each node in the tree AND in the detail list;
    # count detail headers like "(9) ArrowEvalPython" for the true node count
    return sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and token in line and ")" in line.split(token)[0]
    )


def _scan_rows(df) -> int:
    """Rows the parquet scans of ``df``'s executed plan output."""
    return sum(n.metrics().apply("numOutputRows").value()
               for stage in stages(df) for n in stage
               if n.nodeName().startswith("Scan parquet"))


def test_predicate_join_single_udf_eval(spark):
    """b2 shape: broadcast pairs + one predicate UDF — exactly one
    ArrowEvalPython, and the join stays a BroadcastNestedLoop/Broadcast
    without a shuffle of the big side."""
    li = spark.range(1000).select(
        F.col("id").alias("l_orderkey"),
        st.st_rectangle(F.col("id") % 7 * 5.0, F.lit(0.0),
                        F.col("id") % 7 * 5.0 + 4.0, F.lit(4.0)).alias("rect"))
    nat = spark.range(5).select(
        F.col("id").alias("n_nationkey"),
        st.st_rectangle(F.col("id") * 20.0, F.lit(0.0),
                        F.col("id") * 20.0 + 18.0, F.lit(18.0)).alias("nrect"))
    pairs = li.join(F.broadcast(nat))
    out = pairs.select(F.sum(st.st_intersects("rect", "nrect").cast("int")))
    plan = explain_str(out)
    assert _count(plan, "ArrowEvalPython") <= 3  # rect + nrect + predicate
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0]


def test_grid_sjoin_no_udf_duplication(spark):
    """Grid sjoin: the bounds UDF stack must evaluate once per side, not be
    duplicated through the Generate (explode) — round-1 pitfall #2."""
    from polars_st_spark.operators.sjoin import st_sjoin

    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        st.st_point((F.col("id") % 10).cast("double"),
                    (F.col("id") % 7).cast("double")).alias("geometry"))
    rects = spark.range(4).select(
        F.col("id").alias("rid"),
        st.st_rectangle(F.col("id") * 5.0, F.lit(0.0),
                        F.col("id") * 5.0 + 4.0, F.lit(4.0)).alias("geometry"))
    out = st_sjoin(pts, rects, predicate="within", strategy="grid", cell_size=5.0)
    plan = explain_str(out)
    # two sides x (geometry ctor + bounds) = 4; duplication through Generate
    # showed up as 10 in round 1
    assert _count(plan, "ArrowEvalPython") <= 6


def _rect_rows(spark, rows, schema):
    """``(id, x0, y0, x1, y1)`` tuples -> a frame of ``(id, EWKB)`` built
    from a Python list: Catalyst has no statistics for it."""
    import numpy as np

    from polars_st_spark.geo.types import Geometry, GeometryType
    from polars_st_spark.geo.wkb import to_ewkb

    def rect(i, x0, y0, x1, y1):
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        return (i, bytearray(to_ewkb(Geometry(GeometryType.Polygon, rings=[ring]))))

    return spark.createDataFrame([rect(*r) for r in rows], schema)


def _parcels_zones(spark):
    parcels = _rect_rows(spark, [(i, i * 1.0, 0.0, i + 1.5, 1.0) for i in range(40)],
                         "pid long, geom binary")
    zones = _rect_rows(spark, [(i, i * 10.0, -1.0, i * 10.0 + 4.0, 2.0) for i in range(4)],
                       "zid long, geom binary")
    want = sum(1 for i in range(40) for z in range(4)
               if i <= z * 10.0 + 4.0 and z * 10.0 <= i + 1.5)
    return parcels, zones, want


def _python_rows(df, token: str) -> list[int]:
    """Rows each Python node of ``df``'s executed plan whose description
    holds ``token`` received, one entry per node."""
    return [n.metrics().apply("pythonNumRowsReceived").value()
            for stage in stages(df) for n in stage
            if n.nodeName().startswith("ArrowEvalPython") and token in n.simpleString(25)]


def test_filter_pairs_one_bounds_pass_per_side(spark):
    """filter_pairs plans exactly 3 ArrowEvalPython nodes: one bounds pass
    per side and the refine. The bbox join condition rejects nulls, so
    Catalyst infers isnotnull(_lbox)/isnotnull(_rbox) and pushes it below
    the box projection; a deterministic bounds UDF was cloned into that
    filter (5 nodes)."""
    parcels, zones, want = _parcels_zones(spark)
    out = st.filter_pairs(parcels, zones, predicate="intersects", lcol="geom", rcol="geom")
    plan = explain_str(out)
    assert _count(plan, "ArrowEvalPython") == 3, plan
    assert out.count() == want


def test_filter_pairs_without_statistics_bounds_right_side_once(spark):
    """Inputs Catalyst cannot size take the prune plan, and the right side
    is not broadcast: the cross join is a CartesianProduct, which reads
    its right side once per left partition. The boxed right side is
    repartitioned, so its bounds pass runs once in a map stage of its own
    (4 rows in) and the product's stage holds the left bounds pass and
    the refine: fan-out 2, not 3. The repartition keeps
    defaultParallelism partitions whatever spark.sql.shuffle.partitions
    is, so the product does not run one task per shuffle partition."""
    parcels, zones, want = _parcels_zones(spark)
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        out = st.filter_pairs(parcels, zones, predicate="intersects",
                              lcol="geom", rcol="geom")
        plan = explain_str(out)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    n = spark.sparkContext.defaultParallelism
    assert f", {n}), REPARTITION_BY_NUM" in plan, plan
    assert out._chosen_strategy == "prune"
    assert len(out.collect()) == want
    assert "CartesianProduct" in explain_str(out)
    assert python_fanout(out) == 2
    assert sorted(_python_rows(out, "_bounds_udf(geom#")) == [4, 40]


def _rects(spark, n=200):
    """``n`` 3x2 rectangles on a 20-wide lattice, pitch 5, with their
    corners as columns."""
    return spark.range(n).select(
        F.col("id"),
        ((F.col("id") % 20) * 5.0).alias("x"),
        (F.floor(F.col("id") / 20) * 5.0).alias("y"),
    ).select("id", "x", "y", st.st_rectangle(
        "x", "y", F.col("x") + 3.0, F.col("y") + 2.0).alias("geometry"))


def _in_window(rows, window):
    x0, y0, x1, y1 = window
    return {r["id"] for r in rows
            if r["x"] <= x1 and r["x"] + 3.0 >= x0 and r["y"] <= y1 and r["y"] + 2.0 >= y0}


def test_geoparquet_bbox_read_one_python_node(spark, tmp_path):
    """read_geoparquet(bbox) + st_area: the window is plain comparisons on
    the stored bbox columns, pushed into the parquet scan, and st_area is
    the only Python node, so the stage runs one Python worker per core."""
    from polars_st_spark.sources.parquet_io import read_geoparquet, write_geoparquet

    src = _rects(spark)
    path = str(tmp_path / "gpq")
    write_geoparquet(src, path, partition_grid=40.0)
    window = (12.0, 7.0, 31.0, 24.0)
    out = read_geoparquet(spark, path, bbox=window, partition_grid=40.0).select(
        "id", st.st_area("geometry").alias("a"))
    plan = explain_str(out)
    assert _count(plan, "ArrowEvalPython") == 1, plan
    pushed = next(ln for ln in plan.splitlines() if ln.startswith("PushedFilters"))
    for c in ("LessThanOrEqual(bbox_xmin,31.0)", "GreaterThanOrEqual(bbox_xmax,12.0)",
              "LessThanOrEqual(bbox_ymin,24.0)", "GreaterThanOrEqual(bbox_ymax,7.0)"):
        assert c in pushed, pushed
    rows = out.collect()
    assert python_fanout(out) == 1
    assert {r["id"] for r in rows} == _in_window(src.collect(), window)
    assert {r["a"] for r in rows} == {6.0}


def test_geoparquet_bbox_columns_native_and_foreign(spark, tmp_path):
    """write_geoparquet stores the bbox columns and read_geoparquet drops
    them, with or without a window. A plain parquet file without them
    returns the same rows for a window: its bbox is derived from the
    geometry by one bounds pass."""
    from polars_st_spark.plans import BBOX_COLS
    from polars_st_spark.sources.parquet_io import read_geoparquet, write_geoparquet

    src = _rects(spark)
    native, foreign = str(tmp_path / "native"), str(tmp_path / "foreign")
    write_geoparquet(src, native)
    src.write.parquet(foreign)
    assert set(BBOX_COLS) <= set(spark.read.parquet(native).columns)
    assert read_geoparquet(spark, native).columns == src.columns
    window = (12.0, 7.0, 31.0, 24.0)
    want = _in_window(src.collect(), window)
    for path in (native, foreign):
        out = read_geoparquet(spark, path, bbox=window)
        assert out.columns == src.columns
        assert {r["id"] for r in out.collect()} == want


def test_geoparquet_zorder_bbox_read_scans_fewer_rows(spark, tmp_path):
    """A Z-ordered GeoParquet file has spatially tight bbox min/max stats
    per file, so a small window skips whole row groups in the scan: it
    outputs fewer rows than the file holds."""
    from polars_st_spark.sources.parquet_io import read_geoparquet, write_geoparquet

    src = _rects(spark, 400)
    path = str(tmp_path / "zgpq")
    write_geoparquet(src, path, zorder=True, extent=(0.0, 0.0, 100.0, 100.0))
    window = (0.0, 0.0, 12.0, 12.0)
    out = read_geoparquet(spark, path, bbox=window)
    rows = out.collect()
    assert {r["id"] for r in rows} == _in_window(src.collect(), window)
    assert len(rows) <= _scan_rows(out) < 400


def test_geoparquet_zorder_write_one_bounds_pass(spark):
    """write_geoparquet(zorder=True) derives the Z-order key from the bbox
    columns it writes: the frame it writes evaluates st_bounds once."""
    from polars_st_spark.sources.parquet_io import _with_layout

    out = _with_layout(_rects(spark, 400), "geometry", None, True,
                       (0.0, 0.0, 100.0, 100.0), 16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert sum(ln.count("_bounds_udf(") for ln in plan.splitlines()
               if "ArrowEvalPython" in ln) == 1, plan
    assert "Exchange rangepartitioning" in plan, plan


def test_filter_pairs_python_fanout_is_two(spark, tmp_path):
    """The prune plan with a broadcast right side: the streamed side
    chains its bounds pass and the refine in one stage, two Python workers
    per core. Parquet reads take that plan: Catalyst sizes them but has no
    row count for them. Sides with a row count and a small pair payload
    take the cross plan instead (one node, see
    test_join_agg_shapes_one_python_node_per_stage)."""
    path = str(tmp_path / "rects")
    _rects(spark, 60).write.parquet(path)
    rects = spark.read.parquet(path)
    parcels = rects.select(F.col("id").alias("pid"), "geometry")
    zones = rects.where(F.col("id") < 4).select(F.col("id").alias("zid"), "geometry")
    out = st.filter_pairs(parcels, zones, predicate="intersects")
    assert out._chosen_strategy == "prune"
    assert sorted((r.pid, r.zid) for r in out.collect()) == [(i, i) for i in range(4)]
    assert python_fanout(out) == 2


def _local(spark, n, key, x0=0.0, pitch=1.0):
    """``n`` unit squares at ``x0 + i * pitch`` as a local (Arrow-built)
    frame: Catalyst knows its size and row count."""
    import numpy as np
    import pyarrow as pa

    from polars_st_spark.geo.types import Geometry, GeometryType
    from polars_st_spark.geo.wkb import to_ewkb

    def square(x):
        ring = np.array([[x, 0.0], [x + 1.5, 0.0], [x + 1.5, 1.0], [x, 1.0], [x, 0.0]])
        return to_ewkb(Geometry(GeometryType.Polygon, rings=[ring]))

    return spark.createDataFrame(pa.table({
        key: pa.array(range(n), pa.int64()),
        "grp": pa.array([i % 5 for i in range(n)], pa.int64()),
        "geom": pa.array([square(x0 + i * pitch) for i in range(n)], pa.binary())}))


def test_join_agg_shapes_one_python_node_per_stage(spark):
    """Each join_agg query shape runs one Python node per stage: a grouped
    union (single and two-phase) or intersection_all followed by st_area
    (the aggregate's UDF and st_area chain in one ArrowEvalPython node
    above the collect_list), and filter_pairs over a small cross (the
    cross plan: one refine node)."""
    from polars_st_spark.operators.grouped import union_all_grouped, union_all_two_phase

    parcels = _local(spark, 40, "pid").cache()
    zones = _local(spark, 4, "zid", pitch=10.0).cache()

    def area_sum(d, col):
        return d.select(st.st_area(col).alias("a")).agg(F.count(F.lit(1)), F.sum("a"))

    single = union_all_grouped(parcels, ["grp"], "geom")
    assert single._chosen_strategy == "single"
    shapes = [
        area_sum(single, "union_geom"),
        area_sum(union_all_two_phase(parcels, ["grp"], "geom"), "union_geom"),
        area_sum(parcels.groupBy("grp").agg(st.st_intersection_all("geom").alias("g")), "g"),
    ]
    pairs = st.filter_pairs(parcels, zones, predicate="intersects", lcol="geom", rcol="geom")
    assert pairs._chosen_strategy == "cross"
    shapes.append(pairs.agg(F.count(F.lit(1))))
    for d in shapes:
        d.collect()
        assert python_fanout(d) == 1, explain_str(d)
    assert pairs.count() == sum(1 for i in range(40) for z in range(4)
                                if i <= z * 10.0 + 1.5 and z * 10.0 <= i + 1.5)


def test_filter_pairs_prunes_when_pairs_exceed_broadcast_guard(spark):
    """Two sized sides whose pair payload (rows_l * size_r + rows_r *
    size_l) exceeds 64 MB take the prune plan; the same sides cut to 40
    rows take the cross plan. No job runs to decide."""
    from polars_st_spark.plans import plan_stats

    big = _local(spark, 3000, "pid")
    (size, rows) = plan_stats(big)
    assert rows == 3000 and 2 * rows * size > 64 * 1024 * 1024
    out = st.filter_pairs(big, big.withColumnRenamed("pid", "zid"), lcol="geom", rcol="geom")
    assert out._chosen_strategy == "prune"
    assert _count(explain_str(out), "ArrowEvalPython") == 3
    small = big.limit(40)
    out = st.filter_pairs(small, small.withColumnRenamed("pid", "zid"), lcol="geom", rcol="geom")
    assert out._chosen_strategy == "cross"
    assert _count(explain_str(out), "ArrowEvalPython") == 1


def _ancestors(plan: str, token: str) -> list[str]:
    """Node lines above the first plan-tree line holding ``token``."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    at = next(i for i, ln in enumerate(lines) if token in ln)
    out, d = [], depth[at]
    for i in range(at - 1, -1, -1):
        if depth[i] < d:
            out.append(lines[i].strip(" :+-"))
            d = depth[i]
    return out


def test_filter_pairs_later_filter_reaches_scan(spark, tmp_path):
    """A filter on a left column after filter_pairs is pushed through the
    join and below the left bounds pass, down to the parquet scan: the
    bounds UDF only sees the rows that survive it."""
    path = str(tmp_path / "parcels")
    _rect_rows(spark, [(i, i * 1.0, 0.0, i + 1.5, 1.0) for i in range(40)],
               "pid long, geom binary").write.parquet(path)
    parcels = spark.read.parquet(path)
    zones = _rect_rows(spark, [(i, i * 10.0, 0.0, i * 10.0 + 4.0, 1.0) for i in range(4)],
                       "zid long, geom binary")
    out = st.filter_pairs(parcels, zones, predicate="intersects", lcol="geom",
                          rcol="geom").where(F.col("pid") < 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    above = _ancestors(plan, "(pid#")
    assert any(a.startswith("ArrowEvalPython") and "_bounds_udf" in a for a in above), plan
    assert "LessThan(pid,5)" in explain_str(out)
    assert sorted((r.pid, r.zid) for r in out.collect()) == [(i, 0) for i in range(5)]


def test_grid_sjoin_later_filter_reaches_scan(spark, tmp_path):
    """Grid st_sjoin: one bounds pass per side, and a filter on a left
    column after the join is pushed below the left bounds pass, down to
    the parquet scan."""
    from polars_st_spark.operators.sjoin import st_sjoin

    path = str(tmp_path / "rects")
    _rects(spark, 60).write.parquet(path)
    rects = spark.read.parquet(path)
    parcels = rects.select(F.col("id").alias("pid"), "geometry")
    zones = rects.where(F.col("id") < 4).select(F.col("id").alias("zid"), "geometry")
    out = st_sjoin(parcels, zones, predicate="intersects", strategy="grid",
                   cell_size=5.0).where(F.col("pid") < 2)
    plan = explain_str(out)
    assert plan.count("_bounds_udf(geometry") == 2, plan
    above = _ancestors(out._jdf.queryExecution().executedPlan().toString(), "LessThan(id,2)")
    assert any(a.startswith("ArrowEvalPython") and "_bounds_udf" in a for a in above)
    assert sorted((r.pid, r.zid) for r in out.collect()) == [(0, 0), (1, 1)]


def test_geoparquet_pushdown(spark, tmp_path):
    """bbox-materialized parquet: the window filter must reach the scan."""
    from polars_st_spark.plans import materialize_bbox, push_window_filter

    df = spark.range(100).select(
        F.col("id"),
        st.st_point((F.col("id") % 10).cast("double"),
                    (F.col("id") % 7).cast("double")).alias("geometry"))
    path = str(tmp_path / "bbox_parquet")
    materialize_bbox(df).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    filtered = push_window_filter(back, (2.0, 2.0, 6.0, 6.0))
    plan = explain_str(filtered)
    assert "PushedFilters" in plan and "bbox_xmin" in plan
    # the prefilter is codegen; the exact predicate is the stage's only
    # Python node
    assert {r["id"] for r in filtered.collect()} == {
        i for i in range(100) if 2 <= i % 10 <= 6 and 2 <= i % 7 <= 6}
    assert python_fanout(filtered) == 1


def test_dedup_sig_single_pass_with_cache(spark):
    """near_dup_pairs with materialize='cache': the signature UDF appears in
    the plan via InMemoryRelation (one pass), not as two live UDF branches."""
    from polars_st_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with some shared tokens") for i in range(20)],
        ["doc_id", "text"])
    out = D.near_dup_pairs(docs, threshold=0.05, hash_family="md5")
    plan = explain_str(out)
    assert "InMemoryTableScan" in plan


def test_hygiene_signals_no_shuffle(spark):
    """Per-doc hygiene signals (incl. the top-n-gram mode) are one codegen
    projection: NO Exchange, NO Python workers anywhere in the plan."""
    from polars_st_spark.operators import filters as H

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 9).cast("string"), F.lit(" x y z")).alias("text"),
    )
    plan = explain_str(H.repetition_signals(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_decontaminate_broadcast_semi_join(spark):
    """Decontamination must be a map-side broadcast semi-join: the corpus
    n-gram side sees no hash-partition Exchange before the join."""
    from polars_st_spark.operators import filters as H

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c d e f g h i j k l").alias("text"))
    bench = spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f g h").alias("text"))
    plan = explain_str(H.decontaminate(docs, bench, n=8, mode="tag"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the big side reaches the semi-join without a hash repartition
    semi_seg = plan.split("LeftSemi")[0]
    assert "Exchange hashpartitioning" not in semi_seg.split("BroadcastExchange")[0]


def test_line_dedup_single_line_shuffle(spark):
    """line_dedup shuffles once on the line hash and once to reassemble
    docs — no joins against corpus text, no extra exchanges."""
    from polars_st_spark.operators import filters as H

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 5).cast("string"), F.lit("\nu"),
                 F.col("id").cast("string")).alias("text"))
    plan = explain_str(H.line_dedup(docs))
    # window on line-hash + groupBy doc + rejoin to carry non-text cols:
    # <= 4 hash exchanges total (2 would be the no-extra-columns floor)
    assert _count(plan, "Exchange") <= 4


def test_pq_encode_single_arrow_pass(spark):
    """pq_encode is one ArrowEvalPython over the corpus — the codebook is
    closure-shipped, never joined."""
    import numpy as np

    from polars_st_spark.operators import quant as Q

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 2)).cast("double") for i in range(16)]).alias("embedding"))
    books = np.arange(2 * 4 * 8, dtype=np.float64).reshape(2, 4, 8) / 64.0
    plan = explain_str(Q.pq_encode(emb, books))
    assert _count(plan, "ArrowEvalPython") == 1
    assert "Exchange" not in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key (same bucket count) join with
    ZERO Exchange — the pay-once co-location contract of write_bucketed."""
    from polars_st_spark.plans import write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
        b = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
        write_bucketed(a, "bk_a", ["k"], n_buckets=8)
        write_bucketed(b, "bk_b", ["k"], n_buckets=8)
        joined = spark.table("bk_a").join(spark.table("bk_b"), on="k")
        plan = explain_str(joined)
        assert "SortMergeJoin" in plan
        assert _count(plan, "Exchange") == 0, plan
        assert joined.count() == 5000
        # and a groupBy on the bucket key needs no exchange either
        agg_plan = explain_str(spark.table("bk_a").groupBy("k").agg(F.sum("va")))
        assert _count(agg_plan, "Exchange") == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_url_and_script_ops_pure_codegen(spark):
    """URL curation + script detection are single codegen projections:
    no Exchange, no Python workers."""
    from polars_st_spark.operators import textops as T
    from polars_st_spark.operators import weburl as W

    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://a"), F.col("id").cast("string"),
                 F.lit(".example.co.uk/p?utm_a=1&id=2")).alias("url"),
        F.lit("some text").alias("text"),
    )
    out = df.select(
        W.registered_domain(W.url_host("url")).alias("dom"),
        W.url_strip_tracking("url").alias("clean"),
        T.dominant_script("text").alias("script"),
        *[v.alias(k) for k, v in T.script_fracs("text").items()],
    )
    plan = explain_str(out)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ngram_coverage_partial_aggregation(spark):
    """The shingle-ownership min-agg combines map-side: the plan shows a
    partial HashAggregate before its Exchange (hot boilerplate shingles
    cost O(partitions) at the reducer, not O(occurrences))."""
    from polars_st_spark.operators.dedup import ngram_coverage

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.lit("one two three four five six seven").alias("text"),
    )
    plan = explain_str(ngram_coverage(docs))
    assert "partial_min" in plan or "partial" in plan.lower()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_group_cap_single_shuffle(spark):
    """group_cap is one hash Exchange (the window partition) and zero
    Python workers."""
    from polars_st_spark.operators.sampling import group_cap

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).cast("string").alias("dom"))
    plan = explain_str(group_cap(df, "dom", "doc_id", 3))
    assert plan.count("Exchange") <= 2  # hashpartitioning (+AQE coalesce read)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_geometry_udfs_fuse_into_one_python_node(spark):
    """One projection mixing batch-lane UDFs (st_simplify, st_convex_hull),
    a factory builder (st_concave_hull), a per-row constructor
    (st_from_wkt) and a predicate against a constant plans exactly ONE
    ArrowEvalPython node: every geometry UDF is an ``arrow_udf`` (eval
    type 250), and Spark fuses adjacent Python UDFs only when their eval
    types match — one UDF at another eval type would add a second worker
    round-trip over the whole stream."""
    from polars_st_spark.geo.wkb import to_ewkb
    from polars_st_spark.geo.wkt import from_wkt

    wkts = [f"POLYGON (({i} 0, {i + 2} 0, {i + 1} 1, {i + 2} 2, {i} 2, {i} 0))"
            for i in range(6)]
    df = spark.createDataFrame(
        [(w, to_ewkb(from_wkt(w))) for w in wkts], "wkt string, g binary")
    out = df.select(
        st.st_simplify("g", 0.1).alias("s"),
        st.st_convex_hull("g").alias("h"),
        st.st_concave_hull("g").alias("c"),
        st.st_from_wkt("wkt").alias("w"),
        st.st_intersects("g", "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))").alias("p"),
    )
    plan = explain_str(out)
    assert _count(plan, "ArrowEvalPython") == 1, plan
    rows = out.collect()
    assert [r["p"] for r in rows] == [True, True, True, True, False, False]
    assert all(r["w"] is not None and r["h"] is not None for r in rows)
