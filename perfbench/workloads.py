"""The three perfbench workloads: inputs, queries and output checks.

A query is a closure ``run(tr) -> (df, check)``. ``run`` is the timed unit:
it calls the library's public API and runs the Spark action. ``df`` is the
DataFrame whose executed plan the walker reads (None for a write), and
``check()`` compares the result with the generator's closed-form
expectation, untimed. The library sees only generated DataFrames.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

import polars_st_spark as st
from polars_st_spark.operators.grouped import union_all_grouped
from polars_st_spark.operators.nearest import st_sjoin_nearest
from polars_st_spark.operators.sjoin import st_sjoin
from polars_st_spark.sources.parquet_io import read_geoparquet, write_geoparquet
from polars_st_spark.sources.geojson_io import write_ndgeojson

from perfbench import gen

REL_TOL = 1e-9


@dataclass
class Query:
    name: str
    rows: int                      # input geometry rows the query consumes
    run: Callable


class RunContext:
    """Per-run state the queries report into."""

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir
        self.union_picks = []      # grouped union's auto choice, per call
        self.bytes_written = []    # bytes per source write
        self.rows_returned = []    # rows per bbox read
        self.reset = lambda: None  # clears a pass's outputs
        self.source_rows = 0       # input rows of the source write-read cycle


@dataclass
class Workload:
    name: str
    sizes: dict                    # stated input sizes
    batch: int                     # spark.sql.execution.arrow.maxRecordsPerBatch
    generate: Callable             # seed -> generated data (numpy / Arrow)
    load: Callable                 # (spark, data, cores) -> cached inputs
    queries: Callable              # (inputs, data, ctx) -> [Query]
    warmup: Callable               # (inputs, cores) -> one-row DataFrame that
    #                                starts every Python worker


def _cache(spark, table, cores):
    """Arrow table -> cached DataFrame of ``cores`` partitions, rows kept
    in generator order (one Arrow record batch per input partition, then a
    shuffle-free coalesce of consecutive partitions)."""
    df = spark.createDataFrame(table).coalesce(cores).cache()
    df.count()
    return df


def _warmup(df, col: str, cores: int, repartition: bool):
    """A one-row query whose library UDF runs in ``cores`` tasks, so every
    Python worker starts and imports the package."""
    if repartition:
        df = df.repartition(cores)
    return df.select(st.st_area(col).alias("a")).agg(F.sum("a"))


def _close(a, b) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(b))


def _off(actual, expected):
    """1 where a double result differs from its expectation, else 0."""
    return (F.abs(actual - F.col(expected))
            > REL_TOL * F.greatest(F.lit(1.0), F.abs(F.col(expected)))).cast("int")


def _flag_query(df, flags: dict):
    """One-row action: row count and the number of mismatching rows per
    check column."""
    sel = df.select(*[c.alias(k) for k, c in flags.items()])
    return sel.agg(F.count(F.lit(1)).alias("n"), *[F.sum(k).alias(k) for k in flags])


def _expect_flags(out, n_rows: int) -> Callable:
    def check():
        row = out[0]
        return row["n"] == n_rows and all(row[k] == 0 for k in row.asDict() if k != "n")
    return check


# ---------------------------------------------------------------------------
# scalar_mix
# ---------------------------------------------------------------------------

SCALAR_SIZES = {"batch": 2000, "rect_batches": 2, "ngon_batches": 2,
                "line_batches": 1, "odd_rows": 20, "wkt_rows": 2000}
PARTITION_GRID = 500.0


@dataclass
class ScalarData:
    mix: gen.ScalarMix
    ingest: gen.Ingest


def _scalar_generate(seed: int, cores: int):
    sizes = {k: v for k, v in SCALAR_SIZES.items() if k != "wkt_rows"}
    return ScalarData(gen.scalar_mix(seed, **dict(sizes, partitions=cores)),
                      gen.ingest(seed, SCALAR_SIZES["wkt_rows"]))


def _scalar_load(spark, data, cores):
    """Cache the mixed column so that Spark's Arrow batches are the
    generator's blocks: one record batch per ``batch`` rows and one for the
    odd rows, each becoming an input partition that ``_cache`` coalesces
    back into the generator's partitions."""
    batches = []
    t = data.mix.table
    per_part = t.num_rows // data.mix.partitions
    b = SCALAR_SIZES["batch"]
    for p in range(data.mix.partitions):
        lo, hi = p * per_part, (p + 1) * per_part
        starts = list(range(lo, hi - SCALAR_SIZES["odd_rows"], b)) + [hi - SCALAR_SIZES["odd_rows"]]
        for s0, s1 in zip(starts, starts[1:] + [hi]):
            batches.extend(t.slice(s0, s1 - s0).to_batches())
    return {"g": _cache(spark, pa.Table.from_batches(batches), cores),
            "text": _cache(spark, data.ingest.table, cores)}


def _scalar_queries(inp, data, ctx):
    df = inp["g"]
    t = data.mix.table
    n = t.num_rows
    kinds = data.mix.rows_per_kind
    # the line buffer kernel is by far the slowest per row: every 8th line
    # keeps its query near the per-query floor
    some_lines = (F.col("kind") == gen.KIND_LINE) & (F.col("id") % 8 == 0)
    n_some_lines = int(np.sum((np.asarray(t["kind"]) == gen.KIND_LINE)
                              & (np.asarray(t["id"]) % 8 == 0)))
    x0, y0, x1, y1 = gen.CLIP_WINDOW

    def q(name, rows, build):
        def run(tr):
            with tr.span("action", layer="functions"):
                d = build()
                out = d.collect()
            return d, _expect_flags(out, rows)
        return Query(name, rows, run)

    return [
        q("area_length", n, lambda: _flag_query(df, {
            "area": _off(st.st_area("g"), "e_area"),
            "length": _off(st.st_length("g"), "e_len")})),
        q("simplify_hull", n, lambda: _flag_query(df, {
            # nothing is within tolerance, so simplify returns the input
            # geometry re-encoded little-endian
            "simplify": (st.st_simplify("g", gen.SIMPLIFY_TOL)
                         != F.coalesce("g_le", "g")).cast("int"),
            "hull": _off(st.st_area(st.st_convex_hull("g")), "e_hull")})),
        q("intersects", n, lambda: _flag_query(df, {
            "intersects": (st.st_intersects("g", "g2") != F.col("near")).cast("int")})),
        q("intersection_diamond", kinds["rect"] + kinds["ngon"] + kinds["odd"],
          lambda: _flag_query(df.where(F.col("kind") != gen.KIND_LINE), {
              "area": _off(st.st_area(st.st_intersection("g", "diamond")), "e_inter")})),
        q("buffer_lines", n_some_lines,
          lambda: _flag_query(df.where(some_lines), {
              "area": _off(st.st_area(st.st_buffer("g", "d", quad_segs=gen.QUAD_SEGS,
                                                   cap_style="flat")), "e_buf")})),
        q("clip_area", n, lambda: _flag_query(df, {
            "area": _off(st.st_area(st.st_clip_by_rect("g", x0, y0, x1, y1)), "e_clip")})),
    ] + _ingest_queries(inp["text"], data.ingest, ctx)


# ---------------------------------------------------------------------------
# join_agg
# ---------------------------------------------------------------------------

JOIN_SIZES = {"groups": 120, "chain": (8, 16), "zones": 16, "points": 8000,
              "nations": 25, "per_nation": 16, "kite_groups": 3,
              "near_left": 800, "near_right": 80, "k": 2}


def _join_generate(seed: int, cores: int):
    return gen.join_agg(seed, **JOIN_SIZES)


def _join_load(spark, data, cores):
    names = ("parcels", "zones", "points", "nations", "kites", "near_left", "near_right")
    return {k: _cache(spark, getattr(data, k), cores) for k in names}


def _join_queries(inp, data, ctx):
    P, Z, Q = inp["parcels"], inp["zones"], inp["points"]
    exp = data.expect

    def area_sum(d, col):
        return d.select(st.st_area(col).alias("a")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("a").alias("s"))

    def q(name, rows, op, action):
        def run(tr):
            with tr.span("operator", layer="operators", query=name):
                d = op()
            if hasattr(d, "_chosen_strategy"):
                ctx.union_picks.append(d._chosen_strategy)
            with tr.span("action", layer="engine"):
                d = action(d)
                out = d.collect()[0]

            def check():
                e = exp[name]
                got = tuple(out)
                return (len(got) == len(e) and got[0] == e[0]
                        and all(_close(a, b) for a, b in zip(got[1:], e[1:])))
            return d, check
        return Query(name, rows, run)

    n_par = data.parcels.num_rows
    return [
        q("union_small", n_par, lambda: union_all_grouped(P, ["grp"], "geom"),
          lambda d: area_sum(d, "union_geom")),
        q("union_hot", n_par, lambda: union_all_grouped(P, ["hot"], "geom"),
          lambda d: area_sum(d, "union_geom")),
        q("filter_pairs", n_par + data.zones.num_rows,
          lambda: st.filter_pairs(P, Z, predicate="intersects", lcol="geom", rcol="geom"),
          lambda d: d.agg(F.count(F.lit(1)))),
        q("sjoin_within", data.points.num_rows + data.zones.num_rows,
          lambda: st_sjoin(Q, Z, predicate="within", left_on="geom", right_on="geom",
                           strategy="broadcast"),
          lambda d: d.agg(F.count(F.lit(1)))),
        q("intersection_all", data.nations.num_rows,
          lambda: inp["nations"].groupBy("nation").agg(
              st.st_intersection_all("geom").alias("g")),
          lambda d: area_sum(d, "g")),
        q("nearest", data.near_left.num_rows + data.near_right.num_rows,
          lambda: st_sjoin_nearest(inp["near_left"], inp["near_right"], k=JOIN_SIZES["k"],
                                   left_on="geom", right_on="geom"),
          lambda d: d.agg(F.count(F.lit(1)), F.sum("distance"))),
        q("union_overlay", data.kites.num_rows,
          lambda: union_all_grouped(inp["kites"], ["kgrp"], "geom"),
          lambda d: area_sum(d, "union_geom")),
    ]


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


_FEATURE_SCHEMA = T.StructType([T.StructField("geometry", T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("coordinates", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))]))])


def _ingest_queries(text, data, ctx):
    """The write-and-read cycle over the WKT text column; nothing between
    its steps is cached: parse with st_from_wkt and write GeoParquet
    partitioned by a bbox grid, read a bbox window back and take areas,
    then export the whole file set as NDGeoJSON."""
    spark = ctx.spark
    n = data.table.num_rows
    exp = data.expect
    gpq = os.path.join(ctx.workdir, "ingest", "geoparquet")
    ndj = os.path.join(ctx.workdir, "ingest", "ndgeojson")

    def parse_write(tr):
        with tr.span("source_write", layer="sources", format="geoparquet") as a:
            parsed = text.select("fid", st.st_from_wkt("wkt").alias("geometry"))
            write_geoparquet(parsed, gpq, partition_grid=PARTITION_GRID)
        a["bytes"] = _dir_bytes(gpq)
        ctx.bytes_written.append(a["bytes"])

        def check():
            # Spark's plain parquet reader; the parsed WKB must equal the
            # generator's byte for byte (order-free digest of (fid, bytes))
            got = spark.read.parquet(gpq).agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("fid", "geometry"))).collect()[0]
            want = text.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("fid", "wkb"))).collect()[0]
            return got[0] == n and tuple(got) == tuple(want)
        return None, check

    def read_bbox(tr):
        with tr.span("source_read", layer="sources", format="geoparquet"):
            d = read_geoparquet(spark, gpq, bbox=gen.INGEST_WINDOW,
                                partition_grid=PARTITION_GRID)
            d = d.select(st.st_area("geometry").alias("a")).agg(
                F.count(F.lit(1)).alias("n"), F.sum("a").alias("s"))
            out = d.collect()[0]
        ctx.rows_returned.append(out["n"])
        cnt, area = exp["window"]
        return d, lambda: out["n"] == cnt and _close(out["s"], area)

    def write_ndj(tr):
        with tr.span("source_write", layer="sources", format="ndgeojson") as a:
            write_ndgeojson(read_geoparquet(spark, gpq), ndj)
        a["bytes"] = _dir_bytes(ndj)
        ctx.bytes_written.append(a["bytes"])

        def check():
            # Spark's own JSON reader, not the library's
            r = spark.read.schema(_FEATURE_SCHEMA).json(ndj).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("geometry.coordinates")[0][0][0]).alias("x")).collect()[0]
            return r["n"] == n and _close(r["x"], exp["first_x_sum"])
        return None, check

    ctx.reset = lambda: shutil.rmtree(os.path.join(ctx.workdir, "ingest"), ignore_errors=True)
    ctx.source_rows = n
    return [Query("parse_write_geoparquet", n, parse_write),
            Query("read_bbox_area", n, read_bbox),
            Query("write_ndgeojson", n, write_ndj)]


WORKLOADS = {
    # why each workload exists: BENCHMARK.json and README.md
    "scalar_mix": Workload(
        "scalar_mix", SCALAR_SIZES, SCALAR_SIZES["batch"],
        _scalar_generate, _scalar_load, _scalar_queries,
        lambda inp, cores: _warmup(inp["g"], "g", cores, repartition=False)),
    "join_agg": Workload(
        "join_agg", JOIN_SIZES, 10000, _join_generate, _join_load, _join_queries,
        lambda inp, cores: _warmup(inp["parcels"], "geom", cores, repartition=True)),
}
