"""Dump .explain("formatted") for the 8 headline queries and the round-12
optimization surfaces to <out_dir>/<query>_<tag>.txt.

Usage: python scripts/dump_plans.py before|after [out_dir]

``out_dir`` defaults to plans/r12 (relative paths are taken from the repo
root). Covers the surfaces r12 touches (VERDICT r11 items 2-6, 8b):
  - b2a_relate_adjacent: the mixed-argument construct→relate chain
  - relate_point_chain / predicate_point_chain: predicate(col, st_point)
  - distance_point_chain: st_distance(col, st_point(...))
  - p6_nearest_join: grid-strategy nearest join (distance staging)
  - p9_semdedup: kmeans assign + gram scan
  - pq_topk: ADC scoring lane
  - p1_minhash_dedup: production xxhash64 lane (ramp assertion evidence)
  - b1c/b1p/b1b shapes: clip / simplify / buffer constructive lanes
plus the 8 headline queries (same build as bench.py) for continuity.
Driver-side only; uses SPARK_GRAFT_CPUS=8 by default for diff-stable
partition counts.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _HERE)

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(_HERE, sys.argv[2] if len(sys.argv) > 2 else os.path.join("plans", "r12"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")


def main():
    import numpy as np

    os.makedirs(OUT, exist_ok=True)
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("plan-dump")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import polars_st_spark as st
    import __spark_entry__ as E

    E._ensure_workers(spark)  # pq_topk/cache materialization run tiny jobs
    from polars_st_spark.operators import cluster as _cl
    from polars_st_spark.operators import dedup as _dedup
    from polars_st_spark.operators import knn as _knn
    from polars_st_spark.operators import quant as _q
    from polars_st_spark.operators import textops as _t
    from polars_st_spark.operators.nearest import st_sjoin_nearest
    from polars_st_spark.operators.sjoin import st_sjoin

    ncpu = int(CPUS)
    li_rects = E._li_rects(spark, SF_DIR).repartition(ncpu).cache()
    cust = E._cust_pts(spark, SF_DIR).repartition(ncpu).cache()
    nations = E._nation_rects(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(ncpu).cache()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").repartition(ncpu).cache()

    nations5 = nations.where(F.col("n_nationkey") < 5).select(
        "n_nationkey", "x0", "y0", "x1", "y1", F.col("rect").alias("nrect"))

    # p9/pq fixtures (tiny driver-side codebooks; plan shape only)
    cents = np.arange(8 * 4, dtype=np.float64).reshape(8, 4)
    books = np.arange(2 * 4 * 2, dtype=np.float64).reshape(2, 4, 2)
    emb4 = emb.select(
        "vec_id", F.slice("embedding", 1, 4).alias("embedding"))

    frames = {
        # --- r12 surfaces
        "b2a_relate_adjacent": li_rects.select(
            F.count_distinct(st.st_relate(
                "rect",
                st.st_rectangle(
                    "x1", "y0",
                    F.col("x1") + (F.col("x1") - F.col("x0")), "y1")))),
        "predicate_point_chain": li_rects.select(
            F.sum(st.st_intersects(
                "rect", st.st_point("x0", "y0")).cast("int"))),
        "distance_point_chain": li_rects.select(
            F.sum(st.st_distance(
                "rect", st.st_point(F.col("x0") + 1.0, F.col("y0") + 1.0)))),
        "relate_translate_chain": li_rects.select(
            F.count_distinct(st.st_relate(
                "rect", st.st_translate("rect", 9.0, 0.0)))),
        "p6_nearest_join": st_sjoin_nearest(
            cust.select(F.col("c_custkey"), F.col("pt").alias("geometry")),
            cust.select(F.col("c_custkey").alias("r_key"),
                        F.col("pt").alias("geometry")),
            k=1, max_distance=2.0),
        "p9_semdedup": _cl.semantic_dedup(
            emb4.withColumnRenamed("vec_id", "vid"),
            id_col="vid", vec_col="embedding", centroids=cents, k=8),
        "pq_topk": _q.pq_topk(
            emb4.where(F.col("vec_id") < 8), _q.pq_encode(
                emb4, books, vec_col="embedding", out_col="pq_code"),
            books, k=3),
        "textops_bands": docs.select(
            _t.shingle_sig_bands_udf("text").alias("sb")),
        "b1c_clip": li_rects.select(F.sum(st.st_area(
            st.st_clip_by_rect("rect", 10.0, 10.0, 60.0, 60.0)))),
        "b1p_simplify": li_rects.select(F.sum(st.st_area(
            st.st_simplify("rect", 0.05)))),
        "b1b_buffer": li_rects.select(F.sum(st.st_area(
            st.st_buffer("rect", 0.5, quad_segs=4)))),
        # --- headline continuity (same build as bench.py)
        "b1_elementwise": li_rects.select(
            F.sum(st.st_area("rect")).alias("a"),
            F.sum(st.st_length("rect")).alias("l")),
        "b2_predicate": st.filter_pairs(
            li_rects.select("l_orderkey", "x0", "y0", "x1", "y1", "rect"),
            nations5, predicate="intersects", lcol="rect", rcol="nrect",
            lbox=("x0", "y0", "x1", "y1"), rbox=("x0", "y0", "x1", "y1"),
            broadcast=True),
        "b3_grouped_union": li_rects.groupBy("l_suppkey")
            .agg(st.st_union_all("rect").alias("u"))
            .select(F.sum(st.st_area("u"))),
        "b4_sjoin": st_sjoin(
            cust.withColumnRenamed("pt", "geometry"),
            nations.withColumnRenamed("rect", "geometry"),
            predicate="within", strategy="broadcast"),
        "b5_flagship": E._supp_rects(spark, SF_DIR)
            .groupBy("s_nationkey")
            .agg(st.st_intersection_all("rect").alias("g"))
            .select("s_nationkey", st.st_area("g"), st.st_to_wkt("g")),
        "p1_minhash_dedup": _dedup.near_dup_pairs(docs, threshold=0.05),
        "p2_knn": _knn.cosine_topk(
            emb.where(F.col("vec_id") < 20), emb, k=10),
        "p3_textstats": docs.select(
            F.sum(_t.token_count("text")),
            F.count(_t.lang_predict("text")),
            F.sum(_t.quality_score("text"))),
    }
    for name, df in frames.items():
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(OUT, f"{name}_{TAG}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print("wrote", path)
        except Exception as e:
            print(f"SKIP {name}: {type(e).__name__}: {str(e)[:120]}")
    spark.stop()


if __name__ == "__main__":
    main()
