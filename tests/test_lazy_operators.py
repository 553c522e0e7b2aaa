"""Spatial operators size their inputs from Catalyst's plan statistics, so
calling them starts no Spark job (or only the one fetch a broadcast needs)
when the optimized plan already carries a row count.

Jobs are counted per call with ``setJobGroup`` + ``statusTracker``, after
the listener bus has drained, so a job the call started is never missed."""

import itertools
import re

import pytest
from pyspark.sql import functions as F

import polars_st_spark as st
from polars_st_spark.operators.grouped import union_all_grouped
from polars_st_spark.operators.nearest import st_sjoin_nearest
from polars_st_spark.operators.sjoin import st_sjoin
from polars_st_spark.plans import plan_stats

_groups = itertools.count()


def _call_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn started)``."""
    sc = spark.sparkContext
    group = f"lazy-operators-{next(_groups)}"
    sc.setJobGroup(group, "operator call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"(#|plan_id=)\d+", r"\1", plan)


@pytest.fixture
def cached(spark):
    """``cached(df)``: ``df`` cached and materialised, unpersisted after the test."""
    frames = []

    def make(df):
        df = df.cache()
        df.count()
        frames.append(df)
        return df

    yield make
    for df in frames:
        df.unpersist()


def _squares(spark, n, groups, parts=4):
    """``n`` unit squares in ``groups`` groups of equal size."""
    return spark.range(0, n, 1, parts).select(
        (F.col("id") % groups).alias("grp"),
        st.st_rectangle((F.col("id") % 7) * 1.0, F.lit(0.0),
                        (F.col("id") % 7) + 1.0, F.lit(1.0)).alias("geom"))


def _points(spark, n, id_col, step, parts=4):
    return spark.range(0, n, 1, parts).select(
        F.col("id").alias(id_col),
        st.st_point(F.col("id") * step, F.col("id") * 0.5).alias("geometry"))


def _undercounted_sample(df):
    """``(sample, planned)``: a 50 % sample of ``df`` that draws more rows
    than the ``planned`` count Catalyst estimates for it."""
    for seed in range(100):
        sample = df.sample(0.5, seed=seed)
        planned = plan_stats(sample)[1]
        if sample.count() > planned:
            return sample, planned
    raise AssertionError("no seed drew more rows than planned")


def test_plan_stats_reads_catalyst_counts(spark, cached):
    df = cached(_squares(spark, 60, 4))
    size, rows = plan_stats(df)
    assert rows == 60 and size > 0
    assert plan_stats(df.select(F.col("grp").alias("g"), "geom"))[1] == 60
    assert plan_stats(df.limit(7))[1] == 7
    assert plan_stats(df.where(F.col("grp") > 0))[1] is None
    rdd_df = spark.createDataFrame(spark.sparkContext.parallelize([(1,), (2,)]), "x long")
    assert plan_stats(rdd_df)[1] is None


def test_union_auto_sized_by_plan_count_runs_no_job(spark, cached):
    df = cached(_squares(spark, 60, 4))
    out, jobs = _call_jobs(spark, lambda: union_all_grouped(df, ["grp"], "geom"))
    assert jobs == 0
    assert out._chosen_strategy == "single"
    single = union_all_grouped(df, ["grp"], "geom", strategy="single")
    assert _plan(out) == _plan(single)
    areas = {r["grp"]: r["a"] for r in out.select(
        "grp", st.st_area("union_geom").alias("a")).collect()}
    assert len(areas) == 4 and all(a == pytest.approx(7.0) for a in areas.values())


def test_union_auto_probes_inputs_the_plan_cannot_bound(spark, cached):
    """Four hot groups of 100 rows against a threshold of 50: a cached input
    whose count is above the threshold, and a filtered input with no count,
    both go through the bounded probe, which finds the hot groups."""
    df = cached(_squares(spark, 400, 4))
    filtered = df.where(F.col("grp") >= 0)
    assert plan_stats(filtered)[1] is None
    for frame in (df, filtered):
        out, jobs = _call_jobs(spark, lambda: union_all_grouped(
            frame, ["grp"], "geom", hot_group_threshold=50))
        assert jobs >= 1
        assert out._chosen_strategy == "two_phase"


def test_nearest_strtree_fetches_the_right_side_once(spark, cached):
    left = cached(_points(spark, 40, "lid", 1.0))
    right = cached(_points(spark, 10, "rid", 4.0))
    out, jobs = _call_jobs(spark, lambda: st_sjoin_nearest(left, right, k=2))
    assert jobs == 1
    assert out._chosen_strategy == "strtree"
    cross = st_sjoin_nearest(left, right, k=2, strategy="cross")
    assert cross._chosen_strategy == "cross"
    assert st_sjoin_nearest(left, right, k=2, max_distance=8.0)._chosen_strategy == "grid"

    def dists(d):
        return sorted((r["lid"], round(r["distance"], 9)) for r in d.collect())

    assert len(dists(out)) == 80 and dists(out) == dists(cross)


def test_nearest_broadcast_limit_checks_what_was_fetched(spark, cached):
    left = cached(_points(spark, 4, "lid", 1.0))
    right = cached(_points(spark, 40, "rid", 1.0))
    for strategy in ("strtree", "cross"):
        with pytest.raises(ValueError, match="broadcast_limit"):
            st_sjoin_nearest(left, right, broadcast_limit=5, strategy=strategy)
    # a sample's plan count is an estimate, below what the sample draws
    sample, planned = _undercounted_sample(right)
    with pytest.raises(ValueError, match="broadcast_limit"):
        st_sjoin_nearest(left, sample, broadcast_limit=planned)


def test_forced_broadcast_sjoin_one_fetch_when_the_plan_proves_the_cap(spark, cached):
    pts = cached(_points(spark, 30, "pid", 1.0))
    zones = cached(spark.range(0, 8, 1, 4).select(
        F.col("id").alias("zid"),
        st.st_rectangle(F.col("id") * 4.0, F.lit(-1.0),
                        F.col("id") * 4.0 + 4.0, F.lit(100.0)).alias("geometry")))
    out, jobs = _call_jobs(spark, lambda: st_sjoin(
        pts, zones, predicate="intersects", strategy="broadcast", broadcast_threshold=1))
    assert jobs == 1
    assert out._chosen_strategy == "broadcast"
    assert out.count() == st_sjoin(pts, zones, predicate="intersects",
                                   strategy="grid").count()
    auto = st_sjoin(pts, zones, predicate="intersects")
    assert auto._chosen_strategy == "broadcast"
    semi = st_sjoin(pts, zones, predicate="intersects", how="semi", strategy="grid")
    assert semi._chosen_strategy == "grid"


def test_forced_broadcast_sjoin_checks_what_was_fetched(spark, cached):
    pts = cached(_points(spark, 4, "pid", 1.0))
    right = cached(_points(spark, 40, "rid", 1.0))
    sample, planned = _undercounted_sample(right)
    assert planned == 20  # the cap below: 10 x broadcast_threshold
    with pytest.raises(ValueError, match="forced"):
        st_sjoin(pts, sample, strategy="broadcast", broadcast_threshold=2)
    with pytest.raises(ValueError, match="forced"):
        st_sjoin(pts, right, strategy="broadcast", broadcast_threshold=2)
