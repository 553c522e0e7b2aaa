"""filter_pairs (bbox-pruned pair-predicate join) equivalence + plan audits.

Ground truth is the naive path: join every pair and evaluate the exact
st_<predicate> column. filter_pairs must return exactly the same pair set for
every predicate, with boxes derived (st_bounds) and native (lbox/rbox).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import polars_st_spark as st
from polars_st_spark.operators.predjoin import filter_pairs


@pytest.fixture(scope="module")
def sides(spark):
    rng = np.random.default_rng(7)
    n = 120
    lx0 = np.round(rng.uniform(0, 40, n), 3)
    ly0 = np.round(rng.uniform(0, 40, n), 3)
    lpd = pd.DataFrame(
        {"lid": np.arange(n), "x0": lx0, "y0": ly0, "x1": lx0 + rng.uniform(0.5, 6, n).round(3), "y1": ly0 + rng.uniform(0.5, 6, n).round(3)}
    )
    m = 15
    rx0 = np.round(rng.uniform(0, 40, m), 3)
    ry0 = np.round(rng.uniform(0, 40, m), 3)
    rpd = pd.DataFrame(
        {"rid": np.arange(m), "a0": rx0, "b0": ry0, "a1": rx0 + rng.uniform(1, 12, m).round(3), "b1": ry0 + rng.uniform(1, 12, m).round(3)}
    )
    # a few exact duplicates of left rects on the right so equals/covers hit
    for i in range(3):
        rpd.loc[m - 1 - i, ["a0", "b0", "a1", "b1"]] = lpd.loc[i, ["x0", "y0", "x1", "y1"]].to_numpy()
    left = spark.createDataFrame(lpd).withColumn("g", st.st_rectangle("x0", "y0", "x1", "y1"))
    right = spark.createDataFrame(rpd).withColumn("g", st.st_rectangle("a0", "b0", "a1", "b1"))
    return left.cache(), right.cache()


def _naive(spark, left, right, predicate, distance=None):
    r = right
    for c in r.columns:
        if c in left.columns:
            r = r.withColumnRenamed(c, c + "_right")
    pairs = left.crossJoin(F.broadcast(r))
    if predicate == "dwithin":
        cond = st.st_dwithin("g", "g_right", distance)
    else:
        cond = getattr(st, f"st_{predicate}")("g", "g_right")
    return pairs.where(cond)


def _unsized(df):
    """``df`` behind a filter: Catalyst no longer knows its row count."""
    return df.where(F.col(df.columns[0]) >= 0)


def _pairset(df):
    return set(map(tuple, df.select("lid", "rid").collect()))


@pytest.mark.parametrize(
    "predicate",
    ["intersects", "within", "contains", "covers", "covered_by",
     "contains_properly", "equals", "touches", "overlaps", "crosses", "disjoint"],
)
def test_matches_naive(spark, sides, predicate):
    left, right = sides
    expected = _pairset(_naive(spark, left, right, predicate))
    # sized sides take the cross plan, an unsized left side the prune plan
    for lside in (left, _unsized(left)):
        got_derived = filter_pairs(lside, right, predicate, lcol="g", rcol="g")
        assert _pairset(got_derived) == expected, got_derived._chosen_strategy
    got_native = _pairset(
        filter_pairs(
            left, right, predicate, lcol="g", rcol="g",
            lbox=("x0", "y0", "x1", "y1"), rbox=("a0", "b0", "a1", "b1"),
        )
    )
    assert got_native == expected


def test_dwithin(spark, sides):
    left, right = sides
    for d in (0.5, 3.0):
        expected = _pairset(_naive(spark, left, right, "dwithin", distance=d))
        got = _pairset(
            filter_pairs(left, right, "dwithin", lcol="g", rcol="g", distance=d,
                         lbox=("x0", "y0", "x1", "y1"), rbox=("a0", "b0", "a1", "b1"))
        )
        assert got == expected


def test_equi_join_condition(spark, sides):
    left, right = sides
    on = (F.col("lid") % 5) == (F.col("rid") % 5)
    expected = {
        t for t in _pairset(_naive(spark, left, right, "intersects"))
        if t[0] % 5 == t[1] % 5
    }
    got = _pairset(filter_pairs(left, right, "intersects", on=on, lcol="g", rcol="g"))
    assert got == expected


def test_prune_below_python(spark, sides):
    """The bbox conjunct must be a plain Filter BELOW ArrowEvalPython, so
    non-candidate pairs never reach the Python worker."""
    from polars_st_spark.plans import explain_str

    left, right = sides
    out = filter_pairs(
        left, right, "intersects", lcol="g", rcol="g",
        lbox=("x0", "y0", "x1", "y1"), rbox=("a0", "b0", "a1", "b1"),
    )
    plan = explain_str(out, "formatted")
    # Catalyst pushes the bbox conjuncts into the join condition itself, so
    # non-candidate pairs are dropped AT the join (codegen) and only the
    # survivors flow into the pair-level ArrowEvalPython above it.
    join_cond = [
        ln for ln in plan.splitlines()
        if "Join condition" in ln or ("Condition" in ln and "_lbox" in ln)
    ]
    assert any("_lbox" in ln and "_rbox" in ln for ln in join_cond), plan
    assert "ArrowEvalPython" in plan
    # the exact-predicate UDF (udf2 over both geometry columns) must not be
    # part of any join/filter that also carries the bbox arrays' prune —
    # i.e. the final Filter's condition is just the python UDF result.
    final_filter = [ln for ln in plan.splitlines() if ln.strip().startswith("Condition : pythonUDF")]
    assert final_filter, plan


def test_strategy_choice(spark, sides):
    """Two small sized sides take the cross plan; an unsized side, native
    boxes, an equi-join, the arrow lane or broadcast=False take the prune
    plan; disjoint is always a cross."""
    left, right = sides
    kw = dict(lcol="g", rcol="g")
    assert filter_pairs(left, right, **kw)._chosen_strategy == "cross"
    assert filter_pairs(_unsized(left), right, **kw)._chosen_strategy == "prune"
    assert filter_pairs(left, _unsized(right), **kw)._chosen_strategy == "prune"
    assert filter_pairs(left, right, lbox=("x0", "y0", "x1", "y1"),
                        **kw)._chosen_strategy == "prune"
    assert filter_pairs(left, right, on=F.col("lid") == F.col("rid"),
                        **kw)._chosen_strategy == "prune"
    assert filter_pairs(left, right, exact="arrow", **kw)._chosen_strategy == "prune"
    assert filter_pairs(left, right, broadcast=False, **kw)._chosen_strategy == "prune"
    assert filter_pairs(_unsized(left), right, "disjoint",
                        **kw)._chosen_strategy == "cross"


def test_validation(spark, sides):
    left, right = sides
    with pytest.raises(ValueError, match="unknown predicate"):
        filter_pairs(left, right, "nope", lcol="g", rcol="g")
    with pytest.raises(ValueError, match="distance"):
        filter_pairs(left, right, "dwithin", lcol="g", rcol="g")
