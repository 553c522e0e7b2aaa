"""k-nearest spatial join (operators/nearest.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import polars_st_spark as st
from polars_st_spark.operators.nearest import st_sjoin_nearest


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.RandomState(5)
    lpts = rng.uniform(0, 100, size=(200, 2))
    rpts = rng.uniform(0, 100, size=(40, 2))
    left = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(lpts)],
        ["lid_val", "x", "y"],
    ).select("lid_val", st.st_point("x", "y").alias("geometry"))
    right = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(rpts)],
        ["rid_val", "x", "y"],
    ).select("rid_val", st.st_point("x", "y").alias("geometry"))
    return left, right, lpts, rpts


def _brute(lpts, rpts, k, max_d=None):
    want = {}
    for i, p in enumerate(lpts):
        d = np.hypot(*(rpts - p).T)
        order = np.argsort(d, kind="stable")
        hits = [(j, d[j]) for j in order if max_d is None or d[j] <= max_d][:k]
        want[i] = hits
    return want


def test_broadcast_matches_brute(frames):
    left, right, lpts, rpts = frames
    out = st_sjoin_nearest(left, right, k=1)
    got = {r["lid_val"]: (r["rid_val"], r["distance"]) for r in out.collect()}
    want = _brute(lpts, rpts, 1)
    assert len(got) == len(lpts)
    for i, hits in want.items():
        j, d = hits[0]
        assert got[i][0] == j
        assert got[i][1] == pytest.approx(d, abs=1e-9)


def test_k3_matches_brute(frames):
    left, right, lpts, rpts = frames
    out = st_sjoin_nearest(left, right, k=3)
    got = {}
    for r in out.collect():
        got.setdefault(r["lid_val"], []).append((r["rid_val"], r["distance"]))
    want = _brute(lpts, rpts, 3)
    for i, hits in want.items():
        gs = sorted(got[i], key=lambda t: t[1])
        assert [g[0] for g in gs] == [h[0] for h in hits]


def test_grid_equals_broadcast(frames):
    left, right, lpts, rpts = frames
    bcast = st_sjoin_nearest(left, right, k=2, max_distance=None)
    grid = st_sjoin_nearest(left, right, k=2, max_distance=200.0)  # covers all
    b = {(r["lid_val"], r["rid_val"]) for r in bcast.collect()}
    g = {(r["lid_val"], r["rid_val"]) for r in grid.collect()}
    assert b == g


def test_max_distance_filters_and_left_join(frames):
    left, right, lpts, rpts = frames
    out = st_sjoin_nearest(left, right, k=1, max_distance=3.0)
    got = {r["lid_val"]: r["distance"] for r in out.collect()}
    want = _brute(lpts, rpts, 1, max_d=3.0)
    assert set(got) == {i for i, h in want.items() if h}
    for i in got:
        assert got[i] == pytest.approx(want[i][0][1], abs=1e-9)
    # how='left': unmatched rows kept with null distance
    lj = st_sjoin_nearest(left, right, k=1, max_distance=3.0, how="left")
    rows = lj.collect()
    assert len({r["lid_val"] for r in rows}) == len(lpts)
    nulls = [r for r in rows if r["distance"] is None]
    assert len(nulls) == len(lpts) - len(got)
    assert all(r["rid_val"] is None for r in nulls)


def test_grid_with_rect_geometries(spark):
    """Non-point left geometries spanning several cells still find every
    neighbor (bbox-cell assignment + pair dedup)."""
    left = spark.createDataFrame([(0, 0.0), (1, 50.0)], ["lid_val", "x0"]).select(
        "lid_val",
        st.st_rectangle(F.col("x0"), F.lit(0.0), F.col("x0") + 25.0, F.lit(8.0))
        .alias("geometry"))
    right = spark.createDataFrame(
        [(i, float(i * 10), 9.0) for i in range(9)], ["rid_val", "x", "y"]
    ).select("rid_val", st.st_point("x", "y").alias("geometry"))
    out = st_sjoin_nearest(left, right, k=2, max_distance=5.0)
    got = {}
    for r in out.collect():
        got.setdefault(r["lid_val"], set()).add(r["rid_val"])
    # rect 0: [0,25]x[0,8]; points at y=9 (distance 1) above x=0,10,20 -> any 2
    assert got[0] <= {0, 1, 2} and len(got[0]) == 2
    assert got[1] <= {5, 6, 7} and len(got[1]) == 2
    dists = {(r["lid_val"], r["rid_val"]): r["distance"] for r in out.collect()}
    for key, dv in dists.items():
        assert dv == pytest.approx(1.0, abs=1e-9)


def test_validation_and_suffix(frames, spark):
    left, right, _, _ = frames
    with pytest.raises(ValueError, match="k must"):
        st_sjoin_nearest(left, right, k=0)
    with pytest.raises(ValueError, match="how"):
        st_sjoin_nearest(left, right, how="full")
    with pytest.raises(ValueError, match="max_distance must"):
        st_sjoin_nearest(left, right, max_distance=-1.0)
    with pytest.raises(ValueError, match="broadcast_limit"):
        st_sjoin_nearest(left, right, broadcast_limit=5)
    out = st_sjoin_nearest(left, right, k=1)
    assert "geometry" in out.columns and "geometry_right" in out.columns
    assert "distance" in out.columns


def test_randomized_grid_matches_brute(spark):
    """Seeded random configs: grid strategy == driver brute force for
    varying densities, caps, and k (the property the cell math must hold)."""
    rng = np.random.RandomState(17)
    for trial in range(4):
        nl, nr = rng.randint(30, 120), rng.randint(5, 40)
        span = rng.choice([10.0, 100.0, 1000.0])
        k = int(rng.randint(1, 4))
        max_d = float(span * rng.uniform(0.02, 0.3))
        lp = rng.uniform(0, span, size=(nl, 2))
        rp = rng.uniform(0, span, size=(nr, 2))
        left = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(lp)],
            ["lid_val", "x", "y"],
        ).select("lid_val", st.st_point("x", "y").alias("geometry"))
        right = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(rp)],
            ["rid_val", "x", "y"],
        ).select("rid_val", st.st_point("x", "y").alias("geometry"))
        got = {}
        for r in st_sjoin_nearest(left, right, k=k, max_distance=max_d).collect():
            got.setdefault(r["lid_val"], []).append((r["rid_val"], r["distance"]))
        want = _brute(lp, rp, k, max_d=max_d)
        for i, hits in want.items():
            gs = sorted(got.get(i, []), key=lambda t: t[1])
            # compare by distance multiset (rank ties may pick either id)
            assert [round(g[1], 9) for g in gs] == [round(h[1], 9) for h in hits], (
                trial, i)


def test_null_geometry_left_rows(frames, spark):
    """A NULL left geometry must never receive matches (broadcast path) and
    must land in the unmatched set under how='left' — strategy parity with
    the grid path, which never cells such rows (ADVICE r4)."""
    left, right, _, _ = frames
    nul = spark.createDataFrame([(9999,)], ["lid_val"]).select(
        "lid_val", F.lit(None).cast("binary").alias("geometry"))
    lmix = left.limit(5).unionByName(nul)
    inner = st_sjoin_nearest(lmix, right, k=2)
    assert inner.where(F.col("lid_val") == 9999).count() == 0
    lj = st_sjoin_nearest(lmix, right, k=2, how="left",
                          max_distance=None)
    rows = lj.where(F.col("lid_val") == 9999).collect()
    assert len(rows) == 1
    assert rows[0]["rid_val"] is None and rows[0]["distance"] is None


def test_distance_col_collision_raises(frames):
    left, right, _, _ = frames
    with pytest.raises(ValueError, match="distance_col"):
        st_sjoin_nearest(left.withColumn("distance", F.lit(1.0)), right)


def test_left_join_null_types_match(frames):
    """how='left' null fill must carry the matched-side types (unionByName
    would otherwise coerce or fail on binary/double columns)."""
    left, right, _, _ = frames
    out = st_sjoin_nearest(left, right, k=1, max_distance=0.5, how="left")
    sch = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert sch["geometry_right"] == "binary"
    assert sch["distance"] == "double"
    out.collect()


def test_cell_stats_and_candidate_cap(frames, spark):
    """nearest_cell_stats reports the hot-cell histogram; the
    max_cell_candidates guard raises on a degenerate cell and passes
    under a sufficient cap (VERDICT r4 #5)."""
    from polars_st_spark.operators.nearest import nearest_cell_stats

    left, right, lpts, rpts = frames
    stats = nearest_cell_stats(left, right, max_distance=10.0).collect()
    assert stats and stats[0]["product"] == max(r["product"] for r in stats)
    total = sum(r["n_left"] for r in stats)
    assert all(r["n_left"] >= 1 and r["n_right"] >= 1 for r in stats)
    # coincident pile-up: 50 identical left points x 40 right in one cell
    pile = spark.createDataFrame(
        [(i, 50.0, 50.0) for i in range(50)], ["lid_val", "x", "y"]
    ).select("lid_val", st.st_point("x", "y").alias("geometry"))
    with pytest.raises(ValueError, match="max_cell_candidates"):
        st_sjoin_nearest(pile, right, k=1, max_distance=200.0,
                         max_cell_candidates=100).count()
    out = st_sjoin_nearest(pile, right, k=1, max_distance=200.0,
                           max_cell_candidates=10_000)
    assert out.count() == 50


def test_strtree_equals_cross_strategy(frames, spark):
    """r5 expanding-ring STRtree path == cross-join scoring on distances
    (ties may differ in id, never in distance), k>1, rect right side."""
    left, right, lpts, rpts = frames
    for k in (1, 3):
        a = st_sjoin_nearest(left, right, k=k, strategy="strtree")
        b = st_sjoin_nearest(left, right, k=k, strategy="cross")
        da, db = {}, {}
        for r in a.collect():
            da.setdefault(r["lid_val"], []).append(round(r["distance"], 9))
        for r in b.collect():
            db.setdefault(r["lid_val"], []).append(round(r["distance"], 9))
        assert {k_: sorted(v) for k_, v in da.items()} == \
               {k_: sorted(v) for k_, v in db.items()}
    # rect right geometries (non-point bounds) through the expanding ring
    rects = spark.createDataFrame(
        [(i, float(10 * i), 0.0) for i in range(12)], ["rid_val", "x", "y"]
    ).select("rid_val", st.st_rectangle(
        "x", "y", F.col("x") + 4.0, F.col("y") + 4.0).alias("geometry"))
    got = {r["lid_val"]: r["rid_val"] for r in
           st_sjoin_nearest(left.limit(20), rects, k=1).collect()}
    brute = st_sjoin_nearest(left.limit(20), rects, k=1, strategy="cross")
    want = {r["lid_val"]: r["rid_val"] for r in brute.collect()}
    assert got == want


def test_strtree_keeps_int64_right_column_with_null(spark):
    """The strtree strategy carries the right side as Arrow: a bigint
    column holding a null next to 2^60 + 1 comes back exact (a float64
    pandas frame rounded it to 2^60)."""
    right = spark.createDataFrame(
        [(2**60 + 1, 0.0, 0.0), (None, 50.0, 50.0)], "zid bigint, x double, y double",
    ).select("zid", st.st_point("x", "y").alias("geometry"))
    left = spark.createDataFrame([(0, 1.0, 1.0), (1, 49.0, 49.0)], "i int, x double, y double",
                                 ).select("i", st.st_point("x", "y").alias("geometry"))
    for strategy in ("strtree", "cross"):
        out = st_sjoin_nearest(left, right, k=1, strategy=strategy)
        assert {r["i"]: r["zid"] for r in out.collect()} == {0: 2**60 + 1, 1: None}


def test_strtree_ties_follow_topandas_digest(spark):
    """Equal-distance winners break ties on the pandas content digest of
    the right rows as ``toPandas()`` gives them — bigint with a null,
    string, binary, double and timestamp columns, under a non-UTC session
    time zone."""
    import datetime

    import pandas as pd

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ts = datetime.datetime(2021, 3, 14, 1, 30)
        right = spark.createDataFrame(
            [(0, 7, "a", b"\x01", 0.5, ts, 1.0, 0.0),
             (1, None, "b", b"\x02", None, None, -1.0, 0.0),
             (2, 2**60 + 1, None, None, 2.5, ts, 0.0, 1.0),
             (3, -3, "d", b"", float("nan"), ts, 0.0, -1.0)],
            "rid int, z bigint, s string, b binary, d double, t timestamp, "
            "x double, y double",
        ).select("rid", "z", "s", "b", "d", "t",
                 st.st_point("x", "y").alias("geometry")).coalesce(1)
        left = spark.createDataFrame([(0, 0.0, 0.0)], "i int, x double, y double") \
            .select("i", st.st_point("x", "y").alias("geometry"))
        digest = pd.util.hash_pandas_object(right.toPandas(), index=False).to_numpy()
        by_digest = [int(j) for j in np.argsort(digest, kind="stable")]
        for k in (1, 2, 3):
            out = st_sjoin_nearest(left, right, k=k, strategy="strtree")
            assert out._chosen_strategy == "strtree"
            got = [r["rid"] for r in out.collect()]
            assert sorted(got) == sorted(by_digest[:k]), (k, got, by_digest)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_strtree_right_array_column(spark):
    """A right side carrying array<double> (and struct) columns takes the
    default strategy: list cells hash by their values, so equal-distance
    ties are broken deterministically and the columns come back as they
    went in."""
    right = spark.createDataFrame(
        [(0, [1.0, 2.0], (1, "a"), 1.0, 0.0), (1, [3.0], (2, "b"), -1.0, 0.0),
         (2, None, None, 0.0, 1.0), (3, [], (3, None), 5.0, 5.0)],
        "rid int, arr array<double>, s struct<n:int,t:string>, x double, y double",
    ).select("rid", "arr", "s", st.st_point("x", "y").alias("geometry"))
    left = spark.createDataFrame([(0, 0.0, 0.0), (1, 5.0, 4.0)], "i int, x double, y double") \
        .select("i", st.st_point("x", "y").alias("geometry"))
    for k in (1, 2, 3):
        first = st_sjoin_nearest(left, right, k=k).collect()
        again = st_sjoin_nearest(left, right, k=k).collect()
        assert first == again
        got = {}
        for r in first:
            got.setdefault(r["i"], []).append(r["rid"])
        assert got[1][0] == 3 and len(got[0]) == k and set(got[0]) <= {0, 1, 2}
        assert {r["rid"]: r["arr"] for r in first}.get(3, []) == []


def test_tie_digest_keeps_scalar_columns_and_hashes_lists():
    import pandas as pd
    import pyarrow as pa

    from polars_st_spark.operators.nearest import _tie_digest

    scalar = pa.table({"a": pa.array([1, None, 3], pa.int64()),
                       "s": pa.array(["x", "y", None]),
                       "g": pa.array([b"\x01", b"", None], pa.binary())})
    want = pd.util.hash_pandas_object(scalar.to_pandas(), index=False).to_numpy()
    assert (_tie_digest(scalar, "UTC") == want).all()
    nested = scalar.append_column("arr", pa.array([[1.0, 2.0], None, [1.0, 2.0]]))
    d1 = _tie_digest(nested, "UTC")
    assert (d1 == _tie_digest(nested, "UTC")).all()
    same_arr = nested.set_column(3, "arr", pa.array([[1.0, 2.0], [5.0], [1.0, 2.0]]))
    d2 = _tie_digest(same_arr, "UTC")
    assert d1[0] == d2[0] and d1[2] == d2[2] and d1[1] != d2[1]


# ---------------------------------------------------------------------------
# batched ring rounds == the row-at-a-time loop with per-pair algos.distance
# ---------------------------------------------------------------------------

def _rounds_per_row(lgeo, rgeo, rb, dg, k):
    """The row-at-a-time expanding-ring loop, scoring each candidate pair
    with its own decoded algos.distance call."""
    from polars_st_spark.geo import algos
    from polars_st_spark.geo.index import STRtree
    from polars_st_spark.geo.wkb import from_ewkb
    from polars_st_spark.operators.nearest import _driver_bounds

    tree = STRtree(rb)
    valid = ~np.isnan(rb[:, 0])
    nv = int(valid.sum())
    li, ri, dd = [], [], []
    if not nv:
        return li, ri, dd
    span = max(np.nanmax(rb[:, 2]) - np.nanmin(rb[:, 0]),
               np.nanmax(rb[:, 3]) - np.nanmin(rb[:, 1]), 1e-9)
    r0 = max(span * ((min(k, nv) / nv) ** 0.5), span * 1e-6)
    lb = _driver_bounds(lgeo)
    for i in range(len(lgeo)):
        if np.isnan(lb[i, 0]):
            continue
        gl = from_ewkb(lgeo[i].as_py())
        r, kk = r0, min(k, nv)
        while True:
            cand = tree.query(lb[i, 0] - r, lb[i, 1] - r, lb[i, 2] + r, lb[i, 3] + r)
            if len(cand) >= kk or len(cand) == nv:
                ds = np.array([algos.distance(gl, from_ewkb(rgeo[int(j)].as_py()))
                               for j in cand])
                ok = ~np.isnan(ds)
                cand2, ds2 = cand[ok], ds[ok]
                if len(cand2) >= kk or len(cand) == nv:
                    if len(cand2):
                        top = np.lexsort((dg[cand2], ds2))[:kk]
                        if ds2[top[-1]] <= r or len(cand) == nv:
                            li += [i] * len(top)
                            ri += list(cand2[top])
                            dd += list(ds2[top])
                            break
                    elif len(cand) == nv:
                        break
            r *= 2.0
            if r > 4 * span and len(cand) == nv:
                break
    return li, ri, dd


def _nearest_inputs(seed):
    from polars_st_spark.geo.types import Geometry, GeometryType as T
    from polars_st_spark.geo.wkb import to_ewkb

    rng = np.random.default_rng(seed)

    def pt(x, y, srid=0):
        return to_ewkb(Geometry(T.Point, srid=srid, coords=np.array([x, y])))

    def line(c):
        return to_ewkb(Geometry(T.LineString, coords=np.asarray(c, dtype=float)))

    def poly(c, r, n):
        t = np.sort(rng.uniform(0, 2 * np.pi, n))
        ring = np.stack([c[0] + r * np.cos(t), c[1] + r * np.sin(t)], 1)
        return to_ewkb(Geometry(T.Polygon, rings=[np.vstack([ring, ring[:1]])]))

    empty = to_ewkb(Geometry(T.Point, coords=None))
    lp = rng.uniform(0, 50, (60, 2))
    rp = rng.uniform(0, 50, (25, 2))
    lpts = [pt(x, y) for x, y in lp]
    rpts = [pt(x, y) for x, y in rp]
    rpolys = [poly(c, rng.uniform(0.5, 3), int(rng.integers(3, 7))) for c in rp]
    rlines = [line([c, c + rng.uniform(-4, 4, 2), c + rng.uniform(-4, 4, 2)]) for c in rp]
    mixed = [[rpts, rpolys, rlines][j % 3][j] for j in range(len(rp))]
    lmixed = [[lpts[i], poly(lp[i], 1.0, 4), line([lp[i], lp[i] + 1])][i % 3]
              for i in range(len(lp))]
    # ties: duplicated right points equidistant from the grid-snapped left
    grid = np.round(rp[:8])
    tie_r = [pt(x + dx, y) for x, y in grid for dx in (-1.0, 1.0)] + [pt(x, y + 1) for x, y in grid]
    tie_l = [pt(x, y) for x, y in grid]
    return {
        "points": (lpts, rpts),
        "polygons": (lpts, rpolys),
        "lines": (lpts, rlines),
        "mixed_right": (lpts, mixed),
        "mixed_both": (lmixed, mixed),
        "nulls_empties": ([None, empty] + lpts[:20] + [None], rpts[:10] + [None, empty] + rpts[10:]),
        "srid": ([pt(x, y, 4326) for x, y in lp], [pt(x, y, 4326) for x, y in rp]),
        "ties": (tie_l, tie_r),
    }


@pytest.mark.parametrize("case", ["points", "polygons", "lines", "mixed_right",
                                  "mixed_both", "nulls_empties", "srid", "ties"])
@pytest.mark.parametrize("k", [1, 2, 3])
def test_batched_rounds_match_per_pair_loop(case, k):
    import pyarrow as pa

    from polars_st_spark.geo.index import STRtree
    from polars_st_spark.operators.nearest import _driver_bounds, _knn_rounds

    left, right = _nearest_inputs(17)[case]
    lgeo, rgeo = pa.array(left, pa.binary()), pa.array(right, pa.binary())
    rb = _driver_bounds(rgeo)
    # a digest with collisions, so exact (distance, digest) ties also occur
    dg = (np.arange(len(right), dtype=np.uint64) * np.uint64(7)) % np.uint64(3)
    rcache: dict = {}
    li, ri, d = _knn_rounds(lgeo, rgeo, STRtree(rb), rb, dg, k, rcache)
    wl, wr, wd = _rounds_per_row(lgeo, rgeo, rb, dg, k)
    assert list(li) == wl and list(ri) == wr
    assert np.asarray(d, dtype=np.float64).tobytes() == np.asarray(wd, dtype=np.float64).tobytes()
    assert len(wl) > 0
    # only rounds no distance lane takes decode right rows, into the cache
    assert bool(rcache) == case.startswith("mixed")
