"""Benchmark-local tests; run from the checkout root:

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

They check the generator's closed forms without Spark, the plan walker on
scalar_mix's area/length query, and that the benchmark refuses to run where
the package is missing.
"""

import math
import os
import shutil
import struct
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def _rings(wkb: bytes):
    """Decode a single-part 2-D Polygon or LineString WKB of either byte
    order with struct alone."""
    bo = "<" if wkb[0] == 1 else ">"
    (typ,) = struct.unpack_from(bo + "I", wkb, 1)
    pos = 5
    if typ == 2:
        (n,) = struct.unpack_from(bo + "I", wkb, pos)
        return typ, [np.array(struct.unpack_from(bo + f"{2 * n}d", wkb, pos + 4)).reshape(n, 2)]
    (nr,) = struct.unpack_from(bo + "I", wkb, pos)
    pos += 4
    rings = []
    for _ in range(nr):
        (n,) = struct.unpack_from(bo + "I", wkb, pos)
        rings.append(np.array(struct.unpack_from(bo + f"{2 * n}d", wkb, pos + 4)).reshape(n, 2))
        pos += 4 + 16 * n
    return typ, rings


def _close(a, b):
    # the benchmark's own tolerance: relative 1e-9, absolute 1e-9 below 1
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _shoelace(r):
    return 0.5 * abs(np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1]))


def test_generator_closed_forms_match_the_encoded_geometry():
    sm = gen.scalar_mix(3, partitions=2, batch=50, rect_batches=1, ngon_batches=1,
                        line_batches=1, odd_rows=5)
    t = sm.table.to_pydict()
    for i in range(0, len(t["g"]), 7):
        typ, rings = _rings(t["g"][i])
        if typ == 3:
            area = _shoelace(rings[0]) - sum(_shoelace(h) for h in rings[1:])
            perim = sum(np.hypot(*np.diff(r, axis=0).T).sum() for r in rings)
            assert _close(area, t["e_area"][i])
            assert _close(perim, t["e_len"][i])
        else:
            assert t["e_area"][i] == 0.0
            assert _close(np.hypot(*np.diff(rings[0], axis=0).T).sum(), t["e_len"][i])
    assert sm.rows_per_kind["odd"] == 10
    assert all(t["g"][i][0] == 0 for i in range(len(t["g"])) if t["kind"][i] == gen.KIND_ODD)


def test_ingest_wkt_and_wkb_describe_the_same_polygons():
    ing = gen.ingest(5, 40)
    t = ing.table.to_pydict()
    for text, wkb in zip(t["wkt"], t["wkb"]):
        _typ, rings = _rings(wkb)
        first = text[len("POLYGON (("):].split(",")[0].split()
        assert (float(first[0]), float(first[1])) == tuple(rings[0][0])


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    from perfbench import spark_env as se

    env = se.SparkEnv(ROOT, str(tmp_path_factory.mktemp("perfbench")), 2, 1024)
    env.start()
    yield env
    env.close()


def test_walker_finds_one_arrow_eval_python_with_stable_bytes(spark_env):
    from perfbench import spans, spark_env as se, workloads

    spark = spark_env.spark
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    data = workloads.ScalarData(
        gen.scalar_mix(7, partitions=2, batch=500, rect_batches=1, ngon_batches=1,
                       line_batches=1, odd_rows=5),
        gen.ingest(7, 50))
    inputs = {"g": workloads._cache(spark, data.mix.table, 2)}
    ctx = workloads.RunContext(spark, spark_env.tmp)
    query = next(q for q in workloads._scalar_queries(
        {**inputs, "text": None}, data, ctx) if q.name == "area_length")
    sent = []
    for _ in range(2):
        df, check = query.run(spans.Tracer(False, ""))
        assert check()
        python = [(n, m) for n, m in se.walk_plan(df) if n.startswith(se.PYTHON_NODES)]
        assert [n for n, _ in python] == ["ArrowEvalPython"]
        sent.append(python[0][1]["pythonDataSent"])
    assert sent[0] > 0 and sent[0] == sent[1]


def test_job_counter_counts_a_group(spark_env):
    from perfbench import spark_env as se

    sc = spark_env.spark.sparkContext
    sc.setJobGroup("perfbench-test", "count")
    spark_env.spark.range(0, 1000, 1, 3).count()
    c = se.job_counts(sc, "perfbench-test")
    assert c["jobs"] >= 1 and c["stages"] >= 1 and c["tasks"] >= 3


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "scalar_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout
