"""Module-level UDF objects across a SparkContext restart.

PySpark caches a UDF's JVM function under the context that first applied
it, and that function carries the context's accumulator. The library's
module-level UDFs (``st_area``'s among them) must not keep it across
``spark.stop()``: the next session's tasks would report to the dead
accumulator server and the driver would log ``Failed to update accumulator``.
The test runs in a subprocess because it stops and restarts its own
SparkContext, which the shared session fixture must not see."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CODE = r"""
from pyspark.sql import SparkSession
import polars_st_spark as st

def session():
    return (SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate())

wkt = ["POLYGON((0 0,2 0,2 3,0 3,0 0))", "POLYGON((0 0,1 0,1 1,0 0))", None]
for run in range(2):
    spark = session()
    df = spark.createDataFrame([(w,) for w in wkt], "w string").repartition(2)
    got = sorted(
        (r.a for r in df.select(st.st_area(st.st_from_wkt("w")).alias("a")).collect()),
        key=lambda a: -1.0 if a is None else a)
    assert got == [None, 0.5, 6.0], got
    print("session", run, "ok", flush=True)
    spark.stop()
"""


def test_st_area_in_two_consecutive_sessions():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    r = subprocess.run([sys.executable, "-c", _CODE], capture_output=True,
                       text=True, cwd=ROOT, env=env, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    assert "session 0 ok" in r.stdout and "session 1 ok" in r.stdout, r.stdout
    assert "Failed to update accumulator" not in r.stderr, r.stderr[-4000:]
