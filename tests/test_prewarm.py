"""Worker arena retention: gating and the one tunable (the perf effect
itself is measured in bench.py; here we pin the contract — driver processes
skip, worker-context imports set the malloc retention thresholds, and
``POLARS_ST_SPARK_MALLOC_THRESH_MB`` tunes or disables them)."""

from __future__ import annotations

import ctypes
import os
import sys
import types

import polars_st_spark as st

_MIB = 1024 * 1024


def _record_mallopt(monkeypatch):
    """Replace ``ctypes.CDLL`` with a libc whose mallopt records its calls
    instead of changing this process's allocator."""
    calls = []

    def mallopt(param, value):
        calls.append((param, value))

    monkeypatch.setattr(ctypes, "CDLL",
                        lambda name: types.SimpleNamespace(mallopt=mallopt))
    return calls


def test_prewarm_skips_outside_worker(monkeypatch):
    # this test process is a driver: pyspark.worker is not in sys.modules,
    # so calling the hook must be a cheap no-op (no mallopt)
    assert "pyspark.worker" not in sys.modules
    calls = _record_mallopt(monkeypatch)
    st._setup_worker_process()
    assert calls == []


def test_prewarm_runs_in_worker_context():
    # in a SUBPROCESS: the import-time hook calls the real mallopt, which
    # cannot be undone and would lower this pytest process's mmap/trim
    # thresholds for every later test. The subprocess stubs pyspark.worker,
    # imports the package (the hook fires), then calls the hook again with
    # a recording libc to check the thresholds it sets.
    import subprocess

    code = (
        "import sys; sys.modules['pyspark.worker'] = sys\n"
        "import ctypes, types, zipimport\n"
        "import polars_st_spark as st\n"
        "assert getattr(zipimport.zipimporter.invalidate_caches,"
        " '_pst_stat_gated', False)\n"
        "calls = []\n"
        "def mallopt(p, v): calls.append((p, v))\n"
        "ctypes.CDLL = lambda name: types.SimpleNamespace(mallopt=mallopt)\n"
        "st._setup_worker_process()\n"
        "assert calls == [(-1, 512 << 20), (-3, 512 << 20)], calls\n"
        "print('worker-hook-ok')\n"
    )
    env = dict(os.environ)
    env.pop("POLARS_ST_SPARK_MALLOC_THRESH_MB", None)
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, env=env, timeout=120)
    assert r.returncode == 0, r.stderr
    assert "worker-hook-ok" in r.stdout, r.stdout


def test_prewarm_env_disable(monkeypatch):
    # MALLOC_THRESH_MB tunes the thresholds, clamps them to a C int, and
    # 0 or a negative value skips mallopt. The arena step is called
    # directly, not through the worker gate, which would also patch this
    # process's zipimport (see tests/test_zip_dir_cache.py).
    calls = _record_mallopt(monkeypatch)
    monkeypatch.setenv("POLARS_ST_SPARK_MALLOC_THRESH_MB", "0")
    st._retain_malloc_arena()
    monkeypatch.setenv("POLARS_ST_SPARK_MALLOC_THRESH_MB", "-5")
    st._retain_malloc_arena()
    assert calls == []
    monkeypatch.setenv("POLARS_ST_SPARK_MALLOC_THRESH_MB", "64")
    st._retain_malloc_arena()
    assert calls == [(-1, 64 * _MIB), (-3, 64 * _MIB)]
    calls.clear()
    monkeypatch.setenv("POLARS_ST_SPARK_MALLOC_THRESH_MB", "4096")
    st._retain_malloc_arena()
    assert calls == [(-1, 2**31 - 1), (-3, 2**31 - 1)]
    calls.clear()
    monkeypatch.setenv("POLARS_ST_SPARK_MALLOC_THRESH_MB", "junk")
    st._retain_malloc_arena()
    assert calls == [(-1, 512 * _MIB), (-3, 512 * _MIB)]
