"""Worker-only zip directory caching: PySpark calls
``importlib.invalidate_caches()`` at the start of every task, and before
CPython 3.12 that makes every cached ``zipimporter`` re-parse its archive's
whole central directory. A worker that imports the package patches
``zipimporter.invalidate_caches`` to re-read only archives whose
``(st_ino, st_size, st_mtime_ns)`` changed.

Every worker-context check runs in a SUBPROCESS with
``sys.modules['pyspark.worker']`` stubbed, so this pytest process's
``zipimport`` is never patched."""

from __future__ import annotations

import os
import subprocess
import sys
import zipimport

import pytest

import polars_st_spark as st

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Shared prologue: a zip on sys.path with one module imported from it, and
# a counter around the function every directory read goes through.
_PROLOGUE = r"""
import importlib, os, sys, tempfile, zipfile, zipimport
z = os.path.join(tempfile.mkdtemp(), 'pst_zipdir_probe.zip')
with zipfile.ZipFile(z, 'w') as f:
    f.writestr('pst_zmod_a.py', 'VALUE = 1\n')
sys.path.insert(0, z)
import pst_zmod_a
assert pst_zmod_a.VALUE == 1
reads = []
_orig_read = zipimport._read_directory
def _counting(archive):
    reads.append(archive)
    return _orig_read(archive)
zipimport._read_directory = _counting
"""

needs_311 = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 12),
    reason="invalidation is lazy upstream from CPython 3.12 (gh-103200)")


def _run(code: str) -> str:
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=ROOT, timeout=120)
    assert r.returncode == 0, r.stderr
    return r.stdout


def test_driver_process_leaves_zipimporter_untouched():
    # this pytest process is a driver: importing the package and calling
    # the hook again must not replace the class's method
    assert "pyspark.worker" not in sys.modules
    before = zipimport.zipimporter.invalidate_caches
    st._setup_worker_process()
    assert zipimport.zipimporter.invalidate_caches is before
    assert not getattr(before, "_pst_stat_gated", False)


@needs_311
def test_worker_skips_unchanged_zip_and_rereads_rewritten():
    out = _run(
        "import sys; sys.modules['pyspark.worker'] = sys\n"
        "import polars_st_spark as st\n" + _PROLOGUE +
        "patched = zipimport.zipimporter.invalidate_caches\n"
        "assert patched._pst_stat_gated\n"
        "st._setup_worker_process()\n"  # idempotent
        "assert zipimport.zipimporter.invalidate_caches is patched\n"
        # the first call per importer still reads: when that importer last
        # read the archive is unknown
        "importlib.invalidate_caches()\n"
        "del reads[:]\n"
        "for _ in range(10):\n"
        "    importlib.invalidate_caches()\n"
        "assert reads == [], reads\n"
        "print('unchanged-ok')\n"
        # rewrite the archive with a new module: one more invalidation
        # re-reads it and the new module imports
        "with zipfile.ZipFile(z, 'w') as f:\n"
        "    f.writestr('pst_zmod_a.py', 'VALUE = 1\\n')\n"
        "    f.writestr('pst_zmod_b.py', 'VALUE = 2\\n')\n"
        "importlib.invalidate_caches()\n"
        "assert reads == [z], reads\n"
        "import pst_zmod_b\n"
        "assert pst_zmod_b.VALUE == 2\n"
        "print('rewritten-ok')\n"
        # a vanished archive is re-read (and found empty) on every call
        "os.remove(z)\n"
        "del reads[:]\n"
        "importlib.invalidate_caches(); importlib.invalidate_caches()\n"
        "assert reads == [z, z], reads\n"
        "print('missing-ok')\n")
    for mark in ("unchanged-ok", "rewritten-ok", "missing-ok"):
        assert mark in out, out


def test_no_patch_from_cpython_312():
    # CPython 3.12 made the invalidation lazy upstream, so the step must
    # leave the class alone there
    out = _run(
        "import sys, zipimport\n"
        "import polars_st_spark as st\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "real = sys.version_info\n"
        "sys.version_info = (3, 12, 0, 'final', 0)\n"
        "try:\n"
        "    st._skip_unchanged_zip_rereads()\n"
        "finally:\n"
        "    sys.version_info = real\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
        "print('312-ok')\n")
    assert "312-ok" in out
