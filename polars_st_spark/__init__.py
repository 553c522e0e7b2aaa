"""polars-st-spark: a PySpark-native spatial analytics engine.

A from-scratch PySpark library providing the query and data-processing
capabilities of the polars-st reference (PostGIS-style ``ST_*`` operations
over DataFrame columns), re-expressed Spark-first:

- geometry = EWKB bytes in ordinary ``BinaryType`` columns (per-value SRID,
  reference semantics: ``/root/reference/README.md:36``, ``src/wkb.rs:23-27``)
- scalar ops = Arrow-batched pandas UDFs over a numpy-vectorized geometry
  kernel (this repo's own; no GEOS/shapely dependency)
- aggregations = GROUPED_AGG pandas UDFs / plain Spark SQL where possible
- spatial join = broadcast STRtree or grid-cell equi-join
- everything composes with normal Spark SQL (Catalyst optimizes around it)
"""

import os as _os
import sys as _sys

# Observable sentinel for tests: how many MiB the LAST arena set-up call
# actually touched (0 when the touch is off or the process is a driver).
# Asserting this instead of an absolute subprocess RSS makes the gating test
# immune to ambient host load (the r7 flake: a 240 MB RSS threshold failed
# at 619 MB under a concurrent Spark session, passed standalone).
_prewarm_touched_mb = 0


def _setup_worker_process() -> None:
    """One-time set-up of a PySpark worker process, run when it imports the
    package. A driver process returns at once: the single gate is
    ``"pyspark.worker" in sys.modules``. In a worker it does two things:

    1. :func:`_retain_malloc_arena` raises glibc's trim/mmap thresholds so
       the batch kernels' large numpy temporaries recycle retained pages
       instead of re-faulting fresh ones on every call.
    2. :func:`_skip_unchanged_zip_rereads` stops every task from re-parsing
       the central directory of each zip on the worker's import path.
       PySpark calls ``importlib.invalidate_caches()`` at the start of every
       task, and before CPython 3.12 each cached ``zipimporter`` then
       re-reads its whole archive directory (``pyspark.zip`` alone has
       1,328 entries and a dozen importers): 0.16-0.29 s per task, more
       than most kernels here cost. After the patch an unchanged archive
       costs one ``stat`` per importer per task and a rewritten one is
       still re-read. On CPython 3.12 and later the invalidation is lazy
       upstream (gh-103200), so this step does nothing there.

    Both steps are idempotent; the hook may run again in the same process."""
    if "pyspark.worker" not in _sys.modules:
        return
    _retain_malloc_arena()
    _skip_unchanged_zip_rereads()


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_ino, st_size, st_mtime_ns)``
    differs from what that importer saw when it last read it. The first
    call per importer still reads (its earlier read time is unknown), and an
    archive that cannot be stat'ed is re-read on every call, as the stdlib
    method does."""
    if _sys.implementation.name != "cpython" or _sys.version_info >= (3, 12):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_pst_stat_gated", False):
        return

    def invalidate_caches(self):
        """Reload the file data of the archive path if the archive changed."""
        try:
            st = _os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or self.__dict__.get("_pst_archive_key") != key:
            reread(self)
            self._pst_archive_key = key

    invalidate_caches._pst_stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _retain_malloc_arena() -> None:
    """Malloc-arena retention inside a PySpark worker process.

    Two independent knobs, decoupled in r7 after per-stage accumulator
    profiling ("time to initialize Python workers") attributed a 75s/task
    worker-init storm to the old coupled default:

    1. **Retention thresholds (the load-bearing part, always on).** Raising
       M_TRIM_THRESHOLD / M_MMAP_THRESHOLD makes glibc serve the batch
       kernels' large numpy temporaries from the retained brk arena instead
       of fresh mmaps, so first-touch faults are paid ONCE per worker
       lifetime instead of once per call — on virtualized hosts a fresh
       anonymous page faults at ~50-100x its steady price (measured here:
       a 600k-row relate sweep 13.2s with per-call mmap churn vs 3.1s with
       a retained arena). Costs nothing at startup. Tunable via
       ``POLARS_ST_SPARK_MALLOC_THRESH_MB`` (default 512; 0 disables).

    2. **Eager page touch (OFF by default since r7).** Touching N MiB at
       import moves the arena's first-touch faults into worker startup.
       That looked free when one long-lived session amortized it, but it
       is quadratically wrong at session/worker spawn: local[32] forks 32
       workers that each touch eagerly and CONCURRENTLY, and the
       hypervisor's page-backing path serializes under that load —
       measured r7: 256 MiB x 32 workers = 74.5s PER TASK of
       "time to initialize Python workers" (a 222s first query; 5.2s with
       the touch off; the kernels re-fault lazily at ~their own data size
       instead, which the retained arena then holds). Re-enable for
       long-lived fixed-worker deployments via
       ``POLARS_ST_SPARK_PREWARM_MB`` (default 0)."""
    try:
        thresh_mb = int(_os.environ.get("POLARS_ST_SPARK_MALLOC_THRESH_MB", "512"))
    except ValueError:
        thresh_mb = 512
    try:
        mb = int(_os.environ.get("POLARS_ST_SPARK_PREWARM_MB", "0"))
    except ValueError:
        mb = 0
    if thresh_mb > 0:
        # Couple the retention floor to an enabled eager touch: if the touch
        # buffer (mb MiB) exceeded M_MMAP_THRESHOLD it would be served by
        # mmap and munmapped on free — a silently ineffective prewarm. Keep
        # the thresholds at >= 2x the touch size so the buffer stays in (and
        # seeds) the retained brk arena.
        if mb > 0:
            thresh_mb = max(thresh_mb, 2 * mb)
        try:
            import ctypes

            libc = ctypes.CDLL("libc.so.6")
            # mallopt takes C ints: clamp so big values can't overflow
            # (ctypes would raise, the except would swallow it, and the
            # retention thresholds would silently stay at defaults).
            libc.mallopt.argtypes = (ctypes.c_int, ctypes.c_int)
            thresh = min(thresh_mb * 1024 * 1024, 2**31 - 1)
            libc.mallopt(-1, thresh)  # M_TRIM_THRESHOLD
            libc.mallopt(-3, thresh)  # M_MMAP_THRESHOLD
        except Exception:
            pass  # non-glibc platform: retention is a no-op
    elif mb > 0:
        import warnings

        warnings.warn(
            "POLARS_ST_SPARK_PREWARM_MB is set but retention is disabled "
            "(POLARS_ST_SPARK_MALLOC_THRESH_MB=0): the touched buffer will "
            "be munmapped on free, making the prewarm ineffective."
        )
    globals()["_prewarm_touched_mb"] = 0
    if mb <= 0:
        return
    import numpy as _np

    buf = _np.empty(mb * 131072, dtype=_np.float64)  # mb MiB
    buf[::512] = 1.0  # one write per 4 KiB page
    del buf
    globals()["_prewarm_touched_mb"] = mb


_setup_worker_process()

from polars_st_spark.frame import (
    geodataframe,
    geom,
    plot,
    sjoin,
    to_ewkt,
    to_feature_dicts,
    to_geojson,
    to_wkb,
    to_wkt,
)
from polars_st_spark.operators.arrowpath import measure_arrow
from polars_st_spark.operators.predjoin import filter_pairs
from polars_st_spark.functions import *  # noqa: F401,F403
from polars_st_spark.functions import __all__ as _fn_all

__version__ = "0.1.0"
__all__ = list(_fn_all) + [
    "geodataframe", "geom", "plot", "sjoin", "to_feature_dicts", "filter_pairs",
    "measure_arrow",
]
