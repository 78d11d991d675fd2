"""Custom PySpark worker daemon: preload heavy libraries before forking,
and keep a worker's per-task import-cache reset cheap.

Python workers are forked from one daemon process per executor; everything
imported HERE is inherited by every forked worker copy-on-write, so the
worker-side ``import pandas/pyarrow/numpy`` (multi-second on sandboxed
filesystems, and paid per spawned worker) happens once per executor
instead. This matters doubly for stateful streaming (applyInPandasWithState
/ transformWithState): those runners do not return their workers to the
reuse pool, so every streaming query run used to pay the full import cost
for a fresh set of workers — guide §4.5's once-per-task discipline taken to
the process level.

Unchanged archives are not re-read. Every task's
``pyspark.worker_util.setup_spark_files`` ends in
``importlib.invalidate_caches()``. On Python 3.11 and 3.12 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory: 14-16 importers over ``pyspark.zip`` (1,328 entries)
and the py4j zip. A warm ``mapInPandas`` task's ``init`` in Spark's
``PythonRunner`` log had a median of 196 ms for that, before any user
code ran, and has 5 ms with the guard below. (Python 3.13 made the
call lazy.) :func:`skip_unchanged_zip_rereads`, installed before the
daemon forks, keys each archive's directory on its ``(mtime_ns, size)``
in ``exprutil.memo``: an importer whose archive is unchanged, in the
daemon or in any forked worker and whenever the importer was created,
takes the directory already read; a changed archive is read again, so
its new modules import. The daemon's start reads each archive once.

The reset runs in every task, whether or not its worker is new. Spark
sets ``SPARK_REUSE_WORKER=1``, and workers are mostly reused: four
eight-task ``mapInPandas`` collects at ``local[4]`` all ran on the same
four worker pids. A streaming drain still forks a few fresh workers per
pass (1-3 new pids in a warm ``stream_pq_ingest``); which tasks do not
return their worker is not known yet.

Behavior is otherwise identical to ``pyspark.daemon``: enabled via
``spark.python.daemon.module=flink_spark.pydaemon`` (session.get_spark sets
it, plus PYTHONPATH so the executor-launched daemon can import this
module). Preloading is best-effort — a missing library must never break
worker startup.
"""

import os
import sys
import zipimport

try:  # best-effort: never fail the daemon over a preload
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401  (the worker module + its dep tree)
    from pyspark.sql.pandas import serializers  # noqa: F401
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager

from flink_spark.exprutil import memo


def _invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive's ``(mtime_ns, size)`` changed. The
    stat precedes the read, so an archive rewritten during a read is
    read again next time."""
    try:
        st = os.stat(self.archive)
        self._files = memo(
            ("zipdir", self.archive, st.st_mtime_ns, st.st_size),
            lambda: zipimport._read_directory(self.archive),
        )
        zipimport._zip_directory_cache[self.archive] = self._files
    except (OSError, zipimport.ZipImportError):
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}


def skip_unchanged_zip_rereads() -> None:
    """Install :func:`_invalidate_caches` on every ``zipimporter`` and
    key the archives already imported from (one read each)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    skip_unchanged_zip_rereads()
    manager()
