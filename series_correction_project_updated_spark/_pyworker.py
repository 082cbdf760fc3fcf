"""Python worker daemon of the engine's Spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts it once per executor (``python -m``) and it runs
``pyspark.daemon.manager()``, which forks the Python workers, after one
change: ``zipimport.zipimporter.invalidate_caches`` re-reads an archive's
central directory only when the archive's ``(st_size, st_mtime_ns)``
differs from the one this importer last read.

Why: before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimporter`` on ``sys.path_importer_cache`` parse its archive's whole
central directory again. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), with one importer
per package directory in it (14-16), so an unguarded task spends
~0.2 s re-reading an unchanged zip before the user function starts.
Guarded, an unchanged archive costs one ``stat`` per importer.

What ``invalidate_caches`` means is kept: an archive rewritten in place
is read again; directory finders (the SparkFiles root that
``setup_spark_files`` invalidates for newly copied ``.py`` files among
them) are untouched; an archive added later (``addPyFile``) gets a new
importer, which reads it on creation. The first task of each forked
worker re-reads every archive once and stamps it; later tasks only stat.

The workers' Python must be able to import this package at start-up
(``spark.executorEnv.PYTHONPATH`` is set to the package's root for
that; on a cluster the package must be installed on the executors, as
shipping it with ``addPyFile`` only reaches a worker after it started).
If the daemon cannot start, every Python UDF of the session fails with
Spark's worker start-up error; ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}`` restores Spark's own daemon.

Imports only the standard library and, when run, ``pyspark.daemon``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_UNREAD = object()


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_caches_if_changed(self):
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its size or mtime moved since this importer last read it."""
    stamp = _stamp(self.archive)
    if stamp != getattr(self, "_read_stamp", _UNREAD):
        # stamped before the read: a rewrite during it is seen next call
        self._read_stamp = stamp
        _reread(self)


def install():
    """Put the stat guard on every ``zipimporter``, present and future."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches_if_changed


if __name__ == "__main__":
    # installed from the module under its package name, which workers report
    importlib.import_module(__spec__.name).install()
    from pyspark import daemon

    daemon.manager()
