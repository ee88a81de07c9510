"""Python worker daemon of every denrl_spark session
(``spark.python.daemon.module``, set in ``session.get_spark``).

It runs pyspark's own ``daemon.manager()`` after two changes, both safe
because Spark's own archives do not change while a daemon runs:

1. ``zipimporter.invalidate_caches`` skips archives whose real path lies
   under ``realpath($SPARK_HOME)``. pyspark calls
   ``importlib.invalidate_caches()`` for every task, which re-reads the
   central directory of each cached zipimporter: ``pyspark.zip``, the
   py4j zip and spark-core's jar (reached through a symlinked
   ``$SPARK_HOME``, hence the resolved path). Zips shipped with
   ``addPyFile`` live under the SparkFiles root and keep the re-read.
2. When the interpreter's installed pyspark is the release in
   ``$SPARK_HOME/python/lib/pyspark.zip``, the ``$SPARK_HOME`` archives
   move to the end of ``sys.path``, so the daemon and its forked workers
   import the installed, bytecode-cached package instead of compiling
   the zip's sources. Another release, no ``SPARK_HOME`` or any error in
   the check leaves ``sys.path`` as it is: stock behaviour.
"""

import os
import sys
import zipimport

SPARK_ROOT = os.path.realpath(os.environ["SPARK_HOME"]) if os.environ.get("SPARK_HOME") else None

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _in_spark_home(path: str) -> bool:
    return SPARK_ROOT is not None and os.path.realpath(path).startswith(SPARK_ROOT + os.sep)


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips Spark's own archives."""
    if not _in_spark_home(importer.archive):
        _stock_invalidate_caches(importer)


def prefer_installed_pyspark() -> None:
    """Move the ``$SPARK_HOME`` archives behind the installed pyspark
    when both are the same release (read as pyspark's setup.py does)."""
    if SPARK_ROOT is None:
        return
    try:
        from importlib.metadata import version

        zipped = zipimport.zipimporter(os.path.join(SPARK_ROOT, "python", "lib", "pyspark.zip"))
        ns: dict = {}
        exec(zipped.get_data("pyspark/version.py"), ns)
        if ns["__version__"] != version("pyspark"):
            return
    except Exception:
        return
    archives = [p for p in sys.path if os.path.isfile(p) and _in_spark_home(p)]
    sys.path[:] = [p for p in sys.path if p not in archives] + archives


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    prefer_installed_pyspark()
    from pyspark import daemon

    daemon.manager()
