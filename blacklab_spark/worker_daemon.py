"""PySpark worker daemon that imports pyspark from the installed package.

Spark starts its Python workers with ``pyspark.zip``, ``py4j-*-src.zip``
and the ``spark-core`` jar first on ``PYTHONPATH``, so a worker imports
pyspark from those archives and keeps one ``zipimporter`` per archive and
per imported sub-package in ``sys.path_importer_cache``. Before every task
the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``), and on CPython <= 3.11
that makes each ``zipimporter`` re-read its archive's whole central
directory: ~0.2 s of CPU per task with Spark 4.1's archives on a
4-core x86 VM, more than most of this engine's kernels spend on their
data (CPython 3.12 made the re-read lazy).

Run as ``python -m blacklab_spark.worker_daemon pyspark.worker``
(``session.WORKER_CONF``), this module drops Spark's own archives from
``sys.path`` when the interpreter imports ``pyspark`` and ``py4j``
without them (the installed package the driver runs), purges the zip
importers that resolving this module already cached, and then runs
``pyspark.daemon.manager()`` unchanged. Other path entries stay: user
archives (``--py-files``, ``addPyFile``) still import, through an
importer made on their first lookup.
"""

import fnmatch
import importlib.util
import os
import sys
import zipimport

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-*.jar")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return any(fnmatch.fnmatch(name, pat) for pat in SPARK_ARCHIVES)


def drop_spark_archives() -> None:
    """Import pyspark and py4j from the installed packages, not Spark's
    archives; a no-op when either is importable only from an archive."""
    full = list(sys.path)
    sys.path[:] = [p for p in full if not _is_spark_archive(p)]
    if "pyspark" in sys.modules or any(
        importlib.util.find_spec(m) is None for m in ("pyspark", "py4j")
    ):
        sys.path[:] = full
        return
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_spark_archives()
    from pyspark.daemon import manager

    manager()
