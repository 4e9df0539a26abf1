"""Python worker daemon that imports pyspark from the interpreter's install.

Spark starts every Python worker daemon with ``$SPARK_HOME/python/lib/``'s
``pyspark.zip`` and py4j source zip and the ``spark-core`` jar first on
``PYTHONPATH`` (``PythonUtils.sparkPythonPath``).  The zip holds only
``.py`` files, so each daemon compiles the worker modules from source
(importing ``pyspark.worker`` and ``pyspark.daemon`` took 0.8-0.9 s of
CPU on Python 3.11, against about 0.4 s from the installed package's
cached bytecode).  And on every task ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``, after which each zipimporter,
one per package directory of the zip and two on the 5k-entry jar,
re-reads its whole archive directory: reused workers spent about
0.17 s of CPU on a warm run of the x6 ``mapInArrow`` query at sf0.01,
and 0.02 s without the archives (SCALING.md "Python worker start-up").

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Before anything imports pyspark, it drops those entries from
``sys.path`` and ``sys.path_importer_cache`` (``prune``), but only when
the interpreter's own pyspark is the same release as the zip (its
``pyspark/version.py`` is byte-identical to the zip's) and py4j imports
without the zip.  Otherwise the path stays exactly as Spark built it.
Either way it then runs ``pyspark.daemon.manager()``, so the forked
workers are Spark's own.

It imports only the standard library before ``prune`` runs, and the
package's ``__init__`` imports nothing eagerly, so
``python -m projectmapreduce_spark.pydaemon`` loads no pyspark module
from the zip.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def spark_entries(path: list[str], spark_home: str) -> list[str]:
    """The entries of ``path`` that Spark put there for pyspark: the
    zips in ``<spark_home>/python/lib`` and the jars in
    ``<spark_home>/jars``, in path order.  Directories are compared
    resolved, because Spark names the jar by its real location and the
    zips through ``SPARK_HOME``, which may be a symlink."""
    home = os.path.realpath(spark_home)
    owners = {(os.path.join(home, "python", "lib"), ".zip"), (os.path.join(home, "jars"), ".jar")}
    return [
        p
        for p in path
        if (os.path.realpath(os.path.dirname(p)), os.path.splitext(p)[1]) in owners
    ]


def prune(path: list[str], importer_cache: dict, spark_home: str | None) -> list[str]:
    """Remove Spark's pyspark archives from ``path`` and their importers
    from ``importer_cache``, in place, when the pyspark and py4j that the
    rest of ``path`` finds can stand in for them.  Returns the removed
    entries; an empty list means both are untouched."""
    if not spark_home:
        return []
    drop = spark_entries(path, spark_home)
    zips = [p for p in drop if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return []
    kept = [p for p in path if p not in drop]
    pyspark = PathFinder.find_spec("pyspark", kept)
    if pyspark is None or not pyspark.submodule_search_locations:
        return []
    if PathFinder.find_spec("py4j", kept) is None:
        return []
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            shipped = zf.read("pyspark/version.py")
        with open(os.path.join(pyspark.submodule_search_locations[0], "version.py"), "rb") as f:
            installed = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return []
    if installed != shipped:
        return []
    path[:] = kept
    for key in list(importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in drop):
            del importer_cache[key]
    return drop


if __name__ == "__main__":
    prune(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME"))
    from pyspark.daemon import manager

    manager()
