"""Spark's Python worker daemon, importing PySpark from site-packages.

Spark puts its own archives at the head of every Python worker's path:
``pyspark.zip``, ``py4j-*-src.zip`` and the spark-core jar. Each Python-UDF
task ends its set-up with ``importlib.invalidate_caches()``, and on Python
3.11 that makes every zipimporter in ``sys.path_importer_cache`` re-read its
archive's directory (CPython gh-103200). The jar alone holds over 5,000
entries, so this costs 0.1-0.3 s per task.

When the installed PySpark is the same release as the one in
``pyspark.zip``, this module removes the archives from ``sys.path`` and
their importers from ``sys.path_importer_cache``, then runs Spark's own
daemon, so the forked workers import PySpark from site-packages. When the
releases differ it leaves the path alone. ``session.get_spark`` selects it
through ``spark.python.daemon.module`` for local masters.

Spark's daemon runs a full ``gc.collect()`` in each forked worker after
every task, and without help each one walks every object the worker has
imported (pandas, pyarrow, PySpark, the kernels): 14-28 ms a task. So each
worker calls ``gc.freeze()`` once, at the start of its second task. By then
its first task has done those imports and the collection that followed it
has removed that task's garbage; what is left lives as long as the worker.
Objects made by later tasks stay collectable.

It must stay a top-level module: under ``python -m`` a package's
``__init__`` runs first, and ``datatrove_spark``'s imports PySpark, which
would then come from the zip before this module could drop it.
"""

from __future__ import annotations

import fnmatch
import gc
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""^__version__\b[^=]*=\s*["']([^"']+)["']""", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def drop_spark_archives(path: list[str], cache: dict) -> bool:
    """Remove Spark's archives from `path` and their importers from `cache`
    (in place) if the PySpark found on the rest of `path` is the release in
    `pyspark.zip`. Returns whether it did."""
    archives = [p for p in path if any(fnmatch.fnmatch(os.path.basename(p), a) for a in ARCHIVES)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in archives]
    spec = PathFinder.find_spec("pyspark", rest)
    if not zips or spec is None or not spec.submodule_search_locations:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            installed = _version(f.read())
        with zipfile.ZipFile(zips[0]) as z:
            bundled = _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    if installed is None or installed != bundled:
        return False
    path[:] = rest
    for key in [k for k in cache if any(k == a or k.startswith(a + os.sep) for a in archives)]:
        del cache[key]
    return True


def freeze_after_first_task(worker_main):
    """Wrap a worker's task entry point so that the worker calls
    ``gc.freeze()`` once, before its second task. The daemon never runs a
    task itself, so each forked worker starts counting at 0."""
    tasks = 0

    def main(infile, outfile):
        nonlocal tasks
        if tasks == 1:
            gc.freeze()
        tasks += 1
        return worker_main(infile, outfile)

    return main


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache)

    from pyspark import daemon

    daemon.worker_main = freeze_after_first_task(daemon.worker_main)
    daemon.manager()
