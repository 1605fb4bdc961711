"""Python workers of a local session import PySpark from site-packages, so no
zipimporter of Spark's archives is left for `importlib.invalidate_caches()`
to re-read at every task's set-up, and freeze their heap before their second
task, so the daemon's `gc.collect()` after each task skips the imported
modules (`pyspark_site_daemon`)."""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile

import pyspark

import pyspark_site_daemon as sd

ARCHIVE_KEYS = ("*/pyspark.zip", "*/pyspark.zip/*", "*/py4j-*.zip", "*/py4j-*.zip/*", "*.jar", "*.jar/*")


def _in_archive(path: str) -> bool:
    return any(fnmatch.fnmatch(path, pat) for pat in ARCHIVE_KEYS)


def test_worker_imports_pyspark_from_site_packages(spark):
    def probe(_):
        import sys

        import pyspark

        yield pyspark.__file__, sorted(k for k in sys.path_importer_cache if isinstance(k, str))

    pyspark_file, keys = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    assert not _in_archive(pyspark_file), pyspark_file
    assert [k for k in keys if _in_archive(k)] == []


def _spark_path(tmp_path, version: str) -> list[str]:
    zip_path = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    py4j = str(tmp_path / "py4j-0.10.9.9-src.zip")
    jar = str(tmp_path / "spark-core_2.13-4.1.2.jar")
    return [zip_path, py4j, jar] + [p for p in sys.path if p]


def test_daemon_drops_archives_when_versions_match(tmp_path):
    path = _spark_path(tmp_path, pyspark.__version__)
    archives = path[:3]
    cache = {a: object() for a in archives}
    cache[archives[0] + "/pyspark"] = object()
    cache["/elsewhere"] = None
    assert sd.drop_spark_archives(path, cache)
    assert not set(archives) & set(path)
    assert list(cache) == ["/elsewhere"]


def test_daemon_keeps_path_when_versions_differ(tmp_path):
    path = _spark_path(tmp_path, "0.0.0")
    cache = {p: object() for p in path[:3]}
    cache[path[0] + os.sep + "pyspark"] = object()
    want_path, want_cache = list(path), dict(cache)
    assert not sd.drop_spark_archives(path, cache)
    assert path == want_path
    assert cache == want_cache


def test_worker_freezes_its_heap_from_its_second_task(spark):
    """Each worker calls `gc.freeze()` before its second task, so the daemon's
    `gc.collect()` after every task no longer walks the imported modules,
    while a reference cycle made in one task is still collected before that
    worker's next task."""

    def probe(_):
        import gc
        import os
        import sys
        import weakref

        class Node:  # weakly referenceable, and part of a reference cycle
            def __init__(self, cycle: dict):
                cycle["node"] = self
                self.cycle = cycle

        prev = getattr(sys, "_freeze_probe", None)
        seq = getattr(sys, "_freeze_probe_seq", 0) + 1
        sys._freeze_probe_seq = seq
        sys._freeze_probe = weakref.ref(Node({}))
        yield os.getpid(), seq, gc.get_freeze_count(), prev is not None and prev() is not None

    rdd = spark.sparkContext.parallelize(range(4), 4)
    rows = [r for _ in range(3) for r in rdd.mapPartitions(probe).collect()]
    later = [r for r in rows if r[1] >= 2]
    assert later, rows  # some worker ran more than one probe task
    for pid, seq, frozen, prev_alive in later:
        assert frozen > 0, (pid, seq)
        assert not prev_alive, (pid, seq)
