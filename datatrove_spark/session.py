"""SparkSession factory tuned for web-scale curation workloads.

All knobs here are chosen for the 100TB/1000-executor target, not just a
local[N] sandbox:

- AQE on (runtime coalescing + skew-join splitting): hot hosts / hot minhash
  buckets are the known skew sources of this workload (SURVEY.md section 4).
- Arrow enabled and batch size tuned: every Python kernel in this engine is a
  vectorized pandas/Arrow UDF (input_hint mandates no per-row Python).
- shuffle.partitions defaults scale with cores locally; on a real cluster it
  is expected to be overridden (or left to AQE coalescing from a high value).
- Python workers of a local master start from `pyspark_site_daemon`, a
  top-level module beside this package. It imports PySpark from site-packages
  instead of Spark's archives, which takes the archives' zipimporters out of
  the `importlib.invalidate_caches()` that ends every Python-UDF task's
  set-up (0.1-0.3 s per task on Python 3.11). Elsewhere, or where the
  package is not on disk (a --py-files zip), Spark's own daemon stays.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DAEMON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pyspark_site_daemon.py"
)


def _daemon_conf(master: str) -> dict[str, str]:
    """The worker daemon's conf for a local master whose daemon module is a
    file on disk. Its directory goes on the workers' PYTHONPATH, so they can
    import it whatever the working directory."""
    if not master.startswith("local") or not os.path.isfile(_DAEMON):
        return {}
    return {
        "spark.python.daemon.module": "pyspark_site_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(_DAEMON),
    }


def get_spark(
    app_name: str = "datatrove-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with curation-tuned defaults.

    master defaults to local[$SPARK_GRAFT_CPUS], and to one slot per core this
    process may run on (its CPU affinity) when that env is unset, so the same
    entry points work for pytest, bench.py and the driver harness without
    oversubscribing the host.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster -> 2x default parallelism is a
        # reasonable floor; AQE coalesces down at runtime.
        inner = master.split("[")[-1].rstrip("]") if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # legacy NULL-propagating arithmetic (div-by-zero -> NULL, out-of-range
        # element_at -> NULL): matches the nullif-guarded SQL oracles and keeps
        # when-chains total without per-branch guards.
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in {**_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
