#!/usr/bin/env python
"""Benchmark harness. Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two workloads:
1. every __spark_entry__.queries() entry at $SPARK_GRAFT_SF_DIR
   (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (unset: one
   slot per core of this process's CPU affinity);
2. the north-rule curation flow (`plans.pipeline.compose` +
   `canonical_stages()`: URL filter -> langid -> quality battery -> PII,
   written by `run_pipeline` into its keep/removed parquet sink and its
   metrics, under a temporary directory) over a deterministically generated
   Common-Crawl-style `pages` table (input_hint shape), generated afresh
   into a per-run temporary directory — the throughput (docs/sec)
   headline: one warm-up run, then one timed run. 1M docs regardless of sf
   (override BENCH_PAGES_DOCS).

BENCH_SCALING=1 additionally re-runs workload 2 at two parallelism levels
(default max(1, cpus/8) vs max(4, cpus/2): 1 vs 4 cores on a 4-core host;
override BENCH_SCALING_CORES="1,4") on the identical input and reports
throughput scaling efficiency — the in-sandbox evidence for the north rule's
N vs 4N executor criterion (see BENCH.md).

Scaling methodology: each level runs in its own subprocess whose CPU
affinity is restricted to exactly N cores BEFORE the JVM starts
(os.sched_setaffinity is inherited by the JVM and its python UDF workers).
Plain local[N] only bounds Spark task slots — the python workers would
silently spill onto the idle cores and inflate the small-N baseline, which
is what a real N-core executor cannot do. Split sizes are derived from the
input bytes so both levels run ~4 scheduling waves of equal-size tasks.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as e  # noqa: E402
from datatrove_spark import get_spark  # noqa: E402


def time_query(fn, spark, sf_dir) -> tuple[float, int]:
    """Times plan construction + FULL evaluation of every output column via
    a noop sink (count() alone lets Spark skip unprojected work)."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return dt, df.count()


WARMUP_DOCS = 2000


def pages_path(spark, root: str, n_docs: int) -> str:
    """The deterministic pages table of `n_docs` under `root`, the run's
    temporary directory, generated on first use (generation untimed — a
    real pipeline reads pages from storage)."""
    from datatrove_spark.sources.pages import generate_pages

    path = os.path.join(root, f"pages_{n_docs}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_pages(spark, n_docs).write.mode("overwrite").parquet(path)
    return path


def pages_pipeline_run(spark, path: str) -> tuple[float, int]:
    """Seconds to run the canonical curation flow over the pages table at
    `path` into run_pipeline's dual sink (write + metrics rescan), and the
    kept count."""
    from datatrove_spark.plans.pipeline import canonical_stages, run_pipeline

    pages = spark.read.parquet(path)
    with tempfile.TemporaryDirectory(prefix="bench_curate_") as out_dir:
        t0 = time.perf_counter()
        metrics = run_pipeline(spark, pages, canonical_stages(), out_dir, resume=False)
        return time.perf_counter() - t0, metrics["kept"]


def main(root: str) -> None:
    """The benchmark, with every generated pages table under `root`."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    n_pages = int(os.environ.get("BENCH_PAGES_DOCS", "1000000"))

    spark = get_spark(app_name="bench")
    cpus = spark.sparkContext.defaultParallelism
    time_query(e.queries()["quality_pipeline"], spark, sf_dir)  # JVM/Arrow warmup

    pages = pages_path(spark, root, n_pages)  # generation is not timed
    pages_pipeline_run(spark, pages_path(spark, root, WARMUP_DOCS))  # warm the generated-pages path
    pages_t, pages_kept = pages_pipeline_run(spark, pages)

    # Suite queries run best-of-N (default 3) with the SQL cache cleared
    # before every run: the host shows transient multi-second stalls (one
    # trial recorded minhash_dedup at 19.9 s vs 3.6 s on the immediate
    # rerun), so a single sample can pin a phantom regression into the
    # round artifact; the clear keeps each query independent of persisted
    # leftovers from earlier suite entries.
    suite_runs = int(os.environ.get("BENCH_SUITE_RUNS", "3"))
    times, rows = {}, {}
    t0 = time.perf_counter()
    for name, fn in sorted(e.queries().items()):
        best, n = float("inf"), 0
        for _ in range(suite_runs):
            spark.catalog.clearCache()
            dt, n = time_query(fn, spark, sf_dir)
            best = min(best, dt)
        times[name], rows[name] = round(best, 3), n
    suite_total = time.perf_counter() - t0

    times["pages_pipeline"] = round(pages_t, 3)
    rows["pages_pipeline"] = pages_kept

    out = {
        "metric": "suite_seconds",
        "value": round(suite_total + pages_t, 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "suite_runs_per_query": suite_runs,  # per-query time = best of these
        "rows": rows,
        "pages_docs": n_pages,
        "pages_docs_per_sec": round(n_pages / pages_t, 1),
    }

    if os.environ.get("BENCH_SCALING") == "1":
        spark.stop()
        import subprocess

        # Default pair: 1 vs 4 on a 4-core host, where the 4-core level shares
        # the host with its other tenants. On 32 cores the pair stops at half
        # the host (4 vs 16): 8 vs 32 measured the all-core clock drop of a
        # fully busy host, not the engine (BENCH.md).
        default_pair = f"{max(1, cpus // 8)},{max(4, cpus // 2)}"
        cores_pair = [int(x) for x in os.environ.get("BENCH_SCALING_CORES", default_pair).split(",")]
        # scaling needs a compute-bound run (tens of seconds per level) or
        # fixed per-job overhead pollutes the ratio — use >= 1M docs
        scaling_pages = max(n_pages, 1_000_000)
        s = get_spark(app_name="bench-gen")
        scaling_path = pages_path(s, root, scaling_pages)
        s.stop()
        # Descending: the many-core level, the one sensitive to host state, runs first.
        perf = {}
        for c in sorted(cores_pair, reverse=True):
            env = dict(
                os.environ,
                BENCH_SCALING_WORKER=str(c),
                BENCH_PAGES=scaling_path,
                BENCH_PAGES_DOCS=str(scaling_pages),
            )
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__)], env=env, capture_output=True, text=True
            )
            assert r.returncode == 0, f"scaling worker ({c} cores) failed:\n{r.stderr[-4000:]}"
            line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
            perf[c] = json.loads(line)["docs_per_sec"]
        lo, hi = sorted(perf)
        out["scaling"] = {
            "docs_per_sec": {str(k): round(v, 1) for k, v in perf.items()},
            "cores": [lo, hi],
            "efficiency_N_to_4N": round(perf[hi] / (perf[lo] * (hi / lo)), 3),
            "methodology": "each level affinity-pinned to exactly N cores (JVM+python workers) before JVM start",
        }

    # Machine-readable per-round record: the driver's BENCH_r{N}.json has
    # twice truncated its captured tail mid-JSON (r2, r3), losing the
    # per-query suite dict — so every run also writes the full result object
    # to a file (commit the definitive run as bench_results_r{N}.json).
    results_path = os.environ.get(
        "BENCH_RESULTS_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_results.json"),
    )
    with open(results_path, "w") as f:
        json.dump(out, f, indent=2)

    print(json.dumps(out))


def scaling_worker(c: int) -> None:
    """One affinity-confined measurement at c cores over the pages table
    whose path and size the parent hands over (BENCH_PAGES,
    BENCH_PAGES_DOCS); its warm-up table lies beside it. Prints a JSON
    line."""
    os.sched_setaffinity(0, range(c))
    path = os.environ["BENCH_PAGES"]
    n_pages = int(os.environ["BENCH_PAGES_DOCS"])
    total = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )
    split = max(1 << 20, total // (4 * c))  # ~4 waves of equal tasks
    spark = get_spark(
        app_name=f"bench-scale-{c}",
        master=f"local[{c}]",
        shuffle_partitions=c,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(split)},
    )
    pages_pipeline_run(spark, pages_path(spark, os.path.dirname(path), WARMUP_DOCS))  # warm JVM + python workers
    best = float("inf")
    for _ in range(2):
        dt, _ = pages_pipeline_run(spark, path)
        best = min(best, dt)
    print(json.dumps({"cores": c, "docs_per_sec": round(n_pages / best, 1), "sec": round(best, 2)}))
    spark.stop()


if __name__ == "__main__":
    if os.environ.get("BENCH_SCALING_WORKER"):
        scaling_worker(int(os.environ["BENCH_SCALING_WORKER"]))
    else:
        # a fresh table per run: a cache keyed on the document count alone
        # would outlive changes to the generator and other checkouts
        with tempfile.TemporaryDirectory(prefix="bench_pages_") as tmp:
            main(tmp)
