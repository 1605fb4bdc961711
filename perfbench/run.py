"""Curation benchmark: one command, three workloads, correctness-gated.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 15 --trace 0

Runs from any working directory; the repository is the parent of this
file's directory, and every file the run writes stays under its
``.perfbench/`` cache. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md in this directory for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import procfs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench"
WORKLOADS = ("curate", "curate_long", "dedup")
LOAD_REPEATS = 3
# The first timed passes still carry JIT warm-up of the JVM; the median of
# enough passes discounts them. dedup runs more distinct operators (windows,
# joins, the components loop) and warms up over more passes.
MIN_PASSES = {"curate": 4, "curate_long": 4, "dedup": 6}
# a fixed JVM heap: peak RSS then measures the flow, not how far the
# collector happened to grow an 8g heap
DRIVER_MEMORY = "2g"


def spin_s() -> float:
    """Wall time of a fixed single-core pure-Python loop: a host-speed
    diagnostic recorded beside every run, never a gate."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (smoke tests)")
    return p.parse_args(argv)


def prepare_env(run_dir: Path, trace: bool) -> None:
    """Everything the JVM and the Python workers inherit must be set before
    the session starts: workers import the package from the repository root,
    and scratch files stay inside the checkout."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_UI"] = "true" if trace else "false"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_session(cores: int, run_dir: Path):
    from datatrove_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # one task per input file: 4 waves for the task slots
            "spark.sql.files.minPartitionNum": str(4 * cores),
            "spark.local.dir": str(run_dir / "tmp"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def failed_tasks(spark, groups: list[str]) -> int:
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for g in groups:
        for job in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                n += st.numFailedTasks if st else 0
    return n


def build_input(workload: str, seed: int, sizes, pool_path: str, run_dir: Path):
    import inputs

    pool = inputs.read_pool(pool_path)
    made = {"curate": inputs.curate, "curate_long": inputs.curate_long, "dedup": inputs.dedup}[workload](
        pool, seed, sizes
    )
    table = made.table if workload == "dedup" else made
    path = run_dir / "input"
    inputs.write(table, str(path), sizes.files)
    return made, table, str(path)


def check(workload: str, made, out_dir: str, seed: int) -> list[str]:
    import workloads

    if workload == "dedup":
        cache = CACHE / "expected"
        cache.mkdir(parents=True, exist_ok=True)
        return workloads.check_dedup(made, out_dir, str(cache))
    return workloads.check_curate(workload, made, out_dir, seed)


def run(args: argparse.Namespace, run_dir: Path) -> dict:
    prepare_env(run_dir, bool(args.trace))
    cores = len(os.sched_getaffinity(0))

    import inputs
    import workloads

    sizes = inputs.Sizes.at(args.scale, cores)
    t0 = time.perf_counter()
    spark = start_session(cores, run_dir)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        pool_path, pool_gen_s = inputs.ensure_pool(spark, str(CACHE), sizes)
        t0 = time.perf_counter()
        made, table, in_path = build_input(args.workload, args.seed, sizes, pool_path, run_dir)
        derive_s = time.perf_counter() - t0
        n_docs = table.num_rows

        loads = []
        for _ in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            df = spark.read.parquet(in_path)
            if df.count() != n_docs:
                raise RuntimeError("input scan lost rows")
            loads.append(time.perf_counter() - t0)
        load_s = statistics.median(loads)

        # One untimed warm-up pass over the first `cores` files starts every
        # Python worker and compiles the JVM code paths before anything is
        # timed; a larger warm-up still leaves the first timed pass slow.
        one_pass = workloads.PASSES[args.workload]
        out_dir = str(run_dir / "out")
        t0 = time.perf_counter()
        warm = spark.read.parquet(*sorted(glob.glob(os.path.join(in_path, "*.parquet")))[:cores])
        one_pass(spark, warm, out_dir, warm.count())
        warmup_s = time.perf_counter() - t0
        setup = {"session_s": session_s, "load_s": load_s, "warmup_s": warmup_s,
                 "generate_s": pool_gen_s + derive_s}

        if args.trace:
            import spans

            metrics, attempted, failed = spans.traced_run(
                spark, args.workload, args.seed, df, table, run_dir, setup, sizes, CACHE, spin_s, MIN_PASSES[args.workload]
            )
        else:
            metrics, attempted, failed = timed_window(spark, args, df, n_docs, out_dir, setup, one_pass)

        errors = check(args.workload, made, out_dir, args.seed)
        for e in errors[:20]:
            print(f"perfbench: CHECK FAILED {args.workload}: {e}", file=sys.stderr)
        if errors:
            failed = attempted
        return {"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        stop_session(spark)


def timed_window(spark, args, df, n_docs, out_dir, setup, one_pass):
    spins = [spin_s()]
    walls, cpus, groups = [], [], []
    failed = 0
    start = time.perf_counter()
    while len(walls) < MIN_PASSES[args.workload] or time.perf_counter() - start < args.seconds:
        group = f"pass-{len(walls)}"
        spark.sparkContext.setJobGroup(group, group)
        groups.append(group)
        c0, t0 = procfs.cpu_s(procfs.tree()), time.perf_counter()
        try:
            one_pass(spark, df, out_dir, n_docs)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            failed += 1
        walls.append(time.perf_counter() - t0)
        cpus.append(procfs.cpu_s(procfs.tree()) - c0)
    peak_mb = procfs.peak_rss_mb(procfs.tree())
    spins.append(spin_s())
    wall = statistics.median(walls)
    cpu = statistics.median(cpus)
    diag = {
        "workload": args.workload, "seed": args.seed, "docs": n_docs, "pass_s": walls,
        "pass_cpu_s": cpus, "host.spin_s": statistics.median(spins),
        "spark.failed_tasks": failed_tasks(spark, groups), **setup,
    }
    print("perfbench: " + json.dumps(diag))
    last = CACHE / "last_untraced"
    last.mkdir(parents=True, exist_ok=True)
    (last / f"{args.workload}.json").write_text(json.dumps({"pass_s": wall, "docs": n_docs}))
    metrics = {
        "docs_per_s": {"value": n_docs / wall, "unit": "docs/s"},
        "cpu_ms_per_doc": {"value": 1000 * cpu / n_docs, "unit": "ms/doc"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "setup_s": {"value": setup["session_s"] + setup["load_s"] + setup["warmup_s"], "unit": "s"},
    }
    return metrics, len(walls), failed


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "datatrove_spark" / "__init__.py").is_file():
        print(f"perfbench: no datatrove_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = CACHE / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
