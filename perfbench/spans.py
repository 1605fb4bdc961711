"""Traced run: every layer is called on its own, from outside, inside a span.

A span records name, start, end and parent, and sets a Spark job group so
that the REST API's stage and SQL metrics can be attributed to it. Spans are
kept in memory and written as JSON when the run ends; a span's self time is
its duration minus the time its children cover.

Layer times are the wall time of the isolated call over the workload's
input into a ``noop`` sink, minus ``sources.scan_s`` (every such call scans
the input). Layers outside a workload's own flow (the curation operators on
``dedup``, the dedup operators on ``curate*``) run over a fixed slice of
that workload's input so every traced run reports every metric; the span
JSON marks those calls ``"input": "slice"``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
import urllib.request

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
import workloads
from datatrove_spark.config import EngineConfig
from datatrove_spark.operators import exact_dedup, langid, minhash, pii, quality_fused, url_dedup, url_filter
from datatrove_spark.plans.pipeline import compose, run_pipeline
from datatrove_spark.reference_impl import filters as rf

SLICE_DOCS = {"curate": 2000, "curate_long": 200, "dedup": 2000}
FILTER_SAMPLE = {"curate": 200, "curate_long": 40, "dedup": 200}
KERNEL_REPEATS = 3


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        gc0, t0 = self.jvm_gc_s(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["duration_s"] = time.perf_counter() - t0
            rec["jvm_gc_s"] = self.jvm_gc_s() - gc0
            rec["end"] = rec["start"] + rec["duration_s"]
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jvm_gc_s(self) -> float:
        """Collection time of the JVM, which in local mode runs every task."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def record(self, name: str, duration_s: float) -> None:
        """A root span measured before tracing started (session start, setup)."""
        end = time.time()
        self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                           "start": end - duration_s, "end": end, "duration_s": duration_s})

    def groups(self, sid: int) -> set[str]:
        ids, todo = set(), [sid]
        while todo:
            s = todo.pop()
            ids.add(s)
            todo.extend(x["id"] for x in self.spans if x["parent"] == s)
        return {f"span-{i}" for i in ids}

    def write(self, path: str, **extra) -> None:
        for s in self.spans:
            kids = sum(x["duration_s"] for x in self.spans if x["parent"] == s["id"])
            s["self_s"] = s["duration_s"] - kids
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size(v: str) -> float:
    """'total (min, med, max ...)\\n26.9 MiB (...)' -> bytes."""
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", v.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


class Rest:
    """Spark's monitoring REST API, read per span."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self, groups: set[str]) -> list[dict]:
        """Jobs of these groups, once the listener has recorded their end."""
        tracker = self.sc.statusTracker()
        want = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        for _ in range(100):
            got = [j for j in self.get("jobs") if j["jobId"] in want]
            if len(got) == len(want) and all(j["status"] != "RUNNING" for j in got):
                return got
            time.sleep(0.1)
        return got

    def engine(self, groups: set[str], docs: int) -> dict:
        stage_ids = {s for j in self.jobs(groups) for s in j["stageIds"]}
        stages = [s for s in self.get("stages") if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
        max_task_ms = 0.0
        for s in stages:
            if s["numCompleteTasks"]:
                q = self.get(f"stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0")
                max_task_ms = max(max_task_ms, q["duration"][0])
        return {
            "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "spark.max_task_s": max_task_ms / 1000,
            "spark.shuffle_write_bytes_per_doc": sum(s["shuffleWriteBytes"] for s in stages) / docs,
            "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        }

    def arrow_nodes(self, groups: set[str]) -> list[dict]:
        """ArrowEvalPython nodes of the span's SQL executions: the UDFs each
        evaluates, bytes sent to / returned from Python, rows out."""
        job_ids = {j["jobId"] for j in self.jobs(groups)}
        out = []
        for e in self.get("sql?details=true&planDescription=true&length=100000"):
            if not job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            args = list(dict.fromkeys(re.findall(
                r"\(\d+\) ArrowEvalPython\s*\nInput \[\d+\]: [^\n]*\nArguments: ([^\n]*)", e["planDescription"])))
            nodes = sorted((n for n in e["nodes"] if n["nodeName"] == "ArrowEvalPython"),
                           key=lambda n: -n["nodeId"])  # deepest (first evaluated) first
            for i, nd in enumerate(nodes):
                m = {x["name"]: x["value"] for x in nd.get("metrics", [])}
                out.append({
                    "udfs": re.findall(r"(\w+)\(", args[i]) if len(args) == len(nodes) else [],
                    "sent": _size(m.get("data sent to Python workers", "")),
                    "returned": _size(m.get("data returned from Python workers", "")),
                    "rows": int(m.get("number of output rows", "0").replace(",", "")),
                })
        return out


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@F.pandas_udf("string")
def _identity(texts: pd.Series) -> pd.Series:
    return texts


def _kernel_us(fn, texts: list[str]) -> float:
    runs = []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        for t in texts:
            fn(t)
        runs.append(time.perf_counter() - t0)
    return 1e6 * statistics.median(runs) / len(texts)


def filter_kernels(texts: list[str]) -> dict:
    """Single-thread per-document kernel costs in the driver (µs/doc)."""
    cfg = EngineConfig()
    ws = {id(t): rf.words(t) for t in texts}
    c4_text = {id(t): rf.c4_quality(t, cfg.c4)[1] for t in texts}
    return {
        "filters.words_us": _kernel_us(rf.words, texts),
        "filters.gopher_repetition_us": _kernel_us(lambda t: rf.gopher_repetition(t, cfg.gopher_repetition, ws=ws[id(t)]), texts),
        "filters.gopher_quality_us": _kernel_us(lambda t: rf.gopher_quality(t, cfg.gopher_quality, ws=ws[id(t)]), texts),
        "filters.c4_quality_us": _kernel_us(lambda t: rf.c4_quality(t, cfg.c4), texts),
        "filters.fineweb_quality_us": _kernel_us(lambda t: rf.fineweb_quality(c4_text[id(t)], cfg.fineweb), texts),
        "langid.py_langid_us": _kernel_us(langid.py_langid, texts),
        "pii.scrub_us": _kernel_us(pii.scrub, texts),
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def curate_layers(T: Tracer, rest: Rest, spark, df: DataFrame, n: int, scan_s: float, out_dir: str, **attrs):
    stages = workloads.curate_stages()
    with T.span("pipeline.compose", **attrs) as sc:
        noop(compose(df, stages))
    nodes = rest.arrow_nodes(T.groups(sc["id"]))
    with T.span("pipeline.run_pipeline", **attrs) as sr:
        run_pipeline(spark, df, stages, out_dir, resume=False)
    with T.span("pipeline.resume", **attrs) as sres:
        run_pipeline(spark, df, stages, out_dir, resume=True)
    iso = {}
    for name, call in (
        ("url_filter", lambda d: url_filter.apply(d, cfg=workloads.URL_CFG)),
        ("langid", langid.apply),
        ("quality_fused", quality_fused.apply),
        ("pii", pii.apply),
    ):
        with T.span(name, **attrs) as s:
            noop(call(df))
        iso[name] = s["duration_s"] - scan_s

    sink = workloads.read_sink(out_dir, ["url_filter_reason", "langid_reason", "quality_battery_reason"])
    url_bad = sink.column("url_filter_reason").is_valid().to_numpy(zero_copy_only=False)
    lang_bad = sink.column("langid_reason").is_valid().to_numpy(zero_copy_only=False)
    q_bad = sink.column("quality_battery_reason").is_valid().to_numpy(zero_copy_only=False)
    q_useful = int((~url_bad & ~lang_bad).sum())
    pii_useful = int(np.asarray(sink.column("keep")).sum())

    def rows_in(udf: str) -> int:
        return sum(nd["rows"] for nd in nodes if udf in nd["udfs"])

    q_rows, pii_rows = rows_in("quality_battery"), rows_in("pii_scrub")
    return {
        "url_filter.s": iso["url_filter"],
        "url_filter.dropped": int(url_bad.sum()),
        "langid.s": iso["langid"],
        "langid.rows_in": rows_in("_detect_batch"),
        "langid.dropped": int((~url_bad & lang_bad).sum()),
        "quality_fused.s": iso["quality_fused"],
        "quality_fused.rows_in": q_rows,
        "quality_fused.rows_useful": q_useful,
        "quality_fused.dropped": int((~url_bad & ~lang_bad & q_bad).sum()),
        "quality_fused.useful_ratio": q_useful / q_rows if q_rows else 0.0,
        "pii.s": iso["pii"],
        "pii.rows_in": pii_rows,
        "pii.rows_useful": pii_useful,
        "pii.useful_ratio": pii_useful / pii_rows if pii_rows else 0.0,
        "pipeline.compose_s": sc["duration_s"] - scan_s,
        "pipeline.sink_s": sr["duration_s"] - sc["duration_s"] - sres["duration_s"],
        "pipeline.resume_s": sres["duration_s"],
        "pipeline.bytes_written_per_doc": _dir_bytes(out_dir) / n,
    }, sc["id"], nodes


def dedup_layers(T: Tracer, spark, df: DataFrame, scan_s: float, **attrs):
    tracker = spark.sparkContext.statusTracker()
    times = {}
    for name, mod in (("exact_dedup", exact_dedup), ("url_dedup", url_dedup)):
        with T.span(name, **attrs) as s:
            noop(mod.apply(df))
        times[name] = s["duration_s"] - scan_s
    with T.span("minhash", **attrs):
        with T.span("minhash.signatures") as s1:
            noop(minhash.signatures(df))
        with T.span("minhash.pairs") as s2:
            n_pairs = minhash.pairs(df).count()
        with T.span("minhash.components") as s3:
            minhash.connected_components(minhash.pairs(df)).count()
        with T.span("minhash.apply") as s4:
            mh_dropped = minhash.apply(df).filter(~F.col("minhash_keep")).count()
    with T.span("dedup.counts"):
        ex_dropped = exact_dedup.apply(df).filter(~F.col("exact_dedup_keep")).count()
        url_dropped = url_dedup.apply(df).filter(~F.col("url_dedup_keep")).count()
    return {
        "exact_dedup.s": times["exact_dedup"],
        "exact_dedup.dropped": ex_dropped,
        "url_dedup.s": times["url_dedup"],
        "url_dedup.dropped": url_dropped,
        "minhash.signatures_s": s1["duration_s"] - scan_s,
        "minhash.pairs_s": s2["duration_s"] - s1["duration_s"],
        "minhash.components_s": s3["duration_s"] - s2["duration_s"],
        "minhash.pairs": n_pairs,
        "minhash.jobs": sum(len(tracker.getJobIdsForGroup(g)) for g in T.groups(s4["id"])),
        "minhash.dropped": mh_dropped,
    }


def _scan(T: Tracer, df: DataFrame, name: str, **attrs) -> float:
    with T.span(name, **attrs) as s:
        noop(df)
    return s["duration_s"]


# metric name suffix -> unit; anything else is a count
_METRIC_UNITS = {"_s": "s", "_us": "us/doc", "_per_doc": "B/doc", "_ratio": "ratio", "_mb": "MB", ".s": "s", "_bytes": "B"}


def _unit(name: str) -> str:
    return next((u for suf, u in _METRIC_UNITS.items() if name.endswith(suf)), "count")


def traced_run(spark, workload, seed, df, table, run_dir, setup, sizes, cache, spin_s, passes):
    """Returns (per-layer metrics, attempted, failed). Runs the same number
    of full passes as the untraced window, so their medians compare."""
    T, rest = Tracer(spark), Rest(spark.sparkContext)
    n = table.num_rows
    out_dir = str(run_dir / "out")
    m: dict[str, float] = {}
    T.record("session", setup["session_s"])
    T.record("sources.load", setup["load_s"])
    T.record("warmup", setup["warmup_s"])
    with T.span("run", workload=workload, seed=seed, docs=n):
        spins = [spin_s()]
        walls = []
        with T.span("passes") as sps:
            for _ in range(passes):
                with T.span("pass") as sp:
                    workloads.PASSES[workload](spark, df, out_dir, n)
                walls.append(sp["duration_s"])
        pass_s = statistics.median(walls)
        scan_s = _scan(T, df, "sources.scan")
        with T.span("arrow.roundtrip") as s:
            noop(df.withColumn("text", _identity(F.col("text"))))
        m["arrow.roundtrip_s"] = s["duration_s"] - scan_s

        k = min(SLICE_DOCS[workload], n)
        inputs.write(table.slice(0, k), str(run_dir / "slice"), sizes.files)
        small = spark.read.parquet(str(run_dir / "slice"))
        small_scan = _scan(T, small, "sources.scan", input="slice")
        layer_out = str(run_dir / "layer_out")
        # the slice's layers are the first calls of their UDFs and operators
        # in this session: warm them up so their times are not first-call times
        with T.span("warmup.slice", input="slice"):
            noop(compose(small, workloads.curate_stages()) if workload == "dedup" else workloads.dedup_flow(small))
        if workload == "dedup":
            cur, flow_id, _ = curate_layers(T, rest, spark, small, k, small_scan, layer_out, input="slice")
            m.update(cur)
            m.update(dedup_layers(T, spark, df, scan_s))
            with T.span("flow") as sf:
                noop(workloads.dedup_flow(df))
            flow_id = sf["id"]
            nodes = rest.arrow_nodes(T.groups(flow_id))
        else:
            cur, flow_id, nodes = curate_layers(T, rest, spark, df, n, scan_s, layer_out)
            m.update(cur)
            m.update(dedup_layers(T, spark, small, small_scan, input="slice"))
        m.update(rest.engine(T.groups(flow_id), n))
        m["spark.gc_s"] = sps["jvm_gc_s"] / passes  # per full pass; a 5 s flow span often has no collection
        m["arrow.bytes_to_python_per_doc"] = sum(nd["sent"] for nd in nodes) / n
        m["arrow.bytes_from_python_per_doc"] = sum(nd["returned"] for nd in nodes) / n

        rng = np.random.default_rng([seed, 5])
        texts = table.column("text").take(rng.choice(n, min(n, FILTER_SAMPLE[workload]), replace=False)).to_pylist()
        m.update(filter_kernels(texts))
        spins.append(spin_s())

    in_files = glob.glob(str(run_dir / "input" / "*.parquet"))
    m.update({
        "session.start_s": setup["session_s"],
        "sources.scan_s": scan_s,
        "sources.input_mb": sum(os.path.getsize(f) for f in in_files) / 2**20,
        "sources.input_files": len(in_files),
        "sources.generate_s": setup["generate_s"],
        "host.spin_s": statistics.median(spins),
        "trace.pass_s": pass_s,
    })
    overhead = None
    last = cache / "last_untraced" / f"{workload}.json"
    if last.exists():
        base = json.loads(last.read_text())["pass_s"]
        overhead = {"traced_pass_s": pass_s, "untraced_pass_s": base, "overhead": pass_s / base - 1}
    print("perfbench: tracing overhead " + json.dumps(overhead))
    traces = cache / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    path = traces / f"{workload}-seed{seed}.json"
    T.write(str(path), workload=workload, seed=seed, docs=n, tracing_overhead=overhead, metrics=m)
    print(f"perfbench: spans written to {path}")
    metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(m.items())}
    return metrics, len(walls), 0
