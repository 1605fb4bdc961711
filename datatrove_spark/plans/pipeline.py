"""Pipeline compositor: datatrove's pipeline-block abstraction, Spark-first.

The reference executes a Python list of PipelineStep objects per rank
(/root/reference/src/datatrove/executor/base.py:80-88) with per-rank
completion markers for resume (:106-127) and per-step counters. Here:

- a *stage* is a named ``DataFrame -> DataFrame`` transformation that may add
  any number of ``*_reason`` / ``*_keep`` / rewritten-text columns —
  composition builds ONE lazy Catalyst plan, so whole-stage codegen fuses
  every native stage; nothing materializes between stages. The canonical
  flow has a single pandas-UDF stage (langid -> quality battery -> PII in
  one Arrow UDF): each pandas-UDF stage whose input is another's output
  becomes its own ArrowEvalPython node, i.e. one more Python worker per
  task and one more Arrow round trip of the text.
- ``run_pipeline`` materializes once into a dual sink: a single
  ``partitionBy("keep")`` parquet write (kept + removed in one pass — no
  cache of the full corpus, no recompute; the Iceberg equivalent is
  ``writeTo(...).partitionedBy("keep").createOrReplace()``).
- resume: a stage output whose ``_SUCCESS`` marker exists is not recomputed
  (the file-level analog of checking an Iceberg snapshot).
- metrics: per-reason counts + per-partition lineage rows are computed from
  the *written* files (one column-pruned rescan, one aggregation) and saved
  as JSON — matching the reference's Stats JSON (executor/base.py:92-98).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datatrove_spark.config import DEFAULT_CONFIG
from datatrove_spark.operators import langid, pii, quality_fused, url_filter


@dataclass(frozen=True)
class Stage:
    """A named ``DataFrame -> DataFrame`` step. It may add any number of
    ``*_reason`` columns (NULL = the stage keeps the document), ``*_keep``
    flags and rewritten-text columns."""

    name: str
    fn: Callable[[DataFrame], DataFrame]

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.fn(df)


def compose(df: DataFrame, stages: Sequence[Stage]) -> DataFrame:
    """Chain stages into one lazy plan and derive the combined keep/drop:
    drop_reason = the first non-NULL of every ``*_reason`` column the stages
    add, in the order they add them (reference short-circuit semantics,
    base_filter.py:45-63). A stage that runs several filters reports each
    through its own ``*_reason`` column."""
    reason_cols: list[str] = []
    for st in stages:
        before = set(df.columns)
        df = st(df)
        reason_cols += [c for c in df.columns if c.endswith("_reason") and c not in before]
    if reason_cols:
        reason = F.coalesce(*[F.col(c) for c in reason_cols])
    else:
        reason = F.lit(None).cast("string")
    return df.withColumn("drop_reason", reason).withColumn("keep", reason.isNull())


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _text_kernels_udf():
    """One pandas UDF running langid.py_langid, the quality battery and
    pii.scrub of the battery's final text: the battery over the Arrow batch
    (quality_fused.battery_batch), the other two per document. Returns the
    language, the unrounded language score, the battery's reason and the
    scrubbed text (NULL when it equals the input, so unchanged docs ship
    nothing back)."""

    @F.pandas_udf("struct<language:string, raw:double, reason:string, text:string>")
    def langid_quality_pii(texts: pd.Series) -> pd.DataFrame:
        langs, raws, reasons, outs = [], [], [], []
        for t, (reason, final) in zip(texts, quality_fused.battery_batch(texts, DEFAULT_CONFIG)):
            lg, raw = langid.py_langid(t)
            out = pii.scrub(final, DEFAULT_CONFIG.pii)
            langs.append(lg)
            raws.append(raw)
            reasons.append(reason)
            outs.append(None if out == t else out)
        return pd.DataFrame({"language": langs, "raw": raws, "reason": reasons, "text": outs})

    return langid_quality_pii


def _text_kernels_stage(df: DataFrame) -> DataFrame:
    k = _text_kernels_udf()(F.col("text"))
    df = langid.with_language(df.withColumn("__k", k), F.col("__k.language"), F.col("__k.raw"))
    return (
        df.withColumn("quality_battery_reason", F.col("__k.reason"))
        .withColumn("text", F.coalesce(F.col("__k.text"), F.col("text")))
        .drop("__k")
    )


def canonical_stages(with_url_filter: bool = True) -> list[Stage]:
    """The FineWeb-order curation flow (examples/fineweb.py:34-63 analog):
    cheap URL rules first (JVM-side), then ONE pandas-UDF stage that runs
    language ID, the fused quality battery (c4 rewrites text) and the PII
    scrub (rewrites text) per document, so each task holds one Python worker
    and ships the text over Arrow once. The stage adds ``language``,
    ``language_score``, ``langid_reason``, ``langid_keep`` and
    ``quality_battery_reason`` and replaces ``text`` with the scrubbed
    battery output. Every kernel runs on every document: a dropped doc's
    stored text is still the scrubbed battery text. Predicate ordering is
    ours to choose — Catalyst won't reorder opaque UDF stages (SURVEY §4)."""
    stages = []
    if with_url_filter:
        stages.append(Stage("url_filter", _url_filter_stage))
    stages.append(Stage("langid_quality_pii", _text_kernels_stage))
    return stages


def _url_filter_stage(df: DataFrame) -> DataFrame:
    return url_filter.apply(df, cfg=DEFAULT_CONFIG.url_filter)


def run_pipeline(
    spark: SparkSession,
    df: DataFrame,
    stages: Sequence[Stage],
    out_dir: str,
    resume: bool = True,
) -> dict:
    """Execute the composed plan into ``{out_dir}/data/keep={true,false}``
    with one pass, then write metrics. Returns the metrics dict.

    Resume contract: if the data sink is already complete, skip the compute
    entirely (idempotent re-run, north-rule resumability)."""
    data_dir = os.path.join(out_dir, "data")
    metrics_path = os.path.join(out_dir, "metrics.json")

    if not (resume and _done(data_dir)):
        annotated = compose(df, stages)
        # one materialization, both sinks: partition pruning turns
        # "read the kept docs" into a file-level filter downstream.
        annotated.write.mode("overwrite").partitionBy("keep").parquet(data_dir)

    # one rescan of the written files yields both the per-reason counts and
    # the per-partition lineage (rows per spark input partition of the scan)
    by_reason: dict[str, int] = {}
    rows_of: dict[int, int] = {}
    for r in (
        _read(spark, data_dir)
        .groupBy("drop_reason", F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ):
        k = r["drop_reason"] or "__kept__"
        by_reason[k] = by_reason.get(k, 0) + r["n"]
        rows_of[r["p"]] = rows_of.get(r["p"], 0) + r["n"]
    lineage = [{"partition": p, "rows": n} for p, n in sorted(rows_of.items())]
    metrics = {
        "total": int(sum(by_reason.values())),
        "kept": int(by_reason.get("__kept__", 0)),
        "dropped_by_reason": {k: int(v) for k, v in sorted(by_reason.items()) if k != "__kept__"},
        "stages": [st.name for st in stages],
        "partitions": lineage,
    }
    with open(metrics_path, "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    return metrics


def shard_files(paths: Sequence[str], world_size: int) -> list[list[str]]:
    """Deterministic file striping — the reference's ``get_shard``
    (io.py:160-173): sorted files, rank r takes [r::world_size]."""
    s = sorted(paths)
    return [s[r::world_size] for r in range(world_size)]


def run_pipeline_sharded(
    spark: SparkSession,
    input_files: Sequence[str],
    stages: Sequence[Stage],
    out_dir: str,
    world_size: int = 8,
    resume: bool = True,
    reader: Callable[[SparkSession, list[str]], DataFrame] | None = None,
) -> dict:
    """Shard-granular resumable execution — the exact-resume contract the
    north rule asks for, rendered as the reference's per-rank completion
    markers (executor/base.py:106-127):

    - input files stripe deterministically into ``world_size`` shards;
    - each shard materializes independently under ``{out_dir}/shard-R``
      (data + _SUCCESS + metrics.json) — a crash mid-run loses at most the
      in-flight shard;
    - a re-run skips every completed shard (checked via its _SUCCESS marker
      AND its metrics file), recomputing only what is missing, then merges
      per-shard metrics into the job-level metrics.json with per-shard
      lineage preserved.

    On a real cluster each shard is simply a bounded sub-job of the same
    application (sequential here; shards are embarrassingly parallel across
    applications since they share nothing). The Iceberg rendering replaces
    the _SUCCESS marker with a snapshot-per-shard commit check.

    Ops artifacts (the reference executor's logging_dir contract,
    executor/base.py:92-127 + tools/failed_logs.py:38-53): ``executor.json``
    with the world size at the job root, and a ``logs/task_{rank:05d}.log``
    per shard — the shard's input files and metrics summary on success, the
    full traceback on failure (then re-raised). ``datatrove_spark.tools``
    reads these for jobs-status / failed-logs.
    """
    read = reader or (lambda s, files: s.read.parquet(*files))
    os.makedirs(out_dir, exist_ok=True)
    log_dir = os.path.join(out_dir, "logs")
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(out_dir, "executor.json"), "w") as f:
        json.dump({"world_size": world_size, "stages": [st.name for st in stages]}, f, indent=1)
    shard_metrics: list[dict] = []
    for rank, group in enumerate(shard_files(input_files, world_size)):
        shard_dir = os.path.join(out_dir, f"shard-{rank:05d}")
        mpath = os.path.join(shard_dir, "metrics.json")
        log_path = os.path.join(log_dir, f"task_{rank:05d}.log")
        if resume and _done(os.path.join(shard_dir, "data")) and os.path.exists(mpath):
            with open(mpath) as f:
                shard_metrics.append(json.load(f))
            continue
        if not group:
            shard_metrics.append({"total": 0, "kept": 0, "dropped_by_reason": {},
                                  "stages": [st.name for st in stages], "partitions": []})
            with open(log_path, "w") as f:
                f.write(f"rank {rank}: empty shard (0 input files)\ncompleted\n")
            continue
        try:
            m = run_pipeline(spark, read(spark, group), stages, shard_dir, resume=resume)
        except BaseException:
            import traceback

            with open(log_path, "w") as f:
                f.write(f"rank {rank}: FAILED\ninputs:\n")
                f.writelines(f"  {p}\n" for p in group)
                f.write(traceback.format_exc())
            raise
        shard_metrics.append(m)
        with open(log_path, "w") as f:
            f.write(f"rank {rank}: inputs:\n")
            f.writelines(f"  {p}\n" for p in group)
            f.write(f"total={m['total']} kept={m['kept']}\ncompleted\n")
    merged_reasons: dict[str, int] = {}
    for m in shard_metrics:
        for k, v in m["dropped_by_reason"].items():
            merged_reasons[k] = merged_reasons.get(k, 0) + v
    metrics = {
        "total": sum(m["total"] for m in shard_metrics),
        "kept": sum(m["kept"] for m in shard_metrics),
        "dropped_by_reason": dict(sorted(merged_reasons.items())),
        "stages": [st.name for st in stages],
        "world_size": world_size,
        "shards": [
            {"rank": r, "total": m["total"], "kept": m["kept"], "partitions": m["partitions"]}
            for r, m in enumerate(shard_metrics)
        ],
    }
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    return metrics


def kept_sharded(spark: SparkSession, out_dir: str) -> DataFrame:
    """Partition-pruned view over every shard's kept documents. Shard data
    dirs are passed as separate roots (same keep= layout each) — a single
    glob would make partition discovery trip over the intermediate ``data``
    directory."""
    from functools import reduce

    roots = sorted(
        os.path.join(out_dir, d, "data")
        for d in os.listdir(out_dir)
        if d.startswith("shard-") and _done(os.path.join(out_dir, d, "data"))
    )
    # one read per root, unioned: multi-root partition discovery cannot agree
    # on a base path across sibling shard dirs, and per-scan reads keep the
    # keep= pruning pushed into every shard's file listing
    df = reduce(DataFrame.unionByName, (spark.read.parquet(r) for r in roots))
    return df.withColumn("keep", F.col("keep").cast("boolean")).filter(F.col("keep"))


def _read(spark: SparkSession, data_dir: str) -> DataFrame:
    # partition-column inference yields STRING for booleans; filtering on the
    # raw partition value keeps partition pruning intact, then we restore the
    # boolean type for callers.
    df = spark.read.parquet(data_dir)
    return df.withColumn("keep", F.col("keep").cast("boolean"))


def kept(spark: SparkSession, out_dir: str) -> DataFrame:
    """Partition-pruned view of the kept documents."""
    return _read(spark, os.path.join(out_dir, "data")).filter(F.col("keep"))


def removed(spark: SparkSession, out_dir: str) -> DataFrame:
    return _read(spark, os.path.join(out_dir, "data")).filter(~F.col("keep"))
