"""End-to-end runtime tests: synthetic pages -> composed quality pipeline ->
dual sink + metrics + resume, and determinism across parallelism levels
(the in-sandbox stand-in for the N vs 4N cluster-size criterion)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from datatrove_spark.operators import c4_quality, fineweb_quality, gopher_quality, gopher_repetition
from datatrove_spark.plans.pipeline import Stage, compose, kept, removed, run_pipeline
from datatrove_spark.sources.pages import generate_pages

STAGES = [
    Stage("gopher_repetition", gopher_repetition.apply),
    Stage("gopher_quality", gopher_quality.apply),
    Stage("c4_quality", c4_quality.apply),
    Stage("fineweb_quality", fineweb_quality.apply),
]


def test_generator_schema_and_determinism(spark):
    df = generate_pages(spark, 300)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "url": "string",
        "warc_ts": "timestamp",
        "html": "binary",
        "text": "string",
        "lang": "string",
    }
    a = sorted((r.url, r.text) for r in generate_pages(spark, 300, partitions=2).collect())
    b = sorted((r.url, r.text) for r in generate_pages(spark, 300, partitions=7).collect())
    assert a == b  # content independent of partitioning


def test_run_pipeline_dual_sink_and_resume(spark, tmp_path):
    out = str(tmp_path / "run1")
    df = generate_pages(spark, 500)
    m = run_pipeline(spark, df, STAGES, out)
    assert m["total"] == 500
    assert m["kept"] + sum(m["dropped_by_reason"].values()) == 500
    assert m["kept"] > 0 and m["dropped_by_reason"]
    assert kept(spark, out).count() == m["kept"]
    assert removed(spark, out).count() == 500 - m["kept"]
    # removed rows all carry a reason
    assert removed(spark, out).filter(F.col("drop_reason").isNull()).count() == 0
    assert os.path.exists(os.path.join(out, "metrics.json"))

    # resume: tamper nothing, re-run -> identical metrics without recompute
    m2 = run_pipeline(spark, df, STAGES, out)
    assert m2["kept"] == m["kept"]
    assert m2["dropped_by_reason"] == m["dropped_by_reason"]


def test_decisions_independent_of_parallelism(spark):
    """Same input at different partition counts -> identical per-url decisions
    (north rule: results must not depend on cluster size)."""
    df2 = compose(generate_pages(spark, 400, partitions=2), STAGES)
    df13 = compose(generate_pages(spark, 400, partitions=13), STAGES)
    a = sorted((r.url, r.keep, r.drop_reason) for r in df2.select("url", "keep", "drop_reason").collect())
    b = sorted((r.url, r.keep, r.drop_reason) for r in df13.select("url", "keep", "drop_reason").collect())
    assert a == b


def test_partition_pruning_on_kept_view(spark, tmp_path):
    out = str(tmp_path / "run2")
    run_pipeline(spark, generate_pages(spark, 300), STAGES, out)
    plan = kept(spark, out)._jdf.queryExecution().executedPlan().toString()
    # the keep=true filter must reach the scan as a partition filter
    assert "PartitionFilters" in plan


def test_sharded_resume_exact(spark, tmp_path):
    """Shard-granular resume: completed shards are not recomputed (byte-level
    untouched), only the interrupted shard re-runs, and merged metrics equal
    a fresh uninterrupted run."""
    import glob
    import shutil

    from datatrove_spark.plans.pipeline import kept_sharded, run_pipeline_sharded, shard_files

    src = str(tmp_path / "input")
    generate_pages(spark, 600).repartition(6).write.parquet(src)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    assert len(files) >= 3
    # deterministic striping contract (reference io.py:160-173)
    assert shard_files(files, 3) == [files[0::3], files[1::3], files[2::3]]

    out_full = str(tmp_path / "full")
    m_full = run_pipeline_sharded(spark, files, STAGES, out_full, world_size=3)
    assert m_full["total"] == 600
    assert m_full["kept"] == kept_sharded(spark, out_full).count()
    assert len(m_full["shards"]) == 3 and all(s["partitions"] for s in m_full["shards"])

    # simulate an interrupted run: shard 1 crashed mid-write (no _SUCCESS)
    out = str(tmp_path / "interrupted")
    run_pipeline_sharded(spark, files, STAGES, out, world_size=3)
    victim = os.path.join(out, "shard-00001")
    os.remove(os.path.join(victim, "data", "_SUCCESS"))
    os.remove(os.path.join(victim, "metrics.json"))
    survivors = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(out, "shard-0000[02]", "data", "keep=*", "*.parquet"))
    }
    assert survivors

    m2 = run_pipeline_sharded(spark, files, STAGES, out, world_size=3)
    assert m2 == m_full  # exact resume: same merged metrics
    for p, ts in survivors.items():
        assert os.path.getmtime(p) == ts, f"completed shard recomputed: {p}"
    assert os.path.exists(os.path.join(victim, "data", "_SUCCESS"))


def test_canonical_sink_columns(spark, tmp_path):
    """The canonical flow's sink schema, pinned: the fused langid/battery/PII
    stage writes the same columns, in the same order, as the separate
    langid, quality battery and PII stages did. The input is parquet, as a
    production run reads it (Spark 4.1 cannot evaluate a filter on a
    pandas-UDF column over generate_pages' lambda text column)."""
    from datatrove_spark.plans.pipeline import canonical_stages

    src = str(tmp_path / "input")
    generate_pages(spark, 200).write.parquet(src)
    out = str(tmp_path / "canonical")
    m = run_pipeline(spark, spark.read.parquet(src), canonical_stages(), out)
    assert m["total"] == 200
    assert spark.read.parquet(os.path.join(out, "data")).columns == [
        "url", "warc_ts", "html", "text", "lang",
        "url_filter_reason", "url_filter_keep",
        "language", "language_score", "langid_reason", "langid_keep",
        "quality_battery_reason", "drop_reason", "keep",
    ]
    assert kept(spark, out).filter(F.col("drop_reason").isNotNull()).count() == 0
