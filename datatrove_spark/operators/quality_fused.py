"""Fused quality battery — the measured hot path for the full pipeline.

Runs the whole battery (gopher_repetition -> gopher_quality -> c4_quality ->
fineweb_quality) in ONE Arrow-batched pandas UDF over the engine's
pure-Python kernels (reference_impl.filters) — the same kernels the
single-stage operators run, so each document crosses the JVM/Python
boundary once instead of once per stage: tokenize once, short-circuit in
stage order, rewrite once. Arrow batching keeps the Python boundary
amortized (per-BATCH Python with vectorized transport, not per-row).

Short-circuit semantics (matches reference pipeline order, base_filter
short-circuiting):
    drop_reason = first failing stage's reason, evaluated in order
                  gopher_repetition -> gopher_quality -> c4 -> fineweb
    final_text  = c4-rewritten text iff gopher stages passed (c4 only runs
                  then); original text otherwise
    fineweb runs on the c4-rewritten text (the reference mutates doc.text).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from datatrove_spark.config import (
    C4QualityConfig,
    EngineConfig,
    FineWebQualityConfig,
    GopherQualityConfig,
    GopherRepetitionConfig,
)

NAME = "quality_fused"

RESULT_SCHEMA = StructType(
    [StructField("drop_reason", StringType()), StructField("final_text", StringType())]
)


def make_udf(cfg: EngineConfig = EngineConfig()):
    rep_cfg: GopherRepetitionConfig = cfg.gopher_repetition
    gq_cfg: GopherQualityConfig = cfg.gopher_quality
    c4_cfg: C4QualityConfig = cfg.c4
    fw_cfg: FineWebQualityConfig = cfg.fineweb

    @F.pandas_udf(RESULT_SCHEMA)
    def quality_battery(texts: pd.Series) -> pd.DataFrame:
        from datatrove_spark.reference_impl import filters as rf

        reasons, outs = [], []
        for t in texts:
            ws = rf.words(t)  # one tokenization shared by both gopher stages
            reason = rf.gopher_repetition(t, rep_cfg, ws=ws)
            new_text = t
            if reason is None:
                reason = rf.gopher_quality(t, gq_cfg, ws=ws)
            if reason is None:
                reason, new_text = rf.c4_quality(t, c4_cfg)
                if reason is None:
                    reason = rf.fineweb_quality(new_text, fw_cfg)
            reasons.append(reason)
            # NULL means "unchanged": only c4-rewritten docs ship text back
            # over Arrow (apply() coalesces with the input column JVM-side).
            # On web text most docs rewrite to themselves, so this halves
            # the Python->JVM transfer on the headline path.
            outs.append(None if new_text == t else new_text)
        return pd.DataFrame({"drop_reason": reasons, "final_text": outs})

    return quality_battery


def apply(df: DataFrame, text_col: str = "text", cfg: EngineConfig = EngineConfig()) -> DataFrame:
    res = make_udf(cfg)(F.col(text_col))
    return (
        df.withColumn("__q", res)
        .withColumn("drop_reason", F.col("__q.drop_reason"))
        .withColumn("final_text", F.coalesce(F.col("__q.final_text"), F.col(text_col)))
        .withColumn("keep", F.col("drop_reason").isNull())
        .drop("__q")
    )
