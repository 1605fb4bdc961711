"""Fused quality battery — the measured hot path for the full pipeline.

``battery_batch`` is the body: gopher_repetition -> gopher_quality ->
c4_quality -> fineweb_quality over one Arrow batch — tokenize once,
short-circuit in stage order, rewrite once. gopher_repetition runs as its
batch kernel (``operators.gopher_repetition.reasons``: the n-gram checks
once per batch); the later stages run the per-document kernels of
reference_impl.filters, the same kernels the single-stage operators run.
The per-document ``filters.gopher_repetition`` is the batch kernel's spec,
checked against it by tests/test_fuzz_parity.py and by the benchmark's
correctness gate. Two Arrow-batched pandas UDFs call the body, so each
document crosses the JVM/Python boundary once instead of once per stage:

- ``make_udf``/``apply`` here: the battery alone (the ``quality_pipeline``
  registry row, bench.py's headline, the traced benchmark layer);
- ``plans/pipeline.canonical_stages``: langid, then the battery, then the
  PII scrub of its text, in one UDF for the whole curation flow.

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

from datatrove_spark.config import EngineConfig
from datatrove_spark.operators import gopher_repetition
from datatrove_spark.reference_impl import filters as rf

NAME = "quality_fused"

RESULT_SCHEMA = StructType(
    [StructField("drop_reason", StringType()), StructField("final_text", StringType())]
)


def battery_batch(texts, cfg: EngineConfig = EngineConfig()) -> list[tuple[str | None, str | None]]:
    """(first failing reason or None, final text) of every document of a
    batch through the battery in stage order. The final text is the
    c4-rewritten text when both gopher stages passed, the input text
    otherwise. gopher_repetition runs as its batch kernel
    (operators.gopher_repetition.reasons), whose spec is the per-document
    reference_impl.filters.gopher_repetition; the later stages run per
    document, and only on documents it keeps."""
    texts = list(texts)
    wss = [rf.words(t) for t in texts]  # one tokenization shared by both gopher stages
    reasons = gopher_repetition.reasons(texts, cfg.gopher_repetition, wss)
    out = []
    for text, ws, reason in zip(texts, wss, reasons):
        new_text = text
        if reason is None:
            reason = rf.gopher_quality(text, cfg.gopher_quality, ws=ws)
        if reason is None:
            reason, new_text = rf.c4_quality(text, cfg.c4)
            if reason is None:
                reason = rf.fineweb_quality(new_text, cfg.fineweb)
        out.append((reason, new_text))
    return out


def make_udf(cfg: EngineConfig = EngineConfig()):
    @F.pandas_udf(RESULT_SCHEMA)
    def quality_battery(texts: pd.Series) -> pd.DataFrame:
        reasons, outs = [], []
        for t, (reason, new_text) in zip(texts, battery_batch(texts, cfg)):
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
