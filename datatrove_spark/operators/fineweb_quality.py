"""FineWeb quality filter.

Semantics of reference FineWebQualityFilter
(src/datatrove/pipeline/filters/fineweb_quality_filter.py:31-54), in order:
  1 line_punct_ratio   terminal-punct line ratio <= 0.12 -> drop   (:35-37)
  2 short_line_ratio   lines <= 30 chars ratio >= 0.67 -> drop     (:39-41)
  3 char_dup_ratio     duplicated-line chars / text chars >= 0.01  (:43-46)
  4 list_ratio         newlines / words > 0.3 -> drop              (:49-52)

Spark runs one Arrow-batched pandas UDF over the engine's Python kernel
(reference_impl.filters.fineweb_quality, the same kernel the fused battery
runs); ``oracle_sql`` is the independent DuckDB rendering. NULL text is an
empty document.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from datatrove_spark.config import PY_SPACE_SQL, PY_WORD_RE2, FineWebQualityConfig

NAME = "fineweb_quality"


def make_udf(cfg: FineWebQualityConfig = FineWebQualityConfig()):
    @F.pandas_udf(StringType())
    def fineweb_quality_reason(texts: pd.Series) -> pd.Series:
        from datatrove_spark.reference_impl.filters import fineweb_quality

        return texts.map(lambda t: fineweb_quality(t, cfg))

    return fineweb_quality_reason


def apply(
    df: DataFrame, text_col: str = "text", cfg: FineWebQualityConfig = FineWebQualityConfig()
) -> DataFrame:
    r = make_udf(cfg)(F.col(text_col))
    return df.withColumn(f"{NAME}_reason", r).withColumn(f"{NAME}_keep", F.col(f"{NAME}_reason").isNull())


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: FineWebQualityConfig = FineWebQualityConfig(),
) -> str:
    zero_guard = "AND punct_ratio != 0" if cfg.line_punct_exclude_zero else ""
    return f"""
WITH base AS (
  SELECT {id_col} AS id, t,
         string_split(t, chr(10)) AS lns,
         list_filter(string_split(t, chr(10)), l -> trim(l, {PY_SPACE_SQL}) != '') AS nel
  FROM (SELECT {id_col}, coalesce({text_col}, '') AS t FROM {table})
), feat AS (
  SELECT id, t,
    len(lns) AS n_lines,
    len(list_filter(lns, l -> regexp_matches(l, '[.''"!?]$')))::DOUBLE / nullif(len(lns), 0) AS punct_ratio,
    len(list_filter(lns, l -> len(l) <= {cfg.short_line_length}))::DOUBLE / nullif(len(lns), 0) AS short_ratio,
    coalesce(list_sum(list_transform(range(1, len(nel)+1),
        i -> CASE WHEN len(list_filter(nel[1:i-1], e -> e = nel[i])) > 0 THEN len(nel[i]) ELSE 0 END)), 0) AS dup_chars,
    len(replace(t, chr(10), '')) AS t_wo_nl,
    (len(t) - len(replace(t, chr(10), ''))) AS nl_count,
    len(regexp_extract_all(t, '{PY_WORD_RE2}')) AS n_words
  FROM base
)
SELECT id AS {id_col},
  CASE
    WHEN punct_ratio <= {cfg.line_punct_thr} {zero_guard} THEN 'line_punct_ratio'
    WHEN short_ratio >= {cfg.short_line_thr} THEN 'short_line_ratio'
    WHEN dup_chars::DOUBLE / nullif(t_wo_nl, 0) >= {cfg.char_duplicates_ratio} THEN 'char_dup_ratio'
    WHEN nl_count::DOUBLE / nullif(n_words, 0) > {cfg.new_line_ratio} THEN 'list_ratio'
    ELSE NULL
  END AS {NAME}_reason
FROM feat
""".strip()
