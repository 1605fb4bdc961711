"""Gopher quality heuristics.

Semantics of reference GopherQualityFilter
(src/datatrove/pipeline/filters/gopher_quality_filter.py:62-125): ten
thresholded checks evaluated in reference order; the first failing check's
reason string is recorded.

Spark runs one Arrow-batched pandas UDF over the engine's Python kernel
(reference_impl.filters.gopher_quality, the same kernel the fused battery
runs); ``oracle_sql`` is the independent DuckDB rendering of the same rules.
NULL text is an empty document.

Rule order and reason strings (gopher_quality_filter.py):
  1 gopher_short_doc            non-symbol words < min_doc_words          (:80)
  2 gopher_long_doc             non-symbol words > max_doc_words          (:82)
  3 gopher_below_avg_threshold  mean non-symbol word length < 3           (:87)
  4 gopher_above_avg_threshold  mean non-symbol word length > 10          (:89)
  5 gopher_too_many_hashes      '#' count / words > 0.1                   (:93)
  6 gopher_too_many_ellipsis    ('...' + '…') count / words > 0.1         (:95)
  7 gopher_too_many_bullets     lines starting with bullet > 90%          (:101)
  8 gopher_too_many_end_ellipsis lines ending with ellipsis > 30%         (:107)
  9 gopher_below_alpha_threshold words with a letter < 80%                (:115)
 10 gopher_enough_stop_words    stop-word occurrences < 2                 (:122)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from datatrove_spark.config import PY_SPACE_SQL, PY_WORD_RE2, GopherQualityConfig

NAME = "gopher_quality"


def make_udf(cfg: GopherQualityConfig = GopherQualityConfig()):
    @F.pandas_udf(StringType())
    def gopher_quality_reason(texts: pd.Series) -> pd.Series:
        from datatrove_spark.reference_impl.filters import gopher_quality

        return texts.map(lambda t: gopher_quality(t, cfg))

    return gopher_quality_reason


def apply(df: DataFrame, text_col: str = "text", cfg: GopherQualityConfig = GopherQualityConfig()) -> DataFrame:
    r = make_udf(cfg)(F.col(text_col))
    return df.withColumn(f"{NAME}_reason", r).withColumn(f"{NAME}_keep", F.col(f"{NAME}_reason").isNull())


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: GopherQualityConfig = GopherQualityConfig(),
) -> str:
    """DuckDB SQL computing identical (id, keep, reason) rows."""
    stop_list = ", ".join(f"'{w}'" for w in cfg.stop_words)
    return f"""
WITH base AS (
  SELECT {id_col} AS id, t,
         regexp_extract_all(t, '{PY_WORD_RE2}') AS ws,
         string_split(t, chr(10)) AS lns
  FROM (SELECT {id_col}, coalesce({text_col}, '') AS t FROM {table})
), feat AS (
  SELECT id,
    len(ws) AS n_words,
    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z0-9]'))) AS n_nsw,
    list_sum(list_transform(list_filter(ws, w -> regexp_matches(w, '[A-Za-z0-9]')), w -> len(w))) AS nsw_len_sum,
    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
    len(list_filter(ws, w -> w IN ({stop_list}))) AS stop_hits,
    (len(t) - len(replace(t, '#', ''))) AS n_hash,
    (len(t) - len(replace(t, '...', ''))) / 3 AS n_dots,
    (len(t) - len(replace(t, '…', ''))) AS n_hellip,
    len(lns) AS n_lines,
    len(list_filter(lns, l -> regexp_matches(ltrim(l, {PY_SPACE_SQL}), '^(•|-)'))) AS bullet_lines,
    len(list_filter(lns, l -> regexp_matches(rtrim(l, {PY_SPACE_SQL}), '(\\.\\.\\.|…)$'))) AS ellipsis_lines
  FROM base
), r AS (
  SELECT id,
    CASE
      WHEN n_nsw < {cfg.min_doc_words} THEN 'gopher_short_doc'
      WHEN n_nsw > {cfg.max_doc_words} THEN 'gopher_long_doc'
      WHEN nsw_len_sum::DOUBLE / nullif(n_nsw, 0) < {cfg.min_avg_word_length} THEN 'gopher_below_avg_threshold'
      WHEN nsw_len_sum::DOUBLE / nullif(n_nsw, 0) > {cfg.max_avg_word_length} THEN 'gopher_above_avg_threshold'
      WHEN n_hash::DOUBLE / nullif(n_words, 0) > {cfg.max_symbol_word_ratio} THEN 'gopher_too_many_hashes'
      WHEN (n_dots + n_hellip)::DOUBLE / nullif(n_words, 0) > {cfg.max_symbol_word_ratio} THEN 'gopher_too_many_ellipsis'
      WHEN bullet_lines::DOUBLE / nullif(n_lines, 0) > {cfg.max_bullet_lines_ratio} THEN 'gopher_too_many_bullets'
      WHEN ellipsis_lines::DOUBLE / nullif(n_lines, 0) > {cfg.max_ellipsis_lines_ratio} THEN 'gopher_too_many_end_ellipsis'
      WHEN n_alpha::DOUBLE / nullif(n_words, 0) < {cfg.max_non_alpha_words_ratio} THEN 'gopher_below_alpha_threshold'
      WHEN stop_hits < {cfg.min_stop_words} THEN 'gopher_enough_stop_words'
      ELSE NULL
    END AS reason
  FROM feat
)
SELECT id AS {id_col}, reason AS {NAME}_reason, (reason IS NULL) AS {NAME}_keep FROM r
""".strip()
