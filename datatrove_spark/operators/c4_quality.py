"""C4 quality filter, including the text REWRITE (kept lines only), with a
first-triggering-line doc-drop rule.

Semantics of reference C4QualityFilter (src/datatrove/pipeline/filters/
c4_filters.py:88-135), per line (in scan order):
  - drop line if any word > max_word_length chars               (:99)
  - strip wiki citations [1]/[edit]/[citation needed]           (:104)
  - drop line without terminal punct . ? ! " ' or ending "..."  (:106)
  - drop line with < min_words_per_line words                   (:110)
  - DOC drop 'lorem_ipsum' if line contains it                  (:115)
  - drop line containing 'javascript'                           (:118)
  - DOC drop 'curly_bracket' if line contains '{'               (:122)
  - drop line containing a policy substring                     (:125)
  - DOC drop 'too_few_sentences' if kept-line sentences < 5     (:131)
Kept lines are joined back with newlines (:134) — the doc text rewrite. A
dropped document keeps its input text.

Spark runs one Arrow-batched pandas UDF over the engine's Python kernel
(reference_impl.filters.c4_quality, the same kernel the fused battery
runs); ``oracle_sql`` is the independent DuckDB rendering. NULL text is an
empty document (reason too_few_sentences, text '').

Sentence counting uses the engine's portable splitter
(reference_impl.filters.sentences) instead of NLTK punkt — see config.py
TOKENIZER NOTE.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatrove_spark.config import CITATION_RE, PY_SPACE_SQL, PY_WORD_RE2, C4QualityConfig, POLICY_SUBSTRINGS

NAME = "c4_quality"


def make_udf(cfg: C4QualityConfig = C4QualityConfig()):
    @F.pandas_udf("reason string, text string")
    def c4_quality_kernel(texts: pd.Series) -> pd.DataFrame:
        from datatrove_spark.reference_impl.filters import c4_quality

        pairs = [c4_quality(t, cfg) for t in texts]
        return pd.DataFrame({"reason": [p[0] for p in pairs], "text": [p[1] for p in pairs]})

    return c4_quality_kernel


def apply(
    df: DataFrame, text_col: str = "text", cfg: C4QualityConfig = C4QualityConfig()
) -> DataFrame:
    res = make_udf(cfg)(F.col(text_col))
    return (
        df.withColumn("__c4", res)
        .withColumn(f"{NAME}_reason", F.col("__c4.reason"))
        .withColumn(f"{NAME}_keep", F.col(f"{NAME}_reason").isNull())
        .withColumn(f"{NAME}_text", F.col("__c4.text"))
        .drop("__c4")
    )


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: C4QualityConfig = C4QualityConfig(),
) -> str:
    policy_cond = " OR ".join(f"contains(low, '{p}')" for p in POLICY_SUBSTRINGS)
    citation = CITATION_RE.replace("'", "''")
    return f"""
WITH base AS (
  SELECT {id_col} AS id, t, string_split(t, chr(10)) AS lns
  FROM (SELECT {id_col}, coalesce({text_col}, '') AS t FROM {table})
), feat AS (
  SELECT id, t,
    list_transform(lns, raw -> {{
      'line': regexp_replace(trim(raw, {PY_SPACE_SQL}), '{citation}', ''),
      'ws_n': len(regexp_extract_all(raw, '{PY_WORD_RE2}')),
      'too_long': len(list_filter(regexp_extract_all(raw, '{PY_WORD_RE2}'), w -> len(w) > {cfg.max_word_length})) > 0
    }}) AS ls
  FROM base
), flags AS (
  SELECT id, t,
    list_transform(ls, s -> {{
      'line': s['line'],
      'survives_pre': (NOT s['too_long'])
        AND regexp_matches(s['line'], '[.?!"'']$') AND NOT regexp_matches(s['line'], '\\.\\.\\.$')
        AND s['ws_n'] >= {cfg.min_words_per_line},
      'lorem': contains(lower(s['line']), 'lorem ipsum'),
      'js': contains(lower(s['line']), 'javascript'),
      'curly': contains(s['line'], '{{'),
      'policy': ({policy_cond.replace("low", "lower(s['line'])")})
    }}) AS fs
  FROM feat
), doc AS (
  SELECT id, t,
    list_transform(fs, f -> CASE
        WHEN f['survives_pre'] AND f['lorem'] THEN 'lorem_ipsum'
        WHEN f['survives_pre'] AND NOT f['js'] AND f['curly'] THEN 'curly_bracket'
      END) AS drs,
    list_filter(fs, f -> f['survives_pre'] AND NOT f['js'] AND NOT f['policy']) AS kept
  FROM flags
), res AS (
  SELECT id, t,
    coalesce(
      list_filter(drs, x -> x IS NOT NULL)[1],
      CASE WHEN coalesce(list_sum(list_transform(kept,
            f -> len(regexp_extract_all(f['line'], '[^.!?]+[.!?]+')))), 0) < {cfg.min_num_sentences}
        THEN 'too_few_sentences' END
    ) AS reason,
    trim(array_to_string(list_transform(kept, f -> f['line']), chr(10)), {PY_SPACE_SQL}) AS kept_text
  FROM doc
)
SELECT id AS {id_col}, reason AS {NAME}_reason, (reason IS NULL) AS {NAME}_keep,
       CASE WHEN reason IS NULL THEN kept_text ELSE t END AS {NAME}_text
FROM res
""".strip()
