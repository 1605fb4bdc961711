"""Gopher repetition filter.

Semantics of reference GopherRepetitionFilter
(src/datatrove/pipeline/filters/gopher_repetition_filter.py:110-142): drop on
duplicate paragraph/line fractions, top-{2,3,4}-gram char fraction, and
duplicated-{5..10}-gram char fraction (thresholds: Gopher paper Table A1).

Spark strategy — HYBRID, and deliberately so: every statistic here is a
*within-document* aggregation (duplicate counts over a doc's own lines and
n-grams). Exploding n-grams to groupBy would shuffle ~10x the corpus size
across the cluster to compute doc-local counts — a catastrophic plan at
100 TB. Instead one Arrow-batched pandas UDF computes all 16 statistics in a
single linear pass per document: zero shuffles, perfectly partition-parallel,
and the kernel is shared verbatim with the Python parity oracle
(reference_impl.filters.gopher_repetition), making Spark==oracle trivially
true.

The DuckDB SQL oracle reproduces the same decisions relationally (explode ->
group -> join), which doubles as documentation that the semantics are purely
declarative.

Deviation note: the reference's duplicated-n-gram scan
(gopher_repetition_filter.py:57-70) advances by n after each repeat, making
its result depend on scan order. This engine uses order-independent
union-of-covered-positions semantics (see reference_impl._dup_ngram_char_frac)
so results are identical under any parallelism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from datatrove_spark.config import GopherRepetitionConfig

NAME = "gopher_repetition"

_SQL_STRIP = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"


def make_udf(cfg: GopherRepetitionConfig = GopherRepetitionConfig()):
    @F.pandas_udf(StringType())
    def gopher_repetition_reason(texts: pd.Series) -> pd.Series:
        # executor-side import: reference_impl ships with the package
        from datatrove_spark.reference_impl.filters import gopher_repetition

        return texts.map(lambda t: gopher_repetition(t, cfg))

    return gopher_repetition_reason


def apply(
    df: DataFrame,
    text_col: str = "text",
    cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
) -> DataFrame:
    r = make_udf(cfg)(F.col(text_col))
    return df.withColumn(f"{NAME}_reason", r).withColumn(f"{NAME}_keep", F.col(f"{NAME}_reason").isNull())


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
) -> str:
    """DuckDB SQL computing identical (id, reason, keep) rows relationally."""
    top_ctes, dup_ctes = [], []
    for n, _ in cfg.top_n_grams:
        top_ctes.append(
            f"""g{n} AS (
  SELECT id, unnest(list_transform(range(1, greatest(len(ws)-{n}+1, 0)+1),
                    i -> array_to_string(ws[i:i+{n}-1], ' '))) AS g
  FROM base WHERE len(ws) >= {n}
), c{n} AS (
  SELECT id, g, count(*) AS c FROM g{n} GROUP BY 1, 2
), m{n} AS (
  SELECT id, max(c) AS mc FROM c{n} GROUP BY 1
), top{n} AS (
  SELECT c.id, len(min(c.g)) * any_value(m.mc) AS topchars
  FROM c{n} c JOIN m{n} m ON c.id = m.id AND c.c = m.mc GROUP BY c.id
)"""
        )
    for n, _ in cfg.dup_n_grams:
        dup_ctes.append(
            f"""dg{n} AS (
  SELECT id, gr['i'] AS i, gr['g'] AS g
  FROM (SELECT id, unnest(list_transform(range(0, greatest(len(ws)-{n}, -1)+1),
                          i -> {{'i': i, 'g': array_to_string(ws[i+1:i+{n}], ' ')}})) AS gr
        FROM base WHERE len(ws) >= {n})
), fo{n} AS (
  SELECT id, g, min(i) AS fi FROM dg{n} GROUP BY 1, 2 HAVING count(*) > 1
), cov{n} AS (
  SELECT DISTINCT d.id, d.i + o.o AS w
  FROM dg{n} d JOIN fo{n} f ON d.id = f.id AND d.g = f.g AND d.i > f.fi
  CROSS JOIN (SELECT unnest(range({n})) AS o) o
), dup{n} AS (
  SELECT c.id, sum(wl.wlen) AS dupchars
  FROM cov{n} c JOIN wl ON c.id = wl.id AND c.w = wl.wi GROUP BY 1
)"""
        )
    top_cases = "\n      ".join(
        f"WHEN coalesce(top{n}.topchars, 0)::DOUBLE / nullif(b.tl, 0) > {frac} THEN 'top_{n}_gram'"
        for n, frac in cfg.top_n_grams
    )
    dup_cases = "\n      ".join(
        f"WHEN coalesce(dup{n}.dupchars, 0)::DOUBLE / nullif(b.tl, 0) > {frac} THEN 'duplicated_{n}_n_grams'"
        for n, frac in cfg.dup_n_grams
    )
    top_joins = "\n".join(f"LEFT JOIN top{n} ON b.id = top{n}.id" for n, _ in cfg.top_n_grams)
    dup_joins = "\n".join(f"LEFT JOIN dup{n} ON b.id = dup{n}.id" for n, _ in cfg.dup_n_grams)

    return f"""
WITH base AS (
  SELECT {id_col} AS id, len({text_col}) AS tl,
         regexp_extract_all({text_col}, '\\S+') AS ws,
         regexp_split_to_array(trim({text_col}, {_SQL_STRIP}), '\\n{{2,}}') AS paras,
         regexp_split_to_array(trim({text_col}, {_SQL_STRIP}), '\\n+') AS lns
  FROM {table}
), wl AS (
  SELECT id, unnest(range(0, len(ws))) AS wi,
         unnest(list_transform(ws, w -> len(w))) AS wlen
  FROM base
), pdup AS (
  SELECT id, sum(cnt - 1) AS dup_n, sum((cnt - 1) * len(e)) AS dup_chars
  FROM (SELECT id, e, count(*) AS cnt
        FROM (SELECT id, unnest(paras) AS e FROM base) GROUP BY 1, 2)
  WHERE cnt > 1 GROUP BY 1
), ldup AS (
  SELECT id, sum(cnt - 1) AS dup_n, sum((cnt - 1) * len(e)) AS dup_chars
  FROM (SELECT id, e, count(*) AS cnt
        FROM (SELECT id, unnest(lns) AS e FROM base) GROUP BY 1, 2)
  WHERE cnt > 1 GROUP BY 1
),
{", ".join(top_ctes)},
{", ".join(dup_ctes)}
SELECT b.id AS {id_col},
  CASE
    WHEN coalesce(pdup.dup_n, 0)::DOUBLE / nullif(len(b.paras), 0) > {cfg.dup_para_frac} THEN 'dup_para_frac'
    WHEN coalesce(pdup.dup_chars, 0)::DOUBLE / nullif(b.tl, 0) > {cfg.dup_para_char_frac} THEN 'dup_para_char_frac'
    WHEN coalesce(ldup.dup_n, 0)::DOUBLE / nullif(len(b.lns), 0) > {cfg.dup_line_frac} THEN 'dup_line_frac'
    WHEN coalesce(ldup.dup_chars, 0)::DOUBLE / nullif(b.tl, 0) > {cfg.dup_line_char_frac} THEN 'dup_line_char_frac'
      {top_cases}
      {dup_cases}
    ELSE NULL
  END AS {NAME}_reason
FROM base b
LEFT JOIN pdup ON b.id = pdup.id
LEFT JOIN ldup ON b.id = ldup.id
{top_joins}
{dup_joins}
""".strip()
