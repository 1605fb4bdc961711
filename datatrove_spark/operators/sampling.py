"""Sampler / regex / lambda filters — the small tail of SURVEY.md §2.4.

- SamplerFilter (src/datatrove/pipeline/filters/sampler_filter.py:27-28)
  keeps docs with probability `rate` from a per-task RNG — which makes the
  kept SET depend on sharding. The engine's sampler is deterministic on
  data: keep iff h60(key) mod M < rate*M. Same marginal rate, identical
  sample at any parallelism, and SQL-expressible (the reference's RNG
  choice is a documented deviation; Spark's own df.sample is also exposed
  for the don't-care-which-rows case).
- RegexFilter (filters/regex_filter.py:22-29): drop when the pattern
  matches. Native `rlike` when the pattern is RE2/Java-safe; Python-`re`
  batch UDF otherwise (dialect parity, SURVEY §7.3.4).
- LambdaFilter (filters/lambda_filter.py:22-29): arbitrary predicate —
  either a Column expression (preferred, stays in codegen) or a Python
  callable wrapped into a pandas UDF (the escape hatch).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from datatrove_spark.functions.hashing import hash60, sql_hash60

SAMPLE_M = 1_000_000


def sample_bucket(salt: str, key: Column) -> Column:
    """h60(salt|key) mod SAMPLE_M: the deterministic sampler's bucket. A row
    is kept at rate r iff its bucket < int(r * SAMPLE_M); c4_badwords'
    keep_fraction and lang_rebalance use the same rule."""
    return F.pmod(hash60(F.concat(F.lit(salt), key.cast("string"))), F.lit(SAMPLE_M))


def deterministic_sample(df: DataFrame, rate: float, key_col: str, salt: str = "") -> DataFrame:
    """Keep iff h60(salt|key) mod 1e6 < rate*1e6 — partition-independent."""
    return df.filter(sample_bucket(salt, F.col(key_col)) < int(rate * SAMPLE_M))


def oracle_sql_sample(table: str, rate: float, key_expr: str, salt: str = "") -> str:
    h = sql_hash60(f"'{salt}' || ({key_expr})::VARCHAR")
    return f"SELECT * FROM {table} WHERE {h} % {SAMPLE_M} < {int(rate * SAMPLE_M)}"


def regex_filter(df: DataFrame, pattern: str, text_col: str = "text", java_safe: bool = True) -> DataFrame:
    """Drop rows whose text matches `pattern` (reference: match -> drop)."""
    if java_safe:
        return df.filter(~F.col(text_col).rlike(pattern))
    import re

    compiled = {}

    @F.pandas_udf(BooleanType())
    def matches(texts: pd.Series) -> pd.Series:
        rx = compiled.setdefault(pattern, re.compile(pattern))
        return texts.map(lambda t: bool(rx.search(t)) if t is not None else False)

    return df.filter(~matches(F.col(text_col)))


def lambda_filter(df: DataFrame, predicate: Column | Callable[[str], bool], text_col: str = "text") -> DataFrame:
    if isinstance(predicate, Column):
        return df.filter(predicate)

    @F.pandas_udf(BooleanType())
    def pred(texts: pd.Series) -> pd.Series:
        return texts.map(predicate)

    return df.filter(pred(F.col(text_col)))
