"""Multilingual temperature rebalancing — XLM-R / mC4 language sampling.

Beyond-reference: the standard multilingual-corpus rebalancing step
(Conneau et al. 2020, arXiv:1911.02116 §3; mC4 in Xue et al. 2021): a raw
web corpus is dominated by a few high-resource languages, so training data
is drawn with probabilities q_l ∝ p_l^alpha (alpha < 1 flattens the
distribution, upweighting low-resource languages). The reference library
has only a global uniform SamplerFilter; this operator adds the
per-language budgeted variant.

Semantics: with per-language counts n_l (N total), target shares
q_l = n_l^alpha / Σ n^alpha and a total budget B = budget_frac·N docs, each
language keeps at rate r_l = min(1, B·q_l / n_l) — expected kept counts
follow the temperature distribution, capped at keeping everything for
languages below their target. The keep decision reuses the engine's
deterministic sampler rule (sampling.sample_bucket: h60(salt|id) mod 1e6 <
floor(r_l·1e6)): partition-independent, identical sample at any
parallelism, SQL-exact.

Spark shape: ONE tiny aggregation (per-language counts, map-side combined,
collected — O(languages) rows) computes the rates driver-side; the keep
rule is then a pure narrow filter with literal thresholds — the corpus
never shuffles. Cross-engine float exactness: alpha=0.5 is computed with
IEEE sqrt (exact in both engines) and the Σ n^alpha fold runs in sorted
language order on BOTH sides (Python sorted loop; DuckDB
list(n ORDER BY lang) + left-to-right list_sum), so the 1e-6-granular
thresholds are bit-identical. Other alphas use libm pow and carry a
documented last-ulp caveat (threshold could differ by 1 in 1e6 if
rate·1e6 lands within an ulp of an integer).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatrove_spark.functions.hashing import sql_hash60
from datatrove_spark.operators.sampling import SAMPLE_M, sample_bucket

NAME = "lang_rebalance"


def threshold_map_expr(key, thr_by_key: dict) -> "F.Column":
    """Literal per-key threshold lookup with O(1) expression DEPTH.

    One flat CreateMap node with 2K children instead of a chained
    when().otherwise() — the chain nests one tree level per key, and
    Catalyst's recursive tree transforms overflow the JVM stack near ~400
    keys (measured: a 400-key chain died in withColumn during analysis).
    Missing keys yield NULL."""
    pairs = []
    for k in sorted(thr_by_key):
        pairs.append(F.lit(k))
        pairs.append(F.lit(int(thr_by_key[k])))
    return F.try_element_at(F.create_map(*pairs), key).cast("long")


def rates_from_counts(
    counts: dict[str, int], alpha: float = 0.5, budget_frac: float = 0.5
) -> dict[str, float]:
    """Per-language keep rates; fold order pinned to sorted(lang)."""
    langs = sorted(counts)
    if alpha == 0.5:
        qs = {lg: math.sqrt(counts[lg]) for lg in langs}  # IEEE-exact
    else:
        qs = {lg: counts[lg] ** alpha for lg in langs}
    s = 0.0
    for lg in langs:
        s += qs[lg]
    n_total = sum(counts.values())
    budget = budget_frac * n_total
    return {lg: min(1.0, budget * qs[lg] / s / counts[lg]) for lg in langs}


def apply(
    df: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    salt: str = "lrb",
) -> DataFrame:
    """Adds lang_rebalance_keep (and the integer threshold column the rule
    compared against, for auditability)."""
    counts = {
        r[lang_col]: r["count"] for r in df.groupBy(lang_col).count().collect()
    }
    if None in counts:
        # sorted(counts) would raise (None vs str unorderable), and a NULL
        # language has no defensible temperature share — make the contract
        # explicit instead of emitting NULL keep decisions
        raise ValueError(
            f"lang_rebalance: {counts[None]} rows have NULL {lang_col}; "
            "filter or impute a language before rebalancing"
        )
    rates = rates_from_counts(counts, alpha, budget_frac)
    thr = threshold_map_expr(
        F.col(lang_col), {lg: int(r * SAMPLE_M) for lg, r in rates.items()}
    )
    h = sample_bucket(salt, F.col(id_col))
    return df.withColumn(f"{NAME}_thr", thr).withColumn(f"{NAME}_keep", h < F.col(f"{NAME}_thr"))


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    salt: str = "lrb",
) -> str:
    """Same fold order (lang-sorted), same association (B·q/S/n), same
    floor-at-1e-6 threshold. alpha must be 0.5 here (sqrt-exact contract)."""
    assert alpha == 0.5, "oracle is exact only for the sqrt temperature"
    h = sql_hash60(f"'{salt}' || ({id_col})::VARCHAR")
    return f"""
WITH counts AS (
  SELECT {lang_col} AS lg, count(*)::BIGINT AS n FROM {table} GROUP BY 1
), tot AS (
  SELECT sum(n)::DOUBLE AS nn,
         list_sum(list_transform(list(n ORDER BY lg), x -> sqrt(x::DOUBLE))) AS s
  FROM counts
), r AS (
  SELECT lg,
         floor(least(1.0, {budget_frac} * (SELECT nn FROM tot) * sqrt(n::DOUBLE)
               / (SELECT s FROM tot) / n) * {SAMPLE_M})::BIGINT AS thr
  FROM counts
)
SELECT d.{id_col}, d.{lang_col}, r.thr AS {NAME}_thr,
       ({h} % {SAMPLE_M} < r.thr) AS {NAME}_keep
FROM {table} d JOIN r ON d.{lang_col} = r.lg
""".strip()
