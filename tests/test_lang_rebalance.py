"""Temperature language rebalancing: rate math, flattening, determinism.

Registry parity already proves the keep column matches the DuckDB oracle
bit-for-bit at sf0.001/sf0.01; these pin the semantics the hash comparison
can't express."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datatrove_spark.operators import lang_rebalance
from tests.conftest import SF_SMALL


def test_rates_flatten_toward_low_resource():
    """alpha=0.5 upweights rare languages: the rare language's keep rate must
    exceed the dominant one's, expected totals must respect the budget, and a
    language below its target keeps everything (rate capped at 1)."""
    counts = {"en": 90_000, "sw": 100, "de": 30_000}
    rates = lang_rebalance.rates_from_counts(counts, alpha=0.5, budget_frac=0.5)
    assert rates["sw"] == 1.0  # below target -> keep all
    assert rates["sw"] > rates["de"] > rates["en"]
    # expected kept proportions (excluding capped langs) follow sqrt weights
    assert rates["de"] / rates["en"] == pytest.approx(
        math.sqrt(counts["en"] / counts["de"]), rel=1e-12
    )
    expected_total = sum(rates[lg] * counts[lg] for lg in counts)
    assert expected_total <= 0.5 * sum(counts.values()) + 1e-6


def test_keep_is_partition_independent(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    a = {r.doc_id: r.lang_rebalance_keep for r in lang_rebalance.apply(docs).collect()}
    b = {
        r.doc_id: r.lang_rebalance_keep
        for r in lang_rebalance.apply(docs.repartition(17)).collect()
    }
    assert a == b
    assert any(a.values()) and not all(a.values())


def test_realized_counts_near_expected(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    counts = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    rates = lang_rebalance.rates_from_counts(counts)
    kept = {
        r.lang: r["count"]
        for r in lang_rebalance.apply(docs)
        .filter("lang_rebalance_keep")
        .groupBy("lang")
        .count()
        .collect()
    }
    for lg, n in counts.items():
        exp = rates[lg] * n
        # h60 is uniform; at 100-ish docs/lang allow generous binomial slack
        assert abs(kept.get(lg, 0) - exp) <= 4 * math.sqrt(max(exp, 1)) + 2, (lg, exp, kept)


def test_null_lang_fails_fast(spark):
    """NULL languages must raise a clear error, never crash in sorted() or
    emit NULL keep decisions."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    nulled = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 5 == 0, F.lit(None)).otherwise(F.col("lang"))
    )
    with pytest.raises(ValueError, match="NULL lang"):
        lang_rebalance.apply(nulled)


def test_empty_corpus(spark):
    """An empty corpus gives 0 rows with the 4-column schema, on the Spark
    side and in the DuckDB oracle alike."""
    import duckdb

    cols = ["doc_id", "lang", "lang_rebalance_thr", "lang_rebalance_keep"]
    out = lang_rebalance.apply(spark.createDataFrame([], "doc_id long, lang string"))
    assert out.columns == cols
    assert out.count() == 0

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR)")
    cur = con.execute(lang_rebalance.oracle_sql())
    assert [d[0] for d in cur.description] == cols
    assert cur.fetchall() == []


def test_non_sqrt_temperature_alpha03(spark):
    """alpha=0.3 (a non-sqrt temperature, libm pow path): realized keep rates
    must match the q_l ∝ n_l^alpha expectation within sampler granularity,
    and the thresholds must agree with an independent DuckDB pow() rendering
    to within 1 unit in 1e6 (the documented last-ulp caveat)."""
    from datatrove_spark.registry import duck_connect

    alpha, budget_frac = 0.3, 0.5
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    counts = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    out = lang_rebalance.apply(docs, alpha=alpha, budget_frac=budget_frac)
    rows = out.select("lang", "lang_rebalance_thr", "lang_rebalance_keep").collect()

    # independent expectation in pure float arithmetic
    s = sum(n**alpha for n in counts.values())
    budget = budget_frac * sum(counts.values())
    exp_rate = {lg: min(1.0, budget * counts[lg] ** alpha / s / counts[lg]) for lg in counts}

    thr = {r.lang: r.lang_rebalance_thr for r in rows}
    for lg in counts:
        assert abs(thr[lg] - exp_rate[lg] * lang_rebalance.SAMPLE_M) <= 1, (lg, thr[lg])
    # realized kept counts track rate*n within binomial slack
    kept: dict[str, int] = {}
    for r in rows:
        kept[r.lang] = kept.get(r.lang, 0) + bool(r.lang_rebalance_keep)
    for lg, n in counts.items():
        exp = exp_rate[lg] * n
        assert abs(kept.get(lg, 0) - exp) <= 4 * math.sqrt(max(exp, 1)) + 2, (lg, exp, kept)

    # cross-engine: DuckDB computes the same thresholds with its own pow
    con = duck_connect(SF_SMALL)
    duck = dict(
        con.execute(
            f"""
            WITH counts AS (
              SELECT lang AS lg, count(*)::BIGINT AS n FROM documents GROUP BY 1
            ), tot AS (
              SELECT sum(n)::DOUBLE AS nn,
                     list_sum(list_transform(list(n ORDER BY lg), x -> pow(x::DOUBLE, {alpha}))) AS s
              FROM counts
            )
            SELECT lg, floor(least(1.0, {budget_frac} * (SELECT nn FROM tot)
                   * pow(n::DOUBLE, {alpha}) / (SELECT s FROM tot) / n) * 1000000)::BIGINT
            FROM counts
            """
        ).fetchall()
    )
    for lg in counts:
        assert abs(thr[lg] - duck[lg]) <= 1, (lg, thr[lg], duck[lg])


def test_plan_is_narrow_after_tiny_agg(spark):
    """The corpus-side keep rule is a pure narrow filter: literal thresholds,
    no join, no corpus shuffle (the only aggregation is the per-language
    count that was collected driver-side before this plan was built)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = lang_rebalance.apply(docs)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert "Exchange" not in p, p
    assert "Join" not in p, p
