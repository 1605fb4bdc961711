"""Query registry — the single source of truth behind ``__spark_entry__.py``.

Each entry maps a name from SURVEY.md §2 to

    spark:  Callable[(SparkSession, sf_dir str)] -> DataFrame
    oracle: equivalent DuckDB ANSI-SQL string

Column-name contract: every computed column is aliased identically in the
Spark plan and the SQL so the driver's order-insensitive compare
(``compare_frames``: sort columns by name and rows by their repr, then require
the same pandas dtypes and the same hash of the cell reprs) matches exactly.
Float-valued outputs are rounded to a fixed scale on BOTH sides for
bit-stable hashes. ``check`` runs one entry against its oracle; pytest and
``scripts/check_correctness.py`` both call it.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datatrove_spark.config import C4BadWordsConfig, URLFilterConfig
from datatrove_spark.operators import (
    bloom_dedup,
    c4_badwords,
    c4_paragraphs,
    c4_quality,
    ccnet_buckets,
    decont,
    exact_dedup,
    exact_substrings,
    extract,
    fineweb_quality,
    formatters,
    gopher_quality,
    gopher_repetition,
    host_stats,
    lang_rebalance,
    langid,
    minhash,
    ngram_lm,
    pii,
    quality_fused,
    readability,
    sampling,
    sentence_dedup,
    tokenizer,
    similarity,
    token_stats,
    unigram_logprob,
    url_dedup,
    url_filter,
)
from datatrove_spark.plans.pipeline import Stage, canonical_stages, compose

TABLES = ("documents", "embeddings")


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a testdata table, re-spread across the cluster. The sf parquet
    files are single small files -> one input split -> every downstream
    CPU-heavy operator would run on ONE core; an explicit repartition costs
    a few MB of shuffle and buys full parallelism. (On real multi-TB inputs
    split planning already yields thousands of partitions and this exchange
    coalesces away under AQE.)"""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = gopher_quality.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "gopher_quality_reason", "gopher_quality_keep")


def _q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = gopher_repetition.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "gopher_repetition_reason")


def _q_c4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = c4_quality.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "c4_quality_reason", "c4_quality_keep", "c4_quality_text")


def _q_fineweb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = fineweb_quality.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "fineweb_quality_reason")


def quality_pipeline(df: DataFrame, text_col: str = "text") -> DataFrame:
    """FineWeb-order heuristic battery — fused Arrow-kernel hot path
    (operators/quality_fused.py). Returns the input plus drop_reason /
    final_text / keep."""
    return quality_fused.apply(df, text_col)


def _q_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = quality_pipeline(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "keep", "drop_reason", "final_text")


def _oracle_quality_pipeline() -> str:
    # chain the per-operator oracles through CTEs; c4 rewrite feeds fineweb.
    # The battery short-circuits: c4's rewrite only happens when the gopher
    # stages passed.
    gq = gopher_quality.oracle_sql()
    gr = gopher_repetition.oracle_sql()
    c4 = c4_quality.oracle_sql()
    fw = fineweb_quality.oracle_sql(table="c4_rewritten", text_col="text")
    return f"""
WITH gq AS ({gq}), gr AS ({gr}), c4 AS ({c4}),
c4_rewritten AS (
  SELECT d.doc_id, c4.c4_quality_text AS text FROM documents d JOIN c4 USING (doc_id)
),
fw AS ({fw})
SELECT d.doc_id,
  coalesce(gr.gopher_repetition_reason, gq.gopher_quality_reason,
           c4.c4_quality_reason, fw.fineweb_quality_reason) AS drop_reason,
  (coalesce(gr.gopher_repetition_reason, gq.gopher_quality_reason,
            c4.c4_quality_reason, fw.fineweb_quality_reason) IS NULL) AS keep,
  CASE WHEN gr.gopher_repetition_reason IS NULL AND gq.gopher_quality_reason IS NULL
       THEN c4.c4_quality_text ELSE d.text END AS final_text
FROM documents d
JOIN gq USING (doc_id) JOIN gr USING (doc_id)
JOIN c4 USING (doc_id) JOIN fw USING (doc_id)
""".strip()


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full north-rule flow under one hash gate, run through the
    production path: ``compose`` over a URL-filter stage and
    ``canonical_stages(with_url_filter=False)``, i.e. URL filter -> ONE
    Arrow UDF running language ID, the quality battery and the PII scrub of
    the battery's text. One row per input document with the first drop
    reason in pipeline order, the keep decision, and the curated
    (C4-rewritten + PII-scrubbed) text for kept documents.

    Every kernel runs on every document and compose coalesces the reasons
    in stage order. Because every kernel is a pure per-document function of
    its input text, this yields the keep/reason/text a short-circuiting run
    would, and the oracle mirrors it as one query. Stage order follows the
    reference's examples/fineweb.py (url filter -> langid -> gopher rep ->
    gopher qual -> c4 -> fineweb -> PII formatter)."""
    df = load(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://www."),
            F.col("source"),
            F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, ".bad.com").otherwise(".example.com"),
            F.lit("/"),
            F.when(F.pmod(F.col("doc_id"), F.lit(11)) == 0, "casino").otherwise("article"),
        ),
    )
    stages = [Stage("url_filter", lambda d: url_filter.apply(d, cfg=_URLF_CFG))]
    df = compose(df, stages + canonical_stages(with_url_filter=False))
    return df.select(
        "doc_id",
        "language",
        F.col("drop_reason").alias("curation_reason"),
        F.col("keep").alias("curation_keep"),
        F.when(F.col("keep"), F.col("text")).alias("curated_text"),
    )


_CUR_URL_SQL = (
    "'https://www.' || source || (CASE WHEN doc_id % 5 = 0 THEN '.bad.com' ELSE '.example.com' END) "
    "|| '/' || (CASE WHEN doc_id % 11 = 0 THEN 'casino' ELSE 'article' END)"
)


def _oracle_curation_pipeline() -> str:
    uf = url_filter.oracle_sql("u", "url", cfg=_URLF_CFG)
    li = langid.oracle_sql()
    qp = _oracle_quality_pipeline()
    pi = pii.oracle_sql(table="qp_text", text_expr="text")
    reason = (
        "coalesce(uf.url_filter_reason, "
        "CASE WHEN NOT li.langid_keep THEN 'lang_filter' END, qp.drop_reason)"
    )
    return f"""
WITH u AS (SELECT doc_id, {_CUR_URL_SQL} AS url FROM documents),
uf AS ({uf}),
li AS ({li}),
qp AS ({qp}),
qp_text AS (SELECT doc_id, final_text AS text FROM qp),
pi AS ({pi})
SELECT d.doc_id, li.language,
  {reason} AS curation_reason,
  ({reason} IS NULL) AS curation_keep,
  CASE WHEN {reason} IS NULL THEN pi.pii_text END AS curated_text
FROM documents d
JOIN uf USING (doc_id) JOIN li USING (doc_id)
JOIN qp USING (doc_id) JOIN pi USING (doc_id)
""".strip()


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = langid.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "language", "language_score", "langid_keep")


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = unigram_logprob.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "unigram_logprob", "unigram_logprob_keep")


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = token_stats.with_token_count(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "token_count")


def _q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats.group_stats(load(spark, sf_dir, "documents"), "lang")


def _q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats.length_histogram(load(spark, sf_dir, "documents"))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = exact_dedup.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "dup_of", "exact_dedup_keep")


def _q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = bloom_dedup.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "bloom_dup_frac", "bloom_dedup_keep")


def _q_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = exact_substrings.apply(load(spark, sf_dir, "documents"), length=20)
    return df.select("doc_id", "n_words", "n_removed", "es_text")


# synthetic URL over the documents table: 20 sources x 7 slots -> ~3.5
# docs/url, a real dedup workload; priority = n_chars (bigger doc wins).
_URL_SPARK = lambda: F.concat(  # noqa: E731
    F.lit("https://"), F.col("source"), F.lit(".example.com/p/"), F.pmod(F.col("doc_id"), F.lit(7))
)
_URL_SQL = "'https://' || source || '.example.com/p/' || (doc_id % 7)"


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents").withColumn("url", _URL_SPARK())
    df = url_dedup.apply(df, priority_col="n_chars")
    return df.select("doc_id", "url", "url_dedup_keep")


def _oracle_url_dedup() -> str:
    inner = url_dedup.oracle_sql("documents", _URL_SQL, priority_expr="n_chars")
    return f"SELECT d.doc_id, {_URL_SQL} AS url, u.url_dedup_keep FROM documents d JOIN ({inner}) u USING (doc_id)"


# PII-bearing text synthesized deterministically from documents columns so
# the scrub exercises email cycling + public/private/multicast IP branches.
def _pii_text_spark() -> F.Column:
    ip1 = F.concat_ws(
        ".",
        (F.pmod(F.col("doc_id"), F.lit(223)) + 1).cast("string"),
        F.pmod(F.col("doc_id"), F.lit(251)).cast("string"),
        F.pmod(F.col("doc_id"), F.lit(241)).cast("string"),
        (F.pmod(F.col("doc_id"), F.lit(253)) + 1).cast("string"),
    )
    return F.concat(
        F.col("text"),
        F.lit(" Contact john.doe@mail-"), F.col("source"),
        F.lit(".org or admin@"), F.col("source"),
        F.lit(".example.com now. Servers: "), ip1,
        F.lit(", 10.0.0.1, 8.8.8.8, 224.0.0.5."),
    )


_PII_TEXT_SQL = (
    "text || ' Contact john.doe@mail-' || source || '.org or admin@' || source || "
    "'.example.com now. Servers: ' || (doc_id % 223 + 1) || '.' || (doc_id % 251) || '.' || "
    "(doc_id % 241) || '.' || (doc_id % 253 + 1) || ', 10.0.0.1, 8.8.8.8, 224.0.0.5.'"
)


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents").withColumn("text", _pii_text_spark())
    return pii.apply(df).select("doc_id", "pii_text")


def _q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash.signatures(load(spark, sf_dir, "documents"))


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash.pairs(load(spark, sf_dir, "documents"))


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = minhash.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "dup_of", "minhash_keep")


# Cross-dump index dedup (reference minhash.py:258-283): the documents table
# splits deterministically into a "prior dump" (doc_id % 7 == 0, the indexed
# corpus) and a "new dump" (the rest, deduped against the index).
_IDX_SPLIT_T = "(SELECT * FROM documents WHERE doc_id % 7 = 0)"
_IDX_CORPUS_T = "(SELECT * FROM documents WHERE doc_id % 7 <> 0)"


def _idx_split(spark: SparkSession, sf_dir: str):
    docs = load(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") % 7 != 0), docs.filter(F.col("doc_id") % 7 == 0)


def _q_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, prior = _idx_split(spark, sf_dir)
    return minhash.build_index(prior)


def _q_minhash_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, prior = _idx_split(spark, sf_dir)
    df = minhash.apply_with_index(corpus, minhash.build_index(prior), only_dedup_in_index=True)
    return df.select("doc_id", "index_match", "minhash_keep")


def _q_minhash_index_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, prior = _idx_split(spark, sf_dir)
    df = minhash.apply_with_index(corpus, minhash.build_index(prior), only_dedup_in_index=False)
    return df.select("doc_id", "index_match", "dup_of", "minhash_keep")


# URL index split uses % 3: the synthetic url is a function of doc_id mod
# lcm(20 sources, 7 slots) = 140, so any split modulus sharing a factor with
# 140 (5, 7, 10, ...) puts whole url classes on one side and never matches;
# gcd(13, 140) = 1 spreads the index across url classes, and 13's sparsity
# leaves most url groups index-free — so the query exercises BOTH outcomes
# (index removal and surviving self-dedup; ~31% of groups indexed at sf0.01).
_URL_IDX_SPLIT_T = f"(SELECT *, {_URL_SQL} AS url FROM documents WHERE doc_id % 13 = 0)"
_URL_IDX_CORPUS_T = f"(SELECT *, {_URL_SQL} AS url FROM documents WHERE doc_id % 13 <> 0)"


def _q_url_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn("url", _URL_SPARK())
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    prior = docs.filter(F.col("doc_id") % 13 == 0)
    df = url_dedup.apply_with_index(
        corpus, url_dedup.build_index(prior), priority_col="n_chars", only_dedup_in_index=False
    )
    return df.select("doc_id", "index_match", "url_dedup_keep")


# The documents table's text has no sentence terminators, so the sentence
# index rows derive punctuated text deterministically: the literal ' the '
# becomes '. ' — identical non-overlapping left-to-right replacement in the
# Java and DuckDB regex engines.
_SENT_SQL = "regexp_replace(text, ' the ', '. ', 'g')"
_SENT_IDX_SPLIT_T = f"(SELECT doc_id, {_SENT_SQL} AS text FROM documents WHERE doc_id % 7 = 0)"
_SENT_IDX_CORPUS_T = f"(SELECT doc_id, {_SENT_SQL} AS text FROM documents WHERE doc_id % 7 <> 0)"


def _sent_idx_split(spark: SparkSession, sf_dir: str):
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace(F.col("text"), " the ", ". ").alias("text")
    )
    return docs.filter(F.col("doc_id") % 7 != 0), docs.filter(F.col("doc_id") % 7 == 0)


def _q_sentence_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, prior = _sent_idx_split(spark, sf_dir)
    df = sentence_dedup.apply_with_index(
        corpus, sentence_dedup.build_index(prior), only_dedup_in_index=True
    )
    return df.select("doc_id", "sentence_dedup_text", "sentence_dedup_keep")


def _q_sentence_index_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, prior = _sent_idx_split(spark, sf_dir)
    df = sentence_dedup.apply_with_index(
        corpus, sentence_dedup.build_index(prior), only_dedup_in_index=False
    )
    return df.select("doc_id", "sentence_dedup_text", "sentence_dedup_keep")


def _q_decont(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    index = decont.build_index(docs.filter("doc_id < 25"))
    corpus = docs.filter("doc_id >= 25")
    return decont.apply(corpus, index).select("doc_id", "decont_keep")


# html synthesized from documents text in both engines -> extraction parity
def _q_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents").withColumn(
        "html",
        F.concat(
            F.lit("<html><head><style>p{color:red}</style><script>var x=1;</script></head>"
                  "<body><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"), F.col("text"),
            F.lit(" &amp; more</p><!-- hidden --></body></html>"),
        ),
    )
    return extract.apply(df).select("doc_id", "text")


_HTML_SQL = (
    "'<html><head><style>p{color:red}</style><script>var x=1;</script></head>"
    "<body><h1>Doc ' || doc_id || '</h1><p>' || text || "
    "' &amp; more</p><!-- hidden --></body></html>'"
)


# boilerplate-laden page: nav/footer/sidebar must be stripped by the
# readability-native extractor, the article <p> must survive
def _q_extract_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents").withColumn(
        "html",
        F.concat(
            F.lit(
                "<html><head><script>var x=1;</script></head><body>"
                '<nav><ul><li>Home</li><li>About</li></ul></nav>'
                '<div class="sidebar">Trending now! Subscribe!</div>'
                "<h1>Doc "
            ),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit(
                " &amp; more</p><footer>Copyright 2024 Example Corp</footer>"
                "</body></html>"
            ),
        ),
    )
    return readability.apply(df).select("doc_id", "readability_text")


_RHTML_SQL = (
    "'<html><head><script>var x=1;</script></head><body>"
    "<nav><ul><li>Home</li><li>About</li></ul></nav>"
    '<div class="sidebar">Trending now! Subscribe!</div>'
    "<h1>Doc ' || doc_id || '</h1><p>' || text || "
    "' &amp; more</p><footer>Copyright 2024 Example Corp</footer>"
    "</body></html>'"
)

_URLF_CFG = URLFilterConfig(
    blocked_domains=("bad.com",),
    blocked_urls=("src0.example.com/block/this",),
    banned_words=("casino",),
    soft_banned_words=("poker", "bet"),
    banned_subwords=("xxx",),
)


def _q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.pmod(F.col("doc_id"), F.lit(11))
    path = (
        F.when(m == 0, "casino")
        .when(m == 1, "poker/bet-now")
        .when(m == 2, "hot-xxx-page")
        .when(m == 3, "block/this")
        .otherwise("article")
    )
    host_suffix = F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, ".bad.com").otherwise(".example.com")
    df = load(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(F.lit("https://www."), F.col("source"), host_suffix, F.lit("/"), path),
    )
    df = url_filter.apply(df, cfg=_URLF_CFG)
    return df.select("doc_id", "url", "url_filter_reason", "url_filter_keep")


_URLF_URL_SQL = (
    "'https://www.' || source || (CASE WHEN doc_id % 5 = 0 THEN '.bad.com' ELSE '.example.com' END) "
    "|| '/' || (CASE doc_id % 11 WHEN 0 THEN 'casino' WHEN 1 THEN 'poker/bet-now' "
    "WHEN 2 THEN 'hot-xxx-page' WHEN 3 THEN 'block/this' ELSE 'article' END)"
)


def _oracle_url_filter() -> str:
    inner = url_filter.oracle_sql("u", "url", cfg=_URLF_CFG)
    return f"""
WITH u AS (SELECT doc_id, {_URLF_URL_SQL} AS url FROM documents)
SELECT u.doc_id, u.url, f.url_filter_reason, f.url_filter_keep
FROM u JOIN ({inner}) f USING (doc_id)
""".strip()


# badword-bearing text synthesized per-language for every 7th doc; every
# 11th doc gets an unknown language -> exercises drop / keep_fraction /
# missing-language branches in both engines identically.
_BW_CFG = C4BadWordsConfig(keep_fraction=0.25)

_BW_WORD_SQL = (
    "CASE lang WHEN 'en' THEN ' cheap viagra here' WHEN 'de' THEN ' gratis porno seite' "
    "WHEN 'fr' THEN ' porno gratuit' WHEN 'es' THEN ' porno gratis' "
    "WHEN 'zh' THEN ' 色情内容' ELSE '' END"
)


def _q_c4_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    word = (
        F.when(F.col("lang") == "en", " cheap viagra here")
        .when(F.col("lang") == "de", " gratis porno seite")
        .when(F.col("lang") == "fr", " porno gratuit")
        .when(F.col("lang") == "es", " porno gratis")
        .when(F.col("lang") == "zh", " 色情内容")
        .otherwise("")
    )
    df = (
        load(spark, sf_dir, "documents")
        .withColumn(
            "text",
            F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.concat(F.col("text"), word)).otherwise(
                F.col("text")
            ),
        )
        .withColumn(
            "lang",
            F.when(F.pmod(F.col("doc_id"), F.lit(11)) == 0, F.lit("xx")).otherwise(F.col("lang")),
        )
    )
    df = c4_badwords.apply(df, cfg=_BW_CFG)
    return df.select(
        "doc_id", "c4_badwords_reason", "c4_badwords_keep", "c4_badwords_missing_lang"
    )


def _oracle_c4_badwords() -> str:
    inner = c4_badwords.oracle_sql(table="bw", cfg=_BW_CFG)
    assert inner.startswith("WITH ")
    return f"""
WITH bw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ({_BW_WORD_SQL}) ELSE text END AS text,
    CASE WHEN doc_id % 11 = 0 THEN 'xx' ELSE lang END AS lang
  FROM documents
), {inner[len("WITH "):]}
""".strip()


def _q_toxicity_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    word = (
        F.when(F.col("lang") == "en", " buy viagra and XXX stuff ")
        .when(F.col("lang") == "de", " nur Porno hier ")
        .when(F.col("lang") == "fr", " du porno gratuit ")
        .when(F.col("lang") == "es", " porno y mas porno ")
        .when(F.col("lang") == "zh", " 含有色情内容 ")
        .otherwise("")
    )
    df = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.concat(F.col("text"), word)).otherwise(
            F.col("text")
        ),
    )
    return c4_badwords.apply_scrub(df).select("doc_id", "toxicity_text")


_TOX_WORD_SQL = (
    "CASE lang WHEN 'en' THEN ' buy viagra and XXX stuff ' WHEN 'de' THEN ' nur Porno hier ' "
    "WHEN 'fr' THEN ' du porno gratuit ' WHEN 'es' THEN ' porno y mas porno ' "
    "WHEN 'zh' THEN ' 含有色情内容 ' ELSE '' END"
)


def _oracle_toxicity_scrub() -> str:
    inner = c4_badwords.oracle_sql_scrub(table="tox")
    return f"""
WITH tox AS (
  SELECT doc_id, lang,
    CASE WHEN doc_id % 3 = 0 THEN text || ({_TOX_WORD_SQL}) ELSE text END AS text
  FROM documents
)
{inner}
""".strip()


def _q_c4_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = c4_paragraphs.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "c4_paragraphs_reason", "c4_paragraphs_keep")


# model-free environment -> exercises the documented deterministic fallback
# path (same output schema as the fastText-backed path; its model-loading
# UDF factory is built in tests/test_gated_udfs.py)
_FT_LABELS = ("en", "fr")


def _q_fasttext_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datatrove_spark.operators import fasttext_filter

    df = fasttext_filter.apply(load(spark, sf_dir, "documents"), keep_labels=_FT_LABELS)
    return df.select("doc_id", "language", "fasttext_filter_reason", "fasttext_filter_keep")


def _oracle_fasttext_filter() -> str:
    from datatrove_spark.config import LangIdConfig

    inner = langid.oracle_sql(cfg=LangIdConfig(languages=_FT_LABELS))
    return f"""
SELECT doc_id, language,
  CASE WHEN NOT langid_keep THEN 'lang_filter' END AS fasttext_filter_reason,
  langid_keep AS fasttext_filter_keep
FROM ({inner})
""".strip()


def _q_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ngram_lm.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "ngram_logprob", "ngram_perplexity", "ngram_lm_keep")


def _q_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = lang_rebalance.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "lang", "lang_rebalance_thr", "lang_rebalance_keep")


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = ccnet_buckets.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "lang", "ngram_perplexity", "ccnet_tile", "ccnet_bucket")


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash.jaccard_pairs(load(spark, sf_dir, "documents"))


def _q_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The array-valued API lives in operators/tokenizer.py; the registry
    # projection renders it as a comma-joined STRING because the driver's
    # pandas canonicalizer cannot hash list cells (round-1 `token_ids` err).
    df = tokenizer.with_token_ids(load(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.concat_ws(",", F.col("token_ids").cast("array<string>")).alias("token_ids"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def _q_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sampling.deterministic_sample(load(spark, sf_dir, "documents"), 0.3, "doc_id", salt="s1")
    return df.select("doc_id")


def _q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sampling.regex_filter(load(spark, sf_dir, "documents"), r"lineitem|window")
    return df.select("doc_id")


def _q_symbol_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit("\n***\n=-=-=\n\nthe tail line stays here.\n!!!")),
    )
    return formatters.apply(df).select("doc_id", "symbol_lines_text")


_SYMLINES_TEXT_SQL = (
    "text || chr(10) || '***' || chr(10) || '=-=-=' || chr(10) || chr(10) || "
    "'the tail line stays here.' || chr(10) || '!!!'"
)


def _q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "documents").withColumn("url", _URL_SPARK())
    return host_stats.apply(df)


def _q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = sentence_dedup.apply(load(spark, sf_dir, "documents"))
    return df.select("doc_id", "sentence_dedup_text", "sentence_dedup_keep")


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
    return similarity.cosine_topk(emb, queries_df, k=5)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
    return similarity.ann_topk(emb, queries_df, k=5)


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter("vec_id < 5").selectExpr("vec_id AS query_id", "embedding")
    return similarity.ivf_topk(emb, queries_df, k=5)


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.neardup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.45)


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = similarity.semdedup(load(spark, sf_dir, "embeddings"), threshold=0.45)
    return df.select("vec_id", "dup_of", "semdedup_keep")


# name -> (spark_fn, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "gopher_quality": (_q_gopher_quality, gopher_quality.oracle_sql()),
    "gopher_repetition": (_q_gopher_repetition, gopher_repetition.oracle_sql()),
    "c4_quality": (_q_c4_quality, c4_quality.oracle_sql()),
    "c4_badwords": (_q_c4_badwords, _oracle_c4_badwords()),
    "c4_paragraphs": (_q_c4_paragraphs, c4_paragraphs.oracle_sql()),
    "toxicity_scrub": (_q_toxicity_scrub, _oracle_toxicity_scrub()),
    "fineweb_quality": (_q_fineweb_quality, fineweb_quality.oracle_sql()),
    "quality_pipeline": (_q_quality_pipeline, _oracle_quality_pipeline()),
    "curation_pipeline": (_q_curation_pipeline, _oracle_curation_pipeline()),
    "langid": (_q_langid, langid.oracle_sql()),
    "fasttext_filter": (_q_fasttext_filter, _oracle_fasttext_filter()),
    "unigram_logprob": (_q_unigram_logprob, unigram_logprob.oracle_sql()),
    "ngram_perplexity": (_q_ngram_perplexity, ngram_lm.oracle_sql()),
    "ccnet_buckets": (_q_ccnet_buckets, ccnet_buckets.oracle_sql()),
    "lang_rebalance": (_q_lang_rebalance, lang_rebalance.oracle_sql()),
    "token_count": (_q_token_count, token_stats.oracle_sql_doc_tokens()),
    "token_stats_by_lang": (_q_token_stats_by_lang, token_stats.oracle_sql_group_stats()),
    "length_histogram": (_q_length_histogram, token_stats.oracle_sql_length_histogram()),
    "exact_dedup": (_q_exact_dedup, exact_dedup.oracle_sql()),
    "bloom_dedup": (_q_bloom_dedup, bloom_dedup.oracle_sql()),
    "exact_substrings": (_q_exact_substrings, exact_substrings.oracle_sql(length=20)),
    "url_dedup": (_q_url_dedup, _oracle_url_dedup()),
    "url_index_dedup": (
        _q_url_index_dedup,
        url_dedup.oracle_sql_index_dedup(
            _URL_IDX_CORPUS_T, _URL_IDX_SPLIT_T, "url",
            priority_expr="n_chars", only_dedup_in_index=False,
        ),
    ),
    "pii_scrub": (_q_pii_scrub, pii.oracle_sql(text_expr=_PII_TEXT_SQL)),
    "minhash_signatures": (_q_minhash_signatures, minhash.oracle_sql_signatures()),
    "minhash_pairs": (_q_minhash_pairs, minhash.oracle_sql_pairs()),
    "jaccard_pairs": (_q_jaccard_pairs, minhash.oracle_sql_jaccard_pairs()),
    "minhash_dedup": (_q_minhash_dedup, minhash.oracle_sql_dedup()),
    "minhash_index": (_q_minhash_index, minhash.oracle_sql_index(_IDX_SPLIT_T)),
    "minhash_index_dedup": (
        _q_minhash_index_dedup,
        minhash.oracle_sql_index_dedup(_IDX_CORPUS_T, _IDX_SPLIT_T),
    ),
    "minhash_index_dedup_full": (
        _q_minhash_index_dedup_full,
        minhash.oracle_sql_index_dedup_full(_IDX_CORPUS_T, _IDX_SPLIT_T),
    ),
    "decont": (_q_decont, decont.oracle_sql()),
    "cosine_topk": (_q_cosine_topk, similarity.oracle_sql_cosine_topk()),
    "ann_topk": (_q_ann_topk, similarity.oracle_sql_ann_topk()),
    "ivf_topk": (_q_ivf_topk, similarity.oracle_sql_ivf_topk()),
    "embedding_neardup": (_q_embedding_neardup, similarity.oracle_sql_neardup_pairs(threshold=0.45)),
    "semdedup": (_q_semdedup, similarity.oracle_sql_semdedup(threshold=0.45)),
    "sentence_dedup": (_q_sentence_dedup, sentence_dedup.oracle_sql()),
    "sentence_index_dedup": (
        _q_sentence_index_dedup,
        sentence_dedup.oracle_sql_index_dedup(
            _SENT_IDX_CORPUS_T, _SENT_IDX_SPLIT_T, only_dedup_in_index=True
        ),
    ),
    "sentence_index_dedup_full": (
        _q_sentence_index_dedup_full,
        sentence_dedup.oracle_sql_index_dedup(
            _SENT_IDX_CORPUS_T, _SENT_IDX_SPLIT_T, only_dedup_in_index=False
        ),
    ),
    "extract_html": (_q_extract_html, extract.oracle_sql("documents", _HTML_SQL)),
    "extract_readability": (
        _q_extract_readability,
        readability.oracle_sql("documents", _RHTML_SQL),
    ),
    "url_filter": (_q_url_filter, _oracle_url_filter()),
    "sampler": (_q_sampler, "SELECT doc_id FROM (" + sampling.oracle_sql_sample("documents", 0.3, "doc_id", salt="s1") + ")"),
    "regex_filter": (_q_regex_filter, "SELECT doc_id FROM documents WHERE NOT regexp_matches(text, 'lineitem|window')"),
    "symbol_lines": (
        _q_symbol_lines,
        formatters.oracle_sql("(SELECT doc_id, " + _SYMLINES_TEXT_SQL + " AS text FROM documents)"),
    ),
    "token_ids": (
        _q_token_ids,
        f"SELECT doc_id, array_to_string(list_transform({tokenizer.sql_token_ids('text')}, "
        f"x -> x::VARCHAR), ',') AS token_ids, "
        f"len({tokenizer.sql_token_ids('text')}) AS n_tokens FROM documents",
    ),
    "host_stats": (
        _q_host_stats,
        f"WITH u AS (SELECT *, {_URL_SQL} AS url FROM documents)\n"
        + host_stats.oracle_sql("u", "url"),
    ),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}


def duck_connect(sf_dir: str):
    """DuckDB connection with the views the driver pre-registers: one per
    ``TABLES`` entry over ``sf_dir``'s parquet file."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows stable-sorted by the repr of each row
    (list cells are unhashable, so no value sort)."""
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        # Spark's toPandas yields datetime64[ns], duckdb's .df() datetime64[us];
        # the cells repr identically, so normalize the unit, not the values.
        if str(df[col].dtype).startswith("datetime64"):
            df[col] = df[col].astype("datetime64[us]")
    if len(df):
        key = df.apply(lambda r: repr(tuple(r)), axis=1)
        df = df.iloc[np.argsort(key.to_numpy(), kind="stable")]
    return df.reset_index(drop=True)


def _frame_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update("|".join(str(c) for c in df.columns).encode())
    for col in df.columns:
        h.update(b"\x00col\x00")
        for v in df[col].tolist():
            h.update(repr(v).encode())
            h.update(b"\x00")
    return h.hexdigest()


def compare_frames(spark_pd: pd.DataFrame, oracle_pd: pd.DataFrame) -> tuple[bool, bool, str | None]:
    """The driver's compare of a Spark ``toPandas()`` frame with a DuckDB
    ``.df()`` frame, order-insensitive in rows and columns. Returns
    ``(schema_match, hash_match, diff)``: ``schema_match`` is the same column
    names with the same dtypes (int64 vs float64 fails), ``hash_match`` is
    ``schema_match`` plus an equal sha256 over every cell's repr (1.0 vs
    1.0000000001 fails, NaN equals NaN), and ``diff`` names the first
    difference, or is None on a match."""
    s, d = _canon(spark_pd), _canon(oracle_pd)
    s_schema = [(c, str(t)) for c, t in s.dtypes.items()]
    d_schema = [(c, str(t)) for c, t in d.dtypes.items()]
    if s_schema != d_schema:
        return False, False, f"schema {s_schema} vs {d_schema}"
    if _frame_hash(s) == _frame_hash(d):
        return True, True, None
    if len(s) != len(d):
        return True, False, f"rows {len(s)} vs {len(d)}"
    cells = (
        (c, i, a, b) for c in s.columns for i, (a, b) in enumerate(zip(s[c].tolist(), d[c].tolist()))
    )
    c, i, a, b = next(cell for cell in cells if repr(cell[2]) != repr(cell[3]))
    return True, False, f"first diff {c}[{i}]: {a!r} vs {b!r}"


def check(spark: SparkSession, con, name: str, sf_dir: str) -> dict:
    """Run entry ``name`` on ``sf_dir`` and its oracle in ``con`` (see
    ``duck_connect``); return the record row of ``CORRECTNESS_full_r*.json``."""
    t0 = time.monotonic()
    fn, sql = REGISTRY[name]
    spark_pd = fn(spark, sf_dir).toPandas()
    oracle_pd = con.sql(sql).df()
    schema_match, hash_match, diff = compare_frames(spark_pd, oracle_pd)
    return {
        "rows_match": len(spark_pd) == len(oracle_pd), "schema_match": schema_match,
        "hash_match": hash_match, "spark_rows": len(spark_pd), "oracle_rows": len(oracle_pd),
        "err": None, "sec": round(time.monotonic() - t0, 2), "diff": diff,
    }
