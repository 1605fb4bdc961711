"""C4 badwords filter — per-language blocklist regex, native Spark.

Reference: C4BadWordsFilter (src/datatrove/pipeline/filters/c4_filters.py:
208-281). Semantics per document:
  - pick the badwords regex for doc's language (metadata "language",
    default_language fallback, :269-270);
  - no list for that language -> keep, counted "missing_badwords_lang" (:272-274);
  - regex searches the LOWERCASED text (:275); word-bounded alternation for
    most languages, bare alternation (no boundaries) for ja/th/zh (:258-264);
  - a match drops the doc ("document_removed_with_badwords", :281) unless a
    keep_fraction coin-flip passes (:277-279).

Engine deviations (both documented contracts, not bugs):
  - The reference downloads the LDNOOBW lists at runtime (c4_filters.py:
    241-246); this engine has no network, so lists are injected via config —
    the default is a small built-in adult/spam-term list per language. Any
    word list (including the real LDNOOBW files) can be passed in.
  - keep_fraction uses `default_rng().uniform` in the reference — the kept
    set depends on sharding. Here it is deterministic on data:
    h60(salt|doc_id) mod 1e6 < keep_fraction*1e6 (same marginal rate,
    partition-independent, SQL-expressible; same policy as sampling.py).

The regex is built only from `(^|[^a-z0-9])(...)([^a-z0-9]|$)` + literal
alternation so Java (rlike), RE2 (DuckDB) and Python `re` agree exactly —
no \\W, whose unicode semantics differ per engine (SURVEY §7.3.4).

At scale this is a pure narrow map: per-language patterns are folded into a
`CASE WHEN lang=...` chain (all JVM codegen, no Python, no shuffle, no
per-row pattern compile — `rlike` against a literal pattern is compiled once
per task).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datatrove_spark.config import C4BadWordsConfig
from datatrove_spark.functions.hashing import sql_hash60
from datatrove_spark.operators.sampling import SAMPLE_M, sample_bucket

NAME = "c4_badwords"


def _pattern(lang: str, words: tuple[str, ...]) -> str:
    alts = "|".join(re.escape(w.lower()) for w in words)
    # ja/th/zh: no word separations in the reference (c4_filters.py:258-261)
    if lang in ("ja", "th", "zh"):
        return f"({alts})"
    return f"(^|[^a-z0-9])({alts})([^a-z0-9]|$)"


def effective_badwords(cfg: C4BadWordsConfig) -> dict[str, tuple[str, ...]]:
    """Per-language lists minus the allowlist. The reference subtracts the
    UNION of all languages' allowlists from every list (c4_filters.py:253-255
    loops `for lang, allowlist in _BADWORDS_ALLOWLIST.items(): badwords -=
    allowlist` inside a single language's load, shadowing `lang`) — mirrored
    here for exact parity. Languages whose list empties out drop to the
    missing-list path."""
    allowed = {w for ws in cfg.allowlist.values() for w in ws}
    out = {}
    for lg, ws in cfg.badwords.items():
        eff = tuple(w for w in ws if w not in allowed)
        if eff:
            out[lg] = eff
    return out


def load_badwords_dir(path: str) -> dict[str, tuple[str, ...]]:
    """Load real one-word-per-line lists (LDNOOBW file layout: one file per
    language code) from a local directory, for C4BadWordsConfig(badwords=...).
    The reference fetches the same files over the network
    (c4_filters.py:245-253)."""
    import os

    out: dict[str, tuple[str, ...]] = {}
    for fname in sorted(os.listdir(path)):
        full = os.path.join(path, fname)
        if not os.path.isfile(full):
            continue
        with open(full, encoding="utf-8") as f:
            words = tuple(sorted({ln.strip() for ln in f if ln.strip()}))
        if words:
            out[fname] = words
    return out


def columns(
    text_col: Column,
    lang_col: Column,
    keep_fraction_key: Column,
    cfg: C4BadWordsConfig = C4BadWordsConfig(),
) -> tuple[Column, Column]:
    """Returns (reason STRING nullable, missing_lang BOOLEAN) columns."""
    low = F.lower(text_col)
    lang = F.coalesce(lang_col, F.lit(cfg.default_language))
    known = F.lit(False)
    matched = F.lit(False)
    for lg, ws in effective_badwords(cfg).items():
        is_lang = lang == lg
        known = known | is_lang
        matched = matched | (is_lang & low.rlike(_pattern(lg, ws)))
    kept_by_fraction = (
        sample_bucket(cfg.seed_salt, keep_fraction_key) < int(cfg.keep_fraction * SAMPLE_M)
        if cfg.keep_fraction > 0.0
        else F.lit(False)
    )
    reason = F.when(known & matched & ~kept_by_fraction, "document_removed_with_badwords")
    return reason, ~known


def apply(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    key_col: str = "doc_id",
    cfg: C4BadWordsConfig = C4BadWordsConfig(),
) -> DataFrame:
    reason, missing = columns(F.col(text_col), F.col(lang_col), F.col(key_col), cfg)
    return (
        df.withColumn(f"{NAME}_reason", reason)
        .withColumn(f"{NAME}_keep", F.col(f"{NAME}_reason").isNull())
        .withColumn(f"{NAME}_missing_lang", missing)
    )


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    cfg: C4BadWordsConfig = C4BadWordsConfig(),
) -> str:
    eff = effective_badwords(cfg)
    langs = ", ".join(f"'{lg}'" for lg in eff)

    def q(pat: str) -> str:  # SQL-quote: a custom list may carry apostrophes
        return pat.replace("'", "''")

    match_cases = "\n      ".join(
        f"WHEN lg = '{lg}' THEN regexp_matches(low, '{q(_pattern(lg, ws))}')"
        for lg, ws in eff.items()
    )
    if cfg.keep_fraction > 0.0:
        h = sql_hash60(f"'{cfg.seed_salt}' || (id)::VARCHAR")
        kept_frac = f"({h} % {SAMPLE_M} < {int(cfg.keep_fraction * SAMPLE_M)})"
    else:
        kept_frac = "FALSE"
    return f"""
WITH b AS (
  SELECT {id_col} AS id, lower({text_col}) AS low,
         coalesce({lang_col}, '{cfg.default_language}') AS lg
  FROM {table}
), m AS (
  SELECT id, (lg IN ({langs})) AS known,
    coalesce(CASE
      {match_cases}
    END, FALSE) AS matched,
    {kept_frac} AS kept_frac
  FROM b
)
SELECT id AS {id_col},
  CASE WHEN known AND matched AND NOT kept_frac
       THEN 'document_removed_with_badwords' END AS {NAME}_reason,
  NOT (known AND matched AND NOT kept_frac) AS {NAME}_keep,
  NOT known AS {NAME}_missing_lang
FROM m
""".strip()


# --- toxicity scrub (mask, not drop) -----------------------------------------
#
# The north rule's "PII/toxicity scrub": like pii.py, a compiled-regex batch
# UDF that REWRITES text, masking badword occurrences with `mask`. Matching
# contract (identical in Python re / Java / RE2, all lookaround-free):
# case-insensitive; word-bounded languages consume one non-alnum char on
# each side (kept via backrefs), so immediately-adjacent occurrences mask
# left-to-right non-overlapping — the standard sub() scan in all engines.

MASK = "[removed]"


def _scrub_pattern(lang: str, words: tuple[str, ...]) -> str:
    return "(?i)" + _pattern(lang, words)


def py_scrub_toxicity(
    text: str, lang: str | None, cfg: C4BadWordsConfig = C4BadWordsConfig(), mask: str = MASK
) -> str:
    """Per-doc kernel (shared by the batch UDF and tests)."""
    lg = lang or cfg.default_language
    ws = effective_badwords(cfg).get(lg)
    if not ws or not text:
        return text
    if lg in ("ja", "th", "zh"):
        return re.sub(_scrub_pattern(lg, ws), mask, text)
    return re.sub(_scrub_pattern(lg, ws), lambda m: f"{m.group(1)}{mask}{m.group(3)}", text)


def apply_scrub(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    cfg: C4BadWordsConfig = C4BadWordsConfig(),
    mask: str = MASK,
) -> DataFrame:
    """Adds toxicity_text: the masked rewrite (compiled-regex batch UDF with
    per-worker pattern cache, one compile per (executor, lang))."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def scrub(texts: pd.Series, langs: pd.Series) -> pd.Series:
        from datatrove_spark.operators.c4_badwords import py_scrub_toxicity

        # NULL means "unchanged": only masked docs ship text back over
        # Arrow (coalesced with the input column below). NULL input text
        # stays NULL on both forms (coalesce(NULL, NULL)).
        def one(t, lg):
            out = py_scrub_toxicity(t, lg, cfg, mask)
            return None if out == t or out is t else out

        return pd.Series([one(t, lg) for t, lg in zip(texts, langs)])

    return df.withColumn(
        "toxicity_text", F.coalesce(scrub(F.col(text_col), F.col(lang_col)), F.col(text_col))
    )


def oracle_sql_scrub(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    cfg: C4BadWordsConfig = C4BadWordsConfig(),
    mask: str = MASK,
) -> str:
    cases = []
    for lg, ws in effective_badwords(cfg).items():
        pat = _scrub_pattern(lg, ws).replace("'", "''")
        repl = mask if lg in ("ja", "th", "zh") else f"\\1{mask}\\3"
        cases.append(
            f"WHEN coalesce({lang_col}, '{cfg.default_language}') = '{lg}' "
            f"THEN regexp_replace({text_col}, '{pat}', '{repl}', 'g')"
        )
    branches = "\n    ".join(cases)
    return f"""
SELECT {id_col},
  CASE
    {branches}
    ELSE {text_col}
  END AS toxicity_text
FROM {table}
""".strip()
