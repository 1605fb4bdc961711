"""URL filtering — blocklist / banned-word rules over normalized URLs.

Reference: URLFilter (src/datatrove/pipeline/filters/url_filter.py:33,
106-134), rule order:
  1 domain (registered domain) in blocked-domain set
  2 full normalized url in blocked-url set
  3 any hard banned word among url words
  4 >= soft_word_threshold soft banned words among url words
  5 any banned subword as substring of the normalized url
     (the reference uses Aho-Corasick; here one literal-alternation regex —
     flat expression at any list size, JVM-side scan. An OR-chain of
     contains() nests one tree level per pattern and overflows the Catalyst
     analyzer stack near ~400 patterns; swap to a pandas-UDF automaton only
     if a many-thousands list makes the alternation scan itself the
     bottleneck)

Engine semantics:
- normalized url = lowercase, scheme + 'www.' stripped, trailing '/' stripped
- domain = host's last two labels (portable tldextract stand-in; documented
  deviation: no public-suffix list, so 'a.co.uk' style suffixes resolve as
  'co.uk')
- url words = alnum runs of the normalized url
- blocklists are broadcast automatically (Column.isin over config tuples);
  a DataFrame-sized blocklist would use an explicit broadcast anti-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datatrove_spark.config import URLFilterConfig
from datatrove_spark.operators.url_dedup import SQL_NORM, normalize_url

NAME = "url_filter"


_RE_META = set("\\.^$|?*+()[]{}")


def _quote_re(s: str) -> str:
    """Escape a literal for a regex alternation, portable across Java regex
    and RE2 (both accept backslash-escaped punctuation; \\Q..\\E is Java-only
    so it is avoided)."""
    return "".join("\\" + c if c in _RE_META else c for c in s)


def _host(norm: Column) -> Column:
    return F.split(norm, "/", 2).getItem(0)


def _domain(norm: Column) -> Column:
    labels = F.split(_host(norm), r"\.", -1)
    n = F.size(labels)
    return F.when(
        n >= 2, F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    ).otherwise(_host(norm))


def reason(url_col: Column, cfg: URLFilterConfig) -> Column:
    norm = normalize_url(url_col)
    words = F.regexp_extract_all(norm, F.lit("[a-z0-9]+"), 0)
    checks = []
    if cfg.blocked_domains:
        checks.append((_domain(norm).isin(*cfg.blocked_domains), "domain"))
    if cfg.blocked_urls:
        checks.append((norm.isin(*cfg.blocked_urls), "url"))
    if cfg.banned_words:
        checks.append((F.arrays_overlap(words, F.array(*[F.lit(w) for w in cfg.banned_words])), "hard_blacklisted"))
    if cfg.soft_banned_words:
        soft = F.size(F.filter(words, lambda w: w.isin(*cfg.soft_banned_words)))
        checks.append((soft >= cfg.soft_word_threshold, "soft_blacklisted"))
    if cfg.banned_subwords:
        # single literal-alternation regex: an OR-fold of contains() nests
        # one expression level per pattern and overflows the JVM analyzer
        # stack near ~400 patterns (same class as a chained per-key
        # threshold lookup); one regexp node is flat at any list size and
        # stays JVM-side (an interpreted exists() lambda would not)
        alt = "|".join(_quote_re(s) for s in cfg.banned_subwords)
        checks.append((norm.rlike(alt), "blacklisted_subword"))
    r = F.lit(None).cast("string")
    for cond, label in reversed(checks):
        r = F.when(cond, label).otherwise(r)
    return r


def apply(df: DataFrame, url_col: str = "url", cfg: URLFilterConfig = URLFilterConfig()) -> DataFrame:
    rs = reason(F.col(url_col), cfg)
    return df.withColumn(f"{NAME}_reason", rs).withColumn(f"{NAME}_keep", rs.isNull())


def oracle_sql(
    table: str,
    url_expr: str,
    id_col: str = "doc_id",
    cfg: URLFilterConfig = URLFilterConfig(),
) -> str:
    norm = SQL_NORM.format(u=url_expr)
    host = f"string_split({norm}, '/')[1]"
    labels = f"string_split({host}, '.')"
    domain = f"(CASE WHEN len({labels}) >= 2 THEN ({labels})[-2] || '.' || ({labels})[-1] ELSE {host} END)"
    words = f"regexp_extract_all({norm}, '[a-z0-9]+')"
    cases = []
    if cfg.blocked_domains:
        ds = ", ".join(f"'{d}'" for d in cfg.blocked_domains)
        cases.append(f"WHEN {domain} IN ({ds}) THEN 'domain'")
    if cfg.blocked_urls:
        us = ", ".join(f"'{u}'" for u in cfg.blocked_urls)
        cases.append(f"WHEN {norm} IN ({us}) THEN 'url'")
    if cfg.banned_words:
        bw = ", ".join(f"'{w}'" for w in cfg.banned_words)
        cases.append(f"WHEN len(list_filter({words}, w -> w IN ({bw}))) > 0 THEN 'hard_blacklisted'")
    if cfg.soft_banned_words:
        sw = ", ".join(f"'{w}'" for w in cfg.soft_banned_words)
        cases.append(
            f"WHEN len(list_filter({words}, w -> w IN ({sw}))) >= {cfg.soft_word_threshold} THEN 'soft_blacklisted'"
        )
    if cfg.banned_subwords:
        cond = " OR ".join(f"contains({norm}, '{s}')" for s in cfg.banned_subwords)
        cases.append(f"WHEN {cond} THEN 'blacklisted_subword'")
    case = ("CASE " + " ".join(cases) + " ELSE NULL END") if cases else "NULL"
    return f"""
SELECT {id_col}, {case} AS {NAME}_reason, ({case}) IS NULL AS {NAME}_keep
FROM {table}
""".strip()
