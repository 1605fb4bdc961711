"""Native Spark Column builders for text analysis.

Everything here compiles to JVM expressions inside whole-stage codegen — no
Python in the hot path. Operators whose per-document work is a plain Column
expression (exact dedup, formatters, token stats, unigram/n-gram scoring)
share them.

Engine text semantics (shared with the Python kernels in
reference_impl/filters.py and the SQL oracles):
- words            = regexp matches of \\S+ (see config.py TOKENIZER NOTE)
- lines            = split(text, '\\n')
- simplified text  = lowercase, non-alphanumeric runs -> single space,
                     digit runs -> '0', trimmed  (dedup canonicalization;
                     portable restriction of reference simplify_text,
                     src/datatrove/utils/text.py:39-71)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from datatrove_spark.config import TOKEN_RE, WORD_RE


def words(text: Column | str) -> Column:
    """Array of whitespace-delimited word tokens."""
    return F.regexp_extract_all(F.col(text) if isinstance(text, str) else text, F.lit(WORD_RE), 0)


def lines(text: Column | str) -> Column:
    return F.split(F.col(text) if isinstance(text, str) else text, "\n", -1)


def trim_ws(c: Column) -> Column:
    """Trim all ASCII whitespace (Python str.strip parity; SQL trim only
    strips spaces by default)."""
    return F.regexp_replace(F.regexp_replace(c, r"^\s+", ""), r"\s+$", "")


def simplify_text(text: Column | str) -> Column:
    """Dedup canonical form: lowercase, non-alnum runs -> ' ', digit runs -> 0."""
    c = F.col(text) if isinstance(text, str) else text
    s = F.lower(c)
    s = F.regexp_replace(s, "[^a-z0-9]+", " ")
    s = F.regexp_replace(s, "[0-9]+", "0")
    return F.trim(s)


def token_count(text: Column | str) -> Column:
    """BPE-ish token count: letter runs / digit runs / symbol runs."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), 0))
