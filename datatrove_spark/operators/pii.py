"""PII scrub — email + IPv4 replacement via a compiled-regex batch UDF.

Reference: PIIFormatter (src/datatrove/pipeline/formatters/pii.py:9-94):
re.sub with round-robin replacement pools; IP matches additionally validated
with ``ipaddress.ip_address(m).is_global`` (invalid/non-public matches are
left untouched AND do not advance the rotation counter).

Engine contract (SURVEY.md §7.3.2 documented deviation): the rotation
counters reset PER DOCUMENT instead of persisting across a worker's stream —
the reference's cross-document counter makes output depend on how docs are
sharded, which violates the north rule's byte-identical-per-url invariant
under re-partitioning. Per-document reset is deterministic at any
parallelism.

Execution: one Arrow-batched pandas UDF (compiled regexes + closures, no
per-row Python interpreter startup); regexes stay in Python `re` for dialect
parity (§7.3.4). The DuckDB oracle replays the exact same algorithm
relationally with split/extract_all interleaving and an integer-range
rendering of ipaddress.is_global.
"""

from __future__ import annotations

import ipaddress
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from datatrove_spark.config import EMAIL_RE, IPV4_RE, PIIConfig

NAME = "pii"

_EMAIL = re.compile(EMAIL_RE)
_IPV4 = re.compile(IPV4_RE)
# every IPV4_RE match contains a digit, a dot and a digit: each octet
# alternative starts and ends with a digit
_IPV4_HINT = re.compile(r"[0-9]\.[0-9]")


def _is_public(m: str) -> bool:
    try:
        return ipaddress.ip_address(m).is_global
    except ValueError:
        return False


def scrub(text: str, cfg: PIIConfig = PIIConfig()) -> str:
    """Pure-Python per-document kernel (shared by the pandas UDF and tests).
    NULL text = empty document.

    Each substitution runs only on text where it could match, which keeps
    the output exact: every EMAIL_RE match contains a literal ``@``, so the
    email pass runs only when ``"@" in text``; every IPV4_RE match contains
    a digit, a dot and a digit (each octet starts and ends with a digit),
    so the IPv4 pass runs only when the email-scrubbed text has one."""
    text = text or ""
    if cfg.remove_emails and "@" in text:
        i = 0

        def esub(mo: re.Match) -> str:
            nonlocal i
            r = cfg.email_replacements[i % len(cfg.email_replacements)]
            i += 1
            return r

        text = _EMAIL.sub(esub, text)
    if cfg.remove_ips and _IPV4_HINT.search(text):
        j = 0

        def isub(mo: re.Match) -> str:
            nonlocal j
            if cfg.only_remove_public_ips and not _is_public(mo.group(0)):
                return mo.group(0)
            r = cfg.ip_replacements[j % len(cfg.ip_replacements)]
            j += 1
            return r

        text = _IPV4.sub(isub, text)
    return text


def make_udf(cfg: PIIConfig = PIIConfig()):
    @F.pandas_udf(StringType())
    def pii_scrub(texts: pd.Series) -> pd.Series:
        from datatrove_spark.operators.pii import scrub  # executor-side

        # NULL means "unchanged" — apply() coalesces with the input column,
        # so only docs that actually contained PII ship text back over
        # Arrow. NULL input still maps to "" (scrub returns "", and
        # "" != None so it is shipped), preserving the empty-doc contract.
        def one(t):
            out = scrub(t, cfg)
            return None if out == t else out

        return texts.map(one)

    return pii_scrub


def apply(df: DataFrame, text_col: str = "text", cfg: PIIConfig = PIIConfig()) -> DataFrame:
    return df.withColumn(
        f"{NAME}_text", F.coalesce(make_udf(cfg)(F.col(text_col)), F.col(text_col))
    )


# --- DuckDB oracle -----------------------------------------------------------

# integer ranges equivalent to `not ipaddress.IPv4Address(x).is_global`
# (cpython _private_networks + the 100.64/10 shared-space carve-out)
_NON_GLOBAL_RANGES = (
    (0, 16777216),            # 0.0.0.0/8
    (167772160, 184549376),   # 10.0.0.0/8
    (1681915904, 1686110208), # 100.64.0.0/10
    (2130706432, 2147483648), # 127.0.0.0/8
    (2851995648, 2852061184), # 169.254.0.0/16
    (2886729728, 2887778304), # 172.16.0.0/12
    (3221225472, 3221225480), # 192.0.0.0/29
    (3221225642, 3221225644), # 192.0.0.170/31
    (3221225984, 3221226240), # 192.0.2.0/24
    (3232235520, 3232301056), # 192.168.0.0/16
    (3323068416, 3323199488), # 198.18.0.0/15
    (3325256704, 3325256960), # 198.51.100.0/24
    (3405803776, 3405804032), # 203.0.113.0/24
    (4026531840, 4294967296), # 240.0.0.0/4 (incl. 255.255.255.255)
)


def _sql_is_public(m: str) -> str:
    """SQL predicate: match string `m` is a valid public IPv4."""
    octs = f"string_split({m}, '.')"
    v = (
        f"(list_transform({octs}, x -> x::BIGINT)[1] * 16777216"
        f" + list_transform({octs}, x -> x::BIGINT)[2] * 65536"
        f" + list_transform({octs}, x -> x::BIGINT)[3] * 256"
        f" + list_transform({octs}, x -> x::BIGINT)[4])"
    )
    no_leading_zero = f"len(list_filter({octs}, o -> len(o) > 1 AND o[1] = '0')) = 0"
    ranges = " OR ".join(f"({v} >= {lo} AND {v} < {hi})" for lo, hi in _NON_GLOBAL_RANGES)
    return f"({no_leading_zero} AND NOT ({ranges}))"


def _sql_scrub_emails(t: str, cfg: PIIConfig) -> str:
    repls = "[" + ", ".join(f"'{r}'" for r in cfg.email_replacements) + "]"
    e = EMAIL_RE.replace("'", "''")
    return f"""(
  regexp_split_to_array({t}, '{e}')[1] ||
  coalesce(array_to_string(list_transform(
    range(1, len(regexp_extract_all({t}, '{e}')) + 1),
    j -> {repls}[((j - 1) % {len(cfg.email_replacements)}) + 1]
         || regexp_split_to_array({t}, '{e}')[j + 1]), ''), '')
)"""


def _sql_scrub_ips(t: str, cfg: PIIConfig) -> str:
    repls = "[" + ", ".join(f"'{r}'" for r in cfg.ip_replacements) + "]"
    k = len(cfg.ip_replacements)
    pub = _sql_is_public("m")
    # per-match structs: the match and its validity
    ms = f"list_transform(regexp_extract_all({t}, '{IPV4_RE}'), m -> {{'m': m, 'pub': {pub}}})"
    return f"""(
  regexp_split_to_array({t}, '{IPV4_RE}')[1] ||
  coalesce(array_to_string(list_transform(
    range(1, len({ms}) + 1),
    j -> (CASE WHEN ({ms})[j]['pub']
          THEN {repls}[(len(list_filter(({ms})[1:j-1], x -> x['pub'])) % {k}) + 1]
          ELSE ({ms})[j]['m'] END)
         || regexp_split_to_array({t}, '{IPV4_RE}')[j + 1]), ''), '')
)"""


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    cfg: PIIConfig = PIIConfig(),
) -> str:
    steps = f"SELECT {id_col}, coalesce({text_expr}, '') AS t0 FROM {table}"
    cur = "t0"
    if cfg.remove_emails:
        steps = f"SELECT {id_col}, {_sql_scrub_emails(cur, cfg)} AS t1 FROM ({steps})"
        cur = "t1"
    if cfg.remove_ips:
        steps = f"SELECT {id_col}, {_sql_scrub_ips(cur, cfg)} AS t2 FROM ({steps})"
        cur = "t2"
    return f"SELECT {id_col}, {cur} AS {NAME}_text FROM ({steps})"
