"""The per-document kernels skip work that cannot change their output:
`filters.words` and `py_langid` tokenize with `str.split()`, `py_langid`
skips its script scans on ASCII text, `pii.scrub` runs each substitution
only on text that could hold a match, `gopher_quality` strips its lines
with `str.lstrip()`/`rstrip()`, and `gopher_repetition` splits lines with
`str.split("\\n")` and paragraphs only when the text holds "\\n\\n". The
pre-change forms live here, as the spec the fast paths must reproduce
exactly. Spark-free."""

from __future__ import annotations

import random
import re

import pytest

from datatrove_spark.config import PY_SPACE_SQL, PY_WORD_RE2, GopherRepetitionConfig, PIIConfig
from datatrove_spark.operators import langid, pii
from datatrove_spark.reference_impl import filters as rf
from tests.test_fuzz_parity import gen_docs
from tests.test_pii import CASES
from tests.test_registry_parity import LANGID_DOCS

_S_PLUS = re.compile(r"\S+")


# whitespace of every kind next to ASCII, Latin-1, CJK and astral text
WS_POOL = (
    " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680\u2000\u200a\u200b"
    "\u2028\u2029\u202f\u205f\u3000\ufeffab.é日🎉"
)
# the characters emails and dotted quads are made of
PII_POOL = "ab@.-_1925 0\n[]"
# line and paragraph breaks among whitespace that is and is not \s
BLOCK_POOL = "\n\n\n \t\r\x85\xa0\u3000\x1cab•-.…"


def _random_strings(pool: str = WS_POOL, n: int = 2000) -> list[str]:
    rng = random.Random(14)
    return ["".join(rng.choice(pool) for _ in range(rng.randint(0, 40))) for _ in range(n)]


def _spec_scrub(text: str, cfg: PIIConfig = PIIConfig()) -> str:
    """`pii.scrub` before its guards: both substitutions on every text."""
    text = text or ""
    if cfg.remove_emails:
        i = 0

        def esub(mo: re.Match) -> str:
            nonlocal i
            r = cfg.email_replacements[i % len(cfg.email_replacements)]
            i += 1
            return r

        text = pii._EMAIL.sub(esub, text)
    if cfg.remove_ips:
        j = 0

        def isub(mo: re.Match) -> str:
            nonlocal j
            if cfg.only_remove_public_ips and not pii._is_public(mo.group(0)):
                return mo.group(0)
            r = cfg.ip_replacements[j % len(cfg.ip_replacements)]
            j += 1
            return r

        text = pii._IPV4.sub(isub, text)
    return text


def _spec_langid(text: str | None) -> tuple[str, float | None]:
    """`langid.py_langid` before its fast paths: the four script scans on
    every text and a `\\S+` findall tokenizer."""
    if not text:
        return "und", None
    n_chars = len(text)
    for pattern, lang in (
        (langid.THAI_RE, "th"),
        (langid.HANGUL_RE, "ko"),
        (langid.KANA_RE, "ja"),
        (langid.HAN_RE, "zh"),
    ):
        f = len(re.findall(pattern, text)) / n_chars
        if f > langid.SCRIPT_FRAC_THRESHOLD:
            return lang, f
    ws = _S_PLUS.findall(text.lower())
    if not ws:
        return "und", None
    counts: dict[str, int] = {}
    for w in ws:
        for lg, prof in langid.PROFILES.items():
            if w in prof:
                counts[lg] = counts.get(lg, 0) + 1
    if not counts:
        return "und", 0.0
    n = len(ws)
    best = max((c / n, lg) for lg, c in counts.items())
    return best[1], best[0]


def test_split_is_python_s_plus_on_every_code_point():
    every = [chr(c) for c in range(0x110000)]
    assert [c for c in every if re.fullmatch(r"\s", c)] == [c for c in every if c.isspace()]
    # each code point between two word characters: it splits them iff it is
    # whitespace, so the two token lists differ if any code point disagrees
    joined = "a".join(every)
    assert joined.split() == _S_PLUS.findall(joined)


def test_py_word_re2_is_split_in_duckdb():
    """The DuckDB oracles' word class (config.PY_WORD_RE2) tokenizes like the
    Python kernels, where RE2's own `\\S+` does not."""
    import duckdb

    # DuckDB strings are UTF-8, so the surrogates are left out
    every = "a".join(chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF)

    def words(pattern: str) -> list[str]:
        return duckdb.execute(f"SELECT regexp_extract_all(?, '{pattern}')", [every]).fetchone()[0]

    assert words(PY_WORD_RE2) == every.split()
    assert words(r"\S+") != every.split()


def test_py_space_sql_is_strip_in_duckdb():
    """trim(t, config.PY_SPACE_SQL) in DuckDB is Python's t.strip(); the six
    ASCII spaces are not."""
    import duckdb

    spaces = "".join(c for c in map(chr, range(0x110000)) if c.isspace())
    texts = [spaces + "a" + spaces + "b" + spaces, "\xa0\u3000x\x85", "\x1cy\x1f", "", " "]
    ascii6 = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"
    for t in texts:
        row = duckdb.execute(
            f"SELECT trim(?, {PY_SPACE_SQL}), ltrim(?, {PY_SPACE_SQL}), rtrim(?, {PY_SPACE_SQL})", [t, t, t]
        ).fetchone()
        assert row == (t.strip(), t.lstrip(), t.rstrip()), repr(t)
    assert duckdb.execute(f"SELECT trim(?, {ascii6})", [texts[0]]).fetchone()[0] != texts[0].strip()


def test_words_matches_s_plus_findall():
    for t in gen_docs() + _random_strings() + [None]:
        assert rf.words(t) == _S_PLUS.findall(t or ""), repr(t)


PII_CRAFTED = [
    "@ with no email at all @",
    "a@b",
    "trailing @",
    "user@example.com",
    "x@[1.2.3.4]",
    "version 3.14 and 2.5.1 and 10.0",
    "1.2",
    "no ip: 1..2.3.4 or 1.2.3",
    "8.8.8.8 at the start",
    "at the end 123.45.67.89",
    "1.2.3.4.5",
    "11.22.33.44",
    "user@host.org wrote from 9.9.9.9",
    "8.8.8.8@example.com",
    "a@b.c.d.1.2.3.4",
    "١.٢.٣.٤ arabic-indic digits",
    "1.2.3.4\n5.6.7.8\n10.0.0.1",
]

PII_CONFIGS = [
    PIIConfig(),
    PIIConfig(only_remove_public_ips=False),
    PIIConfig(remove_emails=False),
    PIIConfig(remove_ips=False),
]


@pytest.mark.parametrize("cfg", PII_CONFIGS, ids=["default", "all_ips", "ips_only", "emails_only"])
def test_pii_scrub_matches_unguarded(cfg):
    texts = gen_docs() + [t for t, _ in CASES] + PII_CRAFTED + _random_strings(PII_POOL) + [None]
    for t in texts:
        assert pii.scrub(t, cfg) == _spec_scrub(t, cfg), repr(t)
    # the crafted strings hit both substitutions and both guards
    assert any(pii.scrub(t) != t for t in PII_CRAFTED)
    assert any("@" in t and pii.scrub(t) == t for t in PII_CRAFTED)


def test_py_langid_matches_pre_change_form():
    non_ascii_no_script = [
        "naïve café",
        "the\xa0cat\u3000of\u2028the town",
        "\xa0\u3000",
        "привет и мир",
        "é the é of é",
        "🎉 the and 🎉",
        "the " * 10 + "ก",
    ]
    # script text after a long ASCII lead: the override still fires
    ascii_lead = [
        "an ascii lead of some length, then: " + script * 40
        for script in ("ภาษาไทย", "한국어", "ひらがな", "中文")
    ]
    texts = (
        gen_docs()
        + [t for _, t in LANGID_DOCS]
        + non_ascii_no_script
        + ascii_lead
        + _random_strings(n=500)
    )
    for t in texts:
        assert langid.py_langid(t) == _spec_langid(t), repr(t)


def _spec_repeated_blocks_reason(text: str, cfg: GopherRepetitionConfig) -> str | None:
    """`filters.repeated_blocks_reason` before its fast paths: both splits
    by regex."""
    text_len = len(text)
    paras = re.split(r"\n{2,}", text.strip())
    dup_p, dup_p_chars = rf._find_duplicates(paras)
    if rf._ratio_gt(dup_p, len(paras), cfg.dup_para_frac):
        return "dup_para_frac"
    if rf._ratio_gt(dup_p_chars, text_len, cfg.dup_para_char_frac):
        return "dup_para_char_frac"
    lns = re.split(r"\n+", text.strip())
    dup_l, dup_l_chars = rf._find_duplicates(lns)
    if rf._ratio_gt(dup_l, len(lns), cfg.dup_line_frac):
        return "dup_line_frac"
    if rf._ratio_gt(dup_l_chars, text_len, cfg.dup_line_char_frac):
        return "dup_line_char_frac"
    return None


def test_line_strips_and_splits_match_regex():
    crafted = ["a\n\na", "\n\n a \n\n\n a \n", "p\nq\n\np\nq", "x\n\n\ny\n\nx", "\xa0\n\n\xa0", "\n\n\n"]
    texts = gen_docs() + crafted + _random_strings() + _random_strings(BLOCK_POOL)
    for t in texts:
        for ln in t.split("\n"):  # gopher_quality's bullet and end-ellipsis lines
            assert ln.lstrip() == re.sub(r"^\s+", "", ln), repr(ln)
            assert ln.rstrip() == re.sub(r"\s+$", "", ln), repr(ln)
    cfgs = [GopherRepetitionConfig(), GopherRepetitionConfig(dup_line_frac=0.0, dup_para_frac=0.0)]
    fired = set()
    for t in texts:
        for cfg in cfgs:
            want = _spec_repeated_blocks_reason(t, cfg)
            assert rf.repeated_blocks_reason(t, cfg) == want, repr(t)
            fired.add(want)
    assert {"dup_para_frac", "dup_line_frac", None} <= fired
