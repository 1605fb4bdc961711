"""Single source of truth for every threshold / constant in the engine.

The same dataclasses parameterize (a) the Spark operators,
(b) the pure-Python single-document reference implementation used as the
pytest parity oracle (datatrove semantics re-derived, not copied), and
(c) the ANSI-SQL oracle strings handed to DuckDB by __spark_entry__.py.
Keeping them in one place is what makes F1=1.0 parity achievable.

Threshold provenance (reference file:line, /root/reference):
- Gopher quality:    src/datatrove/pipeline/filters/gopher_quality_filter.py:17-31
- Gopher repetition: src/datatrove/pipeline/filters/gopher_repetition_filter.py:76-83
- C4 quality:        src/datatrove/pipeline/filters/c4_filters.py:60-86
- FineWeb quality:   src/datatrove/pipeline/filters/fineweb_quality_filter.py:11-29
- Unigram log-prob:  src/datatrove/pipeline/filters/unigram_log_probs.py:29-41
- PII formatter:     src/datatrove/pipeline/formatters/pii.py:55-87
- MinHash dedup:     src/datatrove/pipeline/dedup/minhash.py (14 buckets x 8 hashes, 5-grams)

TOKENIZER NOTE (documented deviation): the reference tokenizes words with
NLTK punkt (src/datatrove/utils/word_tokenizers.py:219). NLTK is not
available in this environment, so the engine defines its word tokenizer as
whitespace tokens: words = regexp matches of \\S+. All three implementations
(Spark, Python oracle, SQL oracle) share this definition (up to the
dialects' \\s: Python's is every str.isspace() character, Java's and RE2's
only ASCII whitespace; see PY_WORD_RE2), so keep/drop parity is exact
against the engine's own labels; absolute agreement with punkt-tokenized
datatrove on edge docs may differ, which the F1 target tolerates
(thresholded ratio rules are tokenizer-robust).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Shared regexes (RE2-compatible: no lookarounds/backrefs, so the exact same
# pattern runs in Java (Spark), Python re, and DuckDB RE2).
WORD_RE = r"\S+"
# The Python kernels' words (WORD_RE under Python's \s, i.e. str.split())
# in RE2 syntax, for DuckDB oracles of kernels that compare word lists:
# RE2's \s is only [\t\n\f\r ], so its \S+ keeps \x0b, \x1c-\x1f, \x85,
# \xa0 and the Unicode spaces inside words.
PY_WORD_RE2 = (
    r"[^\t\n\x0b\x0c\r\x1c-\x20\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)
# the characters of Python's \s (exactly those where str.isspace() is
# true), as a DuckDB string expression: trim(t, PY_SPACE_SQL) is
# t.strip(), where a trim set of the six ASCII spaces keeps \x1c-\x1f,
# \x85, \xa0 and the Unicode spaces
PY_SPACE_SQL = " || ".join(
    f"chr({c})"
    for c in (*range(0x09, 0x0E), *range(0x1C, 0x21), 0x85, 0xA0, 0x1680, *range(0x2000, 0x200B),
              0x2028, 0x2029, 0x202F, 0x205F, 0x3000)
)
CITATION_RE = r"\[\d*\]|\[edit\]|\[citation needed\]"  # c4_filters.py:14
# token-count regex, BPE-ish granularity (letters / digit runs / symbol runs)
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
# PII regexes (pii.py:77-84). The email regex is used verbatim semantically;
# both are RE2-safe.
EMAIL_RE = (
    r"\b[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+(?:\.[A-Za-z0-9!#$%&'*+/=?^_`{|}~-]+)*"
    r"@(?:(?:[A-Za-z0-9](?:[A-Za-z0-9-]*[A-Za-z0-9])?\.)+[A-Za-z0-9]"
    r"(?:[A-Za-z0-9-]*[A-Za-z0-9])?|\[(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?|[A-Za-z0-9-]*[A-Za-z0-9]:)\])"
)
IPV4_RE = r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)"

STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")  # gopher_quality_filter.py:11
FINEWEB_STOP_CHARS = (".", "'", '"', "!", "?")  # fineweb_quality_filter.py:32
POLICY_SUBSTRINGS = (  # c4_filters.py:17-24
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)


@dataclass(frozen=True)
class GopherQualityConfig:
    min_doc_words: int = 50
    max_doc_words: int = 100_000
    min_avg_word_length: float = 3.0
    max_avg_word_length: float = 10.0
    max_symbol_word_ratio: float = 0.1
    max_bullet_lines_ratio: float = 0.9
    max_ellipsis_lines_ratio: float = 0.3
    max_non_alpha_words_ratio: float = 0.8
    min_stop_words: int = 2
    stop_words: tuple[str, ...] = STOP_WORDS


@dataclass(frozen=True)
class GopherRepetitionConfig:
    dup_line_frac: float = 0.3
    dup_para_frac: float = 0.3
    dup_line_char_frac: float = 0.2
    dup_para_char_frac: float = 0.2
    top_n_grams: tuple[tuple[int, float], ...] = ((2, 0.2), (3, 0.18), (4, 0.16))
    dup_n_grams: tuple[tuple[int, float], ...] = (
        (5, 0.15),
        (6, 0.14),
        (7, 0.13),
        (8, 0.12),
        (9, 0.11),
        (10, 0.10),
    )


@dataclass(frozen=True)
class C4QualityConfig:
    min_num_sentences: int = 5
    min_words_per_line: int = 3
    max_word_length: int = 1000
    remove_citations: bool = True
    filter_no_terminal_punct: bool = True
    filter_lorem_ipsum: bool = True
    filter_javascript: bool = True
    filter_curly_bracket: bool = True
    filter_policy: bool = True


@dataclass(frozen=True)
class C4ParagraphConfig:  # c4_filters.py:149-151
    min_paragraphs: int = 3
    min_paragraph_len: int = 200


# Built-in stand-in for the LDNOOBW lists the reference downloads at runtime
# (c4_filters.py:171-205, 241-246). Coverage matches the reference's
# _BADWORDS_LANGS exactly (all 28 codes, c4_filters.py:173-201); the words
# per language are abbreviated adult-content/spam stand-ins, NOT the full
# lists (no network in this environment — the real files are one-word-per-
# line and load via operators.c4_badwords.load_badwords_dir, or pass
# C4BadWordsConfig(badwords=...)). ja/th/zh entries are matched without word
# boundaries (c4_filters.py:259-261).
DEFAULT_BADWORDS: dict[str, tuple[str, ...]] = {
    "ar": ("إباحية", "سكس"),
    "cs": ("porno", "sex zdarma"),
    "da": ("porno", "sexfilm"),
    "de": ("porno", "sexkontakte"),
    "en": ("porn", "xxx", "viagra", "erotic", "escort service", "sex cam"),
    "eo": ("pornografio",),
    "es": ("porno", "sexo gratis"),
    "fa": ("پورن", "سکس"),
    "fi": ("porno", "seksitreffit"),
    "fil": ("pornograpiya",),
    "fr": ("porno", "sexe gratuit"),
    "fr-CA-u-sd-caqc": ("porno",),
    "hi": ("अश्लील", "सेक्स"),
    "hu": ("pornó", "szexpartner"),
    "it": ("porno", "sesso gratis"),
    "ja": ("エロ動画", "ポルノ"),
    "kab": ("porno",),
    "ko": ("포르노", "야동"),
    "nl": ("porno", "seksfilm"),
    "no": ("porno", "sexfilm"),
    "pl": ("porno", "seks kamerki"),
    "pt": ("porno", "sexo grátis"),
    "ru": ("порно", "секс видео"),
    "sv": ("porr", "porrfilm"),
    "th": ("หนังโป๊",),
    "tlh": ("ghuy'cha'", "qu'vatlh"),
    "tr": ("porno", "seks filmi"),
    "zh": ("色情", "成人影片"),
}

# Words removed from the lists because they over-filter their language
# (>10% of documents) — the reference's _BADWORDS_ALLOWLIST
# (c4_filters.py:203-205), applied at pattern-build time.
DEFAULT_BADWORDS_ALLOWLIST: dict[str, tuple[str, ...]] = {
    "ja": ("sm", "グロ", "女の子"),
    "zh": ("性",),
}


@dataclass(frozen=True)
class C4BadWordsConfig:  # c4_filters.py:222-236
    keep_fraction: float = 0.0
    default_language: str = "en"
    seed_salt: str = "badwords"
    badwords: dict[str, tuple[str, ...]] = field(
        default_factory=lambda: dict(DEFAULT_BADWORDS)
    )
    allowlist: dict[str, tuple[str, ...]] = field(
        default_factory=lambda: dict(DEFAULT_BADWORDS_ALLOWLIST)
    )


@dataclass(frozen=True)
class FineWebQualityConfig:
    line_punct_thr: float = 0.12
    line_punct_exclude_zero: bool = False
    short_line_thr: float = 0.67
    short_line_length: int = 30
    char_duplicates_ratio: float = 0.01
    new_line_ratio: float = 0.3


@dataclass(frozen=True)
class LangIdConfig:
    languages: tuple[str, ...] = ("en",)
    threshold: float = 0.05  # hit-ratio scale (see operators/langid.py docstring)


@dataclass(frozen=True)
class UnigramLogProbConfig:
    logprobs_threshold: float = -10.0
    unknown_freq: float = 1e-9  # unigram_log_probs.py:64
    # Bound on the corpus-derived vocabulary (top-N by count, ties by word).
    # The reference scores against a FIXED downloaded table (unigram_log_probs
    # .py:43-60); an uncapped corpus-derived vocab over 100 TB of web text is
    # billions of distinct tokens — broadcasting it would OOM the executors.
    # Words outside the table take unknown_freq, like the reference's
    # .get(word, 1e-9).
    max_vocab: int = 1_000_000


@dataclass(frozen=True)
class PIIConfig:
    remove_emails: bool = True
    remove_ips: bool = True
    only_remove_public_ips: bool = True
    # round-robin replacement pools (pii.py:61-70); the engine resets the
    # rotation counter per document (SURVEY.md section 7.3.2) so scrubbed text
    # is byte-deterministic under any partitioning.
    email_replacements: tuple[str, ...] = ("email@example.com", "firstname.lastname@example.org")
    ip_replacements: tuple[str, ...] = (
        "22.214.171.124",
        "126.96.36.199",
        "188.8.131.52",
        "184.108.40.206",
        "220.127.116.11",
        "18.104.22.168",
    )


@dataclass(frozen=True)
class MinHashConfig:
    num_buckets: int = 14  # minhash.py config defaults
    hashes_per_bucket: int = 8
    n_grams: int = 5


@dataclass(frozen=True)
class URLFilterConfig:
    soft_word_threshold: int = 2
    blocked_domains: tuple[str, ...] = ()
    blocked_urls: tuple[str, ...] = ()
    banned_words: tuple[str, ...] = ()
    banned_subwords: tuple[str, ...] = ()
    soft_banned_words: tuple[str, ...] = ()


@dataclass(frozen=True)
class EngineConfig:
    gopher_quality: GopherQualityConfig = field(default_factory=GopherQualityConfig)
    gopher_repetition: GopherRepetitionConfig = field(default_factory=GopherRepetitionConfig)
    c4: C4QualityConfig = field(default_factory=C4QualityConfig)
    fineweb: FineWebQualityConfig = field(default_factory=FineWebQualityConfig)
    unigram: UnigramLogProbConfig = field(default_factory=UnigramLogProbConfig)
    pii: PIIConfig = field(default_factory=PIIConfig)
    minhash: MinHashConfig = field(default_factory=MinHashConfig)
    url_filter: URLFilterConfig = field(default_factory=URLFilterConfig)


DEFAULT_CONFIG = EngineConfig()
