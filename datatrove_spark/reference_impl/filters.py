"""Pure-Python, single-document kernels of the engine's filter semantics.

These functions re-derive the *decision rules* of the reference filters
(datatrove, see per-function provenance) under this engine's portable text
semantics (config.py TOKENIZER NOTE). They serve double duty:

1. executor-side kernels for the Arrow-batched UDF paths
   (operators/gopher_quality.py, c4_quality.py, fineweb_quality.py,
   quality_fused.py) — one Python implementation per filter. The
   exception is gopher_repetition's n-gram checks: the executors run them
   once per Arrow batch (operators/gopher_repetition.reasons), and the
   per-document form here is their spec;
2. the driver-side reference those operators are checked with: each
   operator's DuckDB oracle SQL must agree with them row for row, and
   tests/test_reference_f1.py checks them against the real reference.
"""

from __future__ import annotations

import re
from collections import Counter

from datatrove_spark.config import (
    C4BadWordsConfig,
    C4ParagraphConfig,
    C4QualityConfig,
    CITATION_RE,
    FINEWEB_STOP_CHARS,
    FineWebQualityConfig,
    GopherQualityConfig,
    GopherRepetitionConfig,
    POLICY_SUBSTRINGS,
    TOKEN_RE,
)

_ALNUM_RE = re.compile("[A-Za-z0-9]")
_ALPHA_RE = re.compile("[A-Za-z]")
_CITATION_RE = re.compile(CITATION_RE)
_TOKEN_RE = re.compile(TOKEN_RE)
_SENT_RE = re.compile(r"[^.!?]+[.!?]+")


def words(text: str | None) -> list[str]:
    """The engine's words (config.WORD_RE, maximal runs of non-``\\s``
    characters) of `text`; NULL text has none. ``str.split()`` is
    Python's ``\\S+`` findall exactly: for ``str`` patterns ``\\s`` matches
    the characters for which ``str.isspace()`` is true, and ``split()``
    with no separator splits on runs of those and drops empty strings.
    tests/test_kernel_fast_paths.py checks every code point. Java's and
    RE2's ``\\s`` are narrower sets, so this equivalence is Python's only."""
    return (text or "").split()


def simplify_text(text: str) -> str:
    s = text.lower()
    s = re.sub("[^a-z0-9]+", " ", s)
    s = re.sub("[0-9]+", "0", s)
    return s.strip()


_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])(?=[^.!?])")


def sentences(text: str | None) -> list[str]:
    """Byte-identical to _SENT_RE.findall (r'[^.!?]+[.!?]+') but LINEAR: the
    findall form backtracks O(n^2) on terminator-free text (each start
    position re-scans the remaining string before failing — measured 36 s vs
    4 s over 500k unpunctuated docs, BENCH.md round 4). Splitting at the
    zero-width terminator→non-terminator boundary instead cannot backtrack:
    every piece is a maximal non-terminator run plus its trailing terminator
    run; a match is exactly a piece that starts with a non-terminator and
    ends with a terminator (the possibly-all-terminator first piece and the
    unterminated trailing fragment drop, matching findall). Property-tested
    equal to the regex in tests/test_fuzz_parity.py."""
    if not text:
        return []
    return [
        p for p in _SENT_SPLIT_RE.split(text) if p[-1] in ".!?" and p[0] not in ".!?"
    ]


def token_count(text: str) -> int:
    return len(_TOKEN_RE.findall(text))


# Per-worker memo of (has_alnum, has_alpha) per word: web-text words are
# Zipf-distributed, so across an Arrow batch the regex runs once per
# *distinct* word instead of twice per token (the two searches were ~30% of
# gopher_quality's profile). Capped; long-lived python workers keep it warm.
_WORD_PROPS: dict[str, tuple[bool, bool]] = {}
_WORD_PROPS_CAP = 1_000_000
_STOPSET_CACHE: dict[tuple, frozenset] = {}


def gopher_quality(
    text: str, cfg: GopherQualityConfig = GopherQualityConfig(), ws: list[str] | None = None
) -> str | None:
    """Returns the drop reason or None (keep). Provenance:
    gopher_quality_filter.py:62-125 (check order kept — the word-level
    counts are precomputed in one pass, which cannot change which check
    fires first). `ws` lets the fused battery share one tokenization across
    stages. NULL text = empty document."""
    text = text or ""
    if ws is None:
        ws = words(text)
    n_words = len(ws)
    stop = _STOPSET_CACHE.get(cfg.stop_words)
    if stop is None:
        stop = _STOPSET_CACHE.setdefault(cfg.stop_words, frozenset(cfg.stop_words))
    props = _WORD_PROPS
    n_nsw = nsw_chars = n_alpha = n_stop = 0
    for w in ws:
        p = props.get(w)
        if p is None:
            p = (_ALNUM_RE.search(w) is not None, _ALPHA_RE.search(w) is not None)
            if len(props) < _WORD_PROPS_CAP:
                props[w] = p
        if p[0]:
            n_nsw += 1
            nsw_chars += len(w)
        if p[1]:
            n_alpha += 1
        if w in stop:
            n_stop += 1

    if n_nsw < cfg.min_doc_words:
        return "gopher_short_doc"
    if n_nsw > cfg.max_doc_words:
        return "gopher_long_doc"
    avg_len = nsw_chars / n_nsw
    if avg_len < cfg.min_avg_word_length:
        return "gopher_below_avg_threshold"
    if avg_len > cfg.max_avg_word_length:
        return "gopher_above_avg_threshold"
    if text.count("#") / n_words > cfg.max_symbol_word_ratio:
        return "gopher_too_many_hashes"
    if (text.count("...") + text.count("…")) / n_words > cfg.max_symbol_word_ratio:
        return "gopher_too_many_ellipsis"
    lns = text.split("\n")
    # str.lstrip()/rstrip() drop exactly the leading/trailing r"\s+" (Python's
    # \s is str.isspace(); tests/test_kernel_fast_paths.py keeps the regex form)
    bullet = sum(1 for ln in lns if ln.lstrip().startswith(("•", "-")))
    if bullet / len(lns) > cfg.max_bullet_lines_ratio:
        return "gopher_too_many_bullets"
    ell = sum(1 for ln in lns if ln.rstrip().endswith(("...", "…")))
    if ell / len(lns) > cfg.max_ellipsis_lines_ratio:
        return "gopher_too_many_end_ellipsis"
    if n_alpha / n_words < cfg.max_non_alpha_words_ratio:
        return "gopher_below_alpha_threshold"
    if n_stop < cfg.min_stop_words:
        return "gopher_enough_stop_words"
    return None


def _ratio_gt(num: float, den: float, thr: float) -> bool:
    """num/den > thr with zero-denominator -> False (NULL-propagation parity
    with the Spark / DuckDB nullif-guarded divisions)."""
    return den != 0 and num / den > thr


def _ratio_ge(num: float, den: float, thr: float) -> bool:
    return den != 0 and num / den >= thr


def _find_duplicates(elements: list[str]) -> tuple[int, int]:
    """(duplicate element count, duplicate char count) — every occurrence
    after the first of each distinct element counts
    (gopher_repetition_filter.py:35-46)."""
    seen: set[str] = set()
    dup_n = dup_chars = 0
    for e in elements:
        if e in seen:
            dup_n += 1
            dup_chars += len(e)
        else:
            seen.add(e)
    return dup_n, dup_chars


def gopher_repetition(
    text: str,
    cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
    ws: list[str] | None = None,
) -> str | None:
    """Provenance: gopher_repetition_filter.py:110-142 (check order kept).
    The driver-side spec: the executors run the batch kernel
    operators.gopher_repetition.reasons, which must return what this
    returns for every document (tests/test_fuzz_parity.py)."""
    text = text or ""
    reason = repeated_blocks_reason(text, cfg)
    if reason is None:
        if ws is None:
            ws = words(text)
        if ws:
            reason = ngram_checks(ws, len(text), cfg)
    return reason


def repeated_blocks_reason(text: str, cfg: GopherRepetitionConfig) -> str | None:
    """The duplicate paragraph and line checks of gopher_repetition."""
    text_len = len(text)
    s = text.strip()
    # every match of \n{2,} contains "\n\n" (tests/test_kernel_fast_paths.py)
    paras = re.split(r"\n{2,}", s) if "\n\n" in s else [s]
    dup_p, dup_p_chars = _find_duplicates(paras)
    if _ratio_gt(dup_p, len(paras), cfg.dup_para_frac):
        return "dup_para_frac"
    if _ratio_gt(dup_p_chars, text_len, cfg.dup_para_char_frac):
        return "dup_para_char_frac"
    # re.split(r"\n+", s): s is stripped, so the only empty pieces are the
    # ones between consecutive newlines (tests/test_kernel_fast_paths.py)
    lns = [x for x in s.split("\n") if x] or [""]
    dup_l, dup_l_chars = _find_duplicates(lns)
    if _ratio_gt(dup_l, len(lns), cfg.dup_line_frac):
        return "dup_line_frac"
    if _ratio_gt(dup_l_chars, text_len, cfg.dup_line_char_frac):
        return "dup_line_char_frac"
    return None


def ngram_checks(ws: list[str], text_len: int, cfg: GopherRepetitionConfig) -> str | None:
    """The top-n and duplicated-n gram checks of gopher_repetition over a
    non-empty word list. n-grams are compared as word tuples: words hold no
    spaces, so " ".join is bijective on them. The top-gram tie-break is the
    lexicographically smallest JOINED gram (the SQL oracle's string order,
    which differs from tuple order once a word holds a character below
    " "); it runs only when the longest window times the top count could
    cross the threshold.

    Duplicated n-grams use union-of-covered-positions semantics: the
    characters of the words covered by any occurrence after the first of a
    repeated n-gram, each word once. This deviates from the reference's
    sequential skip-scan (gopher_repetition_filter.py:57-70), whose result
    depends on scan order."""
    m = len(ws)
    cums = [0] * (m + 1)
    for i, w in enumerate(ws):
        cums[i + 1] = cums[i] + len(w)
    for n, frac in cfg.top_n_grams:
        if m < n:
            continue
        grams = list(zip(*(ws[j:] for j in range(n))))
        counts = Counter(grams)
        top_count = max(counts.values())
        max_len = max(cums[i + n] - cums[i] for i in range(m - n + 1)) + (n - 1)
        if not _ratio_gt(max_len * top_count, text_len, frac):
            continue
        top_gram = min((g for g, c in counts.items() if c == top_count), key=" ".join)
        i = grams.index(top_gram)
        top_len = cums[i + n] - cums[i] + (n - 1)
        if _ratio_gt(top_len * top_count, text_len, frac):
            return f"top_{n}_gram"
    ascending = list(cfg.dup_n_grams) == sorted(cfg.dup_n_grams)
    for n, frac in cfg.dup_n_grams:
        if m < n:
            continue
        grams = list(zip(*(ws[j:] for j in range(n))))
        counts = Counter(grams)
        if max(counts.values()) < 2:
            if ascending:
                break
            continue
        first: dict[tuple, int] = {}
        covered = [False] * m
        for i, g in enumerate(grams):
            if counts[g] > 1:
                if g in first:
                    covered[i : i + n] = [True] * n
                else:
                    first[g] = i
        dup_chars = sum(cums[i + 1] - cums[i] for i, c in enumerate(covered) if c)
        if dup_chars / text_len > frac:
            return f"duplicated_{n}_n_grams"
    return None


def c4_quality(
    text: str, cfg: C4QualityConfig = C4QualityConfig()
) -> tuple[str | None, str]:
    """Returns (drop_reason or None, rewritten_text). Provenance:
    c4_filters.py:88-135 (line scan order kept; sentence counting uses the
    engine's portable sentence splitter). NULL text = empty document."""
    text = text or ""
    kept_lines: list[str] = []
    num_sentences = 0
    for raw in text.split("\n"):
        line = raw.strip()
        ws = line.split()
        # a word cannot be longer than its line, so lines at or under the
        # cap (the overwhelming majority at the default 1000) skip the scan
        if (
            cfg.max_word_length != -1
            and len(line) > cfg.max_word_length
            and any(len(w) > cfg.max_word_length for w in ws)
        ):
            continue
        if cfg.remove_citations:
            line = _CITATION_RE.sub("", line)
        if cfg.filter_no_terminal_punct and (
            not line.endswith((".", "?", "!", '"', "'")) or line.endswith("...")
        ):
            continue
        if len(ws) < cfg.min_words_per_line:
            continue
        line_l = line.lower()
        if cfg.filter_lorem_ipsum and "lorem ipsum" in line_l:
            return "lorem_ipsum", text
        if cfg.filter_javascript and "javascript" in line_l:
            continue
        if cfg.filter_curly_bracket and "{" in line:
            return "curly_bracket", text
        if cfg.filter_policy and any(p in line_l for p in POLICY_SUBSTRINGS):
            continue
        if num_sentences < cfg.min_num_sentences:  # only the < min compare matters
            num_sentences += len(sentences(line))
        kept_lines.append(line)
    if num_sentences < cfg.min_num_sentences:
        return "too_few_sentences", text
    return None, "\n".join(kept_lines).strip()


def fineweb_quality(
    text: str, cfg: FineWebQualityConfig = FineWebQualityConfig()
) -> str | None:
    """Provenance: fineweb_quality_filter.py:31-54. NULL text = empty."""
    text = text or ""
    lns = text.split("\n")
    punct_ratio = sum(1 for ln in lns if ln.endswith(FINEWEB_STOP_CHARS)) / len(lns)
    if punct_ratio <= cfg.line_punct_thr and not (
        punct_ratio == 0 and cfg.line_punct_exclude_zero
    ):
        return "line_punct_ratio"
    short_ratio = sum(1 for ln in lns if len(ln) <= cfg.short_line_length) / len(lns)
    if short_ratio >= cfg.short_line_thr:
        return "short_line_ratio"
    non_empty = [ln for ln in lns if ln.strip() != ""]
    dup_chars = _find_duplicates(non_empty)[1]
    if _ratio_ge(dup_chars, len(text.replace("\n", "")), cfg.char_duplicates_ratio):
        return "char_dup_ratio"
    ws = words(text)
    if _ratio_gt(text.count("\n"), len(ws), cfg.new_line_ratio):
        return "list_ratio"
    return None


def c4_paragraphs(text: str, cfg: C4ParagraphConfig = C4ParagraphConfig()) -> str | None:
    """Provenance: c4_filters.py:153-166 (heapq.nlargest top-3 line check).
    NULL text = empty document."""
    import heapq

    text = text or ""
    lens = [len(line) for line in text.split("\n")]
    if len(lens) < cfg.min_paragraphs or min(heapq.nlargest(cfg.min_paragraphs, lens)) < cfg.min_paragraph_len:
        return f"< {cfg.min_paragraphs} paragraphs"
    return None


def c4_badwords(
    text: str,
    lang: str | None,
    cfg: C4BadWordsConfig = C4BadWordsConfig(),
    keep_fraction_passes: bool = False,
) -> tuple[str | None, bool]:
    """Returns (drop_reason or None, missing_lang). Provenance:
    c4_filters.py:269-281; the word-bounded/bare alternation split per
    language mirrors :258-264 (see operators/c4_badwords.py for the
    documented list + RNG deviations). NULL text = empty document."""
    text = text or ""
    from datatrove_spark.operators.c4_badwords import _pattern, effective_badwords

    lg = lang or cfg.default_language
    words = effective_badwords(cfg).get(lg)
    if words is None:
        return None, True
    if re.search(_pattern(lg, words), text.lower()) and not keep_fraction_passes:
        return "document_removed_with_badwords", False
    return None, False
