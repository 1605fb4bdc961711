"""Pure-Python, single-document kernels of the engine's filter semantics.

These functions re-derive the *decision rules* of the reference filters
(datatrove, see per-function provenance) under this engine's portable text
semantics (config.py TOKENIZER NOTE). They serve double duty:

1. executor-side kernels for the Arrow-batched UDF paths
   (operators/gopher_repetition.py, gopher_quality.py, c4_quality.py,
   fineweb_quality.py, quality_fused.py) — one Python implementation per
   filter;
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
_LSTRIP_RE = re.compile(r"^\s+")
_RSTRIP_RE = re.compile(r"\s+$")


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
    bullet = sum(
        1 for ln in lns if _LSTRIP_RE.sub("", ln).startswith(("•", "-"))
    )
    if bullet / len(lns) > cfg.max_bullet_lines_ratio:
        return "gopher_too_many_bullets"
    ell = sum(1 for ln in lns if _RSTRIP_RE.sub("", ln).endswith(("...", "…")))
    if ell / len(lns) > cfg.max_ellipsis_lines_ratio:
        return "gopher_too_many_end_ellipsis"
    if n_alpha / n_words < cfg.max_non_alpha_words_ratio:
        return "gopher_below_alpha_threshold"
    if n_stop < cfg.min_stop_words:
        return "gopher_enough_stop_words"
    return None


try:  # pandas internal: hash-based int64 factorizer without pd.factorize's
    # Python dtype dispatch; guarded so a pandas relayout degrades gracefully
    from pandas._libs.hashtable import Int64Factorizer as _Int64Factorizer
except ImportError:  # pragma: no cover - depends on pandas version
    _Int64Factorizer = None


def _factorize_i64(arr):
    """(appearance-order codes, n_distinct) for an int64 array — hash-based
    O(m) (vs np.unique's sort O(m log m): tied at the few-hundred-gram sizes
    typical of web pages, measured 1.45x on the full repetition check at
    20k-word documents); falls back to the public API if the internal
    module moves."""
    if _Int64Factorizer is None:  # pragma: no cover - pandas relayout path
        import numpy as np
        import pandas as pd

        codes, uq = pd.factorize(arr)
        return codes.astype(np.int64, copy=False), len(uq)
    f = _Int64Factorizer(len(arr))
    return f.factorize(arr), f.get_count()


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


def _dup_ngram_char_frac(ws: list[str], n: int, text_len: int) -> float:
    """Union-of-positions semantics (documented deviation from the
    reference's sequential skip-scan, gopher_repetition_filter.py:57-70,
    which is order-dependent and not parallelizable): characters of words
    covered by any occurrence *after the first* of a duplicated n-gram,
    each word counted once, divided by len(text)."""
    if len(ws) < n:
        return 0.0
    grams: dict[str, int] = {}
    occs: list[tuple[str, int]] = []
    for i in range(len(ws) - n + 1):
        g = " ".join(ws[i : i + n])
        occs.append((g, i))
        grams[g] = grams.get(g, 0) + 1
    first: dict[str, int] = {}
    for g, i in occs:
        if g not in first:
            first[g] = i
    covered: set[int] = set()
    for g, i in occs:
        if grams[g] > 1 and i > first[g]:
            covered.update(range(i, i + n))
    dup_chars = sum(len(ws[i]) for i in covered)
    return dup_chars / text_len


def gopher_repetition(
    text: str,
    cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
    ws: list[str] | None = None,
) -> str | None:
    """Provenance: gopher_repetition_filter.py:110-142 (check order kept).

    Implementation notes (hot path of the fused battery — profiled at 85% of
    quality_fused): n-grams are compared as word TUPLES, not " ".joins —
    equivalent since words match \\S+ (no spaces), so join is bijective; this
    avoids ~m string allocations per (doc, n). The lexicographic top-gram
    tie-break (on the joined form, matching the SQL oracle) only runs when a
    cheap upper bound — the longest n-window's chars x top count — could
    actually cross the threshold; for organic text that path is rare."""
    text = text or ""
    text_len = len(text)
    paras = re.split(r"\n{2,}", text.strip())
    dup_p, dup_p_chars = _find_duplicates(paras)
    if _ratio_gt(dup_p, len(paras), cfg.dup_para_frac):
        return "dup_para_frac"
    if _ratio_gt(dup_p_chars, text_len, cfg.dup_para_char_frac):
        return "dup_para_char_frac"
    lns = re.split(r"\n+", text.strip())
    dup_l, dup_l_chars = _find_duplicates(lns)
    if _ratio_gt(dup_l, len(lns), cfg.dup_line_frac):
        return "dup_line_frac"
    if _ratio_gt(dup_l_chars, text_len, cfg.dup_line_char_frac):
        return "dup_line_char_frac"
    if ws is None:
        ws = words(text)
    m = len(ws)
    if not m or not text_len:
        return None
    if m < 100:
        return _ngram_checks_counter(ws, text_len, cfg)
    return _ngram_checks_np(ws, text_len, cfg)


_FACTORIZE_MIN_WORDS = 2048  # crossover: np.unique's sort wins below, the
# hash factorizer above (interleaved A/B on real pages + 20k-word docs)


def _ngram_checks_np(ws: list[str], text_len: int, cfg: GopherRepetitionConfig) -> str | None:
    """Vectorized n-gram checks — exact, no hashing: gram identity is an
    integer id built by pairing (id(n-gram) = group-id of (id(prefix)
    paired with last word id)), so results are bit-identical to the
    tuple/Counter form. The pairing's group ids come from np.unique
    (sort-based — fastest at the few-hundred-word sizes typical of web
    pages) below _FACTORIZE_MIN_WORDS and from the hash-based pandas
    Int64Factorizer (O(m); first occurrences recovered from
    appearance-order codes via one running max) above it — measured 1.36x
    on the full repetition check at 20k-word documents with decision
    parity on every real page, a tail-latency bound: at scale the
    straggler doc, not the median, stalls the stage. Consumers depend
    only on the grouping partition, per-group counts, and first
    positions — all invariant to the sorted-vs-appearance relabeling
    (pinned by the np-vs-Counter equivalence fuzz test). The Counter path
    below remains faster under ~100 words, hence the outer dispatch."""
    import numpy as np

    m = len(ws)
    wordlens = np.array(list(map(len, ws)), np.int64)  # map(len) is C-level
    cums = np.concatenate((np.zeros(1, np.int64), np.cumsum(wordlens)))
    # word ids via dict setdefault: measured faster than pd.factorize AND the
    # low-level ObjectFactorizer on real pages (python str hashing dominates
    # either way; the dict genexpr skips all array dispatch)
    ids: dict[str, int] = {}
    wid = np.fromiter((ids.setdefault(w, len(ids)) for w in ws), np.int64, m)
    n_words = len(ids)
    use_hash = m >= _FACTORIZE_MIN_WORDS and _Int64Factorizer is not None

    gram_cache: dict[int, tuple] = {1: (wid, n_words, np.arange(m))}

    def grams_of(n: int):
        """(gram_ids, n_distinct, first_idx): ids per position, distinct
        count, first-occurrence position per distinct id (first_idx[code]
        is that gram's first position under either labeling)."""
        if n not in gram_cache:
            prev, _n_prev, _ = gram_cache[n - 1]
            pair = prev[: m - n + 1] * np.int64(n_words) + wid[n - 1 :]
            if use_hash:
                codes, n_uq = _factorize_i64(pair)
                cummax = np.maximum.accumulate(codes)
                # appearance-order codes: position i is a first occurrence
                # iff codes[i] > max(codes[:i])
                first_idx = np.nonzero(
                    codes > np.concatenate(([np.int64(-1)], cummax[:-1]))
                )[0]
            else:
                _, first_idx, codes = np.unique(pair, return_index=True, return_inverse=True)
                n_uq = len(first_idx)
            gram_cache[n] = (codes, n_uq, first_idx)
        return gram_cache[n]

    for n, frac in cfg.top_n_grams:
        if m < n:
            continue
        g, _, first_idx = grams_of(n)
        counts = np.bincount(g)
        top_count = int(counts.max())
        max_len = int((cums[n:] - cums[:-n]).max()) + (n - 1)
        if not _ratio_gt(max_len * top_count, text_len, frac):
            continue  # even the longest window can't trigger
        # deterministic tie-break: lexicographically smallest (joined form,
        # = the SQL oracle's string ordering) among the most frequent
        cand_pos = first_idx[np.where(counts == top_count)[0]]
        i = min(cand_pos.tolist(), key=lambda p: " ".join(ws[p : p + n]))
        top_len = int(cums[i + n] - cums[i]) + (n - 1)
        if _ratio_gt(top_len * top_count, text_len, frac):
            return f"top_{n}_gram"
    # the first triggering size wins, in CONFIG order (reference iterates its
    # tuple as given); the no-repeat early break is only sound when the sizes
    # ascend, so gate it rather than reordering a custom config
    ascending = list(cfg.dup_n_grams) == sorted(cfg.dup_n_grams)
    for n, frac in cfg.dup_n_grams:
        if m < n:
            continue
        g, _, first_idx = grams_of(n)
        counts = np.bincount(g)
        if int(counts.max()) < 2:
            # a duplicated n-gram contains duplicated (n-1)-grams, so once no
            # n-gram repeats, no larger n can repeat either (ascending order)
            if ascending:
                break
            continue
        # positions covered by any occurrence-after-the-first of a repeated
        # n-gram: start flags -> interval difference array -> word mask
        is_first = np.zeros(len(g), bool)
        is_first[first_idx] = True
        starts = np.where((counts[g] > 1) & ~is_first)[0]
        if len(starts):
            d = np.zeros(m + 1, np.int64)
            np.add.at(d, starts, 1)
            np.add.at(d, np.minimum(starts + n, m), -1)
            mask = np.cumsum(d[:m]) > 0
            dup_chars = int(wordlens[mask].sum())
        else:
            dup_chars = 0
        if dup_chars / text_len > frac:
            return f"duplicated_{n}_n_grams"
    return None


def _ngram_checks_counter(ws: list[str], text_len: int, cfg: GopherRepetitionConfig) -> str | None:
    """Tuple/Counter form of the same checks — faster below ~100 words
    (numpy per-call overhead dominates there); semantics identical to
    _ngram_checks_np, guarded by the equivalence fuzz test."""
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
