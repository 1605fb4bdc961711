"""Deterministic fuzz parity on a seeded corpus of adversarial documents
(unicode mixtures, control chars, emoji, RTL, zero-width joiners, very long
words, pathological whitespace). The single-stage quality operators run the
pure-Python kernels in Spark and are checked against their DuckDB oracle;
the rest are checked against the pure-Python reference. One DataFrame
round-trip per operator, not per example — hypothesis-style coverage at
Spark-friendly cost.

What this guards: Java-regex vs Python-re vs RE2 dialect drift (SURVEY
§7.3.4), float boundary flips in ratio thresholds (§7.3.7), and NULL/empty
handling — the classes of bug the curated crafted-doc tests can miss.
"""

from __future__ import annotations

import random
import string

import pytest

from datatrove_spark.operators import (
    c4_badwords,
    c4_paragraphs,
    c4_quality,
    fineweb_quality,
    gopher_quality,
    gopher_repetition,
    langid,
    pii,
)
from datatrove_spark.reference_impl import filters as ref
from tests.conftest import assert_matches_oracle, duck_documents

ALPHABETS = [
    string.ascii_letters + "     .,!?'\"\n",
    "的一是不了人我在有他这中大来上国 。，\n",
    "абвгдежзиклмноп     .!?\n",
    "ابتثجحخدذرزسشصضط     .\n",
    "🎉🚀😀🌍🔥‍​     .\n",
    string.printable,  # includes \t \r \x0b \x0c and digits/symbols
    "aА𝐚ａ́éé     .\n",  # lookalikes + combining accents
]

WORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "lorem", "ipsum",
         "javascript", "{", "•", "...", "…", "[1]", "[edit]", "wikipedia", "#"]


def gen_docs(seed: int = 99, n: int = 150) -> list[str]:
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        mode = i % 5
        if mode == 0:  # alphabet soup
            ab = rng.choice(ALPHABETS)
            docs.append("".join(rng.choice(ab) for _ in range(rng.randint(0, 400))))
        elif mode == 1:  # word salad with trigger tokens
            k = rng.randint(0, 120)
            docs.append(" ".join(rng.choice(WORDS) for _ in range(k)))
        elif mode == 2:  # repeated block (dedup/repetition triggers)
            block = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 8)))
            docs.append(((block + "\n") * rng.randint(1, 12)).strip())
        elif mode == 3:  # long words / pathological whitespace
            docs.append(
                "\n".join(
                    "x" * rng.randint(1, 1200) + rng.choice([" ", "\t", "  "]) + rng.choice(WORDS)
                    for _ in range(rng.randint(1, 6))
                )
            )
        else:  # sentences with unicode mixed in
            sents = [
                " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 9)))
                + rng.choice([".", "!", "?", "...", ""])
                for _ in range(rng.randint(1, 10))
            ]
            docs.append(rng.choice(["", "🎉 ", "é "]) + " ".join(sents))
    docs += ["", " ", "\n", "\t\r\x0b\x0c", "​", "a", "."]
    return docs


@pytest.fixture(scope="module")
def fuzz(spark):
    docs = gen_docs()
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    return docs, df


@pytest.fixture(scope="module")
def fuzz_oracle(spark):
    """(Spark frame, DuckDB connection) over the fuzz docs + a NULL row."""
    rows = list(enumerate(gen_docs() + [None]))
    return spark.createDataFrame(rows, "doc_id long, text string"), duck_documents(rows)


def _col(df, *cols):
    return {r[0]: tuple(r[1:]) for r in df.select("doc_id", *cols).collect()}


def test_fuzz_gopher_quality(fuzz_oracle):
    assert_matches_oracle(gopher_quality, *fuzz_oracle)


def test_fuzz_gopher_repetition(fuzz):
    docs, df = fuzz
    got = _col(gopher_repetition.apply(df), "gopher_repetition_reason")
    for i, t in enumerate(docs):
        assert got[i][0] == ref.gopher_repetition(t), f"doc {i}: {t[:80]!r}"


def test_fuzz_c4_quality(fuzz_oracle):
    assert_matches_oracle(c4_quality, *fuzz_oracle)


def test_fuzz_fineweb_quality(fuzz_oracle):
    assert_matches_oracle(fineweb_quality, *fuzz_oracle)


def test_fuzz_langid(fuzz_oracle):
    assert_matches_oracle(langid, *fuzz_oracle)


def test_fuzz_pii(fuzz_oracle):
    assert_matches_oracle(pii, *fuzz_oracle)


def test_fuzz_c4_paragraphs(fuzz):
    docs, df = fuzz
    got = _col(c4_paragraphs.apply(df), "c4_paragraphs_reason")
    for i, t in enumerate(docs):
        assert got[i][0] == ref.c4_paragraphs(t), f"doc {i}: {t[:80]!r}"


def test_fuzz_c4_badwords(fuzz):
    docs, df = fuzz
    langs = ["en", "de", "zh", "xx", None]
    rows = [(i, langs[i % 5], t) for i, t in enumerate(docs)]
    df2 = df.sparkSession.createDataFrame(rows, "doc_id long, lang string, text string")
    got = _col(c4_badwords.apply(df2), "c4_badwords_reason", "c4_badwords_missing_lang")
    for i, t in enumerate(docs):
        assert got[i] == ref.c4_badwords(t, langs[i % 5]), f"doc {i}: {t[:80]!r}"


def test_null_text_rows_survive_pipeline(spark):
    """Real CC data carries NULL texts; every kernel treats NULL as an empty
    document instead of crashing the task."""
    from datatrove_spark.operators import minhash, pii
    from datatrove_spark.registry import quality_pipeline

    df = spark.createDataFrame(
        [(0, None), (1, "A good enough line to exist."), (2, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.keep, r.drop_reason) for r in quality_pipeline(df).collect()}
    assert got[0] == (False, "gopher_short_doc")
    assert got[2] == (False, "gopher_short_doc")

    assert minhash.signatures(df).filter("doc_id != 1").count() == 0  # no rows for NULL docs
    scrubbed = {r.doc_id: r.pii_text for r in pii.apply(df).collect()}
    assert scrubbed[0] == ""

    # the curation flow (URL filter + the fused langid/battery/PII stage) on
    # the NULL rows plus empty and whitespace-only text
    from pyspark.sql import functions as F

    from datatrove_spark.plans.pipeline import canonical_stages, compose

    edge = df.unionByName(
        spark.createDataFrame([(3, ""), (4, " \n\t")], "doc_id long, text string")
    ).withColumn("url", F.lit("https://www.example.com/article"))
    cur = {
        r.doc_id: (r.text, r.language, r.langid_reason, r.quality_battery_reason, r.drop_reason)
        for r in compose(edge, canonical_stages()).collect()
    }
    for i in (0, 2, 3):
        assert cur[i] == ("", "und", "lang_filter", "gopher_short_doc", "lang_filter"), i
    assert cur[4] == (" \n\t", "und", "lang_filter", "gopher_short_doc", "lang_filter")


def test_ngram_backend_equivalence():
    """The numpy and Counter n-gram backends must agree on every doc — the
    m<100 dispatch in gopher_repetition must be invisible."""
    import random

    from datatrove_spark.config import GopherRepetitionConfig
    from datatrove_spark.reference_impl.filters import (
        _ngram_checks_counter,
        _ngram_checks_np,
        words,
    )

    rng = random.Random(123)
    vocab = ["w%d" % i for i in range(12)] + ["the", "cat", "sat", "dog", "a"]
    cfg = GopherRepetitionConfig()
    for trial in range(400):
        n = rng.randint(2, 260)
        ws = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.4:  # inject repetition runs
            seg = ws[: rng.randint(2, 6)]
            ws = ws + seg * rng.randint(2, 5)
        text = " ".join(ws)
        ws2 = words(text)
        a = _ngram_checks_np(ws2, len(text), cfg)
        b = _ngram_checks_counter(ws2, len(text), cfg)
        assert a == b, f"trial {trial}: np={a} counter={b} text={text[:120]}"

    # cross the _FACTORIZE_MIN_WORDS dispatch: the hash-factorizer branch
    # (appearance-order codes + running-max first occurrences) must agree
    # with Counter on large docs too, including repetition-triggering and
    # top-gram tie-break shapes
    from datatrove_spark.reference_impl.filters import _FACTORIZE_MIN_WORDS

    big_vocab = ["t%d" % i for i in range(900)]
    for trial in range(12):
        n = _FACTORIZE_MIN_WORDS + rng.randint(10, 800)
        ws = [rng.choice(big_vocab) for _ in range(n)]
        if trial % 3 == 0:  # duplicated n-gram coverage over the threshold
            seg = ws[: rng.randint(5, 12)]
            ws = ws + seg * rng.randint(20, 40)
        if trial % 3 == 1:  # top-gram tie: two distinct grams at max count
            ws += ["zz", "aa"] * 50 + ["bb", "cc"] * 50
        text = " ".join(ws)
        ws2 = words(text)
        assert len(ws2) >= _FACTORIZE_MIN_WORDS
        a = _ngram_checks_np(ws2, len(text), cfg)
        b = _ngram_checks_counter(ws2, len(text), cfg)
        assert a == b, f"big trial {trial}: np={a} counter={b}"


def test_factorize_public_api_fallback(monkeypatch):
    """If pandas' internal Int64Factorizer ever moves: (a) _factorize_i64's
    pd.factorize fallback must produce the identical appearance-order codes,
    and (b) _ngram_checks_np must degrade to the np.unique branch with
    unchanged decisions."""
    import random

    import numpy as np

    from datatrove_spark.config import GopherRepetitionConfig
    from datatrove_spark.reference_impl import filters as rf

    rng = random.Random(7)
    arr = np.array([rng.randrange(500) for _ in range(3000)], dtype=np.int64)
    codes_internal, n_internal = rf._factorize_i64(arr)
    monkeypatch.setattr(rf, "_Int64Factorizer", None)
    codes_public, n_public = rf._factorize_i64(arr)
    assert n_internal == n_public
    assert np.array_equal(codes_internal, codes_public)

    vocab = ["t%d" % i for i in range(700)]
    ws = [rng.choice(vocab) for _ in range(rf._FACTORIZE_MIN_WORDS + 200)]
    ws += ws[:9] * 30  # a repetition-triggering tail
    text = " ".join(ws)
    cfg = GopherRepetitionConfig()
    without_internal = rf._ngram_checks_np(ws, len(text), cfg)  # np.unique branch
    monkeypatch.undo()
    assert rf._ngram_checks_np(ws, len(text), cfg) == without_internal
    assert without_internal == rf._ngram_checks_counter(ws, len(text), cfg)


def test_sentences_linear_scan_matches_regex():
    """ref.sentences is a linear scan replacing _SENT_RE.findall (which
    backtracks O(n^2) on terminator-free text); they must agree byte-for-byte
    on every fuzz doc plus terminator-adversarial shapes."""
    import random

    rng = random.Random(7)
    cases = list(gen_docs()) + [
        "", ".", "...", "?!.", "a", "a.", ".a", "a.b", "a.b!", "..a..b..",
        "no terminators at all " * 50, ". leading", "trailing.", "mid.dle",
        "!?.!?.", "é. ü! ñ?", "a" * 500 + ".", "." * 500,
    ]
    for _ in range(300):
        cases.append(
            "".join(rng.choice("ab .!?\n\t") for _ in range(rng.randint(0, 200)))
        )
    for t in cases:
        assert ref.sentences(t) == ref._SENT_RE.findall(t), repr(t[:80])
