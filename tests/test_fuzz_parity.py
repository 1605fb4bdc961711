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


SPACE_VOCAB = ["the", "and", "of", "that", "with", "have", "river", "market", "people", "town",
               "summer", "walked", "bright", "garden", "stone", "north", "quietly", "built", "old", "to"]


def space_docs() -> list[str]:
    """Documents whose words or lines are separated or padded by
    whitespace that Python's \\s holds and RE2's \\s or a trim of the six
    ASCII spaces does not (\\xa0, U+3000): an oracle that tokenizes with
    RE2's \\S+ or trims those six disagrees with the kernels on them."""
    rng = random.Random(15)

    def line(k: int, sep: str = " ") -> str:
        return sep.join(rng.choice(SPACE_VOCAB) for _ in range(k))

    return [
        # 128 words joined by \xa0, ASCII spaces only between the 8 sentences
        " ".join(line(16, "\xa0").capitalize() + "." for _ in range(8)),
        " ".join(f"w{i}\u3000of\u3000the\u3000x{i}" for i in range(30)),
        "\xa0The first paragraph is here and it is long enough.\n\n"
        "The first paragraph is here and it is long enough.",
        "\n".join("\xa0" + line(12) + "." for _ in range(6)),
        "\n".join([line(12) + "." for _ in range(6)] + ["\xa0" * 8] * 3),
        "\n".join(line(8, "\xa0") + "." for _ in range(10)),
        "\n".join("\xa0\u3000- " + line(8) for _ in range(10)),
        "\n".join(line(12) + " …\xa0" for _ in range(10)),
    ]


@pytest.fixture(scope="module")
def space_oracle(spark):
    rows = list(enumerate(space_docs()))
    return spark.createDataFrame(rows, "doc_id long, text string"), duck_documents(rows)


@pytest.mark.parametrize(
    "op", [gopher_quality, gopher_repetition, c4_quality, fineweb_quality], ids=lambda op: op.NAME
)
def test_oracles_split_and_strip_like_python(op, space_oracle):
    assert_matches_oracle(op, *space_oracle)


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


def _ngram_docs() -> list[str | None]:
    """The n-gram shapes the batch kernel is checked on: 400 random
    small-vocabulary documents, 12 large ones (repetition-triggering and
    top-gram tie shapes among them), the edge documents, tie-break shapes
    whose decision depends on comparing JOINED grams, and a 20k-word
    document."""
    rng = random.Random(123)
    vocab = ["w%d" % i for i in range(12)] + ["the", "cat", "sat", "dog", "a"]
    docs: list[str | None] = []
    for _ in range(400):
        n = rng.randint(2, 260)
        ws = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.4:  # inject repetition runs
            seg = ws[: rng.randint(2, 6)]
            ws = ws + seg * rng.randint(2, 5)
        docs.append(" ".join(ws))
    big_vocab = ["t%d" % i for i in range(900)]
    for trial in range(12):
        ws = [rng.choice(big_vocab) for _ in range(2048 + rng.randint(10, 800))]
        if trial % 3 == 0:  # duplicated n-gram coverage over the threshold
            seg = ws[: rng.randint(5, 12)]
            ws = ws + seg * rng.randint(20, 40)
        if trial % 3 == 1:  # top-gram tie: two distinct grams at max count
            ws += ["zz", "aa"] * 50 + ["bb", "cc"] * 50
        docs.append(" ".join(ws))
    # NULL, empty, whitespace-only, one word, fewer words than the gram sizes
    docs += [None, "", " \n\t", "word", "a b", "a b a", "a b c d", "x y x y"]
    docs += [" ".join(["a", "b", "c", "d"][: k] * 2) for k in range(1, 5)]
    docs += _tie_docs()
    # one segment of distinct words repeated among distinct words: the later
    # copy's coverage ratio, under every top-gram threshold, crosses the
    # duplicated-n thresholds (0.15 at n=5 down to 0.10 at n=10) at
    # different n; a short segment repeated many times covers overlapping
    # windows
    uniq = iter("u%d" % i for i in range(10**6))
    for seg_len in range(5, 41, 3):
        seg = [next(uniq) for _ in range(seg_len)]
        head = [next(uniq) for _ in range(rng.randint(40, 150))]
        docs.append(" ".join(head[:20] + seg + head[20:] + seg))
        short = [next(uniq) for _ in range(rng.randint(5, 8))]
        docs.append(" ".join(head + (short + [next(uniq)]) * 3 + short))
    # a document ending in "a" before one starting with "b": "a b" occurs 10
    # times in the first, and an 11th, crossing the boundary, would fire top-2
    docs.append(" ".join(f"a b {i:02d} {i + 10:02d} {i + 20:02d} {i + 30:02d}" for i in range(10)) + " a")
    docs.append("b c")
    docs.append(" ".join(rng.choice(big_vocab) for _ in range(20_000)))
    return docs


def _tie_docs() -> list[str]:
    """Top-2 ties between "a b" (3 chars) and "a\\x01 b" (4): "a\\x01 b" is the
    smaller joined string (\\x01 sorts before " "), ("a", "b") the smaller
    tuple. In the first shapes the threshold falls between the two lengths,
    so only the joined-order winner fires."""
    docs = []
    for ctl in ("\x01", "\x1b"):
        for k, flen in ((4, 3), (5, 3), (4, 4)):
            fill = ["%0*d" % (flen, i) for i in range(2 * k)]
            ws = []
            for i in range(k):
                ws += ["a", "b", fill[2 * i], "a" + ctl, "b", fill[2 * i + 1]]
            docs.append(" ".join(ws))
    return docs


def _batches(docs: list, seed: int) -> list[list]:
    """`docs` shuffled and cut into batches of mixed sizes."""
    rng = random.Random(seed)
    docs = docs[:]
    rng.shuffle(docs)
    out, i = [], 0
    while i < len(docs):
        k = rng.choice([1, 2, 7, 40, 150])
        out.append(docs[i : i + k])
        i += k
    return out


def test_ngram_backend_equivalence():
    """The batch kernel (operators.gopher_repetition.reasons) returns what
    the per-document Counter spec returns, on every document of every mixed
    batch: gram keys never cross a document's end, and the top-gram
    tie-break compares joined grams."""
    from datatrove_spark.operators.gopher_repetition import reasons

    docs = _ngram_docs()
    want = {id(t): ref.gopher_repetition(t) for t in docs}
    # the first tie shape's threshold only the joined-order winner crosses
    assert ref.gopher_repetition(_tie_docs()[0]) == "top_2_gram"
    fired = set()
    for batch in _batches(docs, 0) + _batches(docs, 1) + [docs]:
        for t, r in zip(batch, reasons(batch)):
            assert r == want[id(t)], f"{r} != {want[id(t)]}: {(t or '')[:120]!r}"
            fired.add(r)
    assert fired == {None} | {f"top_{n}_gram" for n in (2, 3, 4)} | {
        f"duplicated_{n}_n_grams" for n in range(5, 11)
    }


def test_factorize_public_api_fallback(monkeypatch):
    """If pandas' internal Int64Factorizer ever moves: (a) _factorize_i64's
    pd.factorize fallback must produce the identical appearance-order codes,
    and (b) the batch kernel must keep its decisions on it."""
    import numpy as np

    from datatrove_spark.operators import gopher_repetition as gr

    rng = random.Random(7)
    arr = np.array([rng.randrange(500) for _ in range(3000)], dtype=np.int64)
    codes_internal, n_internal = gr._factorize_i64(arr)
    empty_internal = gr._factorize_i64(np.zeros(0, np.int64))
    monkeypatch.setattr(gr, "_Int64Factorizer", None)
    codes_public, n_public = gr._factorize_i64(arr)
    assert n_internal == n_public
    assert np.array_equal(codes_internal, codes_public)
    empty_public = gr._factorize_i64(np.zeros(0, np.int64))
    assert empty_internal[1] == empty_public[1] == 0 == len(empty_public[0])

    vocab = ["t%d" % i for i in range(700)]
    ws = [rng.choice(vocab) for _ in range(2248)]
    ws += ws[:9] * 30  # a repetition-triggering tail
    batch = [" ".join(ws)] + _ngram_docs()
    without_internal = gr.reasons(batch)
    monkeypatch.undo()
    assert gr.reasons(batch) == without_internal
    assert without_internal == [ref.gopher_repetition(t) for t in batch]


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
