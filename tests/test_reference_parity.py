"""Kernel parity on crafted docs that exercise every drop reason — mirrors
the reference's own test style (tests/pipeline/test_filters.py of the
reference). The single-stage quality operators run the pure-Python kernels
(`datatrove_spark.reference_impl.filters`) in Spark, so they are checked
against their independent DuckDB oracle; the remaining operators are
checked against the Python kernels."""

from __future__ import annotations

import pytest

from datatrove_spark.operators import c4_quality, fineweb_quality, gopher_quality, gopher_repetition
from datatrove_spark.reference_impl import filters as ref
from tests.conftest import assert_matches_oracle, duck_documents

GOOD = (
    "The quick brown fox jumps over the lazy dog and runs far away to the hills. "
    "It was a bright morning and the birds were singing with joy in the trees. "
    "Every day the people of the town would walk to the market with their goods. "
    "They would trade stories and bread and have a fine time among friends. "
    "Nothing could spoil the calm of that place, not even the rain that fell at night."
)

DOCS = [
    GOOD,
    "too short.",
    "word " * 200_000,
    "aa " * 80,  # avg word length 2 -> below threshold
    "Pneumonoultramicroscopicsilicovolcanoconiosis antidisestablishmentarianism " * 40,
    GOOD + " ##" * 20,
    GOOD + " ..." * 20,
    "\n".join(["• bullet point item here"] * 30),
    "\n".join([f"line {i} trails off..." for i in range(30)]),
    "12345 67890 " * 60,
    "lorem dolor sit amet " * 30,  # no stop words
    GOOD + ("\nrepeat me\n" * 10),  # dup lines
    ("I am your father.\n" * 4) + GOOD,
    GOOD + (" the cat sat" * 50),  # top 3-gram repetition
    "A B C D E F G H I J " * 30,
    GOOD.replace(".", "") ,
    GOOD + "\nthis line has javascript in it.",
    GOOD + "\nPlease read our privacy policy today.",
    GOOD + "\nLorem ipsum dolor sit amet.",
    GOOD + "\nfunction f() { return 1; }",
    GOOD + "\n[1] A citation sits here fine.",
    "Short.\nTiny.\nWee.\n" * 10,
    "",
    "   \n  \n ",
    "\n".join(["This is a good long line that ends with a period and is fine."] * 3 + ["x"] * 20),
]


# NULL text is an empty document in every implementation
EDGE_DOCS = [None, "", " ", "\t\r\n \n"]


@pytest.fixture(scope="module")
def crafted(spark):
    rows = [(i, t) for i, t in enumerate(DOCS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def crafted_oracle(spark):
    """(Spark frame, DuckDB connection) over the crafted docs + edge rows."""
    rows = list(enumerate(DOCS + EDGE_DOCS))
    return spark.createDataFrame(rows, "doc_id long, text string"), duck_documents(rows)


def _collect(df, *cols):
    return {r[0]: tuple(r[1:]) for r in df.select("doc_id", *cols).collect()}


def test_gopher_quality_matches_python(crafted_oracle):
    assert_matches_oracle(gopher_quality, *crafted_oracle)


def test_gopher_repetition_matches_python(spark, crafted):
    # its DuckDB oracle does not fit in memory on the 200k-word doc
    got = _collect(gopher_repetition.apply(crafted), "gopher_repetition_reason")
    for i, t in enumerate(DOCS):
        assert got[i][0] == ref.gopher_repetition(t), f"doc {i}"


def test_c4_quality_matches_python(crafted_oracle):
    assert_matches_oracle(c4_quality, *crafted_oracle)


def test_fineweb_quality_matches_python(crafted_oracle):
    assert_matches_oracle(fineweb_quality, *crafted_oracle)


def test_drop_reasons_covered(spark, crafted):
    """The crafted corpus must exercise a broad set of distinct reasons."""
    from datatrove_spark.registry import quality_pipeline

    reasons = {
        r[0]
        for r in quality_pipeline(crafted).select("drop_reason").distinct().collect()
        if r[0] is not None
    }
    # (stage order masks some reasons: repetition runs before gopher/c4/fineweb)
    assert len(reasons) >= 7, reasons


def test_c4_paragraphs_matches_python(spark, crafted):
    from datatrove_spark.operators import c4_paragraphs

    got = _collect(c4_paragraphs.apply(crafted), "c4_paragraphs_reason")
    for i, t in enumerate(DOCS):
        assert got[i][0] == ref.c4_paragraphs(t), f"doc {i}"


BW_DOCS = [
    ("en", "A perfectly clean document about gardening and tea."),
    ("en", "Buy cheap viagra here right now."),
    ("en", "The viagrafied word is not a standalone badword."),  # subword: no match
    ("en", "VIAGRA in caps still matches."),
    ("de", "Hier gibt es gratis porno seiten."),
    ("de", "viagra is not on the de list."),
    ("zh", "这个网页包含色情内容。"),  # no word boundaries for zh
    ("xx", "cheap viagra but unknown language keeps the doc."),
    (None, "cheap viagra with NULL lang falls back to en and drops."),
]


def test_c4_badwords_matches_python(spark):
    from datatrove_spark.operators import c4_badwords

    rows = [(i, lg, t) for i, (lg, t) in enumerate(BW_DOCS)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = _collect(
        c4_badwords.apply(df), "c4_badwords_reason", "c4_badwords_missing_lang"
    )
    for i, (lg, t) in enumerate(BW_DOCS):
        assert got[i] == ref.c4_badwords(t, lg), f"doc {i}"


def test_c4_badwords_covers_reference_languages():
    """Engine lists must cover the reference's full _BADWORDS_LANGS roster
    (c4_filters.py:173-201), closing the 5-language stand-in gap."""
    from datatrove_spark.config import DEFAULT_BADWORDS
    from datatrove_spark.reference_impl import harness

    assert len(DEFAULT_BADWORDS) >= 20
    if not harness.available():
        pytest.skip("reference source unavailable")
    harness.install()
    from datatrove.pipeline.filters import c4_filters

    assert set(DEFAULT_BADWORDS) == set(c4_filters._BADWORDS_LANGS)


def test_c4_badwords_matches_actual_reference(spark):
    """Parity vs the ACTUAL reference C4BadWordsFilter (lists injected in
    place of its network download) across every covered language. Texts are
    ASCII-space flanked so the documented boundary-dialect deviation
    ((^|[^a-z0-9]) vs Python \\W, SURVEY §7.3.4) is not exercised."""
    from datatrove_spark.config import DEFAULT_BADWORDS
    from datatrove_spark.operators import c4_badwords
    from datatrove_spark.reference_impl import harness

    if not harness.available():
        pytest.skip("reference source unavailable")

    docs = []
    for lg, ws in sorted(DEFAULT_BADWORDS.items()):
        docs.append((lg, f"some perfectly clean text about weather and sports in {lg}"))
        docs.append((lg, f"spam page with {ws[0]} inside the body"))
        docs.append((lg, "the en-list word porn appears but only matters for some languages"))
    rows = [(i, lg, t) for i, (lg, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: r.c4_badwords_keep
        for r in c4_badwords.apply(df).select("doc_id", "c4_badwords_keep").collect()
    }

    # fresh filter per language: the reference's _get_badwords stores its
    # compiled regex under the allowlist loop's shadowed `lang` variable
    # (always "zh", c4_filters.py:253-263), so ONE instance serving many
    # languages returns a poisoned cache entry for zh — its supported usage
    # is one language per job, which a per-language instance reproduces
    from datatrove.data import Document

    filters = {}
    for i, (lg, t) in enumerate(docs):
        if lg not in filters:
            filters[lg] = harness.reference_c4_badwords(dict(DEFAULT_BADWORDS))
        verdict = filters[lg].filter(Document(text=t, id=str(i), metadata={"language": lg}))
        ref_keep = verdict if isinstance(verdict, bool) else verdict[0]
        assert got[i] == ref_keep, f"doc {i} ({lg}): engine={got[i]} reference={ref_keep}"


def test_load_badwords_dir_roundtrip(tmp_path):
    """Real LDNOOBW files (one word per line, filename = language code)
    load into the config's badwords shape."""
    from datatrove_spark.operators.c4_badwords import load_badwords_dir

    (tmp_path / "en").write_text("porn\nxxx\n\nporn\n")
    (tmp_path / "de").write_text("porno\n")
    got = load_badwords_dir(str(tmp_path))
    assert got == {"en": ("porn", "xxx"), "de": ("porno",)}
