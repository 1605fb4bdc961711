"""Sentence-span dedup: rewrite correctness, first-occurrence-wins, parity."""

from __future__ import annotations

import pytest

from datatrove_spark.operators import sentence_dedup
from tests.conftest import duck_documents

S = (
    "The morning sun rose over the quiet hills. Farmers walked slowly to their wide fields. "
    "Children laughed on the way to the village school. The baker opened his shop with a smile. "
    "Fresh bread filled the cold air with warmth. Everyone greeted their neighbors happily there."
)
EXTRA = (
    " A completely new sentence closes this one. Another unique thought follows right here. "
    "And a third different line ends the piece."
)

DOCS = [
    (0, S + EXTRA),          # first occurrence of the shared spans -> kept intact
    (1, S + " Totally different tail sentence for doc one. More unique words follow in this spot. "
            "Final unique closer for document one here."),  # shares the S spans -> S removed
    (2, "Unrelated text with enough words to stay alive in the corpus today. "
        "It keeps talking about other things entirely for a while longer now. "
        "Three proper sentences should be quite enough words here honestly speaking, "
        "assuming the word count threshold is met by this lengthy final sentence which "
        "rambles on and on about nothing much at all until it finally stops."),
    (3, "Too short."),        # < 3 sentences -> no spans; dropped by min rules
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_first_occurrence_wins_and_rewrite(spark, corpus):
    out = {
        r.doc_id: (r.sentence_dedup_keep, r.sentence_dedup_text)
        for r in sentence_dedup.apply(corpus).collect()
    }
    # doc 0 untouched (it is the first occurrence)
    assert out[0][1] == DOCS[0][1]
    assert out[0][0] is True
    # doc 1 lost the duplicated S spans but kept its unique tail
    assert "morning sun" not in out[1][1]
    assert "Totally different tail" in out[1][1]
    # doc 2 untouched
    assert out[2][1] == DOCS[2][1]
    # doc 3: too short -> dropped, text unchanged (no spans to remove)
    assert out[3][0] is False


# NULL / empty / terminator-free / repeated-span edge rows
EDGE_DOCS = [(90, None), (91, ""), (92, "no terminators here at all"), (93, "One. Two! Three? " * 20)]


def test_oracle_parity(spark, corpus):
    df = corpus.union(spark.createDataFrame(EDGE_DOCS, "doc_id long, text string"))
    s = sorted(
        tuple(r)
        for r in sentence_dedup.apply(df)
        .select("doc_id", "sentence_dedup_text", "sentence_dedup_keep")
        .collect()
    )
    con = duck_documents(DOCS + EDGE_DOCS)
    d = sorted(tuple(r) for r in con.execute(sentence_dedup.oracle_sql()).fetchall())
    assert s == d
    assert {r[0]: r[1:] for r in s}[90] == ("", False)  # NULL text is an empty document


def test_kernel_rewrite_matches_native_rendering(spark, corpus):
    """The Arrow rewrite stage (_remove_spans: span coverage, join, batched
    kernel) agrees value-for-value with a driver-side rendering that expands
    the same duplicate spans and calls py_remove_spans per doc — including
    NULL text, which renders as an empty, dropped document."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datatrove_spark.operators.sentence_dedup import (
        SentenceDedupConfig,
        _remove_spans,
        _spans,
        py_remove_spans,
    )

    df = corpus.union(spark.createDataFrame(EDGE_DOCS, "doc_id long, text string"))
    cfg = SentenceDedupConfig()
    spans = _spans(df, "doc_id", "text", cfg.span)
    w = Window.partitionBy("h").orderBy(F.col("doc_id").asc(), F.col("sent_idx").asc())
    dup = spans.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") > 1)
    cols = ["doc_id", "sentence_dedup_text", "sentence_dedup_keep"]
    kern = {r.doc_id: (r[1], r[2]) for r in _remove_spans(df, dup, "doc_id", "text", cfg).select(*cols).collect()}

    covered: dict[int, set[int]] = {}
    for r in dup.select("doc_id", "sent_idx").collect():
        covered.setdefault(r.doc_id, set()).update(range(r.sent_idx, r.sent_idx + cfg.span))
    rendered = {i: py_remove_spans(t, covered.get(i), cfg) for i, t in DOCS + EDGE_DOCS}
    assert kern == rendered
    assert covered  # the corpus does have duplicate spans to remove
    assert kern[90] == ("", False)  # NULL-text contract pinned explicitly


# --- cross-dump index mode (reference index_folder/only_dedup_in_index) ------


def test_index_true_mode_adjacency_quirk(spark, corpus):
    """Index built from a prior doc containing S: only the FIRST corpus
    occurrence of each indexed span is removed (doc 0 loses S, doc 1 keeps
    it — corpus-corpus duplicates are NOT removed in this mode), matching
    the reference find loop's last-is-from-index adjacency rule."""
    prior = spark.createDataFrame([(100, S)], "doc_id long, text string")
    idx = sentence_dedup.build_index(prior)
    out = {
        r.doc_id: r
        for r in sentence_dedup.apply_with_index(
            corpus, idx, only_dedup_in_index=True
        ).collect()
    }
    # doc 0 (min id) loses the indexed S spans but keeps its unique EXTRA tail
    assert S.split(". ")[0] not in out[0].sentence_dedup_text
    assert "A completely new sentence" in out[0].sentence_dedup_text
    # doc 1 keeps S whole: its occurrences were adjacent to doc 0, not the index
    assert S.split(". ")[0] in out[1].sentence_dedup_text
    assert out[1].sentence_dedup_keep
    # untouched docs unaffected
    assert out[2].sentence_dedup_keep and out[2].sentence_dedup_text.startswith("Unrelated")


def test_index_full_mode_removes_every_indexed_occurrence(spark, corpus):
    """only_dedup_in_index=False removes EVERY corpus occurrence of an
    indexed span (unlike self-dedup, which keeps the first) and self-dedups
    the rest."""
    prior = spark.createDataFrame([(100, S)], "doc_id long, text string")
    idx = sentence_dedup.build_index(prior)
    out = {
        r.doc_id: r
        for r in sentence_dedup.apply_with_index(
            corpus, idx, only_dedup_in_index=False
        ).collect()
    }
    first = S.split(". ")[0]
    assert first not in out[0].sentence_dedup_text  # removed via index
    assert first not in out[1].sentence_dedup_text  # removed too (no survivor)
    assert "A completely new sentence" in out[0].sentence_dedup_text
    assert out[2].sentence_dedup_keep


def test_index_empty_index_is_identity_for_true_mode(spark, corpus):
    prior = spark.createDataFrame(
        [(100, "Nothing in common here at all. Second unrelated sentence follows. Third one too.")],
        "doc_id long, text string",
    )
    idx = sentence_dedup.build_index(prior)
    base = {r.doc_id: r.sentence_dedup_text for r in sentence_dedup.apply(corpus).collect()}
    t = {
        r.doc_id: r.sentence_dedup_text
        for r in sentence_dedup.apply_with_index(corpus, idx, only_dedup_in_index=True).collect()
    }
    # True mode with a non-matching index removes nothing (NOT even self-dups)
    orig = {i: t_ for i, t_ in DOCS}
    for i in t:
        assert t[i] == orig[i]
    # sanity: self-dedup (no index) does rewrite doc 1
    assert base[1] != orig[1]
