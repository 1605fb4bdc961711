"""The north-rule gate, measured against the ACTUAL reference code:

keep/drop F1 >= 0.99 vs reference labels, and byte-identical final /
scrubbed text per document (reference_impl/harness.py explains the
offline-tokenizer methodology). The engine side runs through the real
Spark pipeline, not just the python kernels.
"""

from __future__ import annotations

import pytest

from datatrove_spark.reference_impl import harness
from tests.conftest import SF_MEDIUM

pytestmark = pytest.mark.skipif(not harness.available(), reason="reference repo not present")


@pytest.fixture(scope="module")
def corpus(spark):
    """documents table (all dropped by the battery — exercises every drop
    reason) + generated CC-style pages (~70% kept — exercises keeps and the
    c4 rewrite path)."""
    from datatrove_spark.sources.pages import generate_pages

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_MEDIUM}/documents.parquet").select("doc_id", "text").collect()
    }
    pages = generate_pages(spark, 2000).select("text").collect()
    base = max(docs) + 1
    for i, r in enumerate(pages):
        docs[base + i] = r.text
    return docs


@pytest.fixture(scope="module")
def ref_labels(corpus):
    ids = sorted(corpus)
    labels = harness.reference_battery_labels([corpus[i] for i in ids])
    return dict(zip(ids, labels))


def test_keep_drop_f1_vs_reference(spark, corpus, ref_labels):
    from datatrove_spark.registry import quality_pipeline

    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    ours = {r.doc_id: (r.keep, r.drop_reason, r.final_text) for r in quality_pipeline(df).collect()}

    # the generated pages are well-formed: the reference must not crash on
    # any of them (a crash doc is excluded from F1 below)
    pages = sorted(corpus)[-2000:]
    assert not [i for i in pages if ref_labels[i][1] == "__reference_error__"]

    tp = fp = fn = tn = 0
    for i, (ref_keep, ref_reason, _) in ref_labels.items():
        if ref_reason == "__reference_error__":
            continue  # reference crashes (empty-text ZeroDivisionError); engine is NULL-safe
        our_keep = ours[i][0]
        tp += ref_keep and our_keep
        fn += ref_keep and not our_keep
        fp += (not ref_keep) and our_keep
        tn += (not ref_keep) and not our_keep
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (f1, precision, recall)
    # measured 1.0 on this corpus; a drop below exact parity deserves a look
    assert tp + tn == len(ref_labels) - sum(
        1 for v in ref_labels.values() if v[1] == "__reference_error__"
    ), f"non-exact agreement: f1={f1}"


def test_final_text_byte_identical_on_kept_docs(spark, corpus, ref_labels):
    from datatrove_spark.registry import quality_pipeline

    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    ours = {r.doc_id: (r.keep, r.final_text) for r in quality_pipeline(df).collect()}
    checked = 0
    for i, (ref_keep, ref_reason, ref_text) in ref_labels.items():
        if ref_reason == "__reference_error__" or not ref_keep:
            continue
        assert ours[i][1] == ref_text, f"doc {i} rewrite differs"
        checked += 1
    assert checked > 50


def test_pii_scrub_byte_identical(spark):
    from datatrove_spark.operators.pii import scrub

    ref_scrub = harness.reference_pii()
    docs = [
        "contact a@b.com and c@d.org, servers 8.8.8.8 and 10.0.0.1 end.",
        "no pii here at all.",
        "multicast 224.0.0.5 broadcast 255.255.255.255 public 1.2.3.4",
        "x a@b.c y 257.1.1.1 z",  # invalid-octet prefix: partial regex match
        "many: " + " ".join(f"u{i}@ex{i}.org {i % 250}.{i % 200}.{i % 150}.{i % 100}" for i in range(9)),
    ]
    for t in docs:
        assert scrub(t) == ref_scrub(t), repr(t)


def test_adversarial_agreement(spark):
    from datatrove_spark.reference_impl import filters as rf
    from tests.test_fuzz_parity import gen_docs
    from tests.test_reference_parity import DOCS

    texts = list(DOCS) + gen_docs()
    labels = harness.reference_battery_labels(texts)
    disagree = 0
    for t, (ref_keep, ref_reason, _) in zip(texts, labels):
        if ref_reason == "__reference_error__":
            continue
        ws = rf.words(t)
        r = rf.gopher_repetition(t, ws=ws)
        if r is None:
            r = rf.gopher_quality(t, ws=ws)
        if r is None:
            r, nt = rf.c4_quality(t)
            if r is None:
                r = rf.fineweb_quality(nt)
        disagree += (r is None) != ref_keep
    assert disagree == 0


def test_c4_paragraphs_vs_reference(spark):
    from datatrove_spark.reference_impl import filters as rf
    from tests.test_fuzz_parity import gen_docs

    harness.install()
    from datatrove.data import Document
    from datatrove.pipeline.filters.c4_filters import C4ParagraphFilter

    f = C4ParagraphFilter()
    for t in gen_docs(seed=123, n=100):
        r = f.filter(Document(text=t, id="x"))
        ref_keep = r is True
        assert (rf.c4_paragraphs(t) is None) == ref_keep, repr(t[:60])
