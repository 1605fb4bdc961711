"""Winnowing fingerprints: paper guarantees and plan shape. Registry parity
(test_registry_parity) covers the DuckDB oracle byte-match; these pin what
the oracle can't express."""

from __future__ import annotations

import pytest

from datatrove_spark.config import WinnowingConfig
from datatrove_spark.operators import winnowing
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_density_and_coverage(docs):
    """Paper properties on real data: every selection is a real gram hash at
    its position; fingerprint count per doc is well under the gram count
    (expected density 2/(w+1)); consecutive selected positions are never
    more than w apart (every window selects something it contains)."""
    cfg = WinnowingConfig()
    rows = winnowing.fingerprints(docs.filter("doc_id < 40")).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.pos)
    texts = {r.doc_id: r.text for r in docs.filter("doc_id < 40").collect()}
    assert by_doc
    for doc_id, positions in by_doc.items():
        fps = winnowing.py_winnow_fps(texts[doc_id], cfg)
        assert sorted(positions) == [f["pos"] for f in fps]
        positions = sorted(positions)
        gaps = [b - a for a, b in zip(positions, positions[1:])]
        assert all(g <= cfg.w for g in gaps), (doc_id, max(gaps))


def test_shared_run_guarantee():
    """Any shared token run of length >= w + k - 1 must share at least one
    fingerprint — THE winnowing guarantee (SIGMOD'03 §2, correctness of
    local algorithms)."""
    cfg = WinnowingConfig(k=3, w=4)
    run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w + k - 1
    a = winnowing.py_winnow_fps("one two three " + run + " four five six", cfg)
    b = winnowing.py_winnow_fps(run + " seven eight nine ten eleven", cfg)
    assert {f["fp"] for f in a} & {f["fp"] for f in b}


def test_edge_cases():
    cfg = WinnowingConfig(k=3, w=4)
    assert winnowing.py_winnow_fps(None, cfg) == []
    assert winnowing.py_winnow_fps("", cfg) == []
    assert winnowing.py_winnow_fps("one two", cfg) == []  # < k tokens
    assert winnowing.py_winnow_fps("a b c d e", cfg) == []  # 3 grams < w
    # exactly w grams -> exactly one window, one fingerprint
    fps = winnowing.py_winnow_fps("a b c d e f", cfg)
    assert len(fps) == 1


def test_rightmost_tie_break():
    """A text whose grams are all identical hashes exactly once per window:
    'x x x x x x' with k=1,w=3 -> every gram hash equal, rightmost tie means
    each window selects its LAST position; distinct -> positions 3..6."""
    cfg = WinnowingConfig(k=1, w=3)
    fps = winnowing.py_winnow_fps("x x x x x x", cfg)
    assert [f["pos"] for f in fps] == [3, 4, 5, 6]
    assert len({f["fp"] for f in fps}) == 1


def test_pairs_finds_known_dups(docs):
    """The synthetic corpus carries near-duplicate docs (minhash finds 24
    candidate pairs); winnowing pairs must rediscover true heavy overlaps
    and every reported pair must actually share that many fingerprints."""
    out = winnowing.pairs(docs, min_shared=3, max_df=50).collect()
    assert out, "expected shared-fingerprint pairs in the dup-bearing corpus"
    texts = {r.doc_id: r.text for r in docs.collect()}
    cfg = WinnowingConfig()
    for r in out[:10]:
        fa = {f["fp"] for f in winnowing.py_winnow_fps(texts[r.a], cfg)}
        fb = {f["fp"] for f in winnowing.py_winnow_fps(texts[r.b], cfg)}
        assert len(fa & fb) >= r.shared  # max_df can only have removed shares


def test_fingerprint_plan_is_shuffle_free(docs):
    """The kernel path must not shuffle: one ArrowEvalPython over the scan,
    no Exchange anywhere in the fingerprints plan."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        winnowing.fingerprints(docs).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    # formatted output names each node twice (tree + details section)
    assert plan.count(") ArrowEvalPython") == 1, plan
