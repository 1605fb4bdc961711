"""SimHash + decontamination: crafted-corpus behavior and DuckDB parity."""

from __future__ import annotations

import pytest

from datatrove_spark.operators import decont, simhash

BASE = (
    "the quick brown fox jumps over the lazy dog while rain falls softly on "
    "the quiet village and people walk slowly to the old market square with "
    "baskets of bread and fruit for the long day ahead of everyone there"
)

DOCS = [
    (0, BASE),
    (1, BASE + " plus two extra words"),  # tiny delta -> hamming-close fp
    (2, "an utterly different story about distributed query planning and the "
        "catalyst optimizer rewriting logical plans into efficient physical stages "
        "for enormous datasets spanning thousands of machines every single hour"),
    (3, BASE),
    (4, ""),  # empty -> no fingerprint
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_fingerprints(spark, corpus):
    fps = {r.doc_id: r.fp for r in simhash.fingerprints(corpus).collect()}
    assert 4 not in fps
    assert fps[0] == fps[3]
    ham01 = bin(fps[0] ^ fps[1]).count("1")
    ham02 = bin(fps[0] ^ fps[2]).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_dedup_and_oracle_parity(spark, corpus):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in DOCS:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])

    s_fp = sorted(tuple(r) for r in simhash.fingerprints(corpus).collect())
    d_fp = sorted(tuple(r) for r in con.execute(simhash.oracle_sql_fingerprints()).fetchall())
    assert s_fp == d_fp

    s_dd = sorted(
        tuple(r) for r in simhash.apply(corpus).select("doc_id", "dup_of", "simhash_keep").collect()
    )
    d_dd = sorted(tuple(r) for r in con.execute(simhash.oracle_sql_dedup()).fetchall())
    assert s_dd == d_dd

    out = {r[0]: (r[1], r[2]) for r in s_dd}
    assert out[0] == (None, True)
    assert out[3] == (0, False)  # exact dup dropped
    assert out[2] == (None, True)


def test_hot_band_edges_linear(spark):
    """A degenerate hot fingerprint (k identical boilerplate docs) must
    produce a linear star edge set, not the C(k,2) all-pairs blowup the
    doc-level band self-join had — while apply() still matches the all-pairs
    DuckDB oracle's components."""
    k = 60
    hot = [(i, BASE) for i in range(k)]
    docs = hot + [(1000, DOCS[2][1]), (1001, BASE + " plus two extra words")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    e = simhash.edges(df).collect()
    # k identical-fp docs -> exactly k-1 star edges to the min id, plus at
    # most one verified cross-fp edge for the hamming-close variant
    star = [r for r in e if (r.a, r.b) != tuple(sorted((0, 1001)))]
    assert len(star) == k - 1
    assert all(r.a == 0 for r in star)
    assert len(e) <= k  # nowhere near C(60,2) = 1770

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in docs:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    s_dd = sorted(
        tuple(r) for r in simhash.apply(df).select("doc_id", "dup_of", "simhash_keep").collect()
    )
    d_dd = sorted(tuple(r) for r in con.execute(simhash.oracle_sql_dedup()).fetchall())
    assert s_dd == d_dd


DECONT_DOCS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),  # eval doc
    (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu extra tail here"),  # contains eval 12-gram
    (11, "totally clean document with none of the protected evaluation content anywhere in it at all"),
    (12, "short"),
]


def test_decont(spark):
    df = spark.createDataFrame(DECONT_DOCS, "doc_id long, text string")
    index = decont.build_index(df.filter("doc_id < 10"))
    out = decont.apply(df.filter("doc_id >= 10"), index)
    got = {r.doc_id: r.decont_keep for r in out.collect()}
    assert got == {10: False, 11: True, 12: True}

    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in DECONT_DOCS:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    d = dict(con.execute(decont.oracle_sql(query_filter="doc_id < 10")).fetchall())
    assert d == got
