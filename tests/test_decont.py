"""Decontamination: crafted-corpus behavior and DuckDB parity."""

from __future__ import annotations

from datatrove_spark.operators import decont
from tests.conftest import duck_documents

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

    con = duck_documents(DECONT_DOCS)
    d = dict(con.execute(decont.oracle_sql(query_filter="doc_id < 10")).fetchall())
    assert d == got
