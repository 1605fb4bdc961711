"""Driver-shaped correctness gate: for every registry entry, run the Spark
query and its DuckDB oracle on the same parquet tables and compare them the
way the driver does (``registry.compare_frames``: pandas frames, dtype-exact,
hashed cell reprs)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datatrove_spark import registry
from tests.conftest import SF_MEDIUM, SF_SMALL, duck_documents

NAMES = sorted(registry.queries())


def run_compare(spark, duck, name, sf_dir):
    res = registry.check(spark, duck, name, sf_dir)
    assert res["hash_match"], f"{name}: {res['diff']}"


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity_small(spark, duck_small, name):
    run_compare(spark, duck_small, name, SF_SMALL)


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity_medium(spark, duck_medium, name):
    """The same check on sf0.01, a second 500-doc sample of equal size."""
    run_compare(spark, duck_medium, name, SF_MEDIUM)


def test_compare_frames_is_dtype_exact():
    """Row and column order and NaN do not matter; a dtype or a last-digit
    float difference does, where a rounded value compare would pass both."""
    base = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, np.nan, 1.0]})
    assert registry.compare_frames(base, base.iloc[[2, 0, 1], ::-1]) == (True, True, None)
    as_float = base.assign(doc_id=base.doc_id.astype("float64"))
    assert registry.compare_frames(base, as_float)[:2] == (False, False)
    near = base.assign(score=[0.5, np.nan, 1.0000000001])
    schema_match, hash_match, diff = registry.compare_frames(base, near)
    assert (schema_match, hash_match) == (True, False)
    assert diff.startswith("first diff score[")


def test_correctness_record_matches_registry():
    """The committed full-gate record covers exactly the registry's rows, and
    every row hash-MATCHes without error."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CORRECTNESS_full_r6.json")) as f:
        record = json.load(f)
    assert set(record) == set(registry.queries())
    checked = {n: (r["hash_match"], r["err"]) for n, r in record.items()}
    assert {n: v for n, v in checked.items() if v != (True, None)} == {}


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) == set(e.oracle_sql())


LANGID_DOCS = [
    (0, "the cat was on the mat and it was the best of days for all of the town"),
    (1, "der hund und die katze sind mit dem kind auf der wiese und das ist auch gut"),
    (2, "и он сказал что это было на самом деле не так как мы думали но для нас"),
    (3, "yang penting adalah bahwa mereka tidak akan pergi dari tempat ini dengan cepat"),
    (4, "هذا النص في اللغة العربية و هو من أجل أن يكون على صلة مع كل ما بعد ذلك"),
    (5, "यह एक हिंदी वाक्य है और इस में के की से का और पर जैसे शब्द हैं"),
    (6, "これはにほんごのぶんしょうです、ひらがながたくさんあります"),
    (7, "한국어 문장입니다 그리고 한글이 많이 있습니다"),
    (8, "ประโยคภาษาไทยไม่มีช่องว่างระหว่างคำ"),
    (9, "这是一个中文句子没有空格"),
    (10, "zqx wvu kjh"),  # no profile hits -> und
    # NULL / empty / whitespace-only: NULL text is an empty document
    (11, None), (12, ""), (13, "   \n\t  "), (14, "xqzt blorp"),
]

LANGID_WANT = {0: "en", 1: "de", 2: "ru", 3: "id", 4: "ar", 5: "hi",
               6: "ja", 7: "ko", 8: "th", 9: "zh", 10: "und",
               11: "und", 12: "und", 13: "und", 14: "und"}


def test_langid_wide_coverage(spark, duck_small):
    """21 function-word profiles + script overrides classify crafted docs,
    and Spark matches the DuckDB oracle on them and on the edge rows."""
    from datatrove_spark.operators import langid

    df = spark.createDataFrame(LANGID_DOCS, "doc_id long, text string")
    got = {r.doc_id: r.language for r in langid.apply(df).collect()}
    assert got == LANGID_WANT

    con = duck_documents(LANGID_DOCS)
    s = sorted(
        tuple(r)
        for r in langid.apply(df).select("doc_id", "language", "language_score", "langid_keep").collect()
    )
    d = sorted(tuple(r) for r in con.execute(langid.oracle_sql()).fetchall())
    assert s == d


def test_langid_kernel_matches_native(spark):
    """The Arrow-batched py_langid kernel matches the DuckDB oracle row for
    row on real docs, crafted script docs, and the NULL/empty/whitespace/
    no-hit edges; the reason column is set exactly on the dropped docs."""
    from datatrove_spark.operators import langid

    edges = [(1000, None), (1001, ""), (1002, "   \n\t  "), (1003, "xqzt blorp")]
    real = [tuple(r) for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet").select("doc_id", "text").collect()]
    rows = real + LANGID_DOCS + edges
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = ["doc_id", "language", "language_score", "langid_keep", "langid_reason"]
    got = {r.doc_id: tuple(r) for r in langid.apply(df).select(cols).collect()}
    want = {r[0]: tuple(r) for r in duck_documents(rows).execute(langid.oracle_sql()).fetchall()}
    assert set(got) == set(want)
    for i, row in want.items():
        assert got[i][:4] == row, f"doc {i}"
        assert got[i][4] == (None if row[3] else "lang_filter"), f"doc {i}"
