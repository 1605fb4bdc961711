from __future__ import annotations

import pytest

from datatrove_spark.registry import duck_connect
from datatrove_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
# Not a larger scale: sf0.01 is a second 500-doc sample (the same doc_ids
# 0-499 with other texts) and 500 embeddings, the same size as sf0.001.
SF_MEDIUM = "/root/testdata/sf0.01"


def duck_documents(rows):
    """In-memory DuckDB holding `rows` as a documents (doc_id, text) table."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con


def assert_matches_oracle(op, df, con):
    """`op.apply(df)` equals `op.oracle_sql()` run in `con`, doc by doc, on
    every column the oracle returns."""
    cur = con.execute(op.oracle_sql())
    cols = [d[0] for d in cur.description]
    want = {r[0]: dict(zip(cols[1:], r[1:])) for r in cur.fetchall()}
    got = {r[0]: r.asDict() for r in op.apply(df).select(*cols).collect()}
    assert set(got) == set(want)
    for i, row in want.items():
        assert {c: got[i][c] for c in cols[1:]} == row, f"doc {i}"


@pytest.fixture(scope="session")
def spark():
    yield get_spark(app_name="datatrove-spark-tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="session")
def duck_small():
    con = duck_connect(SF_SMALL)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_medium():
    con = duck_connect(SF_MEDIUM)
    yield con
    con.close()
