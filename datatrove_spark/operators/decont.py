"""N-gram decontamination — broadcast anti-join against an eval-set index.

Reference: NGramsDecontIndexer builds 12-gram hashes of benchmark tasks
(src/datatrove/pipeline/decont/n_grams.py:95-119); NGramsDecontFilter drops
any doc whose simplified-text 12-gram hashes intersect the index (:212-227).

Spark shape: the index is a small table of hashes -> build once, then
``explode(doc ngram hashes) LEFT SEMI broadcast-join index`` marks
contaminated docs. The index never shuffles the corpus: each executor
stream-checks its partitions against the broadcast set — the direct
relational rendering of the reference's in-memory set lookup, but
distributed.
"""

from __future__ import annotations

from pandas import Series
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from datatrove_spark.functions.hashing import py_hash60, sql_hash60

NAME = "decont"
DEFAULT_N = 12


def py_ngram_hashes(text: str, n: int = DEFAULT_N) -> list[int]:
    """Per-doc kernel: distinct simplified-text n-gram h60 hashes — shares
    simplify/h60 definitions with the SQL oracle."""
    from datatrove_spark.reference_impl.filters import simplify_text

    ws = simplify_text(text or "").split()
    if len(ws) < n:
        return []
    seen = dict.fromkeys(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))
    return [py_hash60(g) for g in seen]


def ngram_hashes(text_col: Column, n: int = DEFAULT_N) -> Column:
    """Arrow-batched py_ngram_hashes: lambda higher-order Column functions
    would run interpreted (no codegen), measured ~15x slower on real docs."""

    @F.pandas_udf(ArrayType(LongType()))
    def k(texts: Series) -> Series:
        from datatrove_spark.operators.decont import py_ngram_hashes

        return texts.map(lambda t: py_ngram_hashes(t, n))

    return k(text_col)


def build_index(queries: DataFrame, text_col: str = "text", n: int = DEFAULT_N) -> DataFrame:
    """Distinct n-gram hash index over the eval/query set."""
    return (
        queries.select(F.explode(ngram_hashes(F.col(text_col), n)).alias("h"))
        .distinct()
    )


def apply(
    df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
) -> DataFrame:
    """Adds decont_keep: False when the doc shares any n-gram with the index."""
    doc_grams = df.select(id_col, F.explode(ngram_hashes(F.col(text_col), n)).alias("h"))
    contaminated = doc_grams.join(F.broadcast(index), "h", "left_semi").select(id_col).distinct()
    flagged = contaminated.withColumn("__contaminated", F.lit(True))
    out = df.join(flagged, id_col, "left")
    return (
        out.withColumn(f"{NAME}_keep", F.col("__contaminated").isNull())
        .withColumn(
            f"{NAME}_reason",
            F.when(~F.col(f"{NAME}_keep"), "decontaminate").otherwise(F.lit(None).cast("string")),
        )
        .drop("__contaminated")
    )


_SIMPLIFY = (
    "trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g'), '[0-9]+', '0', 'g'))"
)


def sql_ngram_hashes(text_col: str, n: int = DEFAULT_N) -> str:
    simp = _SIMPLIFY.format(t=text_col)
    ws = f"regexp_extract_all({simp}, '\\S+')"
    grams = (
        f"list_distinct(list_transform(range(1, greatest(len({ws}) - {n} + 1, 0) + 1), "
        f"i -> array_to_string(({ws})[i:i+{n}-1], ' ')))"
    )
    return f"list_transform({grams}, g -> {sql_hash60('g')})"


def oracle_sql(
    table: str = "documents",
    query_filter: str = "doc_id < 25",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_N,
) -> str:
    """Index = n-grams of rows matching query_filter; those rows themselves
    are excluded from the corpus side (matching the registry query)."""
    return f"""
WITH idx AS (
  SELECT DISTINCT unnest({sql_ngram_hashes(text_col, n)}) AS h
  FROM {table} WHERE {query_filter}
), corpus AS (
  SELECT {id_col} AS id, {sql_ngram_hashes(text_col, n)} AS ghs
  FROM {table} WHERE NOT ({query_filter})
), bad AS (
  SELECT DISTINCT c.id FROM corpus c, unnest(c.ghs) AS u(h) JOIN idx ON u.h = idx.h
)
SELECT c.id AS {id_col}, (bad.id IS NULL) AS {NAME}_keep
FROM corpus c LEFT JOIN bad ON c.id = bad.id
""".strip()
