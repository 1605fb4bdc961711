"""Winnowing document fingerprints — local rolling-window fingerprinting
(Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
Fingerprinting", SIGMOD 2003 — the MOSS algorithm).

Beyond-reference operator (the reference library has no fingerprint-index
dedup; its nearest neighbors are minhash/bloom). Winnowing complements them:
the fingerprint SET is a position-carrying sketch that (a) guarantees any
shared run of >= w + k - 1 tokens is detected (no probabilistic recall like
minhash bands), and (b) is ~2/(w+1) the size of the gram stream, tunable.

Semantics, identical across the Spark kernel and the DuckDB oracle:
- canonical text = the dedup simplify form
  (reference_impl.filters.simplify_text), tokens = whitespace split;
- gram p (1-based) = tokens[p..p+k-1] joined by ' ', hashed with the
  portable h60 (functions/hashing.py — a Rabin-Karp rolling hash would be
  the classic single-node micro-optimization, but only a cross-engine hash
  lets DuckDB replay the exact fingerprints);
- every window of w consecutive gram hashes selects its minimum, ties
  broken toward the RIGHTMOST occurrence (the paper's robust winnowing);
- fingerprints = distinct (position, hash) over all windows; docs with
  fewer than w grams contribute none (symmetric in every engine).

Scale shape: the per-doc kernel is one Arrow-batched numpy pass
(sliding-window min) over the scan — NO shuffle to fingerprint 100 TB.
``pairs`` (the MOSS similarity report) shuffles the bounded fingerprint
stream, never the corpus: distinct (doc, fp), a document-frequency cap that
drops stop-fingerprints (bounding the per-fp join blowup exactly like
sentence_dedup bounds hot sentences), one fp-keyed self-join, one (a, b)
count. A fp shared by d <= max_df docs yields at most d^2 pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatrove_spark.config import WinnowingConfig
from datatrove_spark.functions.hashing import py_hash60, sql_hash60

NAME = "winnowing"


def py_winnow_fps(text: str | None, cfg: WinnowingConfig = WinnowingConfig()) -> list[dict]:
    """Per-doc kernel: sorted-by-position distinct (pos, fp) selections.
    Same values as the SQL oracle."""
    import numpy as np

    from datatrove_spark.reference_impl.filters import simplify_text

    ws = simplify_text(text or "").split()
    k, w = cfg.k, cfg.w
    if len(ws) < k:
        return []
    grams = [" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)]
    if len(grams) < w:
        return []
    hs = np.fromiter((py_hash60(g) for g in grams), dtype=np.int64, count=len(grams))
    win = np.lib.stride_tricks.sliding_window_view(hs, w)
    # rightmost minimum: argmin of the reversed window axis
    idx = w - 1 - np.argmin(win[:, ::-1], axis=1)
    pos = np.arange(len(win), dtype=np.int64) + idx + 1  # 1-based gram position
    sel = sorted(set(zip(pos.tolist(), hs[pos - 1].tolist())))
    return [{"pos": int(p), "fp": int(f)} for p, f in sel]


def _fp_udf(cfg: WinnowingConfig):
    @F.pandas_udf("array<struct<pos: bigint, fp: bigint>>")
    def kern(texts: pd.Series) -> pd.Series:
        from datatrove_spark.operators.winnowing import py_winnow_fps

        return texts.map(lambda t: py_winnow_fps(t, cfg))

    return kern


def fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: WinnowingConfig = WinnowingConfig(),
) -> DataFrame:
    """(id, pos, fp) fingerprint rows — shuffle-free Arrow kernel path."""
    kern = _fp_udf(cfg)
    return df.select(F.col(id_col), F.explode(kern(F.col(text_col))).alias("pf")).select(
        id_col, F.col("pf.pos").alias("pos"), F.col("pf.fp").alias("fp")
    )


def pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: WinnowingConfig = WinnowingConfig(),
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """MOSS-style similarity report: document pairs sharing >= min_shared
    distinct fingerprint hashes, after dropping fingerprints present in more
    than max_df documents (boilerplate/stop-fp cap — bounds the self-join)."""
    fps = fingerprints(df, id_col, text_col, cfg).select(id_col, "fp").distinct()
    rare = fps.groupBy("fp").agg(F.count("*").alias("df")).filter(F.col("df") <= max_df)
    capped = fps.join(rare.select("fp"), "fp")
    a = capped.select(F.col(id_col).alias("a"), "fp")
    b = capped.select(F.col(id_col).alias("b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


# --- DuckDB oracles -----------------------------------------------------------

_SIMPLIFY = (
    "trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g'), '[0-9]+', '0', 'g'))"
)


def _sql_fps(table: str, id_col: str, text_col: str, cfg: WinnowingConfig) -> str:
    """CTE body producing ({id_col}, pos, fp) — shared by both oracles."""
    simp = _SIMPLIFY.format(t=text_col)
    ws = f"regexp_extract_all({simp}, '\\S+')"
    grams = (
        f"list_transform(range(1, greatest(len({ws}) - {cfg.k} + 1, 0) + 1), "
        f"i -> array_to_string(({ws})[i:i+{cfg.k}-1], ' '))"
    )
    return f"""
hs AS (
  SELECT {id_col} AS id, list_transform({grams}, g -> {sql_hash60("g")}) AS hs
  FROM {table}
), wins AS (
  SELECT id, p, hs, list_min(hs[p:p+{cfg.w}-1]) AS m
  FROM hs, unnest(range(1, len(hs) - {cfg.w} + 2)) AS t(p)
  WHERE len(hs) >= {cfg.w}
), fps AS (
  SELECT DISTINCT id AS {id_col},
    list_max(list_transform(range(0, {cfg.w}), j -> CASE WHEN hs[p + j] = m THEN p + j ELSE 0 END)) AS pos,
    m AS fp
  FROM wins
)
""".strip()


def oracle_sql_fingerprints(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: WinnowingConfig = WinnowingConfig(),
) -> str:
    return f"WITH {_sql_fps(table, id_col, text_col, cfg)}\nSELECT {id_col}, pos, fp FROM fps"


def oracle_sql_pairs(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: WinnowingConfig = WinnowingConfig(),
    min_shared: int = 3,
    max_df: int = 50,
) -> str:
    return f"""
WITH {_sql_fps(table, id_col, text_col, cfg)},
dfps AS (SELECT DISTINCT {id_col}, fp FROM fps),
rare AS (SELECT fp FROM dfps GROUP BY fp HAVING count(*) <= {max_df}),
capped AS (SELECT d.{id_col}, d.fp FROM dfps d JOIN rare USING (fp))
SELECT a.{id_col} AS a, b.{id_col} AS b, count(*) AS shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.{id_col} < b.{id_col}
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
""".strip()
