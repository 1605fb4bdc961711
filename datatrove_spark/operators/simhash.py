"""SimHash near-duplicate detection — 60-bit fingerprints + band LSH.

The reference has no simhash operator (its near-dup paths are minhash and
the bloom filter, SURVEY.md §2.6); this is the standard complement for a
web-scale curation engine, built on the same portable h60 hash family so
Spark and the DuckDB oracle agree bit-for-bit.

Engine contract (presence-weighted simhash — deterministic and
order-free):
  hs  = distinct h60(word) over words(simplify_text(text))
  bit b of fingerprint = 1  iff  |{h : bit b of h set}| * 2 > |hs|
  fingerprint = Σ bit_b << b          (60 bits, fits signed int64)
  bands: 4 x 15 bits; candidate pair = same value in any band
  verified pair: popcount(fp_a XOR fp_b) <= max_hamming (default 3)
  dedup: connected components over verified pairs, keep component min.

Fingerprints come from one Arrow-batched numpy kernel (py_fingerprint).
Shuffle shape matches minhash: explode 4 (band, value) rows per doc ->
one hash-partitioned groupBy; fingerprints are single longs so the
verification join is trivially narrow.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatrove_spark.config import SimHashConfig
from datatrove_spark.functions.hashing import sql_hash60
from datatrove_spark.operators.minhash import connected_components

NAME = "simhash"


_H60_WORD_CACHE: dict[str, int] = {}


def py_fingerprint(text: str, cfg: SimHashConfig = SimHashConfig()) -> int | None:
    """numpy per-doc kernel — identical values to the SQL oracle.
    NULL text -> None fingerprint (= the SQL oracle's NULL propagation)."""
    text = text or ""
    import numpy as np

    from datatrove_spark.functions.hashing import py_hash60
    from datatrove_spark.reference_impl.filters import simplify_text

    ws = list(dict.fromkeys(simplify_text(text).split()))
    if not ws:
        return None
    # capped per-worker word-hash memo: simplified web-text words are
    # Zipf-distributed, so the md5-based portable hash runs once per
    # distinct word across the batch stream, not once per occurrence
    cache = _H60_WORD_CACHE
    hs = np.empty(len(ws), dtype=np.int64)
    for i, w in enumerate(ws):
        h = cache.get(w)
        if h is None:
            h = py_hash60(w)
            if len(cache) < 1_000_000:
                cache[w] = h
        hs[i] = h
    set_counts = ((hs[:, None] >> np.arange(cfg.bits)) & 1).sum(axis=0)
    bits = (set_counts * 2 > len(ws)).astype(np.int64)
    return int((bits << np.arange(cfg.bits)).sum())


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 cfg: SimHashConfig = SimHashConfig()) -> DataFrame:
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def fp_udf(texts: pd.Series) -> pd.Series:
        from datatrove_spark.operators.simhash import py_fingerprint

        return texts.map(lambda t: py_fingerprint(t, cfg)).astype("Int64")

    return df.select(id_col, fp_udf(F.col(text_col)).alias("fp")).filter(
        F.col("fp").isNotNull()
    )


def edges(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
          cfg: SimHashConfig = SimHashConfig()) -> DataFrame:
    """Component-preserving verified edge set (not every verified pair).

    The naive band self-join over documents is all-pairs per (band, value)
    group — O(k²) join rows when a degenerate fingerprint (boilerplate /
    near-empty docs) puts k docs in one band bucket. On web corpora the hot
    case is docs with *identical* fingerprints, so collapse first:

      1. one representative per distinct fingerprint (groupBy fp → min id);
         identical-fp docs attach to their representative via star edges —
         hamming 0, verified by construction, linear in group size, and no
         collect_list: the member→rep edge comes from a join on fp.
      2. the band self-join runs over DISTINCT fingerprints only, so a
         million boilerplate copies contribute one row, not 10¹² pairs.
      3. cross-fp candidates hamming-verify as before; edges connect the
         fp representatives.

    Hamming distance is a function of the fingerprint alone, so the
    connected components of (star ∪ verified-rep) edges are exactly the
    components of the full verified doc-pair graph the DuckDB oracle
    computes — the collapse changes the physical shape, not the semantics.
    Residual worst case is quadratic in *distinct* near-identical
    fingerprints per band value, which is inherent to exact simhash
    banding."""
    return edges_from_fps(fingerprints(df, id_col, text_col, cfg), id_col, cfg)


def edges_from_fps(fps: DataFrame, id_col: str = "doc_id",
                   cfg: SimHashConfig = SimHashConfig()) -> DataFrame:
    """Edge plan over a precomputed (id, fp) table. This plan fans out into
    four branches that each scan `fps` (reps groupBy, the same-fp star join,
    and both sides of the band self-join) — callers that pay a non-trivial
    fingerprint computation should persist `fps` first (see apply()), or the
    Arrow kernel re-runs once per branch."""
    reps = fps.groupBy("fp").agg(F.min(id_col).alias("fp_rep"))
    same_fp = (
        fps.join(reps, "fp")
        .filter(F.col(id_col) != F.col("fp_rep"))
        .select(F.col("fp_rep").alias("a"), F.col(id_col).alias("b"))
    )
    band_bits = cfg.bits // cfg.bands
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("fp"), i * band_bits).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for i in range(cfg.bands)
        ]
    )
    exploded = reps.select("fp", "fp_rep", F.explode(bands).alias("b")).select(
        "fp", "fp_rep", F.col("b.band_id").alias("band_id"), F.col("b.val").alias("val")
    )
    left = exploded.select("band_id", "val", F.col("fp").alias("fp_a"), F.col("fp_rep").alias("rep_a"))
    right = exploded.select(
        F.col("band_id").alias("band_id2"), F.col("val").alias("val2"),
        F.col("fp").alias("fp_b"), F.col("fp_rep").alias("rep_b"),
    )
    cand = left.join(
        right,
        (left.band_id == right.band_id2) & (left.val == right.val2) & (left.fp_a < right.fp_b),
    )
    verified = cand.filter(
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))) <= cfg.max_hamming
    )
    cross_fp = verified.select(F.col("rep_a").alias("a"), F.col("rep_b").alias("b")).distinct()
    return same_fp.union(cross_fp)


def apply(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
          cfg: SimHashConfig = SimHashConfig()) -> DataFrame:
    # The edge plan scans the fingerprint table from four branches; persist
    # the (id, fp) pairs (16 bytes/doc) so the Arrow text-scan kernel runs
    # exactly once per document. connected_components cuts lineage before
    # returning (driver rows / eager localCheckpoint), so unpersisting here
    # is safe even though `comp` is consumed lazily by the caller.
    fps = fingerprints(df, id_col, text_col, cfg).persist()
    try:
        # materialize before the fan-out: the edge plan's branches run as
        # concurrent stages of one job, which would each race to compute
        # the yet-uncached partitions and duplicate the text scan anyway
        fps.count()
        comp = connected_components(edges_from_fps(fps, id_col, cfg))
    finally:
        fps.unpersist()
    out = df.join(comp.withColumnRenamed("node", id_col), id_col, "left")
    return (
        out.withColumn("dup_of", F.when(F.col("rep") != F.col(id_col), F.col("rep")))
        .withColumn(f"{NAME}_keep", F.col("dup_of").isNull())
        .drop("rep")
    )


# --- DuckDB oracles ----------------------------------------------------------

_SIMPLIFY = (
    "trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g'), '[0-9]+', '0', 'g'))"
)


def _sql_fp(text_col: str, cfg: SimHashConfig) -> str:
    simp = _SIMPLIFY.format(t=text_col)
    hs = f"list_transform(list_distinct(regexp_extract_all({simp}, '\\S+')), w -> {sql_hash60('w')})"
    bit_terms = " + ".join(
        f"(CASE WHEN len(list_filter(hs, h -> (h >> {b}) & 1 = 1)) * 2 > len(hs) THEN {1 << b} ELSE 0 END)"
        for b in range(cfg.bits)
    )
    return f"SELECT id, ({bit_terms})::BIGINT AS fp FROM (SELECT id, {hs} AS hs FROM base) WHERE len(hs) > 0"


def oracle_sql_fingerprints(table: str = "documents", id_col: str = "doc_id",
                            text_col: str = "text", cfg: SimHashConfig = SimHashConfig()) -> str:
    return f"""
WITH base AS (SELECT {id_col} AS id, {text_col} FROM {table}),
fp AS ({_sql_fp(text_col, cfg)})
SELECT id AS {id_col}, fp FROM fp
""".strip()


def oracle_sql_pairs(table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text", cfg: SimHashConfig = SimHashConfig()) -> str:
    band_bits = cfg.bits // cfg.bands
    mask = (1 << band_bits) - 1
    fps = oracle_sql_fingerprints(table, id_col, text_col, cfg)
    bands = ", ".join(f"{{'band_id': {i}, 'val': (fp >> {i * band_bits}) & {mask}}}" for i in range(cfg.bands))
    return f"""
WITH fps AS ({fps}),
ex AS (
  SELECT {id_col} AS id, fp, unnest([{bands}], recursive := true) FROM fps
)
SELECT DISTINCT l.id AS a, r.id AS b
FROM ex l JOIN ex r ON l.band_id = r.band_id AND l.val = r.val AND l.id < r.id
WHERE bit_count(xor(l.fp, r.fp)) <= {cfg.max_hamming}
""".strip()


def oracle_sql_dedup(table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text", cfg: SimHashConfig = SimHashConfig()) -> str:
    prs = oracle_sql_pairs(table, id_col, text_col, cfg)
    return f"""
WITH RECURSIVE prs AS ({prs}),
edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
rep AS (SELECT x AS node, least(min(y), x) AS rep FROM reach GROUP BY x)
SELECT t.{id_col},
  CASE WHEN rep.rep IS NOT NULL AND rep.rep != t.{id_col} THEN rep.rep END AS dup_of,
  (rep.rep IS NULL OR rep.rep = t.{id_col}) AS {NAME}_keep
FROM {table} t LEFT JOIN rep ON t.{id_col} = rep.node
""".strip()
