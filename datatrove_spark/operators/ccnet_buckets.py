"""CCNet-style per-language perplexity bucketing (head / middle / tail).

Beyond-reference: the quality-tiering step of CCNet (Wenzek et al., LREC
2020, arXiv:1911.00359) — order each language's documents by LM perplexity
and split them into k equal tiles; "head" (most fluent third) feeds model
training directly, "middle"/"tail" are kept for mining or dropped. The
reference library has no LM bucketing stage (its nearest analog is the
threshold-only UnigramLogProbFilter); this completes the quality-scoring
family: threshold filters (gopher/c4/fineweb/unigram/ngram_lm) + CCNet
tiles.

Spark shape — EXACT ntile without a per-language sort task: the textbook
rendering `ntile(k) OVER (PARTITION BY lang ORDER BY ppl)` plans one window
partition PER LANGUAGE, i.e. a single task sorting an entire language — at
10^9 docs, one executor sorts most of the corpus (web text is ~half English).
Instead this operator computes the identical assignment with a distributed
rank:

  1. project the SLIM columns only (lang, ppl, id — never text),
     range-repartition + sort within partitions by (lang, ppl, id);
  2. collect the per-(partition, lang) row COUNTS — tiny: O(partitions x
     languages) — and turn them into per-partition starting offsets
     driver-side;
  3. one mapInPandas pass adds offset + local running rank per language and
     applies the SQL ntile size rule (first n mod k tiles get one extra row)
     — every partition labels independently, no global barrier.

Rows move ONCE through the range exchange; the heavy text column never
shuffles (tiles join back to the corpus on id, AQE-adaptive). Assignment is
fully deterministic: the order key (ppl, id) is a total order, so Spark and
the DuckDB ntile oracle agree row-for-row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatrove_spark.operators import ngram_lm
from datatrove_spark.operators.ngram_lm import NgramLMConfig

NAME = "ccnet"


def sql_tile(rank: int, n: int, k: int) -> int:
    """Standard SQL ntile: n rows into k tiles, first n % k tiles one larger.
    `rank` is 1-based position in the tile ordering."""
    q, rem = divmod(n, k)
    big = (q + 1) * rem
    if rank <= big:
        return (rank - 1) // (q + 1) + 1
    return rem + (rank - 1 - big) // q + 1


def tiles(
    scored: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    value_col: str = "ngram_perplexity",
    k: int = 3,
) -> DataFrame:
    """(id, tile): exact per-language ntile of value_col (ascending; ties
    break by id) via the distributed rank described in the module docstring.

    The persist + count-collect below is LOAD-BEARING, not a cache hint: the
    offsets are derived from the physical partitioning the count job saw, and
    the labeling pass must read that SAME partitioning — repartitionByRange
    samples its boundaries, so an unpersisted recomputation is not guaranteed
    to reproduce them."""
    spark = scored.sparkSession
    try:
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" or AQE-managed setting
        nparts = spark.sparkContext.defaultParallelism
    slim = (
        scored.select(F.col(lang_col).alias("__lang"), F.col(value_col).alias("__v"), F.col(id_col))
        .repartitionByRange(nparts, "__lang", "__v", id_col)
        .sortWithinPartitions("__lang", "__v", id_col)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # tiny: O(partitions x languages) rows; the collect also materializes the
    # cache so the labeling pass below reads it instead of re-shuffling
    pcounts = slim.groupBy("__pid", "__lang").count().collect()
    totals: dict[str, int] = {}
    per_part: dict[tuple[int, str], int] = {}
    for r in pcounts:
        per_part[(r["__pid"], r["__lang"])] = r["count"]
        totals[r["__lang"]] = totals.get(r["__lang"], 0) + r["count"]
    if None in totals:
        # NULL languages would silently vanish in the vectorized factorize
        # below (None -> NaN loses dict-key identity); make the contract
        # explicit instead of mislabeling
        raise ValueError(
            f"ccnet_buckets: {totals[None]} rows have NULL {lang_col}; "
            "filter or impute a language before bucketing"
        )
    offsets: dict[tuple[int, str], int] = {}
    for lang in totals:
        acc = 0
        for pid in sorted(p for p, lg in per_part if lg == lang):
            offsets[(pid, lang)] = acc
            acc += per_part[(pid, lang)]

    def label(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one call per partition; `seen` carries the running per-language
        # rank ACROSS Arrow batches of the same partition (rows arrive in
        # the sortWithinPartitions order). Fully vectorized: per-row work is
        # numpy (factorize codes -> cumcount + offset + the SQL tile-size
        # rule); Python touches only the per-batch UNIQUE languages.
        import numpy as np

        seen: dict[str, int] = {}
        pid = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            pid = int(pdf["__pid"].iloc[0])
            codes, uniques = pd.factorize(pdf["__lang"], use_na_sentinel=False)
            nu = len(uniques)
            base = np.fromiter(
                (seen.get(lg, offsets[(pid, lg)]) for lg in uniques), dtype=np.int64, count=nu
            )
            n_of = np.fromiter((totals[lg] for lg in uniques), dtype=np.int64, count=nu)
            local = pd.Series(codes).groupby(codes).cumcount().to_numpy()
            ranks = base[codes] + local + 1
            n = n_of[codes]
            q, rem = np.divmod(n, k)
            big = (q + 1) * rem  # first n%k tiles get one extra row (SQL ntile)
            tile = np.where(
                ranks <= big,
                (ranks - 1) // (q + 1) + 1,
                rem + (ranks - 1 - big) // np.maximum(q, 1) + 1,
            )
            batch_counts = np.bincount(codes, minlength=nu)
            for i, lg in enumerate(uniques):
                seen[lg] = int(base[i] + batch_counts[i])
            yield pd.DataFrame({id_col: pdf[id_col], "tile": pd.Series(tile, dtype="int64")})
        # partitioning-drift tripwire (cheap, O(languages)): the offsets were
        # derived from the partitioning the count job saw; if the persisted
        # slim table was ever recomputed into different partitions, final
        # ranks stop matching the counted sizes — fail hard, never mislabel
        if pid is not None:
            for lg, final in seen.items():
                expect = offsets[(pid, lg)] + per_part[(pid, lg)]
                if final != expect:
                    raise RuntimeError(
                        f"ccnet_buckets: partition {pid} saw {final} rows of lang "
                        f"{lg!r} but the count job recorded {expect}; the persisted "
                        "slim partitioning drifted — tiles would be mislabeled"
                    )

    # the persisted slim table (3 slim columns) is consumed lazily by the
    # labeling pass; looping callers should clearCache between invocations
    # (same lifecycle note as minhash.apply_with_index)
    return slim.mapInPandas(label, f"{id_col} long, tile long")


def apply(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = 3,
    cfg: NgramLMConfig = NgramLMConfig(),
) -> DataFrame:
    """Adds ccnet_tile (1..k over ascending perplexity per language) and, for
    k=3, ccnet_bucket in {'head','middle','tail'} (CCNet's names).

    The LM scoring runs ONCE: its slim (id, lang, logprob, ppl) projection is
    persisted and materialized before fan-out, then feeds both the tile rank
    and the output join — the text column never enters either shuffle.

    Cache lifecycle: both persists (slimscore here, slim inside tiles()) stay
    referenced by the RETURNED lazy DataFrame, so there is no safe unpersist
    point inside this function — tiles()' offsets contract requires the
    labeling pass to read the exact persisted partitioning. Long-lived
    sessions looping over corpora should `spark.catalog.clearCache()` after
    materializing each result (same lifecycle note as
    minhash.apply_with_index)."""
    scored = ngram_lm.apply(df, id_col, text_col, cfg)
    slimscore = scored.select(
        id_col, lang_col, "ngram_logprob", "ngram_perplexity"
    ).persist()
    slimscore.count()  # materialize before the two consumers race the cache
    tile_df = tiles(slimscore, id_col, lang_col, "ngram_perplexity", k)
    out = df.drop(lang_col).join(slimscore, id_col).join(tile_df, id_col)
    bucket = F.col("tile").cast("string")
    if k == 3:
        bucket = (
            F.when(F.col("tile") == 1, "head")
            .when(F.col("tile") == 2, "middle")
            .otherwise("tail")
        )
    return (
        out.withColumn("ccnet_tile", F.col("tile"))
        .withColumn("ccnet_bucket", bucket)
        .drop("tile")
    )


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    k: int = 3,
    cfg: NgramLMConfig = NgramLMConfig(),
) -> str:
    """DuckDB rendering: the textbook ntile window over the same ngram_lm
    perplexity CTE — fine in a single-node engine, and exactly what the
    distributed rank reproduces."""
    ppl = ngram_lm.oracle_sql(table=table, id_col=id_col, cfg=cfg)
    bucket = (
        f"CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"
        if k == 3
        else "tile::VARCHAR"
    )
    return f"""
WITH ppl AS ({ppl}),
tiled AS (
  SELECT p.{id_col}, d.{lang_col}, p.ngram_perplexity,
         ntile({k}) OVER (
           PARTITION BY d.{lang_col}
           ORDER BY p.ngram_perplexity ASC, p.{id_col} ASC
         ) AS tile
  FROM ppl p JOIN {table} d USING ({id_col})
)
SELECT {id_col}, {lang_col}, ngram_perplexity,
       tile::BIGINT AS ccnet_tile, {bucket} AS ccnet_bucket
FROM tiled
""".strip()
