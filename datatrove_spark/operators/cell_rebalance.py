"""Cluster-balanced temperature resampling over embedding cells.

Beyond-reference: the cluster-space analog of multilingual temperature
rebalancing — cluster documents by their embeddings, then resample so kept
counts follow a flattened cluster distribution. Public provenance:
ClusterClip / balanced data sampling for LM training (Shao et al. 2024,
arXiv:2402.14526) clusters the corpus and re-weights oversized clusters;
SemDeDup (arXiv:2303.09540) motivates the same k-means cell structure this
engine already computes. The sampling RULE is the XLM-R temperature rule
(Conneau et al. 2020, arXiv:1911.02116 §3) applied per cell instead of per
language: with per-cell counts n_c (N total), q_c ∝ n_c^alpha and budget
B = budget_frac·N, each cell keeps at rate r_c = min(1, B·q_c / n_c) —
boilerplate-dominated clusters are clipped toward the budget while small
topical clusters keep everything. The reference library has only a global
uniform SamplerFilter (`/root/reference/src/datatrove/pipeline/filters/
sampler_filter.py`); no per-cluster variant exists there.

Spark shape (same contract as lang_rebalance, plan-pinned in
tests/test_cell_rebalance.py): centroid assignment is ONE Arrow kernel pass
per consumer (embarrassingly parallel, broadcast-closure centroids, no
shuffle); the only aggregation is the O(cells) count, map-side combined and
collected driver-side; the keep rule is then a pure narrow filter over the
engine's deterministic h60 sampler — the corpus never shuffles and the kept
set is partition-independent. Thresholds travel as a flat literal map up to
MAX_LITERAL_CELLS cells and as a broadcast-joined O(cells) table above it
(k ~ n/1000 reaches millions of cells at web scale; a plan literal cannot). The
assignment kernel runs twice (once under the count, once in the output
projection); persisting or joining the slim (id, cell) table back would
trade a shuffle for that recompute, the wrong trade for a kernel that is
pure per-row compute.

Cross-engine exactness: identical to lang_rebalance — alpha=0.5 uses IEEE
sqrt and the Σ n^alpha fold runs in sorted-CELL-id order on both engines,
so thresholds are bit-identical; cell labels are the centroid's OWN vec_id
on both sides (Spark maps the kernel's row index through the collected
centroid-id array; the SQL oracle assigns argmin by (L2, cid)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatrove_spark.functions.hashing import hash60, sql_hash60
from datatrove_spark.operators.lang_rebalance import (
    SAMPLE_M,
    rates_from_counts,
    threshold_map_expr,
)

NAME = "cell_rebalance"

# Above this many cells the per-cell thresholds travel as a broadcast-joined
# table instead of a plan literal: a literal map is O(cells) in the PLAN
# (fine to a few thousand; the old chained-when was worse — O(cells) tree
# DEPTH, JVM stack overflow at ~400 cells, found by the 200x scale ladder),
# while at web scale k ~ n/1000 means millions of cells and the only sane
# carrier is a broadcast table. The corpus side stays shuffle-free either
# way; the kept set is identical (pinned by test).
MAX_LITERAL_CELLS = 4096


def apply(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    centroids=None,
    centroid_ids=None,
    salt: str = "crb",
    max_literal_cells: int = MAX_LITERAL_CELLS,
) -> DataFrame:
    """Adds cell (centroid id), cell_rebalance_thr, cell_rebalance_keep.

    centroids/centroid_ids: trained (K, dim) array + per-row cell labels;
    default is the deterministic lowest-id rows of the corpus (the same
    convention semdedup/ivf_topk use, so one trained codebook can drive
    dedup, ANN, and rebalancing consistently)."""
    import numpy as np

    from datatrove_spark.operators.similarity import assign_cells

    if centroids is None:
        cent_rows = (
            df.filter(F.col(id_col) < n_centroids)
            .select(id_col, F.col(vec_col).cast("array<double>").alias("__c"))
            .orderBy(id_col)
            .collect()
        )
        cents = np.array([r["__c"] for r in cent_rows], dtype=np.float64)
        cell_ids = [int(r[id_col]) for r in cent_rows]
    else:
        cents = np.asarray(centroids, dtype=np.float64)
        cell_ids = (
            [int(c) for c in centroid_ids]
            if centroid_ids is not None
            else list(range(len(cents)))
        )
    assigned = assign_cells(df, cents, id_col=id_col, vec_col=vec_col)
    thr_name = f"{NAME}_thr"
    if len(cell_ids) <= max_literal_cells:
        # kernel emits the centroid ROW INDEX; expose the centroid's own id
        # so the label survives sparse/trained codebooks and matches the SQL
        # oracle
        idx_to_id = F.array(*[F.lit(c) for c in cell_ids])
        cells = assigned.withColumn(
            "cell", F.element_at(idx_to_id, (F.col("cell") + 1).cast("int")).cast("long")
        )
        counts = {
            int(r["cell"]): r["count"] for r in cells.groupBy("cell").count().collect()
        }
        rates = rates_from_counts(counts, alpha, budget_frac)
        labeled = cells.withColumn(
            thr_name,
            threshold_map_expr(
                F.col("cell"), {int(c): int(r * SAMPLE_M) for c, r in rates.items()}
            ),
        )
    else:
        # past the literal budget NOTHING codebook-sized may ride in the
        # plan (the idx->id array literal above is O(cells) serialized into
        # every task): count by the kernel's row index, remap to centroid
        # ids driver-side (the rates fold stays in cell-ID-sorted order,
        # the oracle's contract), and broadcast ONE O(cells) table carrying
        # both the idx->id relabeling and the threshold
        idx_counts = {
            int(r["cell"]): r["count"] for r in assigned.groupBy("cell").count().collect()
        }
        # sum, not overwrite: a codebook may repeat a centroid id, and the
        # literal path's groupBy on the relabeled cell sums those rows too
        counts: dict[int, int] = {}
        for i, n in idx_counts.items():
            counts[cell_ids[i]] = counts.get(cell_ids[i], 0) + n
        rates = rates_from_counts(counts, alpha, budget_frac)
        rates_df = df.sparkSession.createDataFrame(
            [
                (i, c, int(rates[c] * SAMPLE_M))
                for i, c in enumerate(cell_ids)
                if c in rates
            ],
            schema=f"__cidx int, cell long, {thr_name} long",
        )
        labeled = assigned.withColumnRenamed("cell", "__cidx").join(
            F.broadcast(rates_df), "__cidx", "left"
        )
    h = F.pmod(hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))), F.lit(SAMPLE_M))
    return labeled.withColumn(f"{NAME}_keep", h < F.col(thr_name)).select(
        id_col, "cell", thr_name, f"{NAME}_keep"
    )


def oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    dim: int = 64,
    salt: str = "crb",
) -> str:
    """Assignment CTE (same argmin-by-(L2, cid) convention as the semdedup
    oracle) + the lang_rebalance threshold SQL with cell as the group key.
    alpha must be 0.5 (the sqrt-exact cross-engine contract)."""
    assert alpha == 0.5, "oracle is exact only for the sqrt temperature"
    l2 = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> (v[i]::DOUBLE - cv[i]::DOUBLE) * (v[i]::DOUBLE - cv[i]::DOUBLE)))"
    )
    h = sql_hash60(f"'{salt}' || (id)::VARCHAR")
    return f"""
WITH cents AS (
  SELECT {id_col} AS cid, {vec_col} AS cv FROM {table} WHERE {id_col} < {n_centroids}
), assign AS (
  SELECT e.{id_col} AS id, cents.cid,
         row_number() OVER (PARTITION BY e.{id_col} ORDER BY {l2} ASC, cents.cid ASC) AS rnk
  FROM (SELECT {id_col}, {vec_col} AS v FROM {table}) e CROSS JOIN cents
), ccells AS (
  SELECT id, cid AS cell FROM assign WHERE rnk = 1
), counts AS (
  SELECT cell, count(*)::BIGINT AS n FROM ccells GROUP BY 1
), tot AS (
  SELECT sum(n)::DOUBLE AS nn,
         list_sum(list_transform(list(n ORDER BY cell), x -> sqrt(x::DOUBLE))) AS s
  FROM counts
), r AS (
  SELECT cell,
         floor(least(1.0, {budget_frac} * (SELECT nn FROM tot) * sqrt(n::DOUBLE)
               / (SELECT s FROM tot) / n) * {SAMPLE_M})::BIGINT AS thr
  FROM counts
)
SELECT c.id AS {id_col}, c.cell, r.thr AS {NAME}_thr,
       ({h} % {SAMPLE_M} < r.thr) AS {NAME}_keep
FROM ccells c JOIN r ON c.cell = r.cell
""".strip()
