"""Similarity search over embedding columns (array<float>).

Not present in the reference (datatrove's nearest analog is minhash
similarity); required engine capability for embedding-based curation:

- cosine_topk   exact brute-force top-k: broadcast the (small) query set
                against the corpus — no shuffle of the corpus, one window
                per query for ranking. The scale baseline.
- lsh_buckets / ann_topk
                random-hyperplane LSH: deterministic planes (h60-derived
                rational coefficients, exactly representable in float64 in
                every engine), bucket = sign-bit code; candidates = bucket
                collision in any table, then exact cosine re-rank. The
                100 TB path: the corpus is bucketed once (write-side), a
                query touches only its candidate buckets.
- neardup_pairs embedding near-duplicate pairs: cosine >= threshold,
                connected-components dedup like minhash.

Float determinism: dot products fold strictly left-to-right via
zip_with+aggregate (Spark) and an index-range fold (DuckDB); inputs are
float32 widened to float64, so both engines execute the identical IEEE
operation sequence. Scores are rounded to 6dp only at the output boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datatrove_spark.functions.hashing import py_hash60
from datatrove_spark.functions.vectors import cosine, shuffle_vec, to_double_array

NAME = "similarity"


def _cos(a: Column, b: Column) -> Column:
    return cosine(to_double_array(a), to_double_array(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, rank, score): exact top-k by cosine, ties by id."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qv")
    )
    joined = corpus.crossJoin(F.broadcast(q))
    score = _cos(F.col("__qv"), F.col(vec_col))
    w = Window.partitionBy(query_id_col).orderBy(score.desc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, F.col("rank").cast("long").alias("rank"), F.round(score, 6).alias("score")
        )
    )


# --- deterministic random-hyperplane LSH ------------------------------------


def plane_coeff(table: int, plane: int, j: int) -> float:
    """Rational in [-1, 1) with 3 decimal digits — exact in every float64."""
    return (py_hash60(f"plane_{table}_{plane}_{j}") % 2001 - 1000) / 1000.0


_PLANE_CACHE: dict[tuple, "object"] = {}


def py_bucket_codes(mat, n_tables: int, n_planes: int, dim: int):
    """(B, dim) float64 batch -> (B, n_tables) int64 bucket codes.

    Bit-identical to the SQL oracle (sql_bucket_code): the plane dot product
    accumulates column-by-column (acc += v[:,j]*c_j), which reproduces the
    strict left-to-right float64 fold of DuckDB list_sum for
    every row at once — vectorized across the batch, sequential across dims."""
    import numpy as np

    key = (n_tables, n_planes, dim)
    coeffs = _PLANE_CACHE.get(key)
    if coeffs is None:  # derive the (t, p, j) coefficient tensor once
        coeffs = np.array(
            [
                [[plane_coeff(t, p, j) for j in range(dim)] for p in range(n_planes)]
                for t in range(n_tables)
            ],
            dtype=np.float64,
        )
        _PLANE_CACHE[key] = coeffs
    out = np.zeros((mat.shape[0], n_tables), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            acc = np.zeros(mat.shape[0], dtype=np.float64)
            cs = coeffs[t, p]
            for j in range(dim):
                acc += mat[:, j] * cs[j]
            out[:, t] += (acc > 0) * (1 << p)
    return out


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, table_id, bucket): the write-side corpus index. Arrow-batched
    numpy kernel (a Column rendering runs its 32 plane dots as interpreted
    lambda folds — measured ~15x slower on real batches)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def codes(vecs: pd.Series) -> pd.Series:
        import numpy as np

        from datatrove_spark.operators.similarity import py_bucket_codes

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        out = py_bucket_codes(mat, n_tables, n_planes, dim)
        return pd.Series(list(out))

    d = df.select(id_col, F.posexplode(codes(F.col(vec_col))).alias("table_id", "bucket"))
    return d.select(id_col, F.col("table_id").cast("int").alias("table_id"), "bucket")


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """LSH-candidate top-k: collide in any table, exact re-rank. Approximate
    (recall < 1) but fully deterministic — same planes, same buckets."""
    cb = lsh_buckets(corpus, id_col, vec_col, n_tables, n_planes, dim)
    qb = lsh_buckets(queries, query_id_col, vec_col, n_tables, n_planes, dim)
    cand = (
        cb.join(F.broadcast(qb), ["table_id", "bucket"])
        .select(id_col, query_id_col)
        .distinct()
    )
    qv = queries.select(query_id_col, F.col(vec_col).alias("__qv"))
    cv = corpus.select(id_col, F.col(vec_col).alias("__cv"))
    scored = cand.join(F.broadcast(qv), query_id_col).join(cv, id_col)
    score = _cos(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy(query_id_col).orderBy(score.desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.col("rank").cast("long").alias("rank"), F.round(score, 6).alias("score"))
    )


# --- IVF-Flat ANN (inverted-file index, the billion-vector scale path) -------


def py_ivf_dists(mat, cents):
    """(B, dim) float64 batch x (K, dim) float64 centroids -> (B, K) squared-L2.

    Bit-identical to the SQL oracle: each distance accumulates
    dimension-by-dimension (acc += (v_j - c_j)^2), reproducing DuckDB
    list_sum's strict left-to-right float64 fold — vectorized across the
    batch AND the centroid axis, sequential across dims."""
    import numpy as np

    d = np.zeros((mat.shape[0], cents.shape[0]), dtype=np.float64)
    for j in range(mat.shape[1]):
        diff = mat[:, j, None] - cents[None, :, j]
        d += diff * diff
    return d


def _ivf_assign_udf(cents, n_probe: int):
    """pandas UDF: vector -> the n_probe nearest centroid ids, distance-
    ascending (ties -> smaller centroid id, via stable argsort)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def probes(vecs: pd.Series) -> pd.Series:
        import numpy as np

        from datatrove_spark.operators.similarity import py_ivf_dists

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        d = py_ivf_dists(mat, cents)
        order = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int64)))

    return probes


def _ivf_cell_udf(cents):
    """Scalar variant for the corpus side: vector -> its single nearest
    cell id. Returning a LONG (not element_at over an array UDF) matters
    for the plan: the inner join's implicit isnotnull(cell) filter then
    references the extracted pythonUDF attribute directly — the array form
    measured the assignment kernel evaluated TWICE over the corpus (once
    under the pushed null-filter, once for the projection)."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def cell(vecs: pd.Series) -> pd.Series:
        import numpy as np

        from datatrove_spark.operators.similarity import py_ivf_dists

        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        d = py_ivf_dists(mat, cents)
        return pd.Series(np.argsort(d, axis=1, kind="stable")[:, 0].astype(np.int64))

    # the kernel IS deterministic; the marker only forbids Catalyst from
    # cloning it into the join's inferred isnotnull(cell) constraint filter,
    # which otherwise evaluates the assignment over the corpus twice
    return cell.asNondeterministic()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """IVF-Flat approximate top-k: corpus vectors are indexed into inverted
    lists by nearest coarse centroid (write-side, like a real IVF index);
    each query probes its n_probe nearest cells and exact-re-ranks only those
    candidates. Complements lsh_buckets/ann_topk as the second ANN scale
    path: at 10^9 vectors the corpus shuffles ONCE by cell id, a query
    touches n_probe/n_centroids of the data, and recall is tunable via
    n_probe with zero index rebuild.

    Coarse centroids are the n_centroids lowest-id corpus vectors — real IVF
    trains them offline (k-means) and then treats them as FIXED constants at
    index and query time; the deterministic id-ordered pick stands in for
    that offline artifact so the whole query is cross-engine reproducible
    (a distributed k-means mean is float-summation-order-dependent and can
    not be oracled exactly). Swap in trained centroids via the `centroids`
    argument — a (K, dim) array whose row index is the cell id — without
    touching the plan shape (tests/test_ivf.py exercises this path).

    The centroid table is collected to the driver (bounded: n_centroids x dim
    float64, a few MB even at 65k centroids) and embedded in the Arrow kernel
    closure — the assignment kernel is one numpy pass, never a per-row HOF."""
    import numpy as np

    if centroids is None:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_centroids)
            .select(id_col, to_double_array(F.col(vec_col)).alias("__c"))
            .orderBy(id_col)
            .collect()
        )
        cents = np.array([r["__c"] for r in cent_rows], dtype=np.float64)
    else:
        cents = np.asarray(centroids, dtype=np.float64)

    cell1 = _ivf_cell_udf(cents)
    cellN = _ivf_assign_udf(cents, n_probe)
    ccells = corpus.select(F.col(id_col), cell1(F.col(vec_col)).alias("cell"))
    qcells = queries.select(
        F.col(query_id_col), F.explode(cellN(F.col(vec_col))).alias("cell")
    )
    cand = ccells.join(F.broadcast(qcells), "cell").select(id_col, query_id_col).distinct()

    qv = queries.select(query_id_col, F.col(vec_col).alias("__qv"))
    cv = corpus.select(id_col, F.col(vec_col).alias("__cv"))
    # corpus vectors STREAM against the broadcast (candidate x query-vector)
    # side — written the other way round, AQE happily broadcast the whole
    # corpus embedding table (fine at sf0.1, fatal at 10^9 vectors)
    scored = cv.join(F.broadcast(cand.join(F.broadcast(qv), query_id_col)), id_col)
    score = _cos(F.col("__qv"), F.col("__cv"))
    w = Window.partitionBy(query_id_col).orderBy(score.desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("rank").cast("long").alias("rank"),
            F.round(score, 6).alias("score"),
        )
    )


def assign_cells(
    corpus: DataFrame, cents, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, vec, cell): nearest-centroid assignment via the Arrow kernel.
    `cents` is a (K, dim) float64 array; row index = cell id."""
    import numpy as np

    cell1 = _ivf_cell_udf(np.asarray(cents, dtype=np.float64))
    return corpus.select(
        F.col(id_col), F.col(vec_col), cell1(F.col(vec_col)).alias("cell")
    )


def _block_pair_kernel(threshold: float, forest: bool = False):
    """mapInPandas generator over (items_l, items_r, same) grid rows: each row
    carries two packed blocks of (vid, vec) structs; the kernel emits every
    (a, b) pair with cosine >= threshold as one numpy score matrix per row.
    Float parity with the SQL oracle and the Column-side _cos: dots and norms
    accumulate dimension-by-dimension (columnwise outer-product adds), which
    reproduces the strict left-to-right float64 fold per element. Shared by
    neardup_pairs (global grid) and cell_neardup_edges (per-cell grid).

    forest=True reduces each grid row's qualifying pairs to a LOCAL SPANNING
    FOREST before emitting (union-find over the row's own matrix — O(matrix)
    work the kernel already paid to score). Every emitted edge is a real
    qualifying pair, and a forest per grid row preserves the global
    connected components exactly, so consumers that only need components
    (semdedup's keep-one-per-group) get identical answers while the edge
    volume drops from O(pairs) to O(vectors): a g-member semantic-duplicate
    group ships g-1 edges instead of C(g,2) — at web scale (g in the
    millions for boilerplate embeddings) the difference between a linear
    shuffle and a quadratic one. Pair-list consumers (neardup_pairs'
    contract IS the pair list) keep forest=False."""
    from collections.abc import Iterator

    def cells(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in pdfs:
            for items_l, items_r, same in zip(pdf["items_l"], pdf["items_r"], pdf["same"]):
                ids_l = np.array([it["vid"] for it in items_l], dtype=np.int64)
                ids_r = np.array([it["vid"] for it in items_r], dtype=np.int64)
                L = np.array([np.asarray(it["vec"], dtype=np.float64) for it in items_l])
                R = np.array([np.asarray(it["vec"], dtype=np.float64) for it in items_r])
                dots = np.zeros((len(ids_l), len(ids_r)))
                nl = np.zeros(len(ids_l))
                nr = np.zeros(len(ids_r))
                for j in range(L.shape[1]):  # columnwise: exact left-fold order
                    dots += L[:, j, None] * R[None, :, j]
                    nl += L[:, j] * L[:, j]
                    nr += R[:, j] * R[:, j]
                scores = dots / (np.sqrt(nl)[:, None] * np.sqrt(nr)[None, :])
                mask = scores >= threshold
                if same:
                    # diagonal cell: upper triangle only
                    mask &= ids_l[:, None] < ids_r[None, :]
                # off-diagonal cells hold disjoint id sets: keep every match,
                # normalized to (min, max) — id order does not follow block order
                ai, bi = np.nonzero(mask)
                if not len(ai):
                    continue
                a = np.minimum(ids_l[ai], ids_r[bi])
                b = np.maximum(ids_l[ai], ids_r[bi])
                if forest:
                    parent: dict = {}

                    def find(x):
                        root = x
                        while parent[root] != root:
                            root = parent[root]
                        while parent[x] != root:
                            parent[x], x = root, parent[x]
                        return root

                    keep_a, keep_b = [], []
                    for x, y in zip(a.tolist(), b.tolist()):
                        if x not in parent:
                            parent[x] = x
                        if y not in parent:
                            parent[y] = y
                        rx, ry = find(x), find(y)
                        if rx != ry:
                            parent[max(rx, ry)] = min(rx, ry)
                            keep_a.append(x)
                            keep_b.append(y)
                    a = np.array(keep_a, dtype=np.int64)
                    b = np.array(keep_b, dtype=np.int64)
                yield pd.DataFrame({"a": a, "b": b})

    return cells


def cell_neardup_edges(
    cells_df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    n_blocks: int | str = 4,
    forest: bool = False,
    block_rows: int = 2500,
) -> DataFrame:
    """(a, b) pairs with cosine >= threshold WITHIN each cell, as a per-cell
    block-matrix product: vectors pack into (cell, blk) chunks, the grid
    self-joins on cell equality (blk_l <= blk_r upper triangle), and each
    grid row computes one numpy score matrix — the same Arrow kernel as
    neardup_pairs, restricted to within-cell pairs.

    Scale: the only shuffle is the (cell, blk) pack; a hot cell's quadratic
    work splits across n_blocks*(n_blocks+1)/2 independent grid rows, so one
    oversized k-means cell cannot serialize onto a single task. forest=True
    (what semdedup passes) additionally collapses each grid row's pairs to a
    local spanning forest — same connected components, O(vectors) instead of
    O(pairs) edges out of the kernel (see _block_pair_kernel).

    n_blocks="auto" sizes the grid from the DATA instead of trusting the
    caller: one slim count agg finds the largest cell and picks n_blocks so
    no packed (cell, blk) array row exceeds ~block_rows vectors — the guard
    against a skewed k-means cell turning one collect_list row into a
    hundreds-of-MB single-task blob (the same class of hazard minhash's
    pair path fixed this round). Costs one extra pass of the assignment
    kernel over the corpus (the count's input column is UDF-produced), so
    it is opt-in."""
    if n_blocks == "auto":
        mx = cells_df.groupBy(cell_col).count().agg(F.max("count")).collect()[0][0] or 0
        n_blocks = max(1, -(-int(mx) // block_rows))  # ceil
    packed = (
        cells_df.select(
            F.col(cell_col).alias("__cell"),
            F.pmod(F.col(id_col), F.lit(n_blocks)).alias("blk"),
            F.col(id_col).alias("vid"),
            # shuffle_vec keeps a float32 source at 4 B/dim through the pack
            # and grid shuffles (the kernel re-widens to float64 exactly)
            shuffle_vec(cells_df, vec_col).alias("vec"),
        )
        .groupBy("__cell", "blk")
        .agg(F.collect_list(F.struct("vid", "vec")).alias("items"))
    )
    grid = (
        packed.alias("l")
        .join(packed.alias("r"), ["__cell"])
        .filter(F.col("l.blk") <= F.col("r.blk"))
        .select(
            F.col("l.items").alias("items_l"),
            F.col("r.items").alias("items_r"),
            (F.col("l.blk") == F.col("r.blk")).alias("same"),
        )
    )
    return grid.mapInPandas(_block_pair_kernel(threshold, forest=forest), "a long, b long")


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.95,
    centroids=None,
    n_blocks: int | str = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    — cluster embeddings into k cells, compute pairwise cosine only WITHIN
    each cell, and keep one representative per group of semantically
    duplicate vectors. Beyond-reference (datatrove has no embedding ops);
    completes the dedup taxonomy's semantic tier above exact/minhash.

    Spark shape: one Arrow kernel pass assigns cells (coarse centroids = the
    n_centroids lowest-id vectors, the same deterministic stand-in for the
    offline k-means artifact as ivf_topk — swap trained centroids in via the
    `centroids` argument without touching the plan); the within-cell pairwise
    cosine runs as the block-matrix Arrow kernel (cell_neardup_edges): vectors
    pack once by (cell, blk) and each grid row computes a numpy score matrix —
    never an interpreted per-pair HOF fold. The clustering exists precisely
    to bound the quadratic pair work to (n/k)^2 per cell, which is the paper's
    own design (they run exhaustive cosine inside k-means clusters); at 10^9
    vectors the corpus shuffles once by cell and no cross-cell pair is ever
    materialized. Duplicate groups close transitively through the shared
    connected_components (edge-bounded driver union-find / distributed
    label propagation); keep = component min id, the deterministic variant
    of the paper's keep-one-per-group."""
    import numpy as np

    from datatrove_spark.operators.minhash import connected_components

    if centroids is None:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_centroids)
            .select(id_col, to_double_array(F.col(vec_col)).alias("__c"))
            .orderBy(id_col)
            .collect()
        )
        cents = np.array([r["__c"] for r in cent_rows], dtype=np.float64)
    else:
        cents = np.asarray(centroids, dtype=np.float64)
    cells = assign_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
    # forest=True: components are all semdedup consumes, so each grid row
    # ships a spanning forest (g-1 edges per g-member duplicate group, not
    # C(g,2)) — keeps the edge shuffle linear under viral duplication
    edges = cell_neardup_edges(
        cells, threshold, id_col=id_col, vec_col=vec_col, forest=True, n_blocks=n_blocks
    )
    comp = connected_components(edges)
    out = corpus.join(comp.withColumnRenamed("node", id_col), id_col, "left")
    return (
        out.withColumn("dup_of", F.when(F.col("rep") != F.col(id_col), F.col("rep")))
        .withColumn("semdedup_keep", F.col("dup_of").isNull())
        .drop("rep")
    )


def oracle_sql_semdedup(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.95,
    dim: int = 64,
) -> str:
    """Same semantics: lowest-n-id centroids, left-to-right float64 L2 fold,
    ties to the smaller centroid id, within-cell exact cosine, recursive
    min-reachable-id components."""
    l2 = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> (v[i]::DOUBLE - cv[i]::DOUBLE) * (v[i]::DOUBLE - cv[i]::DOUBLE)))"
    )
    cos = _sql_cos("l.v", "r.v")
    return f"""
WITH RECURSIVE cents AS (
  SELECT {id_col} AS cid, {vec_col} AS cv FROM {table} WHERE {id_col} < {n_centroids}
), assign AS (
  SELECT e.{id_col} AS id, e.v, cents.cid,
         row_number() OVER (PARTITION BY e.{id_col} ORDER BY {l2} ASC, cents.cid ASC) AS rnk
  FROM (SELECT {id_col}, {vec_col} AS v FROM {table}) e CROSS JOIN cents
), ccells AS (
  SELECT id, v, cid AS cell FROM assign WHERE rnk = 1
), prs AS (
  SELECT l.id AS a, r.id AS b
  FROM ccells l JOIN ccells r ON l.cell = r.cell AND l.id < r.id
  WHERE {cos} >= {threshold}
), edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT rc.x, e.y FROM reach rc JOIN edges e ON rc.y = e.x
),
rep AS (SELECT x AS node, least(min(y), x) AS rep FROM reach GROUP BY x)
SELECT t.{id_col},
  CASE WHEN rep.rep IS NOT NULL AND rep.rep != t.{id_col} THEN rep.rep END AS dup_of,
  (rep.rep IS NULL OR rep.rep = t.{id_col}) AS semdedup_keep
FROM {table} t LEFT JOIN rep ON t.{id_col} = rep.node
""".strip()


def neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold as a BLOCK-MATRIX product: vectors
    group into n_blocks chunks, the (upper-triangular) chunk-pair grid joins
    as n_blocks^2/2 rows, and each grid cell computes a numpy score matrix in
    one applyInPandas call. Float parity with the SQL oracle:
    dots accumulate dimension-by-dimension (64 outer-product adds), which
    reproduces the strict left-to-right float64 fold per element.

    Scale: work is (N/B)^2 per cell x B^2 cells, embarrassingly parallel;
    B grows with the corpus so each cell's matrices stay executor-sized.
    (For billion-vector corpora the LSH path — lsh_buckets candidates +
    this verifier — replaces the full grid.)"""
    packed = (
        df.select(
            F.pmod(F.col(id_col), F.lit(n_blocks)).alias("blk"),
            F.col(id_col).alias("vid"),
            # shuffle_vec keeps a float32 source at 4 B/dim through the pack
            # and grid shuffles (the kernel re-widens to float64 exactly)
            shuffle_vec(df, vec_col).alias("vec"),
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("vid", "vec")).alias("items"))
    )
    # the grid is n_blocks^2/2 ROWS (blocks packed first) — the shuffle moves
    # each block B times, never row-level pairs
    grid = (
        packed.alias("l")
        .join(packed.alias("r"), F.col("l.blk") <= F.col("r.blk"))
        .select(
            F.col("l.items").alias("items_l"),
            F.col("r.items").alias("items_r"),
            (F.col("l.blk") == F.col("r.blk")).alias("same"),
        )
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )
    return grid.mapInPandas(_block_pair_kernel(threshold), "a long, b long")


# --- DuckDB oracles ----------------------------------------------------------

_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> ({a})[i]::DOUBLE * ({b})[i]::DOUBLE))"
)


def _sql_cos(a: str, b: str) -> str:
    d = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"({d}) / (sqrt({na}) * sqrt({nb}))"


def oracle_sql_cosine_topk(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Queries = first n_queries vectors of the table (registry contract)."""
    cos = _sql_cos("q.qv", f"c.{vec_col}")
    return f"""
WITH q AS (
  SELECT {id_col} AS query_id, {vec_col} AS qv FROM {table} WHERE {id_col} < {n_queries}
), scored AS (
  SELECT q.query_id, c.{id_col},
         {cos} AS s,
         row_number() OVER (PARTITION BY q.query_id ORDER BY {cos} DESC, c.{id_col} ASC) AS rank
  FROM q CROSS JOIN {table} c
)
SELECT query_id, {id_col}, rank, round(s, 6) AS score FROM scored WHERE rank <= {k}
""".strip()


def sql_bucket_code(vec: str, table: int, n_planes: int, dim: int) -> str:
    terms = []
    for p in range(n_planes):
        coeffs = "[" + ", ".join(str(plane_coeff(table, p, j)) for j in range(dim)) + "]"
        d = f"list_sum(list_transform(range(1, {dim} + 1), i -> ({vec})[i]::DOUBLE * ({coeffs})[i]))"
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def _sql_planes_cte(n_tables: int, n_planes: int, dim: int) -> str:
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            coeffs = "[" + ", ".join(str(plane_coeff(t, p, j)) for j in range(dim)) + "]"
            rows.append(f"({t}, {p}, {coeffs}::DOUBLE[])")
    return "planes(table_id, p, cs) AS (SELECT * FROM (VALUES " + ", ".join(rows) + "))"


def oracle_sql_ann_topk(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
) -> str:
    dot_pc = f"list_sum(list_transform(range(1, {dim} + 1), i -> v[i]::DOUBLE * cs[i]))"
    cos = _sql_cos("q.qv", f"c.{vec_col}")
    return f"""
WITH {_sql_planes_cte(n_tables, n_planes, dim)},
codes AS (
  SELECT id, table_id,
         sum(CASE WHEN {dot_pc} > 0 THEN 1 << p ELSE 0 END)::BIGINT AS bucket
  FROM (SELECT {id_col} AS id, {vec_col} AS v FROM {table}) CROSS JOIN planes
  GROUP BY 1, 2
), qids AS (
  SELECT {id_col} AS qid FROM {table} WHERE {id_col} < {n_queries}
), cand AS (
  SELECT DISTINCT cq.id AS query_id, cc.id AS {id_col}
  FROM codes cq JOIN qids ON cq.id = qids.qid
  JOIN codes cc ON cq.table_id = cc.table_id AND cq.bucket = cc.bucket
), scored AS (
  SELECT cand.query_id, cand.{id_col},
         {cos} AS s,
         row_number() OVER (PARTITION BY cand.query_id ORDER BY {cos} DESC, cand.{id_col} ASC) AS rank
  FROM cand
  JOIN (SELECT {id_col} AS qid2, {vec_col} AS qv FROM {table}) q ON cand.query_id = q.qid2
  JOIN {table} c ON cand.{id_col} = c.{id_col}
)
SELECT query_id, {id_col}, rank, round(s, 6) AS score FROM scored WHERE rank <= {k}
""".strip()


def oracle_sql_ivf_topk(
    table: str = "embeddings",
    k: int = 5,
    n_queries: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    dim: int = 64,
) -> str:
    """Same semantics as ivf_topk: centroids = lowest-n_centroids ids;
    squared-L2 folds left-to-right per (vector, centroid); assignment ties
    break toward the smaller centroid id; exact cosine re-rank of probed
    cells only."""
    l2 = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> (v[i]::DOUBLE - cv[i]::DOUBLE) * (v[i]::DOUBLE - cv[i]::DOUBLE)))"
    )
    cos = _sql_cos("q.qv", f"c.{vec_col}")
    return f"""
WITH cents AS (
  SELECT {id_col} AS cid, {vec_col} AS cv FROM {table} WHERE {id_col} < {n_centroids}
), assign AS (
  SELECT e.{id_col} AS id, cents.cid,
         row_number() OVER (PARTITION BY e.{id_col} ORDER BY {l2} ASC, cents.cid ASC) AS rnk
  FROM (SELECT {id_col}, {vec_col} AS v FROM {table}) e CROSS JOIN cents
), ccells AS (
  SELECT id, cid AS cell FROM assign WHERE rnk = 1
), qcells AS (
  SELECT id AS query_id, cid AS cell FROM assign WHERE rnk <= {n_probe} AND id < {n_queries}
), cand AS (
  SELECT DISTINCT q.query_id, c.id AS {id_col}
  FROM qcells q JOIN ccells c ON q.cell = c.cell
), scored AS (
  SELECT cand.query_id, cand.{id_col},
         {cos} AS s,
         row_number() OVER (PARTITION BY cand.query_id ORDER BY {cos} DESC, cand.{id_col} ASC) AS rank
  FROM cand
  JOIN (SELECT {id_col} AS qid2, {vec_col} AS qv FROM {table}) q ON cand.query_id = q.qid2
  JOIN {table} c ON cand.{id_col} = c.{id_col}
)
SELECT query_id, {id_col}, rank, round(s, 6) AS score FROM scored WHERE rank <= {k}
""".strip()


def oracle_sql_neardup_pairs(
    table: str = "embeddings",
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = _sql_cos(f"l.{vec_col}", f"r.{vec_col}")
    return f"""
SELECT l.{id_col} AS a, r.{id_col} AS b
FROM {table} l JOIN {table} r ON l.{id_col} < r.{id_col}
WHERE {cos} >= {threshold}
""".strip()
