"""MinHash near-deduplication — LSH banding + connected components.

Reference: the 4-stage minhash pipeline (src/datatrove/pipeline/dedup/
minhash.py) — signatures over 5-gram shingles of simplified text with 14
buckets x 8 universal hashes mod Mersenne-61 (:26,49-58,145-201), sorted
signature files heap-merged per hash range to find equal-signature pairs
(:286-413), single-task union-find clustering (:444-485), then an
anti-membership filter (:510-556).

Spark collapses the sorted-file machinery into relational form:

  signatures  one narrow Arrow-batched numpy kernel (py_bucket_sigs):
              distinct shingle hashes, per (bucket b, perm k) minima folded
              into one 60-bit bucket signature; emitted exploded as
              (doc_id, bucket_id, sig). Docs with fewer than n_grams words
              have no shingles and emit no rows (the reference likewise
              cannot dedup an empty signature).
  pairs       min(id) OVER (PARTITION BY bucket_id, sig) -> (rep, id) star
              edges (a < b). ONE hash-partitioned shuffle of (16-byte key,
              id) rows replaces signature files + range-partitioned merges;
              the window buffer streams/spills per group, so hot signatures
              (viral boilerplate pages with millions of identical copies)
              never materialize as one collected array row, and every
              member gets an edge (no cap).
  cluster     iterative min-label propagation over the (tiny) pair edge set
              to a fixed point — the distributed replacement for the
              reference's single-task / 25 GB / 30 h union-find stage
              (examples/fineweb.py:146-151, the stated scalability cliff).
              Label tables live in Spark; each round is a broadcast-friendly
              join because |pairs| << |docs|.
  filter      cluster representative = component minimum -> keep iff
              doc_id == representative; everything else records dup_of.

Hashing is the engine's portable h60/perm family (functions/hashing.py) so
the DuckDB oracle reproduces signatures bit-for-bit; clustering's oracle is
a recursive CTE computing min-reachable-id (documented in
tests/test_registry_parity via the registry entry).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datatrove_spark.config import MinHashConfig
from datatrove_spark.functions.hashing import (
    MERSENNE_31,
    perm31_coeffs,
    py_hash60,
    sql_hash60,
    sql_perm31_hash,
)

NAME = "minhash"


_AB_CACHE: dict[int, "object"] = {}


def py_shingle_hashes(text: str, cfg: MinHashConfig = MinHashConfig()) -> list[int]:
    """Per-doc kernel: h60 of each distinct n-gram shingle, first-occurrence
    order — same values as the SQL oracle's shingle hashes. NULL/short
    text -> [] (the SQL oracle's NULL propagation)."""
    text = text or ""
    from datatrove_spark.reference_impl.filters import simplify_text

    ws = simplify_text(text).split()
    n = cfg.n_grams
    if len(ws) < n:
        return []
    shingles = dict.fromkeys(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))
    return [py_hash60(g) for g in shingles]


def py_bucket_sigs(text: str, cfg: MinHashConfig = MinHashConfig()) -> list[tuple[int, int]]:
    """Pure-Python/numpy per-doc kernel — identical values to the SQL
    oracle (shared h60/perm31 definitions). NULL text -> no shingles -> no
    signature rows (= the SQL oracle's NULL propagation). 31-bit universal
    hashes keep every product exact in int64 (the reference ships 32-bit
    hash configs too, tests/utils.py:9-31)."""
    import numpy as np

    hs_list = py_shingle_hashes(text, cfg)
    if not hs_list:
        return []
    hs = np.fromiter(hs_list, dtype=np.int64, count=len(hs_list))
    hm = hs % MERSENNE_31
    k = cfg.num_buckets * cfg.hashes_per_bucket
    ab = _AB_CACHE.get(k)
    if ab is None:  # coefficients depend only on k — share across docs
        ab = np.array([perm31_coeffs(i) for i in range(k)], dtype=np.int64)
        _AB_CACHE[k] = ab
    # (k, n_shingles) permuted matrix: values < 2^62, exact in int64
    mins = ((ab[:, :1] * hm[None, :] + ab[:, 1:]) % MERSENNE_31).min(axis=1)
    out = []
    for b in range(cfg.num_buckets):
        blk = mins[b * cfg.hashes_per_bucket : (b + 1) * cfg.hashes_per_bucket]
        out.append((b, py_hash60(",".join(str(int(m)) for m in blk))))
    return out


def signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", cfg: MinHashConfig = MinHashConfig()
) -> DataFrame:
    """(id, bucket_id, sig): one 60-bit signature per bucket per doc —
    Arrow-batched numpy kernel (the reference also vectorizes signature
    math with numpy, minhash.py:172-179). Shingle-less docs emit no rows."""
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    schema = ArrayType(
        StructType([StructField("bucket_id", IntegerType()), StructField("sig", LongType())])
    )

    @F.pandas_udf(schema)
    def bucket_sigs(texts: pd.Series) -> pd.Series:
        from datatrove_spark.operators.minhash import py_bucket_sigs

        return texts.map(lambda t: py_bucket_sigs(t, cfg))

    d = df.select(id_col, F.explode(bucket_sigs(F.col(text_col))).alias("bs"))
    return d.select(
        id_col, F.col("bs.bucket_id").alias("bucket_id"), F.col("bs.sig").alias("sig")
    )


def pairs_from_sigs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (a, b) with a < b sharing at least one bucket signature,
    from a precomputed (id, bucket_id, sig) table.

    Star edges via min-over-window — the same plan bloom_dedup uses: each
    (bucket_id, sig) group's representative is min(id) over the group, and
    every non-representative row emits exactly one (rep, id) edge. One
    shuffle keyed on the 12-byte band key; the window buffer is spillable
    row storage, so a viral-duplicate group (millions of identical
    boilerplate copies sharing one signature) streams through a task as
    ~20-byte rows instead of materializing as a single hundreds-of-MB
    collected array — and there is no membership cap, so every member gets
    its edge. (The previous rendering, groupBy + sort_array(collect_set) +
    slice(ids, 2, 1e6), built that single array row per group and silently
    dropped — i.e. failed to dedup — members beyond the first million.)
    Edge set is identical: adjacency-to-min is exactly the reference's
    stage-2 pairing rule (minhash.py:388-392)."""
    from pyspark.sql import Window

    w = Window.partitionBy("bucket_id", "sig")
    edges = (
        sigs.withColumn("a", F.min(id_col).over(w))
        .filter(F.col("a") < F.col(id_col))
        .select("a", F.col(id_col).alias("b"))
    )
    return edges.distinct()


def pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", cfg: MinHashConfig = MinHashConfig()
) -> DataFrame:
    """Distinct (a, b) with a < b sharing at least one bucket signature."""
    return pairs_from_sigs(signatures(df, id_col, text_col, cfg), id_col)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over the LSH candidate pairs: (a, b, jaccard,
    is_dup). Completes the dedup taxonomy — minhash banding *estimates*
    Jaccard; this verifies candidates with the true shingle-set
    intersection/union (array_intersect/array_union, JVM-native).

    Scale shape — ONE lazy plan, zero driver barriers: the candidate pairs
    (ids ONLY, never array payloads — bounded by the same ≤-edges design
    assumption dedup's union-find collect already makes) broadcast as
    (id, a, b, role) rows into a single corpus probe join, which both
    restricts the corpus AND tags each doc with its pair keys in one pass.
    The Arrow shingle kernel (the lambda-HOF form this module keeps as
    documentation runs interpreted, ~6x slower) runs on the restricted
    probe rows only, and the two roles of a pair meet in ONE (a, b)
    group-by that shuffles candidate-doc arrays only — bounded by the
    candidate set, never by the corpus. The previous rendering eagerly
    localCheckpoint-ed the candidate and shingle tables to share them
    across three consumers; the role reshaping leaves each table exactly
    one consumer, and dropping the two job barriers measured 2.2 s -> 1.4 s
    warm best-of-3 at sf0.1/local[32]. A doc appearing in p pairs shingles
    p times — the kernel is O(doc length), the same order as shipping that
    row's array through the (a, b) shuffle, which any rendering pays."""
    from pyspark.sql.types import ArrayType, LongType

    cand = pairs(df, id_col, text_col, cfg)
    # both roles in ONE pass over cand (a union of two selects would clone
    # the whole LSH pipeline into each branch — the signature kernel would
    # scan the corpus twice)
    role = F.explode(
        F.array(
            F.struct(F.col("a").alias("__id"), F.lit(True).alias("is_a")),
            F.struct(F.col("b").alias("__id"), F.lit(False).alias("is_a")),
        )
    )
    roles = cand.select("a", "b", role.alias("r")).select(
        F.col("r.__id").alias("__id"), "a", "b", F.col("r.is_a").alias("is_a")
    )

    @F.pandas_udf(ArrayType(LongType()))
    def shingles(texts: pd.Series) -> pd.Series:
        from datatrove_spark.operators.minhash import py_shingle_hashes

        return texts.map(lambda t: py_shingle_hashes(t, cfg))

    probe = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")).join(
        F.broadcast(roles), "__id"
    )
    # empty-shingle docs drop via a null projection, NOT a filter: a
    # size(sh) > 0 filter is pushable below the broadcast join, which would
    # drag the shingle kernel corpus-wide (and evaluate it twice)
    sh = shingles(F.col("__t"))
    scored = probe.select(
        "a", "b", "is_a", F.when(F.size(sh) > 0, sh).alias("sh")
    )
    both = (
        scored.groupBy("a", "b")
        .agg(
            F.first(F.when(F.col("is_a"), F.col("sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(~F.col("is_a"), F.col("sh")), ignorenulls=True).alias("sh_b"),
        )
        .filter(F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull())
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter.cast("double") / uni
    return both.select(
        "a", "b", F.round(jac, 6).alias("jaccard"), (jac >= threshold).alias("is_dup")
    )


def oracle_sql_jaccard_pairs(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
    threshold: float = 0.8,
) -> str:
    prs = oracle_sql_pairs(table, id_col, text_col, cfg)
    sh = _sql_shingle_hashes(text_col, cfg)
    return f"""
WITH prs AS ({prs}),
sh AS (
  SELECT {id_col} AS id, {sh} AS sh FROM {table}
)
SELECT p.a, p.b,
  round(len(list_intersect(x.sh, y.sh))::DOUBLE
        / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard,
  (len(list_intersect(x.sh, y.sh))::DOUBLE
        / len(list_distinct(list_concat(x.sh, y.sh))) >= {threshold}) AS is_dup
FROM prs p JOIN sh x ON p.a = x.id JOIN sh y ON p.b = y.id
WHERE len(x.sh) > 0 AND len(y.sh) > 0
""".strip()


def connected_components(
    edges: DataFrame, max_iter: int = 20, driver_threshold: int = 5_000_000
) -> DataFrame:
    """(node, rep): min reachable id per component.

    Two physical strategies behind one contract (identical output):
    - |edges| <= driver_threshold: collect to the driver and run union-find
      with path compression. Dup-pair edge sets are tiny relative to the
      corpus (only colliding docs appear), so this is the common case; it
      replaces ~20 iterative Spark jobs with one collect. This is the
      reference's single-task union-find (minhash.py:444-485) done right:
      only EDGES centralize, never documents.
    - larger: distributed min-label propagation WITH pointer jumping
      (rep <- rep's rep each round, path-halving style) to a fixed point,
      so rounds scale with log(component diameter) instead of diameter;
      localCheckpoint keeps the lineage short. The 25 GB/30 h cliff case
      (examples/fineweb.py:146-151) lands here with bounded memory. If the
      fixed point is not reached within max_iter rounds the function RAISES
      rather than silently returning split components (under-dedup).
    """
    # edges is the output of a non-trivial plan (UDF fingerprints + band
    # self-join); it is consumed twice below (count + iterate/propagate), so
    # persist it — otherwise the whole upstream recomputes per action.
    #
    # Deliberately count()-then-collect(), NOT limit(threshold+1).collect():
    # the fused form looks like it saves a pass, but CollectLimitExec ramps
    # partitions sequentially (1, then scaleUpFactor x more per job) when the
    # limit can't be filled early — which serializes the expensive upstream
    # on a near-idle cluster. Measured at sf0.1/local[32]: ~3.7 s fused vs
    # ~2.2 s count-first (count computes all partitions in one fully-parallel
    # job; the collect then reads the cache).
    edges = edges.persist()
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        # one collect job, not toLocalIterator: the iterator fetches the
        # ~2*shuffle.partitions edge partitions as sequential mini-jobs,
        # paying scheduler latency per partition; at <= driver_threshold
        # edges (5M rows * 16 B = 80 MB) a single collect is strictly better
        for a, b in edges.select("a", "b").collect():
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by smaller id -> representative is the component min
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(n, find(n)) for n in parent]
        spark = edges.sparkSession
        edges.unpersist()
        # Ship the labels back as an Arrow-backed LocalRelation (pandas path),
        # NOT createDataFrame(list-of-tuples): the tuple form parallelizes
        # PICKLED rows into a PythonRDD whose evaluation needs a python worker
        # per task — in a long session with many queued UDF stages those 32
        # tasks were observed blocked ~16 s each (0.14 s CPU) waiting on
        # workers, turning the trivial final join into the suite's slowest
        # step. The pandas form plans as LocalTableScan: pure JVM, carries
        # size stats, and lets the downstream corpus join broadcast.
        if not rows:  # empty pandas frames fall back to the RDD path too
            return spark.range(0).selectExpr("id AS node", "id AS rep")
        return spark.createDataFrame(pd.DataFrame(rows, columns=["node", "rep"], dtype="int64"))
    sym = edges.selectExpr("a AS x", "b AS y").union(edges.selectExpr("b AS x", "a AS y"))
    labels = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("rep", F.col("node"))
    )
    changed = -1
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.y == labels.node)
            .groupBy("x")
            .agg(F.min("rep").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.x, "left")
            .select(
                "node",
                F.least(F.col("rep"), F.coalesce(F.col("nmin"), F.col("rep"))).alias("rep"),
            )
        )
        # pointer jump (path halving): rep <- label(rep). Labels then travel
        # along rep chains as well as graph edges, so a component of
        # diameter d converges in O(log d) rounds — plain neighbor-min alone
        # needs d rounds and would silently split long chains at max_iter.
        jump = new_labels.selectExpr("node AS __r", "rep AS __rep2")
        new_labels = (
            new_labels.join(jump, new_labels.rep == F.col("__r"), "left")
            .select(
                "node",
                F.least(F.col("rep"), F.coalesce(F.col("__rep2"), F.col("rep"))).alias("rep"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.rep") != F.col("o.rep"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # labels is localCheckpointed eagerly each round, so the cached edges are
    # no longer needed (the driver-side branch unpersists on its own path)
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — returning here would "
            "silently under-deduplicate (split components)."
        )
    return labels


def apply(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", cfg: MinHashConfig = MinHashConfig()
) -> DataFrame:
    """Adds minhash_keep + dup_of (component representative)."""
    comp = connected_components(pairs(df, id_col, text_col, cfg))
    out = df.join(comp.withColumnRenamed("node", id_col), id_col, "left")
    return (
        out.withColumn("dup_of", F.when(F.col("rep") != F.col(id_col), F.col("rep")))
        .withColumn(f"{NAME}_keep", F.col("dup_of").isNull())
        .drop("rep")
    )


def build_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", cfg: MinHashConfig = MinHashConfig()
) -> DataFrame:
    """Distinct (bucket_id, sig) of a corpus — the write side of the
    reference's `create_index_name` (minhash.py:261,374-381,402-409): its
    .minhash.index files store bare signatures with NO doc id
    (minhash.py:100,117), so membership is the only question an index can
    answer. One hash-partitioned distinct on the 12-byte band key; at 100 TB
    write it as parquet bucketed by (bucket_id, sig) so every later dump
    dedups against it with a co-located join."""
    return signatures(df, id_col, text_col, cfg).select("bucket_id", "sig").distinct()


def apply_with_index(
    df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
    only_dedup_in_index: bool = True,
) -> DataFrame:
    """Dedup a NEW corpus against a PRIOR corpus' signature index — the
    reference's `index_folder` / `only_dedup_in_index` mode
    (minhash.py:258-283,385-397), i.e. the cross-dump workflow: dedup each
    new crawl against everything already kept.

    Reference semantics reproduced exactly:
    - index entries sort FIRST within an equal-signature run (HashSig is an
      order=True dataclass and index rows carry file_id=-1, minhash.py:60-75,
      115-119), and stage 2 only emits the (last=index, v) ADJACENCY
      (minhash.py:388-392) — so with only_dedup_in_index=True exactly the
      first corpus doc (min id) of each index-matched (bucket, sig) group is
      removed; later docs of the same group survive. dup_of stays NULL: the
      parent is the reference's SENTINEL, a document outside this corpus.
    - only_dedup_in_index=False additionally writes corpus-corpus pairs
      (minhash.py:393-397); in stage-3 union-find every cluster containing an
      index match roots at SENTINEL and is removed whole (minhash.py:461-477).
      Relationally: a connected component is contaminated iff any member
      shares any banded signature with the index; contaminated components
      drop entirely (index_match marks the direct sharers), clean components
      keep their min-id representative as in plain `apply`.

    Scale shape: the index is corpus-sized (billions of (bucket, sig) rows at
    100 TB), so the membership semi join on the 12-byte band key is left to
    AQE — never F.broadcast-forced; a small index broadcasts, a corpus-sized
    one hash-partition-joins (and bucketed-parquet indexes co-locate it
    entirely, see build_index). In full mode the signature table is
    persisted so the Arrow kernel scans the corpus text once across the edge
    job and the final labeling (the reference materializes the same thing as
    its stage-1 .minhash.sig files). The persist is intentionally left to
    the session: the returned DataFrame is lazy, so there is no safe point
    inside this function to unpersist — callers that loop over dumps in one
    long-lived session (examples/cross_dump_dedup.py) should
    spark.catalog.clearCache() between iterations."""
    sigs = signatures(df, id_col, text_col, cfg)
    idx = index.select("bucket_id", "sig")
    if only_dedup_in_index:
        hits = (
            sigs.join(idx, ["bucket_id", "sig"], "leftsemi")
            .groupBy("bucket_id", "sig")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
            .distinct()
            .withColumn("__hit", F.lit(True))
        )
        out = df.join(hits, id_col, "left")
        return (
            out.withColumn("index_match", F.coalesce(F.col("__hit"), F.lit(False)))
            .withColumn(f"{NAME}_keep", ~F.col("index_match"))
            .drop("__hit")
        )
    from pyspark.sql import Window

    sigs = sigs.persist()
    comp = connected_components(pairs_from_sigs(sigs, id_col))
    direct = (
        sigs.join(idx, ["bucket_id", "sig"], "leftsemi")
        .select(id_col)
        .distinct()
        .withColumn("__direct", F.lit(True))
    )
    # one status table, direct consumed ONCE (a second consumer would clone
    # the index-signature kernel — a full prior-dump text scan — into the
    # plan twice): cluster labels full-outer-join the direct hits, and a
    # max-over-component window marks contamination; singleton direct hits
    # (no edges) become their own one-row component via coalesce(rep, id).
    nodes = comp.withColumnRenamed("node", id_col).join(direct, id_col, "full_outer")
    w = Window.partitionBy(F.coalesce(F.col("rep"), F.col(id_col)))
    status = nodes.select(
        id_col, "rep", F.coalesce(F.col("__direct"), F.lit(False)).alias("__direct")
    ).withColumn("__bad", F.max("__direct").over(w))
    out = df.join(status, id_col, "left")
    contaminated = F.coalesce(F.col("__bad"), F.lit(False))
    return (
        out.withColumn("index_match", F.coalesce(F.col("__direct"), F.lit(False)))
        .withColumn(
            "dup_of",
            F.when(~contaminated & F.col("rep").isNotNull() & (F.col("rep") != F.col(id_col)), F.col("rep")),
        )
        .withColumn(
            f"{NAME}_keep",
            ~contaminated & (F.col("rep").isNull() | (F.col("rep") == F.col(id_col))),
        )
        .drop("rep", "__bad", "__direct")
    )


# --- DuckDB oracles ----------------------------------------------------------

_SIMPLIFY = (
    "trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g'), '[0-9]+', '0', 'g'))"
)


def _sql_shingle_hashes(text_col: str, cfg: MinHashConfig) -> str:
    simp = _SIMPLIFY.format(t=text_col)
    ws = f"regexp_extract_all({simp}, '\\S+')"
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len({ws}) - {cfg.n_grams} + 1, 0) + 1), "
        f"i -> array_to_string(({ws})[i:i+{cfg.n_grams}-1], ' ')))"
    )
    return f"list_transform({shingles}, s -> {sql_hash60('s')})"


def _sql_hashed_cte(table: str, id_col: str, text_col: str, cfg: MinHashConfig) -> str:
    """CTE body: (id, hs) shingle-hash arrays of non-empty docs."""
    return (
        f"SELECT {id_col} AS id, {_sql_shingle_hashes(text_col, cfg)} AS hs FROM {table}\n"
        f"  WHERE len({_sql_shingle_hashes(text_col, cfg)}) > 0"
    )


def _sql_sigs_union(hashed_name: str, id_col: str, cfg: MinHashConfig) -> str:
    """Banded signatures from a hashed CTE — flat SQL with no nested WITH, so
    callers can embed it inside WITH RECURSIVE chains (DuckDB rejects a
    nested WITH inside a recursive CTE body)."""
    bucket_rows = []
    for b in range(cfg.num_buckets):
        minima = " || ',' || ".join(
            f"(list_min(list_transform(hs, h -> {sql_perm31_hash('h', b * cfg.hashes_per_bucket + i)})))::VARCHAR"
            for i in range(cfg.hashes_per_bucket)
        )
        bucket_rows.append(
            f"SELECT id AS {id_col}, {b} AS bucket_id, {sql_hash60(f'({minima})')} AS sig FROM {hashed_name}"
        )
    return "\nUNION ALL\n".join(bucket_rows)


def oracle_sql_signatures(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
) -> str:
    return f"""
WITH hashed AS (
  {_sql_hashed_cte(table, id_col, text_col, cfg)}
)
{_sql_sigs_union('hashed', id_col, cfg)}
""".strip()


def oracle_sql_pairs(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
) -> str:
    sigs = oracle_sql_signatures(table, id_col, text_col, cfg)
    return f"""
WITH sigs AS ({sigs})
SELECT DISTINCT min({id_col}) OVER (PARTITION BY bucket_id, sig) AS a, {id_col} AS b
FROM sigs
QUALIFY a < b
""".strip()


def oracle_sql_index(
    index_table: str, id_col: str = "doc_id", text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
) -> str:
    sigs = oracle_sql_signatures(index_table, id_col, text_col, cfg)
    return f"SELECT DISTINCT bucket_id, sig FROM ({sigs})"


def oracle_sql_index_dedup(
    corpus_table: str, index_table: str, id_col: str = "doc_id", text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
) -> str:
    """only_dedup_in_index=True: the min-id corpus doc of each index-matched
    (bucket, sig) group is removed — the reference's index-adjacency rule."""
    csigs = oracle_sql_signatures(corpus_table, id_col, text_col, cfg)
    isigs = oracle_sql_signatures(index_table, id_col, text_col, cfg)
    return f"""
WITH csigs AS ({csigs}),
isigs AS (SELECT DISTINCT bucket_id, sig FROM ({isigs})),
hits AS (
  SELECT DISTINCT fid FROM (
    SELECT min(c.{id_col}) AS fid
    FROM csigs c JOIN isigs i USING (bucket_id, sig)
    GROUP BY c.bucket_id, c.sig
  )
)
SELECT t.{id_col},
  (h.fid IS NOT NULL) AS index_match,
  (h.fid IS NULL) AS {NAME}_keep
FROM {corpus_table} t LEFT JOIN hits h ON t.{id_col} = h.fid
""".strip()


def oracle_sql_index_dedup_full(
    corpus_table: str, index_table: str, id_col: str = "doc_id", text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
) -> str:
    """only_dedup_in_index=False: contaminated components (any member shares
    any banded signature with the index) drop whole; clean components keep
    the min-id representative."""
    return f"""
WITH RECURSIVE
chashed AS ({_sql_hashed_cte(corpus_table, id_col, text_col, cfg)}),
ihashed AS ({_sql_hashed_cte(index_table, id_col, text_col, cfg)}),
csigs AS ({_sql_sigs_union('chashed', id_col, cfg)}),
isigs AS (SELECT DISTINCT bucket_id, sig FROM ({_sql_sigs_union('ihashed', id_col, cfg)})),
direct AS (SELECT DISTINCT c.{id_col} AS did FROM csigs c JOIN isigs i USING (bucket_id, sig)),
prs AS (
  SELECT DISTINCT min({id_col}) OVER (PARTITION BY bucket_id, sig) AS a, {id_col} AS b
  FROM csigs QUALIFY a < b
),
edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
rep AS (SELECT x AS node, least(min(y), x) AS rep FROM reach GROUP BY x),
bad AS (SELECT DISTINCT r.rep FROM rep r JOIN direct d ON r.node = d.did)
SELECT t.{id_col},
  (d.did IS NOT NULL) AS index_match,
  CASE WHEN b.rep IS NULL AND d.did IS NULL AND rp.rep IS NOT NULL AND rp.rep <> t.{id_col}
       THEN rp.rep END AS dup_of,
  (b.rep IS NULL AND d.did IS NULL AND (rp.rep IS NULL OR rp.rep = t.{id_col})) AS {NAME}_keep
FROM {corpus_table} t
LEFT JOIN rep rp ON t.{id_col} = rp.node
LEFT JOIN bad b ON rp.rep = b.rep
LEFT JOIN direct d ON t.{id_col} = d.did
""".strip()


def oracle_sql_dedup(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    cfg: MinHashConfig = MinHashConfig(),
) -> str:
    """Recursive min-reachable-id clustering over the pair edges."""
    prs = oracle_sql_pairs(table, id_col, text_col, cfg)
    return f"""
WITH RECURSIVE prs AS ({prs}),
edges AS (SELECT a AS x, b AS y FROM prs UNION SELECT b, a FROM prs),
reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
rep AS (
  SELECT x AS node, least(min(y), x) AS rep FROM reach GROUP BY x
)
SELECT t.{id_col},
  CASE WHEN rep.rep IS NOT NULL AND rep.rep != t.{id_col} THEN rep.rep END AS dup_of,
  (rep.rep IS NULL OR rep.rep = t.{id_col}) AS {NAME}_keep
FROM {table} t LEFT JOIN rep ON t.{id_col} = rep.node
""".strip()
