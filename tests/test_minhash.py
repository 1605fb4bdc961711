"""MinHash dedup: similarity sanity, clustering transitivity, Spark vs
DuckDB-recursive-oracle parity on a crafted near-dup corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datatrove_spark.operators import minhash

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain falls softly "
    "on the quiet village and the people walk slowly to the old market square "
    "carrying baskets of bread and fruit for the long day ahead of them all"
)

DOCS = [
    (0, BASE),
    (1, BASE + " with one tiny extra clause added at the end"),          # near-dup of 0
    (2, BASE.replace("quick", "swift").replace("lazy", "sleepy")),        # near-dup of 0
    (3, "completely different text about spark query engines and the joy of distributed joins "
        "across many machines in a large cluster running day and night without pause or rest"),
    (4, "short doc"),                                                     # no shingles
    (5, BASE),                                                            # exact dup of 0
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_signatures_shape_and_determinism(spark, corpus):
    sigs = minhash.signatures(corpus)
    rows = sigs.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.bucket_id] = r.sig
    assert 4 not in by_doc  # too short -> no signature
    assert all(len(v) == 14 for v in by_doc.values())
    assert by_doc[0] == by_doc[5]  # identical text -> identical sigs


def test_pairs_find_near_dups(spark, corpus):
    ps = {(r.a, r.b) for r in minhash.pairs(corpus).collect()}
    assert (0, 5) in ps  # exact dup always collides
    assert (0, 1) in ps or (1, 5) in ps  # near-dup shares >=1 bucket
    assert all(a < b for a, b in ps)
    assert not any(3 in p or 4 in p for p in ps)


def test_apply_keeps_component_min(spark, corpus):
    out = {r.doc_id: (r.minhash_keep, r.dup_of) for r in minhash.apply(corpus).collect()}
    assert out[0] == (True, None)
    assert out[5] == (False, 0)
    assert out[3] == (True, None)
    assert out[4] == (True, None)
    # docs 1/2 cluster with 0 if they collided; either way dup_of is 0 or kept
    for d in (1, 2):
        keep, dup = out[d]
        assert keep == (dup is None)
        if dup is not None:
            assert dup == 0


def test_pairs_viral_group_no_cap_no_array_row(spark):
    """A viral-duplicate group larger than the OLD implementation's silent
    1,000,000-member slice cap must yield an edge for EVERY member — the
    former groupBy+collect_set+slice(ids, 2, 1e6) plan materialized each
    group as one array row and left members beyond the cap with no edge
    (silently NOT deduplicated). 1.2M ids sharing one (bucket_id, sig) ->
    exactly 1.2M - 1 star edges, all rooted at min(id), covering max(id)."""
    n = 1_200_000
    sigs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("bucket_id"), F.lit(12345).alias("sig")
    )
    edges = minhash.pairs_from_sigs(sigs)
    agg = edges.agg(
        F.count("*").alias("n"),
        F.min("a").alias("min_a"),
        F.max("a").alias("max_a"),
        F.countDistinct("b").alias("nb"),
        F.max("b").alias("max_b"),
    ).collect()[0]
    assert agg.n == n - 1
    assert agg.min_a == 0 and agg.max_a == 0  # every edge roots at the group min
    assert agg.nb == n - 1 and agg.max_b == n - 1  # the last member HAS an edge


def test_connected_components_transitive(spark):
    # chain 3-7, 5-7: component {3,5,7} -> rep 3 for all
    edges = spark.createDataFrame([(3, 7), (5, 7)], "a long, b long")
    comp = {r.node: r.rep for r in minhash.connected_components(edges).collect()}
    assert comp == {3: 3, 5: 3, 7: 3}


def test_connected_components_distributed_branch_matches_driver(spark):
    """driver_threshold=0 forces the label-propagation path (the 100 TB
    branch, normally unreachable at test scale). Both strategies must yield
    identical components on a graph that needs multiple propagation rounds:
    a long chain (min label travels the full length), a star, an isolated
    edge, and reversed/duplicate edge listings."""
    raw = [(9, 8), (8, 7), (7, 6), (6, 5), (5, 1), (20, 21), (22, 21), (23, 21), (40, 41), (41, 40)]
    edges = spark.createDataFrame(raw, "a long, b long")
    expect = {r.node: r.rep for r in minhash.connected_components(edges).collect()}
    dist = {
        r.node: r.rep
        for r in minhash.connected_components(edges, driver_threshold=0).collect()
    }
    assert dist == expect
    assert dist[9] == 1 and dist[1] == 1  # min label crossed the whole chain
    assert dist[20] == dist[23] == 20
    assert dist[40] == dist[41] == 40


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 60-node path has graph diameter 59: plain neighbor-min propagation
    advances one hop per round and would need 59 rounds; pointer jumping
    (rep <- label(rep)) roughly doubles label reach per round, so max_iter=10
    must suffice — this is the 'dup cluster with diameter > max_iter' case
    that previously returned silently split components."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(59)], "a long, b long")
    comp = {
        r.node: r.rep
        for r in minhash.connected_components(edges, max_iter=10, driver_threshold=0).collect()
    }
    assert len(comp) == 60 and set(comp.values()) == {0}


def test_connected_components_raises_on_non_convergence(spark):
    """Convergence not reached within max_iter must RAISE, not silently
    return split components (under-dedup)."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        minhash.connected_components(edges, max_iter=1, driver_threshold=0)


def test_oracle_parity_on_crafted(spark, corpus, tmp_path):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in DOCS:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])

    s_sigs = sorted(tuple(r) for r in minhash.signatures(corpus).collect())
    d_sigs = sorted(tuple(r) for r in con.execute(minhash.oracle_sql_signatures()).fetchall())
    assert s_sigs == d_sigs

    s_pairs = sorted(tuple(r) for r in minhash.pairs(corpus).collect())
    d_pairs = sorted(tuple(r) for r in con.execute(minhash.oracle_sql_pairs()).fetchall())
    assert s_pairs == d_pairs

    s_dedup = sorted(
        tuple(r) for r in minhash.apply(corpus).select("doc_id", "dup_of", "minhash_keep").collect()
    )
    d_dedup = sorted(tuple(r) for r in con.execute(minhash.oracle_sql_dedup()).fetchall())
    assert s_dedup == d_dedup


def test_jaccard_pairs_exact_verification(spark, corpus):
    """Exact n-gram Jaccard over the LSH candidates: near-identical docs
    score close to 1 and are flagged; jaccard is a true set ratio."""
    out = minhash.jaccard_pairs(corpus, threshold=0.5).collect()
    assert out, "candidate pairs expected on the crafted corpus"
    for r in out:
        assert 0.0 < r.jaccard <= 1.0
        assert r.is_dup == (r.jaccard >= 0.5)
    # the corpus's exact-duplicate pair must be jaccard 1.0
    assert any(r.jaccard == 1.0 for r in out)


# --- cross-dump index dedup (reference index_folder/only_dedup_in_index) -----

OTHER = (
    "completely different text about spark query engines and the joy of "
    "distributed joins across many machines in a large cluster running day "
    "and night without pause or rest while the planner folds constants"
)


@pytest.fixture(scope="module")
def prior_index(spark):
    import pandas as pd

    # pandas-backed so plan-shape tests see LocalTableScan, not ExistingRDD
    prior = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [BASE]}).astype({"doc_id": "int64"})
    )
    return minhash.build_index(prior)


def test_build_index_is_distinct_bare_sigs(spark):
    prior = spark.createDataFrame([(0, BASE), (1, BASE)], "doc_id long, text string")
    idx = minhash.build_index(prior).collect()
    assert len(idx) == 14  # two identical docs -> one sig row per bucket
    assert set(idx[0].asDict()) == {"bucket_id", "sig"}  # no doc ids in an index


def test_index_true_mode_removes_only_first_doc_of_matched_group(spark, prior_index):
    """The reference's stage-2 adjacency rule: index entries sort first in an
    equal-sig run and only (index, v) ADJACENCIES emit — so of two corpus
    docs identical to an indexed doc, only the min-id one is removed."""
    corpus = spark.createDataFrame(
        [(10, BASE), (11, BASE), (13, OTHER)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in minhash.apply_with_index(
        corpus, prior_index, only_dedup_in_index=True).collect()}
    assert out[10].index_match and not out[10].minhash_keep
    assert not out[11].index_match and out[11].minhash_keep  # survives: not adjacent to index
    assert not out[13].index_match and out[13].minhash_keep


def test_index_full_mode_drops_contaminated_component_whole(spark, prior_index):
    """only_dedup_in_index=False: the union-find cluster containing an index
    match roots at SENTINEL and is removed whole; clean clusters keep their
    min-id representative."""
    corpus = spark.createDataFrame(
        [
            (10, BASE),                                      # direct index hit
            (11, BASE),                                      # clusters with 10
            (12, BASE + " with one tiny extra clause"),      # near-dup, same cluster
            (13, "a genuinely unrelated recipe for bread with flour water salt "
                 "and yeast kneaded slowly then baked in a very hot stone oven "
                 "until the crust turns golden and the kitchen smells of morning"),
            (14, OTHER + " plus a small trailing remark"),   # clean near-dup pair
            (15, OTHER + " plus a small trailing remark"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in minhash.apply_with_index(
        corpus, prior_index, only_dedup_in_index=False).collect()}
    # contaminated component drops whole, regardless of direct/transitive
    assert out[10].index_match and not out[10].minhash_keep and out[10].dup_of is None
    assert not out[11].minhash_keep and out[11].dup_of is None
    assert not out[12].minhash_keep and out[12].dup_of is None
    # clean pair: min-id representative kept, partner records dup_of
    assert out[14].minhash_keep and out[14].dup_of is None and not out[14].index_match
    assert not out[15].minhash_keep and out[15].dup_of == 14
    # clean singleton untouched
    assert out[13].minhash_keep and out[13].dup_of is None


def test_index_no_matches_keeps_everything(spark):
    prior = spark.createDataFrame([(0, OTHER)], "doc_id long, text string")
    corpus = spark.createDataFrame([(10, BASE), (11, BASE)], "doc_id long, text string")
    idx = minhash.build_index(prior)
    t = minhash.apply_with_index(corpus, idx, only_dedup_in_index=True)
    assert all(r.minhash_keep and not r.index_match for r in t.collect())
    f = minhash.apply_with_index(corpus, idx, only_dedup_in_index=False)
    out = {r.doc_id: r for r in f.collect()}
    assert out[10].minhash_keep and not out[10].index_match
    assert not out[11].minhash_keep and out[11].dup_of == 10  # plain self-dedup still applies


def test_index_plan_shape(spark, prior_index):
    """True mode: exactly one corpus signature kernel + one index kernel, no
    sort-merge join (the membership join is adaptive). Full mode: the corpus
    signature table is read from cache (InMemoryTableScan) in the final plan
    — the Arrow kernel scans corpus text once across the edge job and the
    labeling — and component labels arrive as a LocalTableScan, never a
    pickled RDD."""
    import contextlib
    import io

    import pandas as pd

    # pandas-backed (LocalTableScan with stats) — a list-of-tuples corpus
    # plans as a stats-free Scan ExistingRDD and forces sort-merge joins in
    # the TEST itself (the createDataFrame trap documented in BENCH.md)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [10, 11, 13], "text": [BASE, BASE + " and an extra tail", OTHER]}
        ).astype({"doc_id": "int64"})
    )

    def tree(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue().split("\n\n")[0]

    # NOTE: the membership semi join's strategy is deliberately NOT pinned —
    # it is adaptive (broadcast for a small index, sort-merge for a
    # corpus-sized one; both are correct).
    t = tree(minhash.apply_with_index(corpus, prior_index, only_dedup_in_index=True))
    assert t.count("ArrowEvalPython") == 2, t
    assert "Scan ExistingRDD" not in t, t

    f = tree(minhash.apply_with_index(corpus, prior_index, only_dedup_in_index=False))
    assert "InMemoryTableScan" in f, f
    assert "LocalTableScan" in f, f
    assert "Scan ExistingRDD" not in f, f
