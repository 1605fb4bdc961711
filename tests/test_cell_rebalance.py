"""Cluster-balanced temperature resampling: rate math over k-means cells,
trained-codebook label mapping, determinism, plan shape.

Registry parity (cell_rebalance, tests via scripts/check_correctness.py)
already proves the (cell, thr, keep) columns match the DuckDB oracle
bit-for-bit; these pin the semantics the hash comparison can't express."""

from __future__ import annotations

import contextlib
import io
import math

import numpy as np
from pyspark.sql import functions as F

from datatrove_spark.operators import cell_rebalance, lang_rebalance
from datatrove_spark.operators.similarity import assign_cells
from tests.conftest import SF_SMALL


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


def test_rates_flatten_toward_small_cells(spark):
    """The temperature rule over cells: a big boilerplate-like cell keeps at
    a LOWER rate than a small topical cell (rate = min(1, B/(S*sqrt(n))) is
    decreasing in n), and expected kept totals respect the budget."""
    out = cell_rebalance.apply(_emb(spark))
    rows = out.groupBy("cell", "cell_rebalance_thr").count().collect()
    by_n = sorted((r["count"], r["cell_rebalance_thr"]) for r in rows)
    for (n1, t1), (n2, t2) in zip(by_n, by_n[1:]):
        if n1 < n2:
            assert t1 >= t2, (n1, t1, n2, t2)
    n_total = sum(n for n, _ in by_n)
    expected_total = sum(n * t / lang_rebalance.SAMPLE_M for n, t in by_n)
    assert expected_total <= 0.5 * n_total + 1e-6


def test_keep_is_partition_independent(spark):
    emb = _emb(spark)
    a = {r.vec_id: r.cell_rebalance_keep for r in cell_rebalance.apply(emb).collect()}
    b = {
        r.vec_id: r.cell_rebalance_keep
        for r in cell_rebalance.apply(emb.repartition(17)).collect()
    }
    assert a == b
    assert any(a.values()) and not all(a.values())


def test_realized_counts_near_expected(spark):
    emb = _emb(spark)
    out = cell_rebalance.apply(emb)
    per_cell = {
        (r.cell): (r["count"], r.thr, r.kept)
        for r in out.groupBy("cell")
        .agg(
            F.count("*").alias("count"),
            F.first("cell_rebalance_thr").alias("thr"),
            F.sum(F.col("cell_rebalance_keep").cast("int")).alias("kept"),
        )
        .collect()
    }
    for cell, (n, thr, kept) in per_cell.items():
        exp = thr / lang_rebalance.SAMPLE_M * n
        assert abs(kept - exp) <= 4 * math.sqrt(max(exp, 1)) + 2, (cell, exp, kept)


def test_trained_codebook_labels_are_centroid_ids(spark):
    """A trained codebook with SPARSE centroid ids must label cells by the
    centroid's own id (not the kernel's row index), and the partition into
    cells must be identical to the default lowest-id assignment when the
    codebook holds the same vectors."""
    emb = _emb(spark)
    cent_rows = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("c"))
        .orderBy("vec_id")
        .collect()
    )
    cents = np.array([r["c"] for r in cent_rows], dtype=np.float64)
    sparse_ids = [1000 + 7 * i for i in range(len(cents))]
    out = cell_rebalance.apply(
        emb, n_centroids=8, centroids=cents, centroid_ids=sparse_ids
    )
    labels = {r.vec_id: r.cell for r in out.collect()}
    assert set(labels.values()) <= set(sparse_ids)
    # the broadcast-join path carries the idx->id relabeling in the rates
    # table instead of a plan literal — rows must be identical, also when
    # the codebook repeats a centroid id (both paths count per id)
    dup_ids = [1000 + 7 * (i // 2) for i in range(len(cents))]

    def rows(ids, max_literal_cells):
        out = cell_rebalance.apply(
            emb, n_centroids=8, centroids=cents, centroid_ids=ids,
            max_literal_cells=max_literal_cells,
        )
        return {tuple(r) for r in out.collect()}

    for ids in (sparse_ids, dup_ids):
        assert rows(ids, len(ids)) == rows(ids, 0), ids
    default = {
        r.vec_id: r.cell for r in assign_cells(emb, cents).collect()
    }  # row-index labels
    remap = dict(enumerate(sparse_ids))
    assert labels == {vid: remap[c] for vid, c in default.items()}


def test_many_cells_does_not_overflow_analyzer(spark):
    """Regression for the 200x scale-ladder failure: the per-cell threshold
    used to be a chained when().otherwise() whose expression depth equals
    the cell count — Catalyst's recursive tree transforms overflowed the JVM
    stack at ~400 cells. The flat literal map must handle hundreds of cells
    (still under MAX_LITERAL_CELLS -> literal path) with every row labeled."""
    import pandas as pd

    n, k, dim = 1500, 600, 4
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(rng.normal(size=(n, dim)).astype(float)),
        }
    )
    emb = spark.createDataFrame(pdf)
    out = cell_rebalance.apply(emb, n_centroids=k).collect()
    assert len(out) == n
    assert all(r.cell_rebalance_thr is not None for r in out)


def test_broadcast_join_path_matches_literal(spark):
    """Above MAX_LITERAL_CELLS thresholds ride a broadcast-joined table; the
    kept set, thresholds, and labels must be identical to the literal path,
    and the corpus side must not shuffle (no hash-partitioning Exchange)."""
    emb = _emb(spark)
    lit = cell_rebalance.apply(emb)
    joined = cell_rebalance.apply(emb, max_literal_cells=0)
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    assert key(lit.collect()) == key(joined.collect())
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("simple")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p, p
    assert "Exchange hashpartitioning" not in p, p


def test_plan_is_narrow_after_tiny_agg(spark):
    """Same contract as lang_rebalance: the output plan is the assignment
    kernel plus literal thresholds — no Join, no Exchange (the O(cells)
    count was collected driver-side before this plan was built)."""
    df = cell_rebalance.apply(_emb(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert "Exchange" not in p, p
    assert "Join" not in p, p
