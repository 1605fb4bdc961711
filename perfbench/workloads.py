"""The three workload flows, called through the package's public API, and the
correctness gates that check their outputs against independent paths."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from datatrove_spark.config import EngineConfig, LangIdConfig, PIIConfig, URLFilterConfig
from datatrove_spark.operators import exact_dedup, langid, minhash, pii, url_dedup, url_filter
from datatrove_spark.plans.pipeline import Stage, canonical_stages, run_pipeline
from datatrove_spark.reference_impl import filters as rf

import inputs

URL_CFG = URLFilterConfig(blocked_domains=inputs.BLOCKED_DOMAINS, banned_subwords=inputs.BANNED_SUBWORDS)
CURATE_SAMPLE = {"curate": 300, "curate_long": 60}
LONG_MIN_KEPT = 0.9


def curate_stages() -> list[Stage]:
    return [Stage("url_filter", lambda df: url_filter.apply(df, cfg=URL_CFG))] + canonical_stages(
        with_url_filter=False
    )


def curate_pass(spark: SparkSession, df: DataFrame, out_dir: str, n_docs: int) -> None:
    m = run_pipeline(spark, df, curate_stages(), out_dir, resume=False)
    if m["total"] != n_docs or m["kept"] + sum(m["dropped_by_reason"].values()) != n_docs:
        raise RuntimeError(f"sink accounts for {m['total']} docs, kept {m['kept']}, input {n_docs}")


def dedup_flow(df: DataFrame) -> DataFrame:
    d = exact_dedup.apply(df).filter("exact_dedup_keep").drop("dup_of", "exact_dedup_keep")
    d = url_dedup.apply(d).filter("url_dedup_keep").drop("url_dedup_keep")
    return minhash.apply(d).filter("minhash_keep").drop("dup_of", "minhash_keep")


def dedup_pass(spark: SparkSession, df: DataFrame, out_dir: str, n_docs: int) -> None:
    dedup_flow(df).write.mode("overwrite").parquet(out_dir)


PASSES = {"curate": curate_pass, "curate_long": curate_pass, "dedup": dedup_pass}


# --- correctness gates -------------------------------------------------------


def read_sink(out_dir: str, columns: list[str]) -> pa.Table:
    """Both partitions of run_pipeline's keep/removed sink, with `keep`."""
    parts = []
    for flag in (True, False):
        files = sorted(glob.glob(os.path.join(out_dir, "data", f"keep={str(flag).lower()}", "*.parquet")))
        if files:
            t = pa.concat_tables(pq.read_table(f, columns=columns) for f in files)
            parts.append(t.append_column("keep", pa.array([flag] * t.num_rows)))
    return pa.concat_tables(parts)


def expected_curation(url_reason: str | None, text: str) -> tuple[str | None, str]:
    """First drop reason and stored text of one document through the
    per-document Python path: langid.py_langid, the quality battery in
    reference_impl.filters order, then pii.scrub."""
    lang_cfg, cfg = LangIdConfig(), EngineConfig()
    lg, score = langid.py_langid(text)
    lang_ok = lg in lang_cfg.languages and score is not None and round(score, 6) >= lang_cfg.threshold
    ws = rf.words(text)
    reason = rf.gopher_repetition(text, cfg.gopher_repetition, ws=ws)
    final = text
    if reason is None:
        reason = rf.gopher_quality(text, cfg.gopher_quality, ws=ws)
    if reason is None:
        reason, final = rf.c4_quality(text, cfg.c4)
        if reason is None:
            reason = rf.fineweb_quality(final, cfg.fineweb)
    first = url_reason or (None if lang_ok else "lang_filter") or reason
    return first, pii.scrub(final, PIIConfig())


def check_curate(workload: str, inp: pa.Table, out_dir: str, seed: int) -> list[str]:
    n = inp.num_rows
    out = read_sink(out_dir, ["doc_id", "text", "drop_reason"])
    errors = []
    ids = out.column("doc_id").to_numpy()
    if out.num_rows != n or len(np.unique(ids)) != n:
        errors.append(f"sink holds {out.num_rows} rows ({len(np.unique(ids))} distinct) for {n} input docs")
    keep = out.column("keep").to_pylist()
    reasons = out.column("drop_reason").to_pylist()
    if any(k != (r is None) for k, r in zip(keep, reasons)):
        errors.append("keep partition disagrees with drop_reason")
    if workload == "curate_long" and sum(keep) < LONG_MIN_KEPT * n:
        errors.append(f"only {sum(keep)}/{n} long documents kept")

    rng = np.random.default_rng([seed, 9])
    sample = inp.take(np.sort(rng.choice(n, min(n, CURATE_SAMPLE[workload]), replace=False)))
    con = duckdb.connect()
    con.register("sample", sample.select(["doc_id", "url"]))
    url_reason = {r[0]: r[1] for r in con.execute(url_filter.oracle_sql("sample", "url", cfg=URL_CFG)).fetchall()}
    con.close()
    row_of = {int(d): i for i, d in enumerate(ids)}
    texts = out.column("text")
    for doc_id, text in zip(sample.column("doc_id").to_pylist(), sample.column("text").to_pylist()):
        i = row_of.get(doc_id)
        if i is None:
            errors.append(f"doc {doc_id} missing from the sink")
            continue
        want_reason, want_text = expected_curation(url_reason[doc_id], text)
        if reasons[i] != want_reason:
            errors.append(f"doc {doc_id}: drop_reason {reasons[i]!r}, expected {want_reason!r}")
        if texts[i].as_py() != want_text:
            errors.append(f"doc {doc_id}: stored text differs from the Python path")
    return errors


def _minhash_kept(ids: list[int], texts: list[str]) -> set[int]:
    """Keep set of minhash dedup by the per-document Python signatures and a
    union-find over shared (bucket, signature) keys: a doc is kept iff it is
    the smallest id of its component."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first: dict[tuple[int, int], int] = {}
    for doc_id, text in zip(ids, texts):
        for key in minhash.py_bucket_sigs(text):
            other = first.setdefault(key, doc_id)
            if other != doc_id:
                a, b = find(other), find(doc_id)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    return {i for i in ids if find(i) == i}


def dedup_expected(inp: pa.Table, cache_dir: str) -> set[int]:
    """Kept doc_ids by the DuckDB oracles for exact and URL dedup, then the
    Python minhash path. Depends only on the input, so it is cached under a
    digest of the input and reused when a seed repeats."""
    digest = hashlib.md5()
    for row in zip(*(inp.column(c).to_pylist() for c in ("doc_id", "url", "text"))):
        digest.update(repr(row).encode())
    cache_path = os.path.join(cache_dir, f"dedup-{digest.hexdigest()}.json")
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return set(json.load(f))
    con = duckdb.connect()
    con.register("docs", inp.select(["doc_id", "url", "text"]))
    con.execute(
        f"CREATE TABLE d1 AS SELECT d.* FROM docs d JOIN ({exact_dedup.oracle_sql('docs')}) e "
        "USING (doc_id) WHERE e.exact_dedup_keep"
    )
    con.execute(
        f"CREATE TABLE d2 AS SELECT d.* FROM d1 d JOIN ({url_dedup.oracle_sql('d1', 'url')}) u "
        "USING (doc_id) WHERE u.url_dedup_keep ORDER BY doc_id"
    )
    ids, texts = zip(*con.execute("SELECT doc_id, text FROM d2").fetchall())
    con.close()
    kept = _minhash_kept(list(ids), list(texts))
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(kept), f)
    os.replace(tmp, cache_path)
    return kept


def check_dedup(inp: inputs.DedupInput, out_dir: str, cache_dir: str) -> list[str]:
    kept = set(pq.read_table(out_dir, columns=["doc_id"]).column("doc_id").to_pylist())
    errors = []
    survived = [i for i in inp.exact_copy_ids if i in kept]
    if survived:
        errors.append(f"{len(survived)} injected exact copies kept, e.g. doc {survived[0]}")
    want = dedup_expected(inp.table, cache_dir)
    if kept != want:
        extra, missing = sorted(kept - want), sorted(want - kept)
        errors.append(f"kept set differs from the oracle: {len(extra)} extra {extra[:5]}, "
                      f"{len(missing)} missing {missing[:5]}")
    return errors
