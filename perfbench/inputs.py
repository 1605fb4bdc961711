"""Seeded inputs for the three workloads.

Generating pages is slow (about 0.7 ms per page on 4 cores), so one pool of
pages is generated once per checkout with the package's own generator
(``sources.pages.generate_pages`` at a fixed seed) and cached. Each run then
derives its workload table from the pool with numpy/pyarrow, driven only by
``--seed``: which pool pages are used, their order, which URLs are rewritten
to hit the blocklist, and which documents get injected copies. The same seed
gives the same table; the program under test only ever sees the written
parquet files.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL_SEED = 20240101

# Benchmark-side URL blocklist: the url_filter stage runs with this config.
BLOCKED_DOMAINS = tuple(f"blocked-{i:03d}.net" for i in range(100))
BANNED_SUBWORDS = tuple(f"spamword{i:02d}" for i in range(50))
URL_BLOCK_SHARE = 0.05

# dedup injections, each a share of the base documents
EXACT_COPY_SHARE = 0.03
NEAR_DUP_SHARE = 0.03
URL_REPEAT_SHARE = 0.03

LONG_WORDS = (2_000, 5_000)  # word-count range of a curate_long document

_WORD = re.compile(r"\S+")
# pure generated prose: lowercase pool words, stop words and '.', nothing else
_CLEAN = re.compile(r"^[a-z .\n]+$")


@dataclass(frozen=True)
class Sizes:
    pool: int
    curate: int
    long_docs: int
    dedup: int
    files: int

    @staticmethod
    def at(scale: float, cores: int) -> "Sizes":
        def n(x: int, floor: int) -> int:
            return max(floor, int(x * scale))

        return Sizes(
            pool=n(18_000, 400),
            curate=n(14_000, 300),
            long_docs=n(700, 20),
            dedup=n(10_000, 200),
            # at least 4 scheduling waves of equal files for the task slots
            files=4 * cores,
        )


def ensure_pool(spark, cache_dir: str, sizes: Sizes) -> tuple[str, float]:
    """Path of the cached pool and the seconds its generation took (measured
    once, when the pool was first written)."""
    path = os.path.join(cache_dir, f"pool-{sizes.pool}-{POOL_SEED}")
    meta = path + ".json"
    if not os.path.exists(meta):
        from datatrove_spark.sources.pages import generate_pages

        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        generate_pages(spark, sizes.pool, seed=POOL_SEED).write.parquet(tmp)
        gen_s = time.perf_counter() - t0
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        with open(meta + ".tmp", "w") as f:
            json.dump({"generate_s": gen_s, "n": sizes.pool}, f)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        return path, json.load(f)["generate_s"]


def read_pool(path: str) -> pa.Table:
    t = pq.read_table(path, columns=["url", "warc_ts", "html", "text", "lang"])
    # Spark's schema metadata would hide the columns added below from Spark's
    # reader, and nanosecond timestamps are not readable by it.
    t = t.replace_schema_metadata(None)
    return t.set_column(1, "warc_ts", t.column("warc_ts").cast(pa.timestamp("us", tz="UTC")))


def write(t: pa.Table, out_dir: str, files: int) -> None:
    """`files` parquet files of equal row counts."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    n = t.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(t.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _rewrite_urls(urls: list[str], rng: np.random.Generator) -> list[str]:
    """Send a seeded ~5% of URLs to the blocklist: half to a blocked domain,
    half through a banned subword in the path."""
    out = list(urls)
    hit = np.flatnonzero(rng.random(len(urls)) < URL_BLOCK_SHARE)
    for k, i in enumerate(hit):
        path = out[i].split("/", 3)[3]
        if k % 2 == 0:
            out[i] = f"https://www.{BLOCKED_DOMAINS[rng.integers(len(BLOCKED_DOMAINS))]}/{path}"
        else:
            out[i] = f"{out[i]}/{BANNED_SUBWORDS[rng.integers(len(BANNED_SUBWORDS))]}-offer"
    return out


def _with_id(t: pa.Table) -> pa.Table:
    return t.append_column("doc_id", pa.array(np.arange(t.num_rows, dtype=np.int64)))


def curate(pool: pa.Table, seed: int, sizes: Sizes) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    t = pool.take(rng.choice(pool.num_rows, sizes.curate, replace=False))
    t = t.set_column(0, "url", pa.array(_rewrite_urls(t.column("url").to_pylist(), rng)))
    return _with_id(t)


def curate_long(pool: pa.Table, seed: int, sizes: Sizes) -> pa.Table:
    """Long clean English documents: each concatenates distinct clean pool
    pages until it reaches a seeded length of 2-5k words."""
    rng = np.random.default_rng([seed, 2])
    mask = pc.and_(
        pc.equal(pool.column("lang"), "en"),
        pc.and_(
            pc.match_substring_regex(pool.column("text"), _CLEAN.pattern),
            pc.invert(pc.match_substring(pool.column("text"), "...")),
        ),
    )
    clean = pool.filter(mask)
    texts = clean.column("text").to_pylist()
    n_words = np.array([len(_WORD.findall(x)) for x in texts])
    base = clean.take(np.arange(sizes.long_docs) % clean.num_rows)
    docs = []
    lo, hi = LONG_WORDS
    for _ in range(sizes.long_docs):
        target = int(rng.integers(lo, hi + 1))
        order = rng.permutation(len(texts))
        stop = int(np.searchsorted(np.cumsum(n_words[order]), target)) + 1
        docs.append("\n".join(texts[j] for j in order[:stop]))
    urls = [f"https://host-{i % 500}.example.com/long/{seed}/{i}" for i in range(len(docs))]
    html = [f"<html><body><p>{d}</p></body></html>".encode() for d in docs]
    t = pa.table(
        {
            "url": urls,
            "warc_ts": base.column("warc_ts"),
            "html": pa.array(html, pa.binary()),
            "text": docs,
            "lang": base.column("lang"),
        }
    )
    return _with_id(t)


def _edit_one_word(text: str, rng: np.random.Generator) -> str:
    spans = [m.span() for m in _WORD.finditer(text)]
    a, b = spans[int(rng.integers(len(spans)))]
    return text[:a] + "edited" + text[b:]


@dataclass(frozen=True)
class DedupInput:
    table: pa.Table
    exact_copy_ids: list[int]


def dedup(pool: pa.Table, seed: int, sizes: Sizes) -> DedupInput:
    """Base pages with doc_id 0..n-1, then seeded injected rows with higher
    ids: exact copies, near-duplicates with one word edited, and pages that
    repeat another page's URL with unrelated text. Rows are shuffled, so
    file order says nothing about doc_id."""
    rng = np.random.default_rng([seed, 3])
    n = sizes.dedup
    n_e, n_n, n_u = (max(1, int(n * s)) for s in (EXACT_COPY_SHARE, NEAR_DUP_SHARE, URL_REPEAT_SHARE))
    picked = rng.choice(pool.num_rows, n + n_u, replace=False)
    base = pool.take(picked[:n])
    urls = base.column("url").to_pylist()
    texts = base.column("text").to_pylist()

    src_e = rng.choice(n, n_e, replace=False)
    src_n = rng.choice(n, n_n, replace=False)
    src_u = rng.choice(n, n_u, replace=False)
    other = pool.take(picked[n:]).column("text").to_pylist()
    new_text = (
        [texts[i] for i in src_e]
        + [_edit_one_word(texts[i], rng) for i in src_n]
        + other
    )
    new_url = (
        [f"{urls[i]}/copy-{k}" for k, i in enumerate(src_e)]
        + [f"{urls[i]}/near-{k}" for k, i in enumerate(src_n)]
        + [urls[i] for i in src_u]
    )
    src = np.concatenate([src_e, src_n, src_u])
    extra = base.take(src)
    extra = extra.set_column(0, "url", pa.array(new_url))
    extra = extra.set_column(3, "text", pa.array(new_text))
    extra = extra.set_column(
        2, "html", pa.array([f"<html><body><p>{x}</p></body></html>".encode() for x in new_text], pa.binary())
    )
    t = _with_id(pa.concat_tables([base, extra]))
    t = t.take(rng.permutation(t.num_rows))
    return DedupInput(t, list(range(n, n + n_e)))

