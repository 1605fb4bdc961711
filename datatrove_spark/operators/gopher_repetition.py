"""Gopher repetition filter.

Semantics of reference GopherRepetitionFilter
(src/datatrove/pipeline/filters/gopher_repetition_filter.py:110-142): drop on
duplicate paragraph/line fractions, top-{2,3,4}-gram char fraction, and
duplicated-{5..10}-gram char fraction (thresholds: Gopher paper Table A1).

Spark strategy — HYBRID, and deliberately so: every statistic here is a
*within-document* aggregation (duplicate counts over a doc's own lines and
n-grams). Exploding n-grams to groupBy would shuffle ~10x the corpus size
across the cluster to compute doc-local counts — a catastrophic plan at
100 TB. Instead an Arrow-batched pandas UDF runs ``reasons`` over each
batch: the paragraph and line checks per document, the n-gram checks once
over the whole batch's words, with gram keys that never cross a document's
end — zero shuffles, perfectly partition-parallel. The fused battery
(operators/quality_fused.py) runs the same batch kernel. Its spec is the
per-document reference_impl.filters.gopher_repetition (Counter form): the
fuzz tests and the benchmark's correctness gate check the batch kernel
against it, and the F1 harness checks it against the reference.

The DuckDB SQL oracle reproduces the same decisions relationally (explode ->
group -> join), which doubles as documentation that the semantics are purely
declarative.

Deviation note: the reference's duplicated-n-gram scan
(gopher_repetition_filter.py:57-70) advances by n after each repeat, making
its result depend on scan order. This engine uses order-independent
union-of-covered-positions semantics (see reference_impl.filters.ngram_checks)
so results are identical under any parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from datatrove_spark.config import PY_SPACE_SQL, PY_WORD_RE2, GopherRepetitionConfig
from datatrove_spark.reference_impl import filters as rf

NAME = "gopher_repetition"


def make_udf(cfg: GopherRepetitionConfig = GopherRepetitionConfig()):
    @F.pandas_udf(StringType())
    def gopher_repetition_reason(texts: pd.Series) -> pd.Series:
        return pd.Series(reasons(texts, cfg), dtype=object)

    return gopher_repetition_reason


def reasons(
    texts, cfg: GopherRepetitionConfig = GopherRepetitionConfig(), wss: list[list[str]] | None = None
) -> list[str | None]:
    """The gopher_repetition reason of every document of a batch (NULL text
    = empty document); `wss` are the documents' ``filters.words`` when the
    caller already has them. The paragraph and line checks run per
    document, the n-gram checks once over every document that passes them
    (_ngram_reasons). Document by document this returns what
    ``filters.gopher_repetition``, the spec, returns."""
    texts = [t or "" for t in texts]
    if wss is None:
        wss = [rf.words(t) for t in texts]
    out = [rf.repeated_blocks_reason(t, cfg) for t in texts]
    todo = [j for j, r in enumerate(out) if r is None and wss[j]]
    if todo:
        got = _ngram_reasons([wss[j] for j in todo], [len(texts[j]) for j in todo], cfg)
        for j, r in zip(todo, got):
            out[j] = r
    return out


try:  # pandas internal: hash-based int64 factorizer without pd.factorize's
    # Python dtype dispatch; guarded so a pandas relayout degrades gracefully
    from pandas._libs.hashtable import Int64Factorizer as _Int64Factorizer
except ImportError:  # pragma: no cover - depends on pandas version
    _Int64Factorizer = None


def _factorize_i64(arr):
    """(appearance-order codes, n_distinct) of an int64 array, hash-based
    O(m); falls back to the public API if the internal module moves."""
    if _Int64Factorizer is None:
        codes, uq = pd.factorize(arr)
        return codes.astype(np.int64, copy=False), len(uq)
    f = _Int64Factorizer(len(arr))
    return f.factorize(arr), f.get_count()


def _ngram_reasons(
    wss: list[list[str]], text_lens: list[int], cfg: GopherRepetitionConfig
) -> list[str | None]:
    """``filters.ngram_checks`` of every (non-empty) word list of a batch, in
    one pass over the batch's flattened words.

    Gram identity is exact, no hashing: level 1 factorizes (document, word
    id), level n factorizes (code of the (n-1)-gram at i, word id at
    i+n-1), so equal codes are equal grams of one document. Level n only
    factorizes the positions where the (n-1)-grams at i and at i+1 both
    repeat and the gram ends inside its document: a repeated n-gram has a
    repeated prefix and suffix, so every other position holds a gram that
    occurs once, and the arrays shrink level by level. Codes come in
    appearance order, so an occurrence is a later one iff its code is at
    most the running maximum before it."""
    lists = pa.array(wss, pa.list_(pa.large_string()))
    flat = lists.flatten()
    offsets = lists.offsets.to_numpy().astype(np.int64)
    m = np.diff(offsets)
    enc = flat.dictionary_encode()
    wid = enc.indices.to_numpy().astype(np.int64)
    n_ids = np.int64(len(enc.dictionary))
    wlen = pc.utf8_length(flat).to_numpy().astype(np.int64)
    b = _Batch(
        wss=wss,
        tl=np.asarray(text_lens, np.int64),
        starts=offsets[:-1],
        m=m,
        doc=np.repeat(np.arange(len(wss)), m),
        cums=np.concatenate((np.zeros(1, np.int64), np.cumsum(wlen))),
    )
    pos = np.arange(len(flat))
    room = np.repeat(offsets[1:], m) - pos  # words from pos to its document's end

    checks = [("top", n, f) for n, f in cfg.top_n_grams] + [("dup", n, f) for n, f in cfg.dup_n_grams]
    fires = [np.zeros(len(wss), bool) for _ in checks]
    rpos = rcode = rcnt = None
    for n in range(1, max(n for _, n, _ in checks) + 1):
        if n == 1:
            cand, key = pos, b.doc * n_ids + wid
        else:
            sel = np.flatnonzero(rpos[1:] == rpos[:-1] + 1)
            sel = sel[room[rpos[sel]] >= n]
            cand = rpos[sel]
            key = rcode[sel] * n_ids + wid[cand + n - 1]
        k, n_uq = _factorize_i64(key)
        cnt = np.bincount(k, minlength=n_uq)[k]
        rep = cnt > 1
        rpos, rcode, rcnt = cand[rep], k[rep], cnt[rep]  # the repeated grams' occurrences
        for ci, (kind, cn, frac) in enumerate(checks):
            if cn == n and kind == "top":
                fires[ci] = b.top_fires(n, frac, room, rpos, rcnt)
            elif cn == n:
                fires[ci] = b.dup_fires(n, frac, rpos, rcode)
    first = np.full(len(wss), -1)
    for ci in range(len(checks) - 1, -1, -1):  # the first check in config order wins
        first[fires[ci]] = ci
    names = [f"top_{n}_gram" if kind == "top" else f"duplicated_{n}_n_grams" for kind, n, _ in checks]
    return [None if ci < 0 else names[ci] for ci in first.tolist()]


@dataclass
class _Batch:
    """A batch's flattened words: per document its words, text length,
    first flat position and word count; per position its document; and the
    running character count over positions."""

    wss: list[list[str]]
    tl: np.ndarray
    starts: np.ndarray
    m: np.ndarray
    doc: np.ndarray
    cums: np.ndarray

    def dup_fires(self, n: int, frac: float, rpos, rcode):
        """Per document: does the duplicated-n-gram check fire. The later
        occurrences' windows [s, s+n) sorted by s share one length, so their
        union is the disjoint union of [s_k, min(s_k + n, s_k+1))."""
        if not len(rpos):
            return np.zeros(len(self.wss), bool)
        later = rpos[1:][rcode[1:] <= np.maximum.accumulate(rcode)[:-1]]
        ends = np.minimum(later + n, np.append(later[1:], len(self.doc)))
        dup = np.bincount(self.doc[later], weights=self.cums[ends] - self.cums[later], minlength=len(self.wss))
        return (dup > 0) & (dup / self.tl > frac)

    def top_fires(self, n: int, frac: float, room, rpos, rcnt):
        """Per document: does the top-n-gram check fire. The check compares
        the chosen window's length times the top count through a monotone
        ratio, so it fires if even the shortest of the most frequent grams'
        windows crosses the threshold and cannot fire if even the longest
        stays under it; only in between does the spec's tie-break (smallest
        joined gram) run, over that document's tied positions."""
        n_docs, n_pos = len(self.wss), len(self.doc)
        fires = np.zeros(n_docs, bool)
        has = np.flatnonzero(self.m >= n)
        if not len(has):
            return fires
        win = np.zeros(n_pos, np.int64)
        win[: n_pos - n + 1] = self.cums[n:] - self.cums[:-n] + (n - 1)
        valid = room >= n
        # a document whose grams all occur once ties on every window
        top = np.ones(n_docs, np.int64)
        lo, hi = np.zeros(n_docs, np.int64), np.zeros(n_docs, np.int64)
        heads = self.starts[has]
        lo[has] = np.minimum.reduceat(np.where(valid, win, np.iinfo(np.int64).max), heads)
        hi[has] = np.maximum.reduceat(np.where(valid, win, 0), heads)
        if len(rpos):
            rdoc = self.doc[rpos]
            seg = np.flatnonzero(np.r_[True, rdoc[1:] != rdoc[:-1]])
            top[rdoc[seg]] = np.maximum.reduceat(rcnt, seg)
            tied = rcnt == top[rdoc]
            tpos, tdoc = rpos[tied], rdoc[tied]
            tseg = np.flatnonzero(np.r_[True, tdoc[1:] != tdoc[:-1]])
            lo[tdoc[tseg]] = np.minimum.reduceat(win[tpos], tseg)
            hi[tdoc[tseg]] = np.maximum.reduceat(win[tpos], tseg)
        t, tl = top[has], self.tl[has]
        sure = lo[has] * t / tl > frac
        fires[has] = sure
        for j in has[~sure & (hi[has] * t / tl > frac)].tolist():
            s, ws = int(self.starts[j]), self.wss[j]
            if top[j] > 1:
                ps = (tpos[tdoc == j] - s).tolist()
            else:
                ps = range(len(ws) - n + 1)
            i = min(ps, key=lambda p: " ".join(ws[p : p + n]))
            fires[j] = rf._ratio_gt(int(win[s + i]) * int(top[j]), int(self.tl[j]), frac)
        return fires


def apply(
    df: DataFrame,
    text_col: str = "text",
    cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
) -> DataFrame:
    r = make_udf(cfg)(F.col(text_col))
    return df.withColumn(f"{NAME}_reason", r).withColumn(f"{NAME}_keep", F.col(f"{NAME}_reason").isNull())


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: GopherRepetitionConfig = GopherRepetitionConfig(),
) -> str:
    """DuckDB SQL computing identical (id, reason, keep) rows relationally."""
    top_ctes, dup_ctes = [], []
    for n, _ in cfg.top_n_grams:
        top_ctes.append(
            f"""g{n} AS (
  SELECT id, unnest(list_transform(range(1, greatest(len(ws)-{n}+1, 0)+1),
                    i -> array_to_string(ws[i:i+{n}-1], ' '))) AS g
  FROM base WHERE len(ws) >= {n}
), c{n} AS (
  SELECT id, g, count(*) AS c FROM g{n} GROUP BY 1, 2
), m{n} AS (
  SELECT id, max(c) AS mc FROM c{n} GROUP BY 1
), top{n} AS (
  SELECT c.id, len(min(c.g)) * any_value(m.mc) AS topchars
  FROM c{n} c JOIN m{n} m ON c.id = m.id AND c.c = m.mc GROUP BY c.id
)"""
        )
    for n, _ in cfg.dup_n_grams:
        dup_ctes.append(
            f"""dg{n} AS (
  SELECT id, gr['i'] AS i, gr['g'] AS g
  FROM (SELECT id, unnest(list_transform(range(0, greatest(len(ws)-{n}, -1)+1),
                          i -> {{'i': i, 'g': array_to_string(ws[i+1:i+{n}], ' ')}})) AS gr
        FROM base WHERE len(ws) >= {n})
), fo{n} AS (
  SELECT id, g, min(i) AS fi FROM dg{n} GROUP BY 1, 2 HAVING count(*) > 1
), cov{n} AS (
  SELECT DISTINCT d.id, d.i + o.o AS w
  FROM dg{n} d JOIN fo{n} f ON d.id = f.id AND d.g = f.g AND d.i > f.fi
  CROSS JOIN (SELECT unnest(range({n})) AS o) o
), dup{n} AS (
  SELECT c.id, sum(wl.wlen) AS dupchars
  FROM cov{n} c JOIN wl ON c.id = wl.id AND c.w = wl.wi GROUP BY 1
)"""
        )
    top_cases = "\n      ".join(
        f"WHEN coalesce(top{n}.topchars, 0)::DOUBLE / nullif(b.tl, 0) > {frac} THEN 'top_{n}_gram'"
        for n, frac in cfg.top_n_grams
    )
    dup_cases = "\n      ".join(
        f"WHEN coalesce(dup{n}.dupchars, 0)::DOUBLE / nullif(b.tl, 0) > {frac} THEN 'duplicated_{n}_n_grams'"
        for n, frac in cfg.dup_n_grams
    )
    top_joins = "\n".join(f"LEFT JOIN top{n} ON b.id = top{n}.id" for n, _ in cfg.top_n_grams)
    dup_joins = "\n".join(f"LEFT JOIN dup{n} ON b.id = dup{n}.id" for n, _ in cfg.dup_n_grams)

    return f"""
WITH base AS (
  SELECT {id_col} AS id, len({text_col}) AS tl,
         regexp_extract_all({text_col}, '{PY_WORD_RE2}') AS ws,
         regexp_split_to_array(trim({text_col}, {PY_SPACE_SQL}), '\\n{{2,}}') AS paras,
         regexp_split_to_array(trim({text_col}, {PY_SPACE_SQL}), '\\n+') AS lns
  FROM {table}
), wl AS (
  SELECT id, unnest(range(0, len(ws))) AS wi,
         unnest(list_transform(ws, w -> len(w))) AS wlen
  FROM base
), pdup AS (
  SELECT id, sum(cnt - 1) AS dup_n, sum((cnt - 1) * len(e)) AS dup_chars
  FROM (SELECT id, e, count(*) AS cnt
        FROM (SELECT id, unnest(paras) AS e FROM base) GROUP BY 1, 2)
  WHERE cnt > 1 GROUP BY 1
), ldup AS (
  SELECT id, sum(cnt - 1) AS dup_n, sum((cnt - 1) * len(e)) AS dup_chars
  FROM (SELECT id, e, count(*) AS cnt
        FROM (SELECT id, unnest(lns) AS e FROM base) GROUP BY 1, 2)
  WHERE cnt > 1 GROUP BY 1
),
{", ".join(top_ctes)},
{", ".join(dup_ctes)}
SELECT b.id AS {id_col},
  CASE
    WHEN coalesce(pdup.dup_n, 0)::DOUBLE / nullif(len(b.paras), 0) > {cfg.dup_para_frac} THEN 'dup_para_frac'
    WHEN coalesce(pdup.dup_chars, 0)::DOUBLE / nullif(b.tl, 0) > {cfg.dup_para_char_frac} THEN 'dup_para_char_frac'
    WHEN coalesce(ldup.dup_n, 0)::DOUBLE / nullif(len(b.lns), 0) > {cfg.dup_line_frac} THEN 'dup_line_frac'
    WHEN coalesce(ldup.dup_chars, 0)::DOUBLE / nullif(b.tl, 0) > {cfg.dup_line_char_frac} THEN 'dup_line_char_frac'
      {top_cases}
      {dup_cases}
    ELSE NULL
  END AS {NAME}_reason
FROM base b
LEFT JOIN pdup ON b.id = pdup.id
LEFT JOIN ldup ON b.id = ldup.id
{top_joins}
{dup_joins}
""".strip()
