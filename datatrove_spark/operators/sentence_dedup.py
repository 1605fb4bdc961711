"""Sentence-span deduplication — C4's "discard all but one of every
3-sentence span" rule, with text rewrite.

Reference: the 3-stage sentence_dedup pipeline (src/datatrove/pipeline/
dedup/sentence_dedup.py) — span-hash signatures (:128-141), hash-range
k-way-merge duplicate finding where the FIRST occurrence wins (:215-284),
and a filter stage that removes duplicated spans and drops docs left with
too little text (:322-444).

Spark collapses signature files + merges into one window:

    row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, sent_idx) > 1
        -> duplicate span occurrences

"First occurrence" is defined on DATA order (doc_id, sent_idx) — the
deterministic global ordering SURVEY.md §7.3.3 requires — not on file
arrival order like the reference.

Engine text semantics: sentences are the portable splitter's raw matches
(reference_impl.filters.sentences); span key = h60(simplify_text(3
consecutive raw sentences)); rewritten text = concatenation (no separator)
of kept raw sentence matches, which preserves original inter-sentence
spacing. NULL text is an empty document. A doc is dropped when fewer than
cfg.min_sentences sentences or cfg.min_words words survive
(sentence_dedup.py:322-444 semantics).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datatrove_spark.functions.hashing import sql_hash60

NAME = "sentence_dedup"


@dataclass(frozen=True)
class SentenceDedupConfig:
    span: int = 3
    min_sentences: int = 3
    min_words: int = 50


def py_span_hashes(text: str, n: int) -> list[int]:
    """Per-doc kernel: h60 of the simplified text of each n-sentence window
    (index = first sentence position). Shares the sentence/simplify/h60
    definitions with the SQL oracle."""
    from datatrove_spark.functions.hashing import py_hash60
    from datatrove_spark.reference_impl.filters import sentences, simplify_text

    ss = sentences(text or "")
    if len(ss) < n:
        return []
    return [py_hash60(simplify_text("".join(ss[i : i + n]))) for i in range(len(ss) - n + 1)]


def _span_hashes_udf(n: int):
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def k(texts: pd.Series) -> pd.Series:
        from datatrove_spark.operators.sentence_dedup import py_span_hashes

        return texts.map(lambda t: py_span_hashes(t, n))

    return k


def _spans(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(
        id_col, F.posexplode(_span_hashes_udf(n)(F.col(text_col))).alias("sent_idx", "h")
    )


def py_remove_spans(
    text: str | None, remove_idx, cfg: SentenceDedupConfig
) -> tuple[str, bool]:
    """Per-doc rewrite kernel (the oracle's semantics value-for-value):
    drop flagged sentences, rebuild text, recount from the rebuilt text.
    NULL text is an empty document: ('', False)."""
    from datatrove_spark.reference_impl.filters import sentences, words

    if text is None:
        return "", False
    rem = set(remove_idx) if remove_idx is not None else ()
    ss = sentences(text)
    kept = [s for i, s in enumerate(ss) if i not in rem]
    new_text = "".join(kept)
    # the oracle recounts sentences from the rebuilt text, but re-splitting a
    # concatenation of raw matches reproduces exactly those matches (every
    # match starts with a non-terminator and ends with a terminator run, so
    # the piece boundaries land precisely between consecutive kept matches)
    # -> len(kept) == len(sentences(new_text)), one split saved. Words must
    # still recount from new_text: ""-joining can merge boundary words.
    keep = len(kept) >= cfg.min_sentences and len(words(new_text)) >= cfg.min_words
    return new_text, keep


def _remove_spans(
    df: DataFrame, dup_spans: DataFrame, id_col: str, text_col: str, cfg: SentenceDedupConfig
) -> DataFrame:
    """Shared filter stage: drop the flagged span occurrences' sentences,
    rebuild text, keep docs with enough surviving sentences/words — one
    Arrow kernel pass per doc. Its sentence splitter is a linear scan; the
    regex form backtracks O(n^2) per doc on terminator-free text (measured
    36 s vs 4 s over 500k unpunctuated docs, BENCH.md round 4)."""
    covered = _covered(dup_spans, id_col, cfg.span)
    out = df.join(covered, id_col, "left")

    @F.pandas_udf("t string, k boolean")
    def rw(texts: pd.Series, removes: pd.Series) -> pd.DataFrame:
        from datatrove_spark.operators.sentence_dedup import py_remove_spans

        pairs = [py_remove_spans(t, r, cfg) for t, r in zip(texts, removes)]
        return pd.DataFrame({"t": [p[0] for p in pairs], "k": [p[1] for p in pairs]})

    res = rw(F.col(text_col), F.col("remove_idx"))
    return (
        out.withColumn("__rw", res)
        .withColumn(f"{NAME}_text", F.col("__rw.t"))
        .withColumn(f"{NAME}_keep", F.col("__rw.k"))
        .drop("remove_idx", "__rw")
    )


def _covered(dup_spans: DataFrame, id_col: str, n: int) -> DataFrame:
    return (
        dup_spans.select(
            id_col, F.explode(F.sequence(F.col("sent_idx"), F.col("sent_idx") + n - 1)).alias("ri")
        )
        .groupBy(id_col)
        .agg(F.collect_set("ri").alias("remove_idx"))
    )


def apply(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: SentenceDedupConfig = SentenceDedupConfig(),
) -> DataFrame:
    spans = _spans(df, id_col, text_col, cfg.span)
    w = Window.partitionBy("h").orderBy(F.col(id_col).asc(), F.col("sent_idx").asc())
    dup_spans = spans.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") > 1)
    return _remove_spans(df, dup_spans, id_col, text_col, cfg)


def build_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: SentenceDedupConfig = SentenceDedupConfig(),
) -> DataFrame:
    """Distinct span hashes of a corpus — SentenceDedupBuildIndex
    (reference sentence_dedup.py:447-505) writes the sorted DISTINCT hashes
    with no doc/sentence ids; membership is the only question an index
    answers. One distinct on the 8-byte hash."""
    return _spans(df, id_col, text_col, cfg.span).select("h").distinct()


def apply_with_index(
    df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: SentenceDedupConfig = SentenceDedupConfig(),
    only_dedup_in_index: bool = True,
) -> DataFrame:
    """Sentence-span dedup of a NEW corpus against a PRIOR corpus' span-hash
    index — the reference's `index_folder`/`only_dedup_in_index` mode
    (sentence_dedup.py:193-194,232-247,266-276).

    Reference semantics reproduced exactly: index entries carry
    doc_id=sent_id=-1 so they sort FIRST within an equal-hash run
    (sentence_dedup.py:49-62), and the find loop only emits a duplicate for
    v when `last` qualifies (:266-276) — so with only_dedup_in_index=True
    exactly the FIRST corpus occurrence (min doc_id, sent_idx) of each
    indexed hash is removed and later corpus occurrences survive (the same
    adjacency quirk as minhash index mode); corpus-corpus duplicates are NOT
    removed at all in this mode. With only_dedup_in_index=False every corpus
    occurrence of an indexed hash is removed (the canonical copy lives in
    the indexed corpus — note this differs from self-dedup, which keeps the
    first occurrence) and non-indexed hashes self-dedup as usual.

    Scale shape: same single window shuffle as `apply` plus one adaptive
    semi/left join of the span stream against the index on the 8-byte hash
    (never F.broadcast-forced; a real index is corpus-sized)."""
    spans = _spans(df, id_col, text_col, cfg.span)
    flagged = spans.join(
        index.select("h").distinct().withColumn("__m", F.lit(True)), "h", "left"
    )
    w = Window.partitionBy("h").orderBy(F.col(id_col).asc(), F.col("sent_idx").asc())
    flagged = flagged.withColumn("rn", F.row_number().over(w))
    if only_dedup_in_index:
        dup_spans = flagged.filter(F.col("__m").isNotNull() & (F.col("rn") == 1))
    else:
        dup_spans = flagged.filter(F.col("__m").isNotNull() | (F.col("rn") > 1))
    return _remove_spans(df, dup_spans.drop("__m"), id_col, text_col, cfg)


_SIMPLIFY = (
    "trim(regexp_replace(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g'), '[0-9]+', '0', 'g'))"
)


def _sql_spans_cte(table: str, id_col: str, text_col: str, n: int) -> str:
    """base + spans CTE bodies, parameterized by source table — flat SQL so
    index-mode oracles can instantiate two copies in one WITH chain."""
    sents = f"regexp_extract_all({text_col}, '[^.!?]+[.!?]+')"
    simp = _SIMPLIFY.format(t=f"array_to_string(sents[i+1:i+{n}], '')")
    return (
        f"SELECT id, u['i'] AS sent_idx, u['h'] AS h FROM (\n"
        f"  SELECT id, unnest(list_transform(range(0, len(sents) - {n} + 1),\n"
        f"              i -> {{'i': i, 'h': {sql_hash60(f'({simp})')}}})) AS u\n"
        f"  FROM (SELECT {id_col} AS id, {sents} AS sents FROM {table})\n"
        f"  WHERE len(sents) >= {n}\n"
        f")"
    )


def _sql_finish(table: str, id_col: str, text_col: str, cfg: SentenceDedupConfig) -> str:
    """removed/rebuilt/final — shared between the self-dedup and index oracles;
    expects a `dups(id, sent_idx)` CTE in scope."""
    n = cfg.span
    sents = f"regexp_extract_all({text_col}, '[^.!?]+[.!?]+')"
    return f"""removed AS (
  SELECT id, list_distinct(flatten(list(range(sent_idx, sent_idx + {n})))) AS ri
  FROM dups GROUP BY id
), rebuilt AS (
  SELECT b.{id_col} AS id,
    coalesce(array_to_string(list_transform(
      list_filter(list_transform({sents}, (s, ix) -> {{'s': s, 'i': ix - 1}}),
                  st -> NOT list_contains(coalesce(r.ri, []), st['i'])),
      st -> st['s']), ''), '') AS new_text
  FROM {table} b LEFT JOIN removed r ON b.{id_col} = r.id
)
SELECT id AS {id_col}, new_text AS {NAME}_text,
  (len(regexp_extract_all(new_text, '[^.!?]+[.!?]+')) >= {cfg.min_sentences}
   AND len(regexp_extract_all(new_text, '\\S+')) >= {cfg.min_words}) AS {NAME}_keep
FROM rebuilt"""


def oracle_sql_index_dedup(
    corpus_table: str,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: SentenceDedupConfig = SentenceDedupConfig(),
    only_dedup_in_index: bool = True,
) -> str:
    cspans = _sql_spans_cte(corpus_table, id_col, text_col, cfg.span)
    ispans = _sql_spans_cte(index_table, id_col, text_col, cfg.span)
    cond = (
        "rn = 1 AND h IN (SELECT h FROM ihashes)"
        if only_dedup_in_index
        else "rn > 1 OR h IN (SELECT h FROM ihashes)"
    )
    return f"""
WITH spans AS ({cspans}),
ihashes AS (SELECT DISTINCT h FROM ({ispans})),
dups AS (
  SELECT id, sent_idx FROM (
    SELECT id, sent_idx, h, row_number() OVER (PARTITION BY h ORDER BY id, sent_idx) AS rn
    FROM spans
  ) WHERE {cond}
),
{_sql_finish(corpus_table, id_col, text_col, cfg)}
""".strip()


def oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: SentenceDedupConfig = SentenceDedupConfig(),
) -> str:
    n = cfg.span
    sents = f"regexp_extract_all({text_col}, '[^.!?]+[.!?]+')"
    simp = _SIMPLIFY.format(t=f"array_to_string(sents[i+1:i+{n}], '')")
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {text_col} AS t, {sents} AS sents FROM {table}
), spans AS (
  SELECT id, u['i'] AS sent_idx, u['h'] AS h
  FROM (
    SELECT id, unnest(list_transform(range(0, len(sents) - {n} + 1),
                i -> {{'i': i, 'h': {sql_hash60(f"({simp})")}}})) AS u
    FROM base WHERE len(sents) >= {n}
  )
), dups AS (
  SELECT id, sent_idx FROM (
    SELECT id, sent_idx, row_number() OVER (PARTITION BY h ORDER BY id, sent_idx) AS rn
    FROM spans
  ) WHERE rn > 1
), removed AS (
  SELECT id, list_distinct(flatten(list(range(sent_idx, sent_idx + {n})))) AS ri
  FROM dups GROUP BY id
), rebuilt AS (
  SELECT b.id, b.t,
    coalesce(array_to_string(list_transform(
      list_filter(list_transform(b.sents, (s, ix) -> {{'s': s, 'i': ix - 1}}),
                  st -> NOT list_contains(coalesce(r.ri, []), st['i'])),
      st -> st['s']), ''), '') AS new_text
  FROM base b LEFT JOIN removed r ON b.id = r.id
)
SELECT id AS {id_col}, new_text AS {NAME}_text,
  (len(regexp_extract_all(new_text, '[^.!?]+[.!?]+')) >= {cfg.min_sentences}
   AND len(regexp_extract_all(new_text, '\\S+')) >= {cfg.min_words}) AS {NAME}_keep
FROM rebuilt
""".strip()
