#!/usr/bin/env python
"""Scale evidence for the dedup family: wall time + per-op shuffle volumes
at sf0.1 (5k docs) and an sf1-equivalent (x10 replicated, 50k docs).

Turns the "would survive 100x" plan audit into measured numbers: if shuffle
bytes per input document stay ~constant from 1x to 10x while wall time grows
sub-linearly on fixed cores, the shuffle shape is linear in the corpus (no
quadratic pair materialization) — the property that decides survival at
100 TB, where a quadratic term would dominate long before memory ran out.

The corpus is the sf0.1 documents table replicated MULT times with remapped
doc_ids (doc_id + r*10^7) and UNCHANGED text — worst-case duplication
density: every sf0.1 dup group becomes a 10x-larger cross-replica group, so
star-edge linearity (not all-pairs) inside hot groups is exactly what is
being stressed. Shuffle metrics come from the Spark UI REST API
(/api/v1/.../stages), summed over the stages each op ran — run with
SPARK_UI=true (the script forces it).

    SPARK_UI=true python scripts/scale_evidence.py --mults 1,10 \
        --out /tmp/scale_evidence.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_UI", "true")

from pyspark.sql import functions as F  # noqa: E402

from datatrove_spark import get_spark  # noqa: E402


def corpus_path(spark, mult: int, tmp: str) -> str:
    path = os.path.join(tmp, f"docs_{mult}x.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        reps = spark.range(mult).withColumnRenamed("id", "rep")
        big = docs.crossJoin(reps).select(
            (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
        big.repartition(32).write.mode("overwrite").parquet(path)
    return path


def emb_path(spark, mult: int, tmp: str) -> str:
    path = os.path.join(tmp, f"emb_{mult}x.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        reps = spark.range(mult).withColumnRenamed("id", "rep")
        big = emb.crossJoin(reps).select(
            (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"), "embedding"
        )
        big.repartition(32).write.mode("overwrite").parquet(path)
    return path


def stage_metrics(spark) -> dict[int, dict]:
    """stageId -> {shuffle_read, shuffle_write, input} bytes via the UI REST
    API (attempt-0 rows; this workload doesn't retry stages)."""
    url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    return {
        s["stageId"]: {
            "shuffle_read": s.get("shuffleReadBytes", 0),
            "shuffle_write": s.get("shuffleWriteBytes", 0),
            "input": s.get("inputBytes", 0),
        }
        for s in stages
        if s.get("attemptId", 0) == 0
    }


def _sentence_dedup(docs):
    from datatrove_spark.operators import sentence_dedup

    # the synthetic documents text carries no .!? punctuation, so the raw
    # table yields ZERO 3-sentence spans and the whole operator folds to an
    # identity projection (AQE empty-relation propagation — verified).
    # Punctuate deterministically (frequent tokens end sentences) so the
    # span/window/rewrite machinery actually runs at scale.
    punct = docs.withColumn(
        "text",
        F.concat(F.regexp_replace("text", " (spark|data|value|query) ", ". "), F.lit(".")),
    )
    return sentence_dedup.apply(punct).select(
        "doc_id", "sentence_dedup_text", "sentence_dedup_keep"
    )


def _op(module, select_cols):
    def run(spark, docs):
        mod = __import__(f"datatrove_spark.operators.{module}", fromlist=["apply"])
        return mod.apply(docs).select(*select_cols)

    return run


def _semdedup(spark, emb):
    from datatrove_spark.operators import similarity

    # k must scale with n so cells stay (n/k)-sized — the paper's own knob;
    # lowest-id centroids as everywhere
    n = emb.count()
    return similarity.semdedup(emb, n_centroids=max(16, n // 1000), threshold=0.45).select(
        "vec_id", "dup_of", "semdedup_keep"
    )


def _ccnet(spark, docs):
    from datatrove_spark.operators import ccnet_buckets

    return ccnet_buckets.apply(docs).select("doc_id", "lang", "ccnet_tile")


def _neardup(spark, emb):
    from datatrove_spark.operators import similarity

    # exact all-pairs is quadratic BY DEFINITION; n_blocks scales with n so
    # each grid cell's score matrix stays executor-sized (~2.5k x 2.5k). The
    # honest expectation on this ladder is B/doc GROWING ~linearly (each
    # block ships n_blocks times) — the measured reason the LSH/semdedup
    # paths, not this one, are the 10^9-vector route.
    n = emb.count()
    return similarity.neardup_pairs(emb, threshold=0.9, n_blocks=max(8, n // 2500))


def _ivf(spark, emb):
    from datatrove_spark.operators import similarity

    # fixed 25-query probe set against the scaled corpus; centroid count
    # scales as n/1000 so inverted lists stay ~1000 vectors
    n = emb.count()
    queries = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .filter(F.col("vec_id") < 25)
        .selectExpr("vec_id AS query_id", "embedding")
    )
    return similarity.ivf_topk(emb, queries, n_centroids=max(16, n // 1000))


# table -> op name -> callable(spark, df)
OPS = {
    "minhash_dedup": _op("minhash", ["doc_id", "dup_of", "minhash_keep"]),
    "minhash_index_dedup_full": lambda spark, docs: _index_full(docs),
    "sentence_dedup": lambda spark, docs: _sentence_dedup(docs),
    "exact_dedup": _op("exact_dedup", ["doc_id", "dup_of", "exact_dedup_keep"]),
    "bloom_dedup": _op("bloom_dedup", ["doc_id", "bloom_dup_frac", "bloom_dedup_keep"]),
    "exact_substrings": _op("exact_substrings", ["doc_id", "n_words", "n_removed", "es_text"]),
    "ccnet_buckets": _ccnet,
    "semdedup": _semdedup,
    "embedding_neardup": _neardup,
    "ivf_topk": _ivf,
}
EMB_OPS = {"semdedup", "embedding_neardup", "ivf_topk"}


def _index_full(docs):
    from datatrove_spark.operators import minhash

    prior = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return minhash.apply_with_index(
        corpus, minhash.build_index(prior), only_dedup_in_index=False
    ).select("doc_id", "index_match", "dup_of", "minhash_keep")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,10")
    ap.add_argument("--ops", default=",".join(OPS))
    ap.add_argument("--out", default="/tmp/scale_evidence.json")
    args = ap.parse_args()

    spark = get_spark(app_name="scale-evidence")
    results: dict[str, dict] = {}
    # the replicated corpora live for this run only: a cache that outlived
    # it would be read again after the test data changed
    with tempfile.TemporaryDirectory(prefix="scale_evidence_") as tmp:
        for op in args.ops.split(","):  # spin up JVM + Arrow python workers
            src = emb_path(spark, 1, tmp) if op in EMB_OPS else corpus_path(spark, 1, tmp)
            warm = spark.read.parquet(src).limit(200)
            OPS[op](spark, warm).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        for mult in [int(m) for m in args.mults.split(",")]:
            for op in args.ops.split(","):
                src = emb_path(spark, mult, tmp) if op in EMB_OPS else corpus_path(spark, mult, tmp)
                docs = spark.read.parquet(src)
                n_docs = docs.count()
                spark.catalog.clearCache()
                before = stage_metrics(spark)
                t0 = time.monotonic()
                out = OPS[op](spark, docs)
                out.write.format("noop").mode("overwrite").save()
                wall = time.monotonic() - t0
                time.sleep(2)  # let the UI store settle
                after = stage_metrics(spark)
                new = {k: v for k, v in after.items() if k not in before}
                rec = {
                    "mult": mult,
                    "docs": n_docs,
                    "wall_s": round(wall, 2),
                    "docs_per_sec": round(n_docs / wall, 1),
                    "stages": len(new),
                    "shuffle_write_mb": round(sum(v["shuffle_write"] for v in new.values()) / 2**20, 1),
                    "shuffle_read_mb": round(sum(v["shuffle_read"] for v in new.values()) / 2**20, 1),
                    "input_mb": round(sum(v["input"] for v in new.values()) / 2**20, 1),
                }
                rec["shuffle_write_bytes_per_doc"] = round(
                    sum(v["shuffle_write"] for v in new.values()) / n_docs, 1
                )
                results[f"{op}@{mult}x"] = rec
                print(json.dumps({f"{op}@{mult}x": rec}), flush=True)
                # write incrementally: a killed/timed-out run keeps every
                # completed record instead of losing the whole ladder
                with open(args.out, "w") as f:
                    json.dump(results, f, indent=2)
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
