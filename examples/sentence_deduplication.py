"""Sentence deduplication — analog of the reference's
``examples/sentence_deduplication.py`` (3 executor stages: SentenceDedupSignature
-> SentenceFindDedups -> SentenceDedupFilter, with an extract + quality filter
front-end; reference lines 20-67).

Spark-first shape: signature emit, duplicate find, and span-removal rewrite
compose into one plan around a single window over the span-hash key; the
"first occurrence keeps the span" rule is data-defined (min doc_id), not
execution-order-defined.

    python examples/sentence_deduplication.py \
        --input /root/testdata/sf0.001/documents.parquet --output /tmp/sd_demo
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def run(spark: SparkSession, input_path: str | None, out_dir: str, n_generate: int = 0) -> dict:
    from pyspark.sql import functions as F

    from datatrove_spark.operators import gopher_quality, sentence_dedup

    if n_generate:
        # sentence dedup needs sentence-bearing text ([.!?] terminators);
        # the synthetic pages generator produces punctuated prose, while
        # the testdata `documents` table's text carries no punctuation
        from datatrove_spark.sources.pages import generate_pages

        # materialized: Spark 4.1 pushes the gopher_quality_keep filter below
        # the pandas UDF into the generator's lambda expressions, where the
        # UDF cannot be evaluated (pages read from storage are unaffected)
        docs = (
            generate_pages(spark, n_generate)
            .withColumn("doc_id", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
    else:
        docs = spark.read.parquet(input_path)
    docs = gopher_quality.apply(docs).filter("gopher_quality_keep")
    out = sentence_dedup.apply(docs)
    kept = out.filter("sentence_dedup_keep").select(
        "doc_id", out["sentence_dedup_text"].alias("text")
    )
    kept.write.mode("overwrite").parquet(os.path.join(out_dir, "output"))
    return {
        "docs_in": docs.count(),
        "docs_out": spark.read.parquet(os.path.join(out_dir, "output")).count(),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet with sentence-bearing text")
    ap.add_argument("--generate", type=int, default=2000, help="generate N synthetic pages")
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from datatrove_spark import get_spark

    spark = get_spark(app_name="sentence-dedup-example")
    print(run(spark, args.input, args.output, 0 if args.input else args.generate))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
