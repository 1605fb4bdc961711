"""Physical-plan regression tests — the scale contract, asserted.

Correctness tests prove the operators compute the right thing at small SF;
these prove the PLANS keep the shape that survives a 1000-executor / 100 TB
scale-up: no shuffle on the narrow quality path, broadcast (not shuffle) for
small-side joins, exactly one hash shuffle where one key shuffle is the
algorithm, and column pruning reaching the parquet scan (SURVEY.md §4).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from datatrove_spark.operators import decont, exact_dedup, host_stats, url_dedup
from datatrove_spark.registry import quality_pipeline


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages(spark):
    from tests.conftest import SF_SMALL

    # raw scan, no helper repartition: these tests assert the *operator's own*
    # plan shape, so the input must not contribute an Exchange
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_quality_pipeline_is_shuffle_free(pages):
    """The full fused battery is one narrow stage: scan -> Arrow UDF ->
    project/filter. Any Exchange here would shuffle the whole corpus."""
    plan = plan_of(quality_pipeline(pages).filter("keep"))
    assert "Exchange" not in plan, plan


def test_decont_broadcasts_the_index(spark, pages):
    """The eval-set index must reach the corpus as a broadcast (semi) join —
    a shuffle join here would repartition the full corpus by gram hash."""
    index = decont.build_index(pages.filter("doc_id < 25"))
    plan = plan_of(decont.apply(pages.filter("doc_id >= 25"), index), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    before, _, _ = plan.partition("BroadcastHashJoin")
    # the corpus-side subtree (printed before the join) must not be shuffled
    assert "Exchange hashpartitioning" not in before, plan


def test_url_dedup_single_key_shuffle(pages):
    """keep-best-per-url is one window over one hash partitioning of the url
    key — exactly one Exchange, no more."""
    df = pages.withColumn("url", F.concat(F.lit("https://h/"), F.col("doc_id") % 7))
    plan = plan_of(url_dedup.apply(df, priority_col="n_chars"), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_exact_dedup_single_key_shuffle(pages):
    plan = plan_of(exact_dedup.apply(pages), mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # agg partial+final pair


def test_host_stats_partial_aggregation(pages):
    """Skewed-host agg must map-side combine: HashAggregate appears below
    (partial) and above (final) its Exchange."""
    df = pages.withColumn("url", F.concat(F.lit("https://h"), F.col("doc_id") % 5, F.lit(".ex.com/p")))
    plan = plan_of(host_stats.apply(df), mode="simple")
    assert plan.count("HashAggregate") >= 2, plan


def test_column_pruning_reaches_scan(pages):
    """A 2-column projection must scan 2 columns, not 5."""
    out = quality_pipeline(pages).select("doc_id", "keep")
    plan = plan_of(out)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "text" in read[0] and "doc_id" in read[0], plan
    assert "source" not in read[0] and "n_chars" not in read[0], plan


def test_filter_pushdown_reaches_scan(pages):
    plan = plan_of(pages.filter(F.col("doc_id") < 25).select("doc_id", "text"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "LessThan(doc_id,25)" in pushed[0], plan


def test_aqe_splits_skewed_join(spark):
    """Skew handling at runtime (north rule): one hot key holding 2/3 of the
    left side must be split by AQE's skew-join rule — the executed adaptive
    plan carries SortMergeJoin(skew=true)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = (
            spark.range(0, 300000)
            .withColumn("k", F.when(F.col("id") < 200000, 0).otherwise(F.pmod("id", F.lit(100))))
            .withColumn("pay", F.concat(F.lit("x" * 50), F.col("id")))
        )
        right = spark.range(0, 101).withColumnRenamed("id", "k").withColumn("v", F.col("k") * 2)
        j = left.join(right.hint("merge"), "k")
        assert j.count() == 300000
        j.collect()  # materialize THIS plan so explain shows the final adaptive form
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ngram_lm_broadcast_scoring_joins(spark, pages):
    """The LM scoring joins (unigram x2, bigram) must broadcast — the corpus
    side never shuffles on a word key — and the capped model tables must
    plan as TakeOrderedAndProject (per-partition top-N), not a global sort."""
    from datatrove_spark.operators import ngram_lm

    # simple mode: formatted prints every operator twice (tree + detail)
    p = plan_of(ngram_lm.apply(pages, id_col="doc_id", text_col="text"), "simple")
    assert p.count("BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in p
    # the only sort-merge join is the final per-doc result attach on the id
    assert p.count("SortMergeJoin") <= 1


def _curation_flow(pages):
    """The production north-rule flow: a URL-filter stage, then
    canonical_stages(with_url_filter=False), composed."""
    from datatrove_spark.operators import url_filter
    from datatrove_spark.plans.pipeline import Stage, canonical_stages, compose

    df = pages.withColumn("url", F.concat(F.lit("https://h.example.com/"), F.col("doc_id")))
    return compose(df, [Stage("url_filter", url_filter.apply)] + canonical_stages(with_url_filter=False))


def test_curation_pipeline_is_shuffle_free(pages):
    """The composed north-rule flow (URL filter -> langid -> quality battery
    -> PII scrub) is per-document end to end: one narrow stage, scan ->
    kernels -> project. An Exchange anywhere here would shuffle the full
    corpus text at every curation run."""
    plan = plan_of(_curation_flow(pages).filter("keep"))
    assert "Exchange" not in plan, plan


def test_curation_flow_single_python_udf_node(pages):
    """langid, the quality battery and PII run in ONE ArrowEvalPython node:
    every further node holds another Python worker per task and ships the
    text over Arrow again (PII reads the battery's output, so Spark cannot
    merge separate UDF stages)."""
    import re

    plan = plan_of(_curation_flow(pages))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan


def test_jaccard_pairs_no_corpus_hof_no_array_broadcast(pages):
    """Exact-Jaccard verification is ONE lazy plan with no driver barriers;
    it must (a) never run an interpreted higher-order-function projection
    over the unrestricted corpus, (b) evaluate each Python kernel exactly
    once — one signature kernel (inside the candidate broadcast side; a
    union-rendered role table would clone it per branch) and one shingle
    kernel ABOVE the broadcast join (a pushable size()>0 filter once
    dragged it corpus-wide and duplicated it) — and (c) never broadcast
    array payloads: the broadcast carries candidate (id, a, b, role) rows
    only, and the two roles meet in a plain (a, b) aggregation."""
    import re

    from datatrove_spark.operators import minhash

    df = minhash.jaccard_pairs(pages)
    p = plan_of(df, "simple")
    assert "lambdafunction" not in p.lower(), p  # no interpreted HOF anywhere
    assert len(re.findall(r"ArrowEvalPython \[bucket_sigs", p)) == 1, p
    assert len(re.findall(r"ArrowEvalPython \[shingles", p)) == 1, p
    # the shingle kernel sits above the broadcast join (runs on the
    # candidate-restricted probe rows, never the unrestricted corpus)
    assert p.index("ArrowEvalPython [shingles") < p.index("BroadcastHashJoin"), p
    # the shingle arrays never ride the broadcast: the single
    # BroadcastExchange builds from the id-only role rows
    fp = plan_of(df, "formatted")
    for m in re.finditer(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", fp):
        assert "sh" not in m.group(1), fp


def test_minhash_pairs_single_signature_kernel(pages):
    """The banding plan must evaluate the Arrow signature kernel exactly once
    per document: one ArrowEvalPython node feeding the single (bucket, sig)
    key shuffle — a second one would re-scan and re-hash the corpus text.
    The pair stage must be the min-over-window star-edge plan: NO
    collect_set/collect_list (a grouped array materializes a whole
    viral-duplicate group as one unsplittable row, and any slice cap on it
    silently under-dedups members beyond the cap)."""
    from datatrove_spark.operators import minhash

    p = plan_of(minhash.pairs(pages), "simple")
    assert p.count("ArrowEvalPython") == 1, p
    # exactly two shuffles: the (bucket_id, sig) key shuffle of per-doc
    # signature rows (the only corpus-scale one) and the (a, b) distinct
    # over the collision EDGES only
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "collect_set" not in p and "collect_list" not in p, p
    assert "Window" in p, p  # spillable per-group row buffer, not an array


def test_minhash_dedup_labels_are_local_relation(pages):
    """The driver union-find's component labels must come back as an
    Arrow-backed LocalRelation (LocalTableScan) and broadcast into the corpus
    join. createDataFrame(list-of-tuples) instead plans a pickled
    ParallelCollectionRDD -> PythonRDD ("Scan ExistingRDD"): its evaluation
    needs a python worker PER TASK, which was measured blocking ~16 s/task
    under a UDF-busy session, and the stats-free RDD side forces a
    corpus-shuffling SortMergeJoin."""
    from datatrove_spark.operators import minhash

    p = plan_of(minhash.apply(pages), "simple")
    assert "Scan ExistingRDD" not in p, p
    assert "LocalTableScan" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_index_membership_join_adapts_to_index_size(spark, pages):
    """apply_with_index's membership semi-join is left to AQE, never
    F.broadcast-forced (minhash.py docstring promise): a small prior-dump
    index broadcasts at runtime, but when the index side exceeds the
    broadcast threshold the SAME code hash-partition-joins — the behavior a
    corpus-sized (billions of band keys) index needs at 100 TB. Both sides
    asserted on the EXECUTED adaptive plan."""
    from datatrove_spark.operators import minhash

    index = minhash.build_index(pages.limit(200))

    def final_plan(df):
        df.collect()  # noop write would execute a sibling QueryExecution
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        final = p.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, final
        return final

    import re

    # small index: AQE converts the semi-join to a runtime broadcast
    p_small = final_plan(minhash.apply_with_index(pages, index))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p_small), p_small

    # corpus-sized index (simulated by dropping the broadcast thresholds):
    # the identical plan falls back to a partitioned semi-join — proof the
    # broadcast above was a size decision, not a forced hint
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        p_big = final_plan(minhash.apply_with_index(pages, index))
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) .*LeftSemi", p_big), p_big
    assert not re.search(r"BroadcastHashJoin .*LeftSemi", p_big), p_big


def test_readability_extract_is_projection_only(pages):
    """Native readability extraction is a pure narrow map: no Exchange."""
    from datatrove_spark.operators import readability

    df = pages.withColumn("html", F.col("text").cast("binary"))
    p = plan_of(readability.apply(df))
    assert "Exchange" not in p
