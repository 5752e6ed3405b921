"""Physical-plan regression gates: the audited plan shapes (PLANS.md)
asserted as tests, so a change that silently introduces a cartesian
product, drops a pushdown, or turns a top-k into a full sort FAILS here
instead of surfacing as a bench regression next round.

These read executed-plan strings (planning only — nothing below a
localCheckpoint in a query constructor runs beyond sf0.001 scale)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF = "/root/testdata/sf0.001"

# queries whose plan legitimately contains BroadcastNestedLoopJoin: the
# labeled brute-force baselines (broadcast query side × corpus — the
# comparison anchor, not a scale path) and 1-row aggregate joins
BNLJ_OK = {"emb_topk", "emb_near_dup", "transcripts_compare_methods",
           "tpch_q17_small_qty", "docs_decontaminate"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_anywhere(spark):
    """NO driver query may plan a CartesianProduct — the one join shape
    that cannot survive 100 TB under any partitioning."""
    offenders = []
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_bnlj_only_in_labeled_baselines(spark):
    """BroadcastNestedLoopJoin only where a bounded side is broadcast by
    design (brute-force baselines, 1-row aggregates) — never sneaking
    into a scale-path operator."""
    offenders = []
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, SF))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders.append(name)
    assert not offenders, offenders


def test_extraction_path_no_exchange(spark):
    """scan → kernel → projection: the turns path must stay shuffle-free,
    with exactly one Python stage (the mapInArrow parse kernel)."""
    from metadatadocumentparser_spark import synth
    from metadatadocumentparser_spark.plans import parse_transcripts, turns_of

    df = spark.createDataFrame(synth.synth_local(5, 2), schema=synth.TRANSCRIPT_DDL)
    plan = _plan(turns_of(parse_transcripts(df, repartition=False)))
    assert "Exchange" not in plan
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan


def test_tpch_scan_pushdown(spark):
    """Filters reach the parquet scan and the schema is pruned to the
    referenced columns (the free Catalyst wins the brief demands)."""
    q1 = entry.queries()["tpch_pricing"]
    plan = _plan(q1(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # the lineitem scan must NOT read unreferenced columns
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_tpch_q3_broadcast_join(spark):
    plan = _plan(entry.queries()["tpch_q3_topk_join"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_sampling_plan_shapes(spark):
    """Fixed-size sampling plans TakeOrderedAndProject (per-partition
    top-k, never a full global sort); per-stratum plans WindowGroupLimit."""
    from metadatadocumentparser_spark.operators.sampling import (
        sample_fixed,
        sample_per_stratum,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert "TakeOrderedAndProject" in _plan(sample_fixed(docs, "doc_id", 10))
    assert "WindowGroupLimit" in _plan(sample_per_stratum(docs, "lang", "doc_id", 5))


def test_quantize_zero_exchange(spark):
    from metadatadocumentparser_spark.operators.quantize import quantize_embeddings

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert "Exchange" not in _plan(quantize_embeddings(emb, "vec_id", "embedding"))


def test_range_join_no_nlj(spark):
    """The bucketized range join must stay an equi-join — one Exchange,
    no nested-loop fallback."""
    plan = _plan(entry.queries()["events_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_tokenize_zero_exchange(spark):
    from metadatadocumentparser_spark.operators.tokenize import (
        build_char_vocab,
        tokenize_greedy,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = build_char_vocab(docs.limit(50), "text")
    assert "Exchange" not in _plan(tokenize_greedy(docs, "doc_id", "text", vocab))


def test_substr_dedup_plan_shape(spark):
    """exact_substring_dedup (r5): exactly the audited shape — two hash
    Exchanges (window-hash h, doc id), no cartesian/NLJ, and the
    duplicate-hash aggregate + semi-join share one partitioning (a third
    hash exchange would mean the reuse broke)."""
    from metadatadocumentparser_spark.operators.substrdedup import (
        exact_substring_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_substring_dedup(docs, "doc_id", "text", k=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan.count(
        "Exchange hashpartitioning"
    )


def test_lm_score_plan_shape(spark):
    """perplexity_score (r5): all five count-table probes must stay
    equi-joins (broadcast or shuffled — never nested-loop), and the
    per-token gram projection must not re-explode the corpus (no more
    than the audited two hash exchanges at checkpointed-table scale)."""
    from metadatadocumentparser_spark.operators.lm import (
        perplexity_score,
        train_ngram_lm,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    lm = train_ngram_lm(docs, "text", n=3)
    plan = _plan(perplexity_score(docs, "doc_id", "text", lm))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
