"""Physical-plan scale guards over the whole query registry.

Two operators kill 100 TB runs no matter how correct the results are:
an unconstrained cartesian product (O(N·M) row explosion) and a
row-at-a-time Python UDF (BatchEvalPython — every row crosses the
JVM/Python boundary unvectorized). Neither belongs in ANY registered
query plan: cross joins must ride a broadcast (BroadcastNestedLoopJoin
over a tiny literal/aggregate side is fine and is asserted allowed),
and Python paths must be Arrow-vectorized (ArrowEvalPython /
mapInPandas / FlatMapGroupsInPandas).

This is the regression net for the plan audits in PLANS.md — an
operator change that silently degrades to a cartesian or a per-row
UDF fails here at sf0.001 before it ships.
"""

from __future__ import annotations

import pytest

from aws_dms_cdc_data_pipeline_spark.plans.queries import REGISTRY

# training-loop queries build eagerly (k-means collect per iteration);
# their plan is audited via their operator tests instead
_SKIP = {"kmeans_cluster_sizes", "ann_ivf_topk"}

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


@pytest.mark.parametrize("name", [n for n in REGISTRY if n not in _SKIP])
def test_no_cartesian_or_rowwise_python(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in FORBIDDEN:
        assert op not in plan, f"{name}: {op} in physical plan"


def _plan(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_length_branch_stays_shuffle_light(spark, sf_dir):
    """The r5 rewrite dropped the full-vocabulary (doc, term)
    aggregate feeding document length (9 → 5 exchanges). Guard the
    count so a refactor can't silently reintroduce it."""
    plan = _plan(spark, sf_dir, "bm25_keyword_search")
    shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange SinglePartition"
    )  # broadcasts excluded: they're the cheap, desired exchanges
    assert shuffles <= 5


def test_training_export_broadcasts_all_small_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "training_export_wide")
    # nation/region/part/supplier ride broadcasts; no cartesian
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_typo_tolerant_search_plans_stay_shuffle_light(spark, sf_dir):
    """The r11 search-bar shapes must keep their pruned-probe plan
    shape: fuzzy = one vocabulary aggregate + one doc-keyed aggregate
    (the expansion set is an isin literal, never a join side);
    match_phrase_prefix = the phrase lead-window's single doc
    exchange + the expansion vocabulary pass."""
    for name, budget in (
        ("fuzzy_search_docs", 3),
        ("match_phrase_prefix_docs", 3),
        ("rare_terms_docs", 2),
    ):
        plan = _plan(spark, sf_dir, name)
        shuffles = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange SinglePartition"
        )
        assert shuffles <= budget, f"{name}: {shuffles} > {budget}"
        assert "CartesianProduct" not in plan


def test_blas_brute_force_has_no_pre_scoring_exchange(spark, sf_dir):
    """The BLAS scorer is a narrow map over the corpus scan: the only
    exchange in the plan is the tiny per-query ranking AFTER scoring
    (plus AQE bookkeeping) — the corpus itself never shuffles."""
    from aws_dms_cdc_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )
    from aws_dms_cdc_data_pipeline_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = brute_force_topk(emb, q, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the scorer is ONE Arrow map (r17: mapInArrow replaced the
    # pandas map — zero-copy flatten, PERF.md r17); exactly one
    # exchange family, keyed by query, AFTER scoring
    assert plan.count("MapInArrow") == 1
    assert plan.count("MapInPandas") == 0
    assert plan.count("Exchange hashpartitioning(query_id") <= 1
    assert plan.count("Exchange") <= 2


def test_heavy_text_passes_fan_out_on_poorly_split_sources(spark, tmp_path):
    """The r7 straggler class: per-row-heavy text passes inheriting a
    single-task scan from a single-row-group source. Each heavy
    operator's plan must contain the fan-out's ROUNDROBIN exchange
    when fed a 1-partition source big enough to matter (the source
    estimates at ~1.3 MB, over the default 1 MB bar of the tokenizing
    passes) — if the guard's threshold or wiring regresses, this fails
    before a 30x serial stage ships."""
    from pyspark.sql import functions as F

    # ~1 MB of INCOMPRESSIBLE text in ONE partition (hash-derived
    # words — repeated literals compress so hard the parquet stats
    # estimate drops below the guard's bar and the test tests nothing)
    src = str(tmp_path / "one_part")
    words = [F.md5((F.col("id") * 31 + F.lit(k)).cast("string")) for k in range(20)]
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *words).alias("text"),
    ).coalesce(1).write.mode("overwrite").parquet(src)
    docs = spark.read.parquet(src)
    assert docs.rdd.getNumPartitions() == 1

    from aws_dms_cdc_data_pipeline_spark.operators.lucene import (
        query_string_search,
    )
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        simple_query_string,
    )
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        bm25_search,
        tokenize,
        tokenize_positions,
    )

    cases = {
        "tokenize": tokenize(docs, "text", "doc_id"),
        "bm25": bm25_search(docs, ["abc", "def"]),
        "positions": tokenize_positions(docs, "text", "doc_id"),
        "query_string": query_string_search(docs, "abc OR def"),
        "simple_query_string": simple_query_string(docs, "abc def"),
    }
    for name, df in cases.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ROUND_ROBIN" in plan.upper() or "RoundRobin" in plan, (
            f"{name}: no fan-out exchange on a 1-partition ~1.3 MB source"
        )


def test_terms_set_prunes_and_stays_shuffle_light(spark, sf_dir):
    """terms_set reads the token index with an isin literal (bucket-
    prunable) and attaches the per-doc required count via ONE join;
    the corpus text never shuffles."""
    plan = _plan(spark, sf_dir, "terms_set_docs")
    shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange SinglePartition"
    )
    assert shuffles <= 3  # doc aggregate + join side + rank cut
    assert "text" not in plan.split("ReadSchema")[-1][:200]
