"""Unit tests for the r14-continuation scoring/search additions:
rank_feature, distance_feature, pinned, decay function_score and
simple_query_string."""

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401 (fixture)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark merge window filter fast", 100),
        (2, "merge merge merge window", 400),
        (3, "slow table scan", None),
        (4, "window filter filter", -5),
        (5, "the a", 50),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


def test_rank_feature_null_and_negative_features_score_zero(docs):
    from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
        rank_feature_search,
    )

    out = rank_feature_search(
        docs,
        ["merge", "window", "filter"],
        feature_col="n_chars",
        pivot=100.0,
        boost=2.0,
        top_k=10,
    ).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 3 matches no query term -> absent; doc 4 negative feature -> 0 leg
    assert 3 not in by_id
    assert by_id[4].feature_score == 0.0
    assert by_id[4].score == by_id[4].base_score
    # saturation: fv/(fv+pivot), exact
    assert by_id[2].feature_score == pytest.approx(2.0 * 400 / 500, abs=0)
    # feature leg never creates matches
    assert 5 not in by_id


def test_rank_feature_rejects_log_family(docs):
    from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
        rank_feature_search,
    )

    with pytest.raises(ValueError, match="log"):
        rank_feature_search(
            docs, ["merge"], feature_col="n_chars", pivot=1.0,
            function="log",
        )


def test_pinned_includes_nonmatching_pin_first(docs):
    from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
        pinned_search,
    )

    # doc 3 does not match the query but is pinned -> rank 1, NULL score
    out = pinned_search(
        docs, ["merge", "window"], pinned_ids=[3, 2], top_k=10
    ).orderBy("rank").collect()
    assert [r.doc_id for r in out[:2]] == [3, 2]
    assert out[0].base_score is None and out[0].pinned
    assert out[1].base_score is not None
    # organic tail excludes the pinned ids
    tail_ids = [r.doc_id for r in out[2:]]
    assert 3 not in tail_ids and 2 not in tail_ids
    # organic tail ordered by score desc
    tail_scores = [r.base_score for r in out[2:]]
    assert tail_scores == sorted(tail_scores, reverse=True)


def test_decay_kinds_match_python_reference(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
        decay_function_score,
    )

    rows = [
        (1, "2024-01-10 00:00:00"),
        (2, "2024-01-01 00:00:00"),
        (3, "2023-11-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "id long, d string").select(
        "id", F.col("d").cast("timestamp").alias("d")
    )
    origin = "2024-01-10 00:00:00"
    scale, offset, decay = 30 * 86400, 86400, 0.5
    for kind in ("linear", "exp", "gauss"):
        out = {
            r.id: r.score
            for r in decay_function_score(
                df, date_col="d", origin=origin, scale_seconds=scale,
                offset_seconds=offset, decay=decay, kind=kind,
                id_col="id", top_k=10,
            ).collect()
        }
        for rid, dstr in rows:
            from datetime import datetime

            dt = abs(
                (datetime.fromisoformat(dstr)
                 - datetime.fromisoformat(origin)).total_seconds()
            )
            d = max(0.0, dt - offset)
            if kind == "linear":
                s_ = scale / (1 - decay)
                want = max(0.0, (s_ - d) / s_)
            elif kind == "exp":
                want = math.exp(d * math.log(decay) / scale)
            else:
                want = math.exp(d * d * math.log(decay) / scale**2)
            assert out[rid] == pytest.approx(want, rel=1e-12), (kind, rid)
    # at-origin doc scores 1.0 for every kind
    # (covered above: rid=1 -> d=0 -> want=1.0)


def test_parse_simple_query_string():
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        parse_simple_query_string,
    )

    got = parse_simple_query_string('"table hash" spark -slow -"big order"')
    assert got == [
        (False, ["table", "hash"]),
        (False, ["spark"]),
        (True, ["slow"]),
        (True, ["big", "order"]),
    ]
    # punctuation-embedded bare token degrades to separate terms
    assert parse_simple_query_string("foo.bar") == [
        (False, ["foo"]),
        (False, ["bar"]),
    ]
    # empty quotes vanish
    assert parse_simple_query_string('"" spark') == [(False, ["spark"])]


def test_simple_query_string_and_vs_or(docs):
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        simple_query_string,
    )

    or_ids = {
        r.doc_id
        for r in simple_query_string(
            docs, "spark window", default_operator="or", top_k=10
        ).collect()
    }
    and_ids = {
        r.doc_id
        for r in simple_query_string(
            docs, "spark window", default_operator="and", top_k=10
        ).collect()
    }
    assert and_ids == {1}          # only doc 1 has both
    assert or_ids == {1, 2, 4}     # any of the two
    assert and_ids <= or_ids


def test_simple_query_string_phrase_and_negation(docs):
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        simple_query_string,
    )

    # phrase "merge window" appears in docs 1 and 2; -filter drops doc 1
    out = simple_query_string(
        docs, '"merge window" -filter', top_k=10
    ).collect()
    assert {r.doc_id for r in out} == {2}
    # phrase NEGATION: docs matching the phrase are excluded
    out2 = simple_query_string(
        docs, 'window -"merge window"', top_k=10
    ).collect()
    assert {r.doc_id for r in out2} == {4}


def test_simple_query_string_phrase_freq_scoring(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        simple_query_string,
    )

    # same length docs; one has the phrase twice -> higher score
    rows = [
        (1, "a b x a b y"),
        (2, "a b x y a y"),
        (3, "x y x y x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.score
        for r in simple_query_string(df, '"a b"', top_k=10).collect()
    }
    assert set(out) == {1, 2}
    assert out[1] > out[2]


def test_distance_feature_origin_hit_scores_boost(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.scoring import (
        distance_feature_events,
    )

    rows = [
        (1, "2024-01-15 12:00:00", 7, "purchase", 1.0, "{}"),
        (2, "2024-01-16 12:00:00", 8, "purchase", 1.0, "{}"),
        (3, "2024-01-15 12:00:00", 9, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
        "event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = distance_feature_events(
        df, event_type="purchase", origin="2024-01-15 12:00:00",
        pivot_seconds=86400, boost=3.0, top_k=5,
    ).collect()
    assert [r.event_id for r in out] == [1, 2]
    assert out[0].score == 3.0 and out[0].distance_s == 0
    assert out[1].score == pytest.approx(1.5)  # one pivot away: boost/2


def test_dis_max_combines_clauses(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        dis_max_search,
    )

    rows = [
        (1, "a b x y"),      # phrase "a b" AND term x
        (2, "a y b x"),      # terms only, no phrase
        (3, "q r s t"),      # no clause
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dis_max_search(
        df, ["a b", "x"], tie_breaker=0.0, top_k=10
    ).collect()}
    assert 3 not in out
    assert out[1].n_clauses_hit == 2 and out[2].n_clauses_hit == 1
    # tie_breaker=0: score is the single best clause; with 0.5 it rises
    out5 = {r.doc_id: r.score for r in dis_max_search(
        df, ["a b", "x"], tie_breaker=0.5, top_k=10
    ).collect()}
    assert out5[1] > out[1].score
    assert out5[2] == out[2].score  # one clause: tie_breaker is a no-op


def test_dis_max_validation(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        dis_max_search,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    import pytest as _pt

    with _pt.raises(ValueError, match="tie_breaker"):
        dis_max_search(df, ["a"], tie_breaker=1.5)
    with _pt.raises(ValueError, match="clause"):
        dis_max_search(df, [])


def test_span_not_exclusion_window(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        span_not_search,
    )

    rows = [
        (1, "apple pie apple cake apple"),   # pie@2 kills apple@1 AND @3
        (2, "apple apple"),                  # no pie at all
        (3, "pie apple pie"),                # apple surrounded by pie
        (4, "cake bread"),                   # no apple
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_matches, r.n_excluded)
        for r in span_not_search(
            df, "apple", "pie", pre=1, post=1, top_k=10
        ).collect()
    }
    # doc 1: apple@{1,3,5}, pie@2 is within ±1 of BOTH @1 and @3 —
    # only apple@5 survives
    assert out == {1: (1, 2), 2: (2, 0)}
    # wider window excludes more
    out2 = {
        r.doc_id: r.n_matches
        for r in span_not_search(
            df, "apple", "pie", pre=4, post=4, top_k=10
        ).collect()
    }
    assert out2 == {2: 2}


def test_rescore_reorders_within_window_only(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.querystring import (
        rescore_search,
    )

    rows = [
        (1, "a a a x y"),     # strong on base term, no phrase
        (2, "a x b c y"),     # weaker base, has phrase "b c"
        (3, "x y z w v"),     # no match
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base_order = rescore_search(
        df, ["a"], "b c", window_size=10,
        query_weight=1.0, rescore_weight=0.0, top_k=10,
    ).collect()
    assert [r.doc_id for r in base_order] == [1, 2]
    assert base_order[1].phrase_freq == 1
    boosted = rescore_search(
        df, ["a"], "b c", window_size=10,
        query_weight=1.0, rescore_weight=50.0, top_k=10,
    ).collect()
    assert [r.doc_id for r in boosted] == [2, 1]  # phrase doc promoted
    import pytest as _pt

    with _pt.raises(ValueError, match="window_size"):
        rescore_search(df, ["a"], "b c", window_size=5, top_k=10)


def test_filtered_topk_prefilter_semantics(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.similarity import (
        brute_force_topk, filtered_topk,
    )
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(30, 8))
    rows = [
        (i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = filtered_topk(
        df, queries, F.col("label") == 0, k=5
    ).collect()
    allowed = {r.vec_id for r in df.filter(F.col("label") == 0).collect()}
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in out:
        per_q[r.query_id].append(r.vec_id)
    for q, ids in per_q.items():
        assert set(ids) <= allowed
        assert len(ids) == 5          # pre-filter: always a full page
    # equals brute force over the manually filtered corpus
    ref = brute_force_topk(
        df.filter(F.col("label") == 0), queries, k=5
    ).collect()
    assert sorted((r.query_id, r.vec_id, r.rank) for r in out) == sorted(
        (r.query_id, r.vec_id, r.rank) for r in ref
    )
