"""Retrieval-serving operators (operators/retrieval.py: RRF fusion,
more-like-this, snippets, suggesters) and the hit-set aggregations
(operators/aggs.py)."""

import pytest
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
    more_like_this,
    rrf_fuse,
    search_snippets,
)


def test_rrf_fuse_math_and_missing_docs(spark):
    """Hand-checked RRF: doc in both legs beats doc in one; missing
    leg contributes nothing; ties break by id."""
    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    dense = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, rank int"
    )
    rows = {
        r["doc_id"]: (r["rrf_score"], r["n_legs_hit"])
        for r in rrf_fuse([lex, dense], k_const=60, top_k=10).collect()
    }
    # doc 2: 1/62 + 1/61 -> quantized sum
    assert rows[2] == (round((round(1e6 / 62) + round(1e6 / 61)) / 1e6, 6), 2)
    assert rows[1] == (round(round(1e6 / 61) / 1e6, 6), 1)
    assert rows[4][1] == 1
    assert rows[2][0] > rows[1][0] > rows[3][0]
    order = [
        r["doc_id"] for r in rrf_fuse([lex, dense], top_k=10).collect()
    ]
    assert order[0] == 2  # both legs
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_rrf_fuse_single_leg_is_rank_order(spark):
    leg = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank int"
    )
    got = [r["doc_id"] for r in rrf_fuse([leg], top_k=2).collect()]
    assert got == [10, 20]


def test_more_like_this_excludes_seed_and_finds_twin(spark):
    """A near-duplicate of the seed must rank first; the seed itself
    never appears."""
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        ensure_token_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "quantum flux capacitor resonance chamber design"),
            (2, "quantum flux capacitor resonance chamber design notes"),
            (3, "cooking pasta with tomato sauce and basil"),
            (4, "flux measurements in a resonance chamber"),
        ],
        "doc_id long, text string",
    )
    idx, dl = ensure_token_index(spark, docs, "t_mlt")
    out = more_like_this(spark, idx, dl, 1, m_terms=5, top_k=5).collect()
    ids = [r["doc_id"] for r in out]
    assert 1 not in ids
    assert ids[0] == 2  # the twin
    assert 3 not in ids or ids[-1] == 3  # unrelated doc never outranks


def test_more_like_this_forward_index_parity_and_pruning(spark, sf_dir):
    """The id-bucketed forward projection gives identical MLT results
    and actually prunes the seed probe to its bucket's files."""
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        ensure_forward_index,
        ensure_token_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    idx, dl = ensure_token_index(spark, docs, "t_mlt_fwd")
    fwd = ensure_forward_index(spark, idx, "t_mlt_fwd")
    base = [
        tuple(r)
        for r in more_like_this(spark, idx, dl, 7, m_terms=6).collect()
    ]
    via_fwd = [
        tuple(r)
        for r in more_like_this(
            spark, idx, dl, 7, m_terms=6, fwd_table=fwd
        ).collect()
    ]
    assert base == via_fwd and base
    # pruning proof: the physical scan selects 1 of the 16 buckets
    # for the id probe. Spark's autoBucketedScan heuristic only keeps
    # a bucketed scan when an operator needs the distribution — a
    # bare point probe has none, so pruning requires the auto scan
    # off (documented in ensure_forward_index / more_like_this).
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        probe = spark.table(fwd).filter(F.col("doc_id") == 7)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 16" in plan, plan
    finally:
        spark.conf.set(key, prev)


def test_search_snippets_picks_densest_window(spark):
    docs = spark.createDataFrame(
        [
            # hits at 0 and 1 and 2 (window [0,3] has 3) vs lone hit at 9
            (1, "cat dog cat x x x x x x dog"),
            (2, "x x x x x x x x x x"),
            (3, "x cat x x x x dog cat dog x"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["start_pos"], r["end_pos"], r["n_hits"])
        for r in search_snippets(docs, ["cat", "dog"], width=4).collect()
    }
    assert out[1] == (0, 3, 3)
    assert 2 not in out  # no hits, no snippet
    assert out[3] == (6, 9, 3)  # dog@6 cat@7 dog@8 densest
    with pytest.raises(ValueError):
        search_snippets(docs, [])


def test_spell_suggest_ranking_and_bands(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
        spell_suggest,
    )
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        ensure_token_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark sparks apple"),
            (2, "spark shark apple"),
            (3, "stark apple"),
        ],
        "doc_id long, text string",
    )
    idx, _ = ensure_token_index(spark, docs, "t_spell")
    got = [
        (r["query_term"], r["suggestion"], r["distance"], r["df"])
        for r in spell_suggest(spark, idx, ["spak"], max_dist=2, top_k=3)
        .orderBy("distance", F.col("df").desc(), "suggestion")
        .collect()
    ]
    # spark d=1 df=2 beats shark/stark d=2; ties at d=2 by df then term
    assert got[0] == ("spak", "spark", 1, 2)
    assert {g[1] for g in got[1:]} <= {"shark", "stark", "sparks"}
    with pytest.raises(ValueError):
        spell_suggest(spark, idx, [])


def test_significant_terms_hand_checked(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        significant_terms,
    )
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        ensure_token_index,
    )

    # 6 docs; "rare" appears only in the 2 hit docs, "common" in all;
    # "half" in 1 hit + 2 non-hits
    rows = [
        (1, "rare common half"),
        (2, "rare common"),
        (3, "common half"),
        (4, "common half"),
        (5, "common other"),
        (6, "common other"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx, dl = ensure_token_index(spark, docs, "t_sigterms")
    hits = spark.createDataFrame([(1,), (2,)], "doc_id long")
    out = {
        r["term"]: (r["fg_df"], r["bg_df"], r["score"])
        for r in significant_terms(
            spark, idx, dl, hits, top_k=10, min_doc_count=1
        ).collect()
    }
    # common: fg_share 1.0 == bg_share 1.0 -> excluded (not over-rep)
    # other: fg_df 0 -> excluded; half: fg 1/2 vs bg 3/6 -> equal, excluded
    # rare: fg 2/2=1.0 vs bg 2/6 -> score (1-1/3)*(1/(1/3)) = 2.0
    assert set(out) == {"rare"}
    assert out["rare"] == (2, 2, 2.0)
    # min_doc_count gates low-support terms
    one_hit = spark.createDataFrame([(1,)], "doc_id long")
    gated = significant_terms(
        spark, idx, dl, one_hit, top_k=10, min_doc_count=2
    ).collect()
    assert gated == []

    with pytest.raises(ValueError, match="top_k"):
        significant_terms(spark, idx, dl, hits, top_k=0)


def test_top_hits_per_facet_hand_checked(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        top_hits_per_facet,
    )

    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "en"), (4, "fr"), (5, "fr")],
        "doc_id long, lang string",
    )
    hits = spark.createDataFrame(
        [(1, 3.0), (2, 5.0), (3, 5.0), (4, 1.0)],
        "doc_id long, score double",
    )
    out = [
        (r["lang"], r["doc_id"], r["bucket_rank"])
        for r in top_hits_per_facet(
            hits, docs, ["lang"], hits_per_bucket=2
        ).collect()
    ]
    # en: scores 5.0 (doc 2, id tie-break), 5.0 (doc 3); doc 1 cut;
    # fr: only hit doc 4; doc 5 never hit
    assert out == [("en", 2, 1), ("en", 3, 2), ("fr", 4, 1)]

    with pytest.raises(ValueError, match="facet column"):
        top_hits_per_facet(hits, docs, [])
    with pytest.raises(ValueError, match="hits_per_bucket"):
        top_hits_per_facet(hits, docs, ["lang"], hits_per_bucket=0)


def test_significant_terms_property_vs_reference(spark):
    """Randomized-ish sweep (deterministic seeds) of significant_terms
    vs a Python reference computing the same JLH arithmetic."""
    import random

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        significant_terms,
    )
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        ensure_token_index,
    )

    words = ["a", "b", "c", "d", "e"]
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choices(words, k=rng.randint(1, 8))))
            for i in range(10)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        idx, dl = ensure_token_index(spark, df, f"t_sig_prop_{seed}")
        hit_ids = sorted(rng.sample(range(10), 3))
        hits = spark.createDataFrame([(i,) for i in hit_ids], "doc_id long")
        got = {
            r["term"]: (r["fg_df"], r["bg_df"], r["score"])
            for r in significant_terms(
                spark, idx, dl, hits, top_k=100, min_doc_count=1
            ).collect()
        }
        # reference
        tokd = {i: set(t.split()) for i, t in docs if t.split()}
        n_bg = len(tokd)
        hit_with_toks = [i for i in hit_ids if i in tokd]
        n_fg = len(hit_ids)  # operator counts the hit ROWS
        want = {}
        for w in words:
            bg_df = sum(1 for s in tokd.values() if w in s)
            fg_df = sum(1 for i in hit_with_toks if w in tokd[i])
            if not fg_df or not bg_df:
                continue
            fg_share, bg_share = fg_df / n_fg, bg_df / n_bg
            if fg_share > bg_share:
                want[w] = (
                    fg_df, bg_df,
                    round((fg_share - bg_share) * (fg_share / bg_share), 6),
                )
        assert got == want, (seed, got, want)


def test_histogram_pipeline_hand_checked(spark):
    """derivative / cumulative_sum / trailing moving_avg over a tiny
    histogram, checked against hand-computed values (OpenSearch
    pipeline-agg semantics: first-bucket derivative omitted/null,
    partial leading windows average what exists)."""
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        histogram_pipeline,
    )

    hist = spark.createDataFrame(
        [(0.0, 2), (1.0, 5), (2.0, 3)], "bucket_start double, n_hits long"
    )
    out = {
        r["bucket_start"]: (
            r["derivative"], r["cumulative_sum"], r["moving_avg"]
        )
        for r in histogram_pipeline(hist, window=2).collect()
    }
    assert out == {
        0.0: (None, 2, 2.0),
        1.0: (3, 7, 3.5),
        2.0: (-2, 10, 4.0),
    }
    import pytest

    with pytest.raises(ValueError):
        histogram_pipeline(hist, window=0)


def test_range_buckets_overlap_gaps_and_empty(spark):
    """OpenSearch range-agg semantics: from inclusive / to exclusive,
    overlapping ranges double-count, empty ranges appear at zero,
    unbounded sides work, null/NaN values are ignored."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        range_buckets,
    )

    rows = [(1.0,), (2.0,), (5.0,), (8.0,), (None,), (float("nan"),)]
    df = spark.createDataFrame(rows, "value double")
    got = [
        (r["range_key"], r["n_hits"])
        for r in range_buckets(
            df,
            "value",
            [
                ("lo", None, 5.0),     # 1, 2 (5 excluded: to-exclusive)
                ("mid", 2.0, 8.0),     # 2 (overlap with lo), 5
                ("hi", 8.0, None),     # 8 (from-inclusive)
                ("none", 100.0, None), # empty → zero row
            ],
        ).collect()
    ]
    assert got == [("lo", 2), ("mid", 2), ("hi", 1), ("none", 0)]
    with pytest.raises(ValueError):
        range_buckets(df, "value", [])
    with pytest.raises(ValueError):
        range_buckets(df, "value", [("a", None, 1.0), ("a", 1.0, None)])


def test_composite_agg_page_chains_all_buckets(spark):
    """Keyset-paged composite aggregation: pages chain via the last
    key of the previous page and cover every bucket exactly once, in
    composite-key order."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        composite_agg_page,
    )
    from pyspark.sql import functions as F

    rows = [
        ("a", "d1", 1.0), ("a", "d1", 2.0), ("a", "d2", 3.0),
        ("b", "d1", 4.0), ("b", "d3", 5.0),
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 string, v double")
    aggs = {"n": F.count(F.lit(1)).cast("long")}
    seen, after = [], None
    while True:
        page = composite_agg_page(
            df, ["k1", "k2"], aggs, after=after, size=2
        ).collect()
        if not page:
            break
        seen += [(r["k1"], r["k2"], r["n"]) for r in page]
        after = (page[-1]["k1"], page[-1]["k2"])
    assert seen == [
        ("a", "d1", 2), ("a", "d2", 1), ("b", "d1", 1), ("b", "d3", 1),
    ]
    with pytest.raises(ValueError):
        composite_agg_page(df, [], aggs)
    with pytest.raises(ValueError):
        composite_agg_page(df, ["k1", "k2"], aggs, after=("a",))


def test_range_buckets_ignores_infinities(spark):
    """±Infinity values are missing per the histogram contract — they
    match no bucket, including unbounded sides (the same missing-value
    rule as the histogram agg)."""
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        range_buckets,
    )

    rows = [
        (1.0,), (float("inf"),), (float("-inf"),), (float("nan"),), (None,),
    ]
    df = spark.createDataFrame(rows, "value double")
    got = [
        (r["range_key"], r["n_hits"])
        for r in range_buckets(
            df,
            "value",
            [("all_lo", None, 5.0), ("all_hi", 0.0, None)],
        ).collect()
    ]
    # only the single finite value counts; -inf would otherwise land
    # in all_lo and +inf in all_hi
    assert got == [("all_lo", 1), ("all_hi", 1)]


def test_bucket_script_selector_semantics(spark):
    """bucket_script computes a per-bucket metric; bucket_selector
    filters on the metric set including the computed one; NULL
    selector results drop (gap-policy skip); validation guards."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        bucket_script_selector,
    )

    rows = [
        ("d1", 10, 1),   # rate 0.1  → dropped by selector
        ("d2", 20, 10),  # rate 0.5  → kept
        ("d3", 0, 0),    # rate NULL (0/0) → dropped (skip policy)
        ("d4", 40, 30),  # rate 0.75 → kept
    ]
    df = spark.createDataFrame(
        rows, "bucket_start string, n_hits long, n_errors long"
    )
    out = bucket_script_selector(
        df,
        script=(
            "CASE WHEN n_hits = 0 THEN NULL "
            "ELSE CAST(n_errors AS DOUBLE) / CAST(n_hits AS DOUBLE) END"
        ),
        script_alias="rate",
        selector="rate > 0.2",
    ).collect()
    assert [(r["bucket_start"], r["rate"]) for r in out] == [
        ("d2", 0.5), ("d4", 0.75),
    ]
    # script alone (no selector) keeps every bucket, ordered
    all_rows = bucket_script_selector(
        df, script="n_hits - n_errors", script_alias="ok_hits"
    ).collect()
    assert [r["ok_hits"] for r in all_rows] == [9, 10, 0, 10]
    with pytest.raises(ValueError, match="identifier"):
        bucket_script_selector(df, script="1", script_alias="a b")
    with pytest.raises(ValueError, match="collides"):
        bucket_script_selector(df, script="1", script_alias="n_hits")


def test_filters_agg_semantics(spark):
    """Named-filter buckets: overlap double-counts, empty buckets
    survive at zero, NULL predicate results don't match, other_bucket
    collects the remainder, declaration order preserved."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        filters_agg,
    )

    rows = [
        ("error", 9.0), ("error", 1.0), ("purchase", 9.5),
        ("view", 2.0), ("view", None),
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = [
        (r["filter_key"], r["n_hits"])
        for r in filters_agg(
            df,
            [
                ("errors", "event_type = 'error'"),
                ("big", "value >= 8.0"),       # overlaps errors
                ("refunds", "event_type = 'refund'"),  # empty
            ],
            other_bucket_key="other",
        ).collect()
    ]
    # error@9 counts in BOTH errors and big; value NULL is non-match;
    # the two views (one with NULL value) fall to other
    assert got == [
        ("errors", 2), ("big", 2), ("refunds", 0), ("other", 2),
    ]
    with pytest.raises(ValueError, match="at least one filter"):
        filters_agg(df, [])
    with pytest.raises(ValueError, match="unique"):
        filters_agg(df, [("a", "1=1"), ("a", "1=1")])
    with pytest.raises(ValueError, match="collides"):
        filters_agg(df, [("a", "1=1")], other_bucket_key="a")
    # EMPTY hits relation: every bucket (incl. other) reports 0, not
    # NULL — the "empty buckets still appear" contract means zeros.
    empty = [
        (r["filter_key"], r["n_hits"])
        for r in filters_agg(
            df.filter("1=0"),
            [("errors", "event_type = 'error'"), ("big", "value >= 8.0")],
            other_bucket_key="other",
        ).collect()
    ]
    assert empty == [("errors", 0), ("big", 0), ("other", 0)]


def test_bucket_sort_paging_and_gap_policy(spark):
    """bucket_sort: metric sort with tiebreak, from/size paging,
    NULL sort keys drop (gap_policy skip)."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        bucket_sort,
    )

    rows = [
        ("d1", 5), ("d2", 9), ("d3", 9), ("d4", 1), ("d5", None), ("d6", 7),
    ]
    df = spark.createDataFrame(rows, "day string, n long")
    got = [
        (r["day"], r["n"])
        for r in bucket_sort(
            df, [("n", "desc"), ("day", "asc")], from_=1, size=3
        ).collect()
    ]
    # full order: d2(9) d3(9, day tiebreak) d6(7) d1(5) d4(1); d5 drops
    assert got == [("d3", 9), ("d6", 7), ("d1", 5)]
    # no paging: everything but the NULL row
    assert bucket_sort(df, [("n", "asc")]).count() == 5
    with pytest.raises(ValueError, match="sort key"):
        bucket_sort(df, [])
    with pytest.raises(ValueError, match="asc"):
        bucket_sort(df, [("n", "up")])
    with pytest.raises(ValueError, match="from_"):
        bucket_sort(df, [("n", "asc")], from_=-1)


def test_percentile_ranks_exact(spark):
    """Exact rank = 100·|{x ≤ v}|/N; null/NaN ignored; declaration
    order; validation."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        percentile_ranks,
    )

    rows = [(1.0,), (2.0,), (3.0,), (4.0,), (None,), (float("nan"),)]
    df = spark.createDataFrame(rows, "value double")
    got = [
        (r["value"], r["percentile_rank"])
        for r in percentile_ranks(df, "value", [2.0, 0.5, 4.0]).collect()
    ]
    assert got == [(2.0, 50.0), (0.5, 0.0), (4.0, 100.0)]
    with pytest.raises(ValueError, match="at least one value"):
        percentile_ranks(df, "value", [])
    with pytest.raises(ValueError, match="unique"):
        percentile_ranks(df, "value", [1.0, 1.0])


def test_extended_stats_exact(spark):
    """Hand-checked moments on a tiny set; missing values
    (null/NaN/inf) ignored; variance clamps at zero on a constant
    column; validation."""
    import math

    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        extended_stats,
    )

    rows = [(2.0,), (4.0,), (4.0,), (4.0,), (5.0,), (5.0,), (7.0,),
            (9.0,), (None,), (float("nan"),), (float("inf"),)]
    df = spark.createDataFrame(rows, "value double")
    r = extended_stats(df, "value", sigma=2.0).collect()[0]
    # the classic σ=2 example: mean 5, population variance 4, std 2
    assert r["n"] == 8
    assert r["min_value"] == 2.0 and r["max_value"] == 9.0
    assert r["sum_value"] == 40.0
    assert r["avg_value"] == 5.0
    assert r["sum_of_squares"] == 232.0
    assert r["variance"] == 4.0
    assert r["std_deviation"] == 2.0
    assert r["std_upper"] == 9.0 and r["std_lower"] == 1.0
    # constant column: exact moments make variance 0, never negative
    const = spark.createDataFrame([(3.3,)] * 5, "value double")
    rc = extended_stats(const, "value").collect()[0]
    assert rc["variance"] == 0.0 and rc["std_deviation"] == 0.0
    assert not math.isnan(rc["std_deviation"])
    with pytest.raises(ValueError, match="sigma"):
        extended_stats(df, "value", sigma=-1.0)


def test_multi_terms_buckets(spark):
    """Tuple-keyed buckets, count-desc then key-asc order, null keys
    drop, size cut; validation."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        multi_terms,
    )

    rows = [
        ("en", "web"), ("en", "web"), ("en", "book"),
        ("de", "web"), ("de", "web"), ("fr", "book"),
        (None, "web"), ("en", None),
    ]
    df = spark.createDataFrame(rows, "lang string, source string")
    got = [
        (r["lang"], r["source"], r["doc_count"])
        for r in multi_terms(df, ["lang", "source"], size=3).collect()
    ]
    # ties between (de,web) and (en,web) resolve by key tuple asc
    assert got == [("de", "web", 2), ("en", "web", 2), ("en", "book", 1)]
    with pytest.raises(ValueError, match="unique"):
        multi_terms(df, ["lang", "lang"])
    with pytest.raises(ValueError, match="size"):
        multi_terms(df, ["lang"], size=0)


def test_weighted_avg_exact(spark):
    """Σ(v·w)/Σw on a hand-checked set; a row missing EITHER side
    drops entirely (its weight must not count)."""
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        weighted_avg,
    )

    rows = [
        (1.0, 1.0), (2.0, 3.0), (10.0, 0.5),
        (None, 100.0), (5.0, None), (float("nan"), 2.0),
    ]
    df = spark.createDataFrame(rows, "v double, w double")
    r = weighted_avg(df, "v", "w").collect()[0]
    # (1 + 6 + 5) / (1 + 3 + 0.5) = 12 / 4.5
    assert r["weighted_avg"] == 12.0 / 4.5
    assert r["value_count"] == 3


def test_phrase_suggest_bigram_lm_ranking(spark):
    """Hand-checked Laplace bigram LM over candidate phrases: the
    attested bigram out-ranks the unattested one; k=3 multiplies in
    position order; empty candidate positions yield no suggestions;
    validation."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.operators.retrieval import (
        phrase_suggest,
    )
    from aws_dms_cdc_data_pipeline_spark.operators.search import (
        ensure_token_index,
    )

    rows = [
        (1, "steam table steam table"),
        (2, "stream table stream join stream join"),
        (3, "steam tab"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx, _ = ensure_token_index(spark, docs, "t_phrase_sugg_planted")

    # pos0 candidates (d=1): steam (df 2) before stream (df 1);
    # bigram counts: (steam,table)=2, (stream,table)=1
    out = phrase_suggest(
        spark, idx, docs, "stram table", max_edit=1, top_k=10
    ).collect()
    assert [(r["suggestion"], r["total_edits"], r["score"], r["rank"])
            for r in out] == [
        ("steam table", 1, 3.0, 1),
        ("stream table", 1, 2.0, 2),
    ]
    # unattested bigram keeps the Laplace floor and loses:
    # (stream,join)=2 -> 3.0 ; (steam,join)=0 -> 1.0
    out2 = phrase_suggest(
        spark, idx, docs, "stram join", max_edit=1, top_k=10
    ).collect()
    assert [(r["suggestion"], r["score"]) for r in out2] == [
        ("stream join", 3.0), ("steam join", 1.0),
    ]
    # k=3: product in position order; (table,steam)=1, (table,stream)=1
    # -> 3*2=6, 3*2=6, 2*2=4, 2*2=4, ties break on suggestion ASC
    out3 = phrase_suggest(
        spark, idx, docs, "stram table stram", max_edit=1, top_k=10
    ).collect()
    assert [(r["suggestion"], r["score"]) for r in out3] == [
        ("steam table steam", 6.0),
        ("steam table stream", 6.0),
        ("stream table steam", 4.0),
        ("stream table stream", 4.0),
    ]
    # a position with no candidate within max_edit -> no suggestions
    empty = phrase_suggest(
        spark, idx, docs, "zzzzzz table", max_edit=1, top_k=10
    )
    assert empty.count() == 0
    assert empty.columns == ["suggestion", "total_edits", "score", "rank"]
    with pytest.raises(ValueError, match=">= 2 terms"):
        phrase_suggest(spark, idx, docs, "steam")
    with pytest.raises(ValueError, match="max_edit"):
        phrase_suggest(spark, idx, docs, "a b", max_edit=-1)
    # cross-product budget guard: max_candidates^k over the cap is
    # rejected before any driver materialization (10-word phrase at
    # 5 candidates would be ~9.7M driver rows)
    long_phrase = " ".join(f"w{i}" for i in range(10))
    with pytest.raises(ValueError, match="driver-row budget"):
        phrase_suggest(spark, idx, docs, long_phrase, max_candidates=5)
    # at/below the budget the guard stays silent (8 = 100k exactly...
    # use a k/candidates pair under the cap)
    ok = phrase_suggest(
        spark, idx, docs, "stram table", max_edit=1, max_candidates=5
    )
    assert ok.columns == ["suggestion", "total_edits", "score", "rank"]


def test_boxplot_exact_nearest_rank(spark):
    """Hand-checked boxplot: ranks ceil(p*n) over sorted values,
    OpenSearch 1.5-IQR whisker values (nearest IN-RANGE data points,
    not the fences), missing values drop, empty input yields no row."""
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        boxplot_agg,
    )

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0]
    rows = [(float(v),) for v in vals] + [(None,), (float("nan"),)]
    df = spark.createDataFrame(rows, "value double")
    out = boxplot_agg(df, "value").collect()
    assert len(out) == 1
    r = out[0]
    # n=9: ranks ceil(.25*9)=3, ceil(.5*9)=5, ceil(.75*9)=7
    assert r["n"] == 9
    assert (r["min_value"], r["q1"], r["q2"], r["q3"], r["max_value"]) == (
        1.0, 3.0, 5.0, 7.0, 100.0
    )
    # IQR=4 -> fences at -3 and 13: whiskers are nearest data inside
    assert (r["lower_whisker"], r["upper_whisker"]) == (1.0, 8.0)
    empty = boxplot_agg(df.filter("value IS NULL"), "value")
    assert empty.count() == 0


def test_mad_exact(spark):
    """Hand-checked MAD: median 5, deviations {0,1,1,2,2,3,3,94,4}
    -> nearest-rank median deviation 2; constant column -> MAD 0."""
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import mad_agg

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 99.0]
    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    r = mad_agg(df, "value").collect()[0]
    assert (r["n"], r["median"], r["mad"]) == (9, 5.0, 2.0)
    const = spark.createDataFrame([(7.5,)] * 4, "value double")
    r2 = mad_agg(const, "value").collect()[0]
    assert (r2["median"], r2["mad"]) == (7.5, 0.0)


def test_quantile_prefix_no_single_partition_window(spark):
    """The exact-quantile pass must hold at distinct ≈ rows: a
    high-cardinality (all-distinct) distribution goes through the
    range-partitioned prefix cumsum, and the executed plan carries
    NO WindowExec (the old shape moved the whole distribution to a
    single-partition window task). Cumulative counts and the
    nearest-rank answers are checked against a sorted-Python
    reference."""
    import random

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        _global_cum,
        _quantile_at_ranks,
    )

    rng = random.Random(14)
    qvs = rng.sample(range(-5_000_000, 5_000_000), 20_000)
    cnts = [rng.randrange(1, 4) for _ in qvs]
    dist = spark.createDataFrame(
        list(zip(qvs, cnts)), "qv long, cnt long"
    ).repartition(16)

    d, parts = _global_cum(dist)
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "WindowExec" not in plan, plan
    # pids are range-ordered and the prefix reconstructs the exact
    # global cumulative count of the sorted distribution
    offsets, off = {}, 0
    for pid, ptot in parts:
        offsets[pid] = off
        off += ptot
    got = sorted(
        (r["qv"], int(r["_cum"]) + offsets[int(r["_pid"])])
        for r in d.collect()
    )
    ref_pairs = sorted(zip(qvs, cnts))
    run, ref = 0, []
    for qv, c in ref_pairs:
        run += c
        ref.append((qv, run))
    assert got == ref
    total = run
    ranks = {"_lo": 1, "_q1": total // 4, "_med": (total + 1) // 2,
             "_hi": total, "_over": total + 7}
    out, got_total = _quantile_at_ranks(dist, ranks)
    assert got_total == total
    # callable ranks receive the total and skip a counting job
    out_fn, _ = _quantile_at_ranks(dist, lambda n: {"_med": (n + 1) // 2})
    assert out_fn["_med"] == out["_med"]
    d.unpersist()

    def nearest(rank):
        for qv, cum in ref:
            if cum >= rank:
                return qv
        return None

    for name, r in ranks.items():
        assert out[name] == nearest(r), name


def test_string_stats_semantics(spark):
    """Hand-checked string stats: lengths over non-null values, and
    entropy of a uniform 2-symbol alphabet == 1 bit."""
    import pytest as _pt

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        string_stats,
    )

    df = spark.createDataFrame(
        [("ab",), ("ba",), (None,), ("",)], "t string"
    )
    r = string_stats(df, "t").collect()[0]
    # 3 non-null values (incl. empty), lengths 2,2,0
    assert (r["n"], r["min_length"], r["max_length"]) == (3, 0, 2)
    assert r["avg_length"] == _pt.approx(4 / 3)
    # chars: a x2, b x2 -> p=.5 each -> H = 1.0 bit
    assert r["entropy"] == _pt.approx(1.0, abs=1e-9)


def test_diversified_sampler_caps_and_order(spark):
    """Per-value cap enforced in (score DESC, id ASC) order; global
    cut after the cap; NULL dedup values form their own bucket."""
    import pytest as _pt

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        diversified_sampler,
    )

    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "en"), (4, "de"), (5, None), (6, None)],
        "doc_id long, lang string",
    )
    hits = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0), (4, 6.0), (5, 5.0), (6, 4.0)],
        "doc_id long, score double",
    )
    out = diversified_sampler(
        hits, docs, "lang", shard_size=10, max_docs_per_value=2
    ).collect()
    # en keeps ids 1,2 (drops 3); de keeps 4; NULL bucket keeps 5,6
    assert [(r["doc_id"], r["sample_rank"]) for r in out] == [
        (1, 1), (2, 2), (4, 3), (5, 4), (6, 5)
    ]
    cut = diversified_sampler(
        hits, docs, "lang", shard_size=2, max_docs_per_value=2
    ).collect()
    assert [r["doc_id"] for r in cut] == [1, 2]
    with _pt.raises(ValueError, match="shard_size"):
        diversified_sampler(hits, docs, "lang", shard_size=0)


def test_significant_text_duplicate_filtering(spark):
    """filter_duplicate_text counts exact duplicate texts once, so
    pasted boilerplate can't manufacture significance; with the
    filter off, duplicates count; validation."""
    import pytest as _pt

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        significant_text,
    )

    rows = [(i, "common words here") for i in range(1, 6)] + [
        (6, "rare signal token alpha"),
        (7, "rare signal token beta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hits = docs.filter("doc_id >= 5").select("doc_id")
    with_filter = {
        r["term"]: r["fg_df"]
        for r in significant_text(
            docs, hits, min_doc_count=1, filter_duplicate_text=True
        ).collect()
    }
    # the duplicated boilerplate collapses to ONE surviving doc
    # (doc_id 1, not a hit), so its terms are not over-represented
    assert {"rare", "signal", "token"} <= set(with_filter)
    assert "common" not in with_filter
    without = {
        r["term"]
        for r in significant_text(
            docs, hits, min_doc_count=1, filter_duplicate_text=False
        ).collect()
    }
    # unfiltered: doc 5's boilerplate terms appear in the hit set but
    # are NOT over-represented (4 of 5 copies are background) — the
    # signal terms still dominate
    assert {"rare", "signal", "token"} <= without
    with _pt.raises(ValueError, match="top_k"):
        significant_text(docs, hits, top_k=0)


def test_sampler_agg_facets_only_the_sample(spark):
    """Facets compute over ONLY the sample rows; mean score is the
    exact quantized-long mean per facet."""
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        sampler_agg,
    )

    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "de"), (5, "fr")],
        "doc_id long, lang string",
    )
    sample = spark.createDataFrame(
        [(1, 2.5), (3, 1.0), (4, 3.0)], "doc_id long, score double"
    )
    out = {r["lang"]: r for r in
           sampler_agg(docs, sample, facet_col="lang").collect()}
    assert set(out) == {"en", "de"}  # fr and doc 2 are outside the sample
    assert out["en"]["n_hits"] == 1 and out["en"]["avg_score"] == 2.5
    assert out["de"]["n_hits"] == 2 and out["de"]["avg_score"] == 2.0
