"""Property tests: the bucket pipeline aggs and composite paging
(operators/aggs.py) vs brute-force Python references."""

from hypothesis import HealthCheck, given, settings, strategies as st


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(
    counts=st.lists(st.integers(0, 10**6), min_size=1, max_size=12),
    window=st.integers(1, 5),
)
def test_histogram_pipeline_matches_reference(spark, counts, window):
    """derivative/cumulative_sum/moving_avg over arbitrary bucket
    counts == a pure-Python reference (trailing partial windows)."""
    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        histogram_pipeline,
    )

    rows = [(float(i), c) for i, c in enumerate(counts)]
    hist = spark.createDataFrame(rows, "bucket_start double, n_hits long")
    got = {
        r["bucket_start"]: (
            r["derivative"], r["cumulative_sum"], r["moving_avg"]
        )
        for r in histogram_pipeline(hist, window=window).collect()
    }
    run = 0
    want = {}
    for i, c in enumerate(counts):
        run += c
        lo = max(0, i - window + 1)
        seg = counts[lo: i + 1]
        want[float(i)] = (
            None if i == 0 else c - counts[i - 1],
            run,
            sum(seg) / len(seg),
        )
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(
    buckets=st.dictionaries(
        st.tuples(st.sampled_from("abc"), st.integers(0, 3)),
        st.integers(1, 5),
        min_size=1, max_size=10,
    ),
    size=st.integers(1, 4),
)
def test_composite_paging_covers_all_buckets(spark, buckets, size):
    """Chained composite pages enumerate every bucket exactly once in
    composite-key order, for arbitrary bucket sets and page sizes."""
    from pyspark.sql import functions as F

    from aws_dms_cdc_data_pipeline_spark.operators.aggs import (
        composite_agg_page,
    )

    rows = [
        (k1, k2, j) for (k1, k2), n in buckets.items() for j in range(n)
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 long, v long")
    aggs = {"n": F.count(F.lit(1)).cast("long")}
    seen, after = [], None
    while True:
        page = composite_agg_page(
            df, ["k1", "k2"], aggs, after=after, size=size
        ).collect()
        if not page:
            break
        assert len(page) <= size
        seen += [((r["k1"], r["k2"]), r["n"]) for r in page]
        after = (page[-1]["k1"], page[-1]["k2"])
    assert seen == sorted(buckets.items())
