"""Exact substring-duplication spans (corpus-wide char-gram dedup) and
their excision."""

from hypothesis import given, settings, strategies as st

from aws_dms_cdc_data_pipeline_spark.operators.dedup import duplicated_spans


def _spans(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans(df, **kw).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_len"])
        )
    return {k: sorted(v) for k, v in by_doc.items()}


def test_cross_doc_duplicate_detected_and_unique_doc_clean(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "AAA " + shared + " BBB"),
        (2, "CCCCC " + shared + " DDDDD"),
        (3, "totally unique material with no repetition whatsoever here!"),
    ]
    got = _spans(spark, rows, gram_len=20, stride=5)
    assert 1 in got and 2 in got
    assert 3 not in got  # unique doc has no duplicated span
    # the detected span on doc 1 must lie within/around the shared text
    (s, e, ln) = got[1][0]
    text1 = rows[0][1]
    start_idx = text1.index(shared) + 1  # 1-based
    assert s >= max(1, start_idx - 5)
    assert e <= start_idx + len(shared) + 20
    assert ln >= len(shared) - 25  # most of the shared region is covered


def test_within_doc_repetition_detected(spark):
    block = "repeat this exact sentence block please!"
    rows = [(7, block + " filler middle text goes here " + block)]
    got = _spans(spark, rows, gram_len=20, stride=5)
    assert 7 in got  # self-repetition counts (global occurrence >= 2)


def test_adjacent_windows_merge_into_one_span(spark):
    shared = "x" * 200  # long duplicated run → many overlapping windows
    rows = [(1, shared), (2, shared)]
    got = _spans(spark, rows, gram_len=20, stride=10)
    # one maximal island per doc, covering the run up to winnowing's
    # < stride chars of tail under-coverage
    for doc in (1, 2):
        assert len(got[doc]) == 1
        s, e, ln = got[doc][0]
        assert s == 1 and e >= 190 and ln == e - s


def test_short_docs_skipped(spark):
    rows = [(1, "tiny"), (2, "tiny")]
    got = _spans(spark, rows, gram_len=20, stride=10)
    assert got == {}


def test_excise_spans_exact_offsets(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.dedup import excise_spans

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "untouched")], "doc_id long, text string"
    )
    spans = spark.createDataFrame(
        [(1, 3, 6), (1, 8, 10)],
        "doc_id long, span_start long, span_end long",
    )
    got = {r["doc_id"]: r["text"] for r in excise_spans(docs, spans).collect()}
    # 1-based half-open: cut c,d,e then h,i -> "abfgj"
    assert got[1] == "abfgj"
    assert got[2] == "untouched"


def test_dedup_then_excise_removes_duplication(spark):
    from aws_dms_cdc_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
        excise_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, "AAA " + shared + " BBB"), (2, "CCCCC " + shared + " DDDDD")],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, gram_len=20, stride=5)
    cleaned = {
        r["doc_id"]: r["text"] for r in excise_spans(docs, spans).collect()
    }
    for t in cleaned.values():
        assert shared not in t  # the duplicated region is gone
        assert len(t) < len("AAA " + shared + " BBB")
    re_spans = duplicated_spans(
        spark.createDataFrame(
            [(k, v) for k, v in cleaned.items()], "doc_id long, text string"
        ),
        gram_len=20,
        stride=5,
    ).collect()
    assert re_spans == []  # idempotent: nothing left to find


@settings(max_examples=8, deadline=None)
@given(data=st.data())
def test_excise_matches_python_slice_removal(spark, data):
    from aws_dms_cdc_data_pipeline_spark.operators.dedup import excise_spans

    text = data.draw(st.text(alphabet="abcxyz ", min_size=0, max_size=60))
    # random disjoint sorted 1-based half-open spans inside the text
    # (each span needs two unique bounds from [1, len+1])
    max_spans = min(3, (len(text) + 1) // 2)
    n_spans = data.draw(st.integers(min_value=0, max_value=max_spans))
    bounds = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(text), 1) + 1),
                min_size=2 * n_spans,
                max_size=2 * n_spans,
                unique=True,
            )
        )
    )
    spans = [(bounds[2 * i], bounds[2 * i + 1]) for i in range(n_spans)]

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sp = spark.createDataFrame(
        [(1, s, e) for s, e in spans],
        "doc_id long, span_start long, span_end long",
    )
    [row] = excise_spans(docs, sp).collect()

    want = ""
    pos = 1
    for s, e in spans:
        want += text[pos - 1 : s - 1]
        pos = e
    want += text[pos - 1 :]
    assert row["text"] == want
