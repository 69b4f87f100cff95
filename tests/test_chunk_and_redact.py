"""PII redaction and TF-IDF top terms (operators/text.py)."""

from aws_dms_cdc_data_pipeline_spark.operators.text import redact_pii


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_redact_pii_planted_spans(spark):
    docs = _mk_docs(
        spark,
        [
            (1, "mail bob.smith+x@corp.example.org or 555-12-3456 now"),
            (2, "server at 10.0.42.7 called +1 415-555-0199 twice"),
            (3, "clean text, nothing to scrub"),
        ],
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].n_email == 1 and got[1].n_ssn == 1
    assert got[1].clean_text == "mail [EMAIL] or [SSN] now"
    assert got[2].n_ipv4 == 1 and got[2].n_phone == 1
    assert got[2].clean_text == "server at [IP] called [PHONE] twice"
    assert got[3].clean_text == got[3].text
    assert (
        got[3].n_email == got[3].n_ssn == got[3].n_ipv4 == got[3].n_phone == 0
    )


def test_tfidf_top_terms_ranks_characteristic_words(spark):
    import math

    from aws_dms_cdc_data_pipeline_spark.operators.text import tfidf_top_terms

    docs = _mk_docs(
        spark,
        [
            (1, "common zebra zebra"),
            (2, "common yak yak"),
            (3, "common common common"),
        ],
    )
    out = tfidf_top_terms(docs, k=1).collect()
    top = {r.doc_id: r for r in out}
    # the doc-characteristic word beats the corpus-wide one
    assert top[1].term == "zebra" and top[2].term == "yak"
    assert top[3].term == "common"
    expect = round(2 * (math.log(4 / 2) + 1), 6)
    assert abs(top[1].tfidf - expect) < 1e-9
    assert all(r.rank == 1 for r in out)


def test_redact_order_ssn_counted_before_phone_pattern(spark):
    # the SSN must be typed as SSN, not swallowed by the broader
    # phone-run pattern later in the chain
    docs = _mk_docs(spark, [(1, "ssn 123-45-6789 end")])
    (row,) = redact_pii(docs).collect()
    assert row.n_ssn == 1 and row.n_phone == 0
    assert row.clean_text == "ssn [SSN] end"
