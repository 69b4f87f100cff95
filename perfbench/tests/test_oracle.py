"""Self-tests for the benchmark's generator and oracle.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The pure-Python tests take a second; ``test_oracle_rejects_wrong_store``
drains a small backlog through the real pipeline on a local Spark
session (about half a minute).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import workload as wl  # noqa: E402


def _env(key, ts, txn, doc, op="update", amount=5, table=wl.TABLE_NAME):
    return json.dumps({
        "data": {"trans_id": key, "customer_id": "000000000001", "event": "cart",
                 "sku": "AB123CDEF", "amount": amount, "device": "pc",
                 "trans_datetime": "2022-03-14T01:02:03.000000Z"},
        "metadata": {"timestamp": ts, "record-type": "data", "operation": op,
                     "partition-key-type": "primary-key",
                     "schema-name": wl.SCHEMA_NAME, "table-name": table,
                     "transaction-id": txn},
        "doc_id": doc,
    })


def test_fold_orders_by_timestamp_txn_doc_id_and_drops_anomalies():
    lines = [
        _env(1, "2022-03-14T14:00:00.000002Z", 10, "b", amount=7),
        _env(1, "2022-03-14T14:00:00.000001Z", 99, "z", amount=3),  # older ts
        _env(2, "2022-03-14T14:00:00.000001Z", 5, "a", amount=4),
        _env(2, "2022-03-14T14:00:00.000001Z", 5, "b", op="delete"),  # doc_id tie-break
        _env(3, "2022-03-14T14:00:00.000001Z", 5, "a", amount=-1),   # contract
        _env(4, "2022-03-14T14:00:00.000001Z", 5, "a", table="other_table"),
        '{"data": {"trans_id": 5',                                    # malformed
    ]
    fold = oracle.Fold().add_all(reversed(lines))
    assert {k: r["amount"] for k, r in fold.live_rows().items()} == {1: 7}
    assert (fold.corrupt, fold.foreign, fold.violations) == (1, 1, 1)


def test_generator_counts_match_the_oracle():
    lines, counts = wl.backfill_lines(seed=5, n_changes=3000)
    fold = oracle.Fold().add_all(lines)
    assert counts.lines == len(lines)
    assert fold.corrupt == counts.malformed > 0
    assert fold.foreign == counts.foreign > 0
    assert fold.violations == counts.violations > 0
    assert counts.duplicates > 0 and counts.swaps > 0
    # same seed, same inputs
    assert wl.backfill_lines(seed=5, n_changes=3000)[0] == lines


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    from aws_dms_cdc_data_pipeline_spark import get_spark

    s = get_spark("perfbench-tests", master="local[2]", extra_conf={
        "spark.local.dir": str(tmp_path_factory.mktemp("local")),
        "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_oracle_rejects_wrong_store(spark, tmp_path):
    """A drained store passes; the same store with one row changed
    behind the pipeline's back fails the checksum and the live count."""
    import run
    from aws_dms_cdc_data_pipeline_spark.sinks.state_store import StateStore
    from aws_dms_cdc_data_pipeline_spark.sources.envelope_stream import (
        parse_envelope_lines,
    )

    lines, _ = wl.backfill_lines(seed=9, n_changes=600)
    wl.write_files(lines, str(tmp_path / "src"), 4)
    bench = run.Bench(str(tmp_path))
    bench.spark = spark
    bench.progress = []
    sink = str(tmp_path / "sink")
    bench.drain(str(tmp_path / "src"), sink, 2)
    fold = oracle.Fold().add_all(lines)
    exp = fold.expected()
    store = StateStore(spark, os.path.join(sink, "state"))
    bench.check("drained", exp, bench.observe(sink, store))
    assert bench.problems == []

    key, row = next(iter(fold.live_rows().items()))
    forged = _env(key, "2099-01-01T00:00:00.000000Z", 1, "forged",
                  amount=row["amount"] + 1)
    bad = parse_envelope_lines(spark.createDataFrame([(forged,)], "value string"))
    store.merge(bad.drop("_raw", "_corrupt"))
    bench.check("forged", exp, bench.observe(sink, store))
    assert any("live_digest" in p for p in bench.problems)

    gone = _env(key, "2099-01-01T00:00:01.000000Z", 2, "forged2", op="delete")
    store.merge(parse_envelope_lines(
        spark.createDataFrame([(gone,)], "value string")).drop("_raw", "_corrupt"))
    bench.problems.clear()
    bench.check("deleted", exp, bench.observe(sink, store))
    assert any("live_rows" in p for p in bench.problems)
