"""The delivery's side legs: one Spark pass, today's on-disk layout.

``_deliver`` writes the parse DLQ, the contract DLQ and the hourly
archive of a micro-batch in one tagged write, renames the legs into
``error/batch_id=N/{parse,contract}`` and ``archive/batch_id=N/…``,
and hands the merge the buckets it observed on that pass. These tests
pin the job budget of a delivered batch (a host-independent count)
and compare every leg's lines with what separate per-leg writers of
the same batch produce.
"""

import collections
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.generator import (
    GeneratorConfig,
    envelopes_df,
    generate_envelopes,
    write_envelope_jsonl,
)
from aws_dms_cdc_data_pipeline_spark.operators.expectations import quarantine_violations
from aws_dms_cdc_data_pipeline_spark.operators.selection import select_table
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import StateStore, fsck
from aws_dms_cdc_data_pipeline_spark.sources.envelope_stream import parse_envelope_lines
from aws_dms_cdc_data_pipeline_spark.streaming.matview import IncrementalAggView
from aws_dms_cdc_data_pipeline_spark.streaming.pipeline import CdcStreamConfig, _deliver

CHECKS = {"small_amount": "data.amount < 50"}
CORRUPT = ["this is not json", '{"data": {"trans_id": 1}}']


def _wire(tmp_path, n_rows=60, files=1):
    """A wire directory holding clean, foreign-table, contract-violating
    and corrupt lines, some of them in a second capture hour."""
    src = str(tmp_path / "wire")
    write_envelope_jsonl(
        GeneratorConfig(n_rows=n_rows, foreign_fraction=0.1, duplicate_fraction=0.1),
        src,
        files=files,
    )
    later = generate_envelopes(GeneratorConfig(n_rows=5, seed=9))
    with open(os.path.join(src, "extra.jsonl"), "w") as f:
        for e in later:
            e["metadata"]["timestamp"] = "2022-03-14T17:05:00.000000Z"
            f.write(json.dumps(e, default=lambda t: t.isoformat() + "Z") + "\n")
        f.write("\n".join(CORRUPT) + "\n")
    return src


def _batch(spark, src):
    return parse_envelope_lines(spark.read.text(src))


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "checks,with_view,files",
    [(None, False, 1), (CHECKS, False, 1), (None, True, 1), (CHECKS, True, 1),
     (CHECKS, True, 4)],
    ids=["plain", "contract", "view", "contract-view", "contract-view-4-files"],
)
def test_delivered_batch_runs_at_most_four_jobs(spark, tmp_path, checks, with_view, files):
    src = _wire(tmp_path, n_rows=60 * files, files=files)
    batch = _batch(spark, src)
    if files > 1:
        assert batch.rdd.getNumPartitions() > 1
    cfg = CdcStreamConfig(source_path=src, sink_root=str(tmp_path / "sink"),
                          contract_checks=checks)
    store = StateStore(spark, cfg.state_path)
    view = (
        IncrementalAggView(store, str(tmp_path / "view"), group_expr="data.device",
                           group_alias="group_key", sums={"amount_sum": "data.amount"})
        if with_view else None
    )
    if view is not None:
        view.rebuild()  # built before the stream starts, as a deployment does
    deliver = _deliver(cfg, store, view)
    # the first batch merges into an empty store, the second over stored buckets
    for epoch in (0, 1):
        jobs = _jobs(spark, f"deliver-{tmp_path.name}-{epoch}",
                     lambda: deliver(batch, epoch))
        assert jobs <= 4, f"epoch {epoch}: {jobs} jobs"
    assert store.version() == 1
    assert store.table().count() > 0


def test_tail_batch_rewrites_only_the_delta_run(spark, tmp_path):
    """A tail-sized batch over a store at least ten times its size, with
    a view attached, goes into the delta run: at most 4 jobs, the
    buckets map unchanged, exactly one new data file under state/."""
    src = _wire(tmp_path, n_rows=20)
    batch = _batch(spark, src)
    cfg = CdcStreamConfig(source_path=src, sink_root=str(tmp_path / "sink"),
                          contract_checks=CHECKS)
    store = StateStore(spark, cfg.state_path)
    store.merge(envelopes_df(spark, GeneratorConfig(n_rows=600, seed=3)))
    assert store._manifest()["base_rows"] >= 10 * batch.count()
    view = IncrementalAggView(store, str(tmp_path / "view"), group_expr="data.device",
                              group_alias="group_key", sums={"amount_sum": "data.amount"})
    view.rebuild()

    def data_files():
        return set(glob.glob(os.path.join(cfg.state_path, "**", "*.parquet"),
                             recursive=True))

    before, buckets = data_files(), store._manifest()["buckets"]
    jobs = _jobs(spark, f"tail-{tmp_path.name}", lambda: _deliver(cfg, store, view)(batch, 0))
    assert jobs <= 4, f"{jobs} jobs"
    manifest = store._manifest()
    assert manifest["buckets"] == buckets
    assert manifest["delta"]["v"] == manifest["generation"] == 1
    after = data_files()
    assert before <= after and len(after - before) == 1
    fresh = IncrementalAggView(store, str(tmp_path / "fresh"), group_expr="data.device",
                               group_alias="group_key", sums={"amount_sum": "data.amount"})
    fresh.rebuild()
    assert sorted(map(tuple, view.table().collect())) == sorted(
        map(tuple, fresh.table().collect()))

    # a key set that misses a key of the batch must not commit
    late = envelopes_df(spark, GeneratorConfig(n_rows=5, seed=12))
    with pytest.raises(RuntimeError, match="outside the key set"):
        store.merge(late, keys=[2, 3, 4, 5])
    assert store._manifest() == manifest
    assert data_files() == after
    assert not [e for e in os.listdir(cfg.state_path) if e.startswith("_staging-")]
    assert fsck(store)["orphans"] == []


def _reference_legs(cfg, batch, epoch):
    """The three side legs written the per-leg way: one write each."""
    now = F.current_timestamp()
    err = os.path.join(cfg.error_path, f"batch_id={epoch}")
    batch.filter(F.col("_corrupt")).select(
        F.col("_raw").alias("raw"), F.lit("parse-error").alias("error"),
        now.alias("dead_lettered_at"),
    ).write.mode("overwrite").json(os.path.join(err, "parse"))
    good = batch.filter(~F.col("_corrupt")).drop("_raw", "_corrupt")
    selected = select_table(good, cfg.schema_name, cfg.table_name)
    _, violating = quarantine_violations(selected, cfg.contract_checks)
    violating.select(
        F.to_json(F.struct("data", "metadata", "doc_id")).alias("raw"),
        F.lit("contract-violation").alias("error"),
        F.array_join("violations", ",").alias("detail"),
        now.alias("dead_lettered_at"),
    ).write.mode("overwrite").json(os.path.join(err, "contract"))
    ts = "metadata.timestamp"
    (
        good.withColumn("year", F.date_format(ts, "yyyy"))
        .withColumn("month", F.date_format(ts, "MM"))
        .withColumn("day", F.date_format(ts, "dd"))
        .withColumn("hour", F.date_format(ts, "HH"))
        .withColumn("value", F.to_json(F.struct("data", "metadata")))
        .select("year", "month", "day", "hour", "doc_id", "value")
        .repartition("year", "month", "day", "hour",
                     F.pmod(F.xxhash64("doc_id"), F.lit(8)))
        .write.mode("overwrite")
        .partitionBy("year", "month", "day", "hour")
        .json(os.path.join(cfg.archive_path, f"batch_id={epoch}"))
    )


def _lines(leg_dir):
    """{partition dir relative to the leg: multiset of lines}, with the
    dead-letter time masked (it is the write's clock)."""
    out = collections.defaultdict(collections.Counter)
    for path in glob.glob(os.path.join(leg_dir, "**", "part-*"), recursive=True):
        if path.endswith(".crc"):
            continue
        rel = os.path.relpath(os.path.dirname(path), leg_dir)
        for line in open(path):
            rec = json.loads(line)
            if "dead_lettered_at" in rec:
                rec["dead_lettered_at"] = "<t>"
            # key order matters: it is the line's field order on disk
            out[rel][json.dumps(rec)] += 1
    return dict(out)


def test_side_legs_keep_the_per_leg_layout(spark, tmp_path):
    src = _wire(tmp_path)
    batch = _batch(spark, src)
    cfg = CdcStreamConfig(source_path=src, sink_root=str(tmp_path / "sink"),
                          contract_checks=CHECKS)
    ref = CdcStreamConfig(source_path=src, sink_root=str(tmp_path / "ref"),
                          contract_checks=CHECKS)
    store = StateStore(spark, cfg.state_path)
    deliver = _deliver(cfg, store)
    _reference_legs(ref, batch, 3)
    deliver(batch, 3)
    deliver(batch, 3)  # a replayed epoch overwrites its own output

    legs = {
        "archive": ("archive", "batch_id=3"),
        "parse": ("error", "batch_id=3", "parse"),
        "contract": ("error", "batch_id=3", "contract"),
    }
    for leg, rel in legs.items():
        got = _lines(os.path.join(cfg.sink_root, *rel))
        want = _lines(os.path.join(ref.sink_root, *rel))
        assert got == want, leg
        assert os.path.exists(os.path.join(cfg.sink_root, *rel, "_SUCCESS")), leg
    hours = _lines(os.path.join(cfg.archive_path, "batch_id=3"))
    assert len(hours) == 2 and any(h.endswith("/hour=17") for h in hours)
    parse = _lines(os.path.join(cfg.error_path, "batch_id=3", "parse"))
    assert sum(parse["."].values()) == len(CORRUPT)
    assert sum(_lines(os.path.join(cfg.error_path, "batch_id=3", "contract"))["."].values())
    assert not glob.glob(os.path.join(cfg.sink_root, "_legs-*"))

    # a batch with no corrupt and no violating line still gets both
    # DLQ directories, each marked complete and holding no line
    clean = batch.filter(~F.col("_corrupt")).filter("data.amount < 50")
    deliver(clean, 4)
    for kind in ("parse", "contract"):
        leg_dir = os.path.join(cfg.error_path, "batch_id=4", kind)
        assert os.path.exists(os.path.join(leg_dir, "_SUCCESS")), kind
        assert _lines(leg_dir) == {}, kind
    assert _lines(os.path.join(cfg.archive_path, "batch_id=4"))
    assert not glob.glob(os.path.join(cfg.sink_root, "_legs-*"))
