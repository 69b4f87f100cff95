"""Phase-2 streaming parity: streaming result ≡ batch result (SURVEY §5),
triple sink layout (S5/S6/S7), checkpointed resume (§3.3), replay
idempotency (T1).
"""

import glob
import json
import os

from aws_dms_cdc_data_pipeline_spark.generator import (
    GeneratorConfig,
    envelopes_df,
    write_envelope_jsonl,
)
from aws_dms_cdc_data_pipeline_spark.plans.pipeline import cdc_batch_pipeline
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import StateStore
from aws_dms_cdc_data_pipeline_spark.streaming.pipeline import (
    CdcStreamConfig,
    run_cdc_backfill,
)

CFG = GeneratorConfig(
    n_rows=80,
    update_fraction=0.3,
    delete_fraction=0.1,
    duplicate_fraction=0.15,
    shuffle_fraction=0.25,
    foreign_fraction=0.1,
)


def _rows(df):
    return sorted(map(str, df.collect()))


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "wire")
    sink = str(tmp_path / "sink")
    write_envelope_jsonl(CFG, src, files=5)

    cfg = CdcStreamConfig(source_path=src, sink_root=sink, trigger_seconds=None,
                          max_files_per_trigger=2)  # force multiple micro-batches
    run_cdc_backfill(spark, cfg)

    streamed = StateStore(spark, cfg.state_path).table()
    batch = cdc_batch_pipeline(envelopes_df(spark, CFG))
    assert _rows(streamed) == _rows(batch)

    # S6: hourly-partitioned raw archive exists and holds every
    # well-formed record exactly once per delivery
    archived = glob.glob(os.path.join(cfg.archive_path, "batch_id=*", "year=*",
                                      "month=*", "day=*", "hour=*", "*.json"))
    assert archived, "raw archive missing"


def test_dlq_captures_malformed_lines(spark, tmp_path):
    src = str(tmp_path / "wire")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    write_envelope_jsonl(
        GeneratorConfig(n_rows=10, update_fraction=0.0, delete_fraction=0.0),
        src,
        files=1,
    )
    with open(os.path.join(src, "bad.jsonl"), "w") as f:
        f.write("this is not json\n")
        f.write('{"data": {"trans_id": 1}}\n')  # missing metadata/doc_id

    cfg = CdcStreamConfig(source_path=src, sink_root=sink, trigger_seconds=None)
    run_cdc_backfill(spark, cfg)

    dlq_files = glob.glob(
        os.path.join(cfg.error_path, "batch_id=*", "parse", "*.json")
    )
    assert dlq_files
    dead = [json.loads(line) for p in dlq_files for line in open(p)]
    assert len(dead) == 2
    assert all(d["error"] == "parse-error" for d in dead)
    # good rows still delivered
    assert StateStore(spark, cfg.state_path).table().count() == 10


def test_delivery_transient_failure_recovers_within_retry_budget(
    spark, tmp_path, monkeypatch
):
    """S7 delivery leg: a merge that fails twice then succeeds must
    recover inside the retry budget — full state, no delivery DLQ."""
    src = str(tmp_path / "wire")
    sink = str(tmp_path / "sink")
    write_envelope_jsonl(CFG, src, files=2)

    real_merge = StateStore.merge
    calls = {"n": 0}

    def flaky_merge(self, df, changes=None, touched=None, keys=None):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise RuntimeError("transient index outage")
        return real_merge(self, df, changes, touched, keys)

    monkeypatch.setattr(StateStore, "merge", flaky_merge)
    cfg = CdcStreamConfig(
        source_path=src, sink_root=sink, trigger_seconds=None,
        delivery_retry_seconds=30.0, delivery_retry_backoff_seconds=0.05,
    )
    run_cdc_backfill(spark, cfg)

    assert calls["n"] == 3  # 2 failures + 1 success, single batch
    monkeypatch.setattr(StateStore, "merge", real_merge)
    streamed = StateStore(spark, cfg.state_path).table()
    batch = cdc_batch_pipeline(envelopes_df(spark, CFG))
    assert _rows(streamed) == _rows(batch)
    assert not glob.glob(
        os.path.join(cfg.error_path, "batch_id=*", "delivery", "*.json")
    )


def test_delivery_permanent_failure_dead_letters_and_stream_continues(
    spark, tmp_path, monkeypatch
):
    """S7 delivery leg: a poison batch exhausts the bounded retry
    budget, is dead-lettered with failure metadata, and the stream
    moves on to later batches instead of livelocking."""
    src = str(tmp_path / "wire")
    sink = str(tmp_path / "sink")
    write_envelope_jsonl(CFG, src, files=4)

    real_merge = StateStore.merge
    calls = {"n": 0}

    def poison_first_batch(self, df, changes=None, touched=None, keys=None):
        calls["n"] += 1
        if calls["n"] <= 3:  # every retry of epoch 0 fails
            raise RuntimeError("mapping conflict: poison batch")
        return real_merge(self, df, changes, touched, keys)

    monkeypatch.setattr(StateStore, "merge", poison_first_batch)
    cfg = CdcStreamConfig(
        source_path=src, sink_root=sink, trigger_seconds=None,
        max_files_per_trigger=2,  # ≥2 epochs: 0 poisoned, rest deliver
        delivery_retry_seconds=0.2, delivery_retry_backoff_seconds=0.05,
    )
    run_cdc_backfill(spark, cfg)  # must NOT raise
    monkeypatch.setattr(StateStore, "merge", real_merge)

    dlq = glob.glob(
        os.path.join(cfg.error_path, "batch_id=0", "delivery", "*.json")
    )
    assert dlq, "poison batch not dead-lettered"
    dead = [json.loads(line) for p in dlq for line in open(p)]
    assert all(d["error"] == "delivery-error" for d in dead)
    assert all("poison batch" in d["detail"] for d in dead)
    assert all(d["attempts"] >= 2 for d in dead)
    # later epochs still delivered: state holds a strict subset of the
    # batch oracle (exactly the keys whose latest version survived the
    # dead-lettered epoch), and it is non-empty
    store = StateStore(spark, cfg.state_path)
    assert store.version() >= 0  # ≥1 successful merge (epoch 1+)
    assert store.table().count() > 0
    # replaying the DLQ records restores full parity (at-least-once:
    # nothing was lost, only parked)
    from pyspark.sql import functions as F

    from aws_dms_cdc_data_pipeline_spark.sources.envelope_stream import (
        parse_envelope_lines,
    )

    parked_raw = spark.read.json(
        os.path.join(cfg.error_path, "batch_id=0", "delivery")
    )
    parked = parse_envelope_lines(parked_raw, line_col="raw")
    store.merge(parked.filter(~F.col("_corrupt")).drop("_raw", "_corrupt"))
    batch = cdc_batch_pipeline(envelopes_df(spark, CFG))
    assert _rows(store.table()) == _rows(batch)


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "wire")
    sink = str(tmp_path / "sink")
    write_envelope_jsonl(GeneratorConfig(n_rows=40, delete_fraction=0.1), src, files=2)

    cfg = CdcStreamConfig(source_path=src, sink_root=sink, trigger_seconds=None)
    run_cdc_backfill(spark, cfg)
    store = StateStore(spark, cfg.state_path)
    v1 = store.version()
    n1 = store.table().count()
    assert n1 == 40 - 4

    # restart with no new input: checkpoint means no new batch work
    run_cdc_backfill(spark, cfg)
    assert store.table().count() == n1

    # new file arrives → only it is processed, state is upserted
    more = GeneratorConfig(n_rows=50, seed=7)
    write_envelope_jsonl(more, str(tmp_path / "extra"), files=1)
    os.rename(
        glob.glob(str(tmp_path / "extra" / "*.jsonl"))[0],
        os.path.join(src, "part-late.jsonl"),
    )
    run_cdc_backfill(spark, cfg)
    assert store.version() > v1
    # streamed state ≡ batch pipeline over the union of both inputs
    both = envelopes_df(
        spark, GeneratorConfig(n_rows=40, delete_fraction=0.1)
    ).unionByName(envelopes_df(spark, more))
    expected = cdc_batch_pipeline(both)
    assert sorted(map(str, store.table().collect())) == sorted(
        map(str, expected.collect())
    )
