"""Phase-2 streaming pipeline: readStream → foreachBatch triple sink.

Mirrors the reference's delivery stage (SURVEY.md §3.1 steps 5-7):

- 60 s processing-time micro-batches (Firehose buffering hints,
  firehose.py:139-142; tests use ``availableNow`` for determinism),
- per batch: (a) idempotent MERGE into the current-state store
  (S5/T1), (b) raw append partitioned ``year/month/day/hour``
  (S6 — firehose.py:132-135's `{index}/YYYY/MM/dd/HH/` layout),
  (c) dead-letter failed/malformed records under ``error/``
  (S7 — firehose.py:134,150-152),
- checkpoint directory = the replication task's resume state
  (§3.3): stop + restart continues from the last committed batch.

Watermarking note (T3): the batch-merge semantics make late data a
non-issue for correctness — the per-key ranking window re-evaluates
with whatever has arrived, exactly like the reference's OpenSearch
re-sorting on event time at query. ``withWatermark`` only enters if
a user adds streaming event-time aggregations on top.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_dms_cdc_data_pipeline_spark import schema as S
from aws_dms_cdc_data_pipeline_spark.operators.selection import select_table
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import ChangeCapture, StateStore
from aws_dms_cdc_data_pipeline_spark.sources.envelope_stream import read_envelope_stream


@dataclass
class CdcStreamConfig:
    source_path: str          # JSONL wire files (Kinesis stand-in)
    sink_root: str            # root dir for state/ archive/ error/ checkpoint/
    schema_name: str = S.DEFAULT_SCHEMA_NAME
    table_name: str = S.DEFAULT_TABLE_NAME
    trigger_seconds: int | None = 60   # None → availableNow (tests/backfill)
    max_files_per_trigger: int | None = None
    # S7 (second half): bounded retry budget for *delivery* failures
    # before the batch is dead-lettered and the stream moves on —
    # mirrors the reference's 60 s RetryOptions on the Firehose →
    # OpenSearch leg (cdk_stacks/firehose.py:150-152). Tests shrink
    # both to keep the failure path fast.
    delivery_retry_seconds: float = 60.0
    delivery_retry_backoff_seconds: float = 1.0
    # Optional data-contract gate: named boolean SQL predicates over
    # the selected envelopes (data.*/metadata.*/doc_id). Well-formed
    # rows that FAIL a predicate are quarantined to
    # error/batch_id=N/contract/ (with the failed check names) and
    # excluded from the state merge — the third DLQ class beside
    # parse (malformed) and delivery (sink failure). They still land
    # in the raw archive: backup-before-validate, same order the
    # reference applies (firehose.py:153 backs up AllDocuments).
    contract_checks: dict[str, str] | None = None

    @property
    def state_path(self) -> str:
        return os.path.join(self.sink_root, "state")

    @property
    def archive_path(self) -> str:
        return os.path.join(self.sink_root, "archive")

    @property
    def error_path(self) -> str:
        return os.path.join(self.sink_root, "error")

    @property
    def checkpoint_path(self) -> str:
        return os.path.join(self.sink_root, "checkpoint")


def _merge_with_retry(
    store: StateStore,
    selected: DataFrame,
    budget_seconds: float,
    backoff_seconds: float,
    changes: ChangeCapture | None = None,
) -> tuple[Exception | None, int, int | None]:
    """Retry ``store.merge`` with exponential backoff until the budget
    is spent; return (None, attempts, generation) on success or
    (last_error, attempts, None) once exhausted. Always attempts at
    least once. ``changes`` is handed to every attempt, which observes
    afresh, so it ends up holding the committed attempt's change set.

    Matches the reference's bounded delivery retry (firehose.py:150-152:
    RetryOptions duration_in_seconds=60) — a poison batch must NOT
    fail the stream forever; after the budget it is dead-lettered and
    the stream moves on to the next trigger.
    """
    deadline = time.monotonic() + budget_seconds
    attempts = 0
    while True:
        attempts += 1
        try:
            return None, attempts, store.merge(selected, changes)
        except Exception as exc:  # noqa: BLE001 — any failure is retryable
            delay = backoff_seconds * (2 ** (attempts - 1))
            if time.monotonic() + delay > deadline:
                return exc, attempts, None
            time.sleep(delay)


def _deliver(cfg: CdcStreamConfig, store: StateStore, view=None):
    """Build the foreachBatch delivery function.

    ``view`` (optional ``IncrementalAggView``) is advanced after each
    successful merge from the signed change set that merge observed on
    its own write job — the view leg runs no Spark job of its own.
    """

    def deliver(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        try:
            # S7: dead-letter malformed lines with failure metadata.
            # Layout is error/batch_id=N/<error-type>/ — the epoch key
            # makes a replayed epoch overwrite its own previous
            # (possibly partial) attempt instead of doubling, and the
            # error-type subdir mirrors the reference's
            # !{firehose:error-output-type} prefix (firehose.py:134).
            corrupt = batch.filter(F.col("_corrupt"))
            corrupt.select(
                F.col("_raw").alias("raw"),
                F.lit("parse-error").alias("error"),
                F.current_timestamp().alias("dead_lettered_at"),
            ).write.mode("overwrite").json(
                os.path.join(cfg.error_path, f"batch_id={epoch_id}", "parse")
            )

            good = batch.filter(~F.col("_corrupt")).drop("_raw", "_corrupt")
            selected = select_table(good, cfg.schema_name, cfg.table_name)

            # S7 (third class): contract quarantine — well-formed rows
            # violating a declared invariant park with their reasons
            # and stay out of the state merge (the archive above keeps
            # the raw record regardless). Epoch-keyed like the other
            # DLQ legs, so replays overwrite their own prior attempt.
            if cfg.contract_checks:
                from aws_dms_cdc_data_pipeline_spark.operators.expectations import (
                    quarantine_violations,
                )

                selected, violating = quarantine_violations(
                    selected, cfg.contract_checks
                )
                violating.select(
                    F.to_json(
                        F.struct("data", "metadata", "doc_id")
                    ).alias("raw"),
                    F.lit("contract-violation").alias("error"),
                    F.array_join("violations", ",").alias("detail"),
                    F.current_timestamp().alias("dead_lettered_at"),
                ).write.mode("overwrite").json(
                    os.path.join(
                        cfg.error_path, f"batch_id={epoch_id}", "contract"
                    )
                )

            # S6: raw hourly-partitioned archive of EVERY delivered
            # record (AllDocuments backup — selection happens after
            # backup in our layout too, matching firehose.py:153).
            # Partition axis = capture time (deterministic; the
            # reference uses Firehose arrival time, which is the same
            # axis one buffer later). Epoch subdir → idempotent replay.
            # Writer distribution: repartition on the partition axes
            # ALONE collapses a batch spanning few hours onto that many
            # writer tasks (a 60 s trigger usually spans ONE hour — the
            # whole batch serialized through a single JSON writer,
            # measured 2/3 of drain wall at 1M envelopes). An 8-way
            # doc_id salt inside each hour keeps writers parallel and
            # bounds files at 8/hour/batch — the same layout shape at
            # any scale.
            (
                good.withColumn("year", F.date_format("metadata.timestamp", "yyyy"))
                .withColumn("month", F.date_format("metadata.timestamp", "MM"))
                .withColumn("day", F.date_format("metadata.timestamp", "dd"))
                .withColumn("hour", F.date_format("metadata.timestamp", "HH"))
                .withColumn("value", F.to_json(F.struct("data", "metadata")))
                .select("year", "month", "day", "hour", "doc_id", "value")
                .repartition(
                    "year", "month", "day", "hour",
                    F.pmod(F.xxhash64("doc_id"), F.lit(8)),
                )
                .write.mode("overwrite")
                .partitionBy("year", "month", "day", "hour")
                .json(os.path.join(cfg.archive_path, f"batch_id={epoch_id}"))
            )

            # S5: idempotent upsert into the current-state store,
            # bounded-retry → DLQ (S7, delivery leg). A transient
            # failure recovers within the budget; a permanent one
            # dead-letters this batch's records with failure metadata
            # and lets the stream continue — at-least-once is kept
            # (the DLQ holds the records for operator-driven replay)
            # and a poison batch can no longer livelock the stream.
            delivery_dlq = os.path.join(
                cfg.error_path, f"batch_id={epoch_id}", "delivery"
            )
            changes = (
                ChangeCapture(view.signed_row) if view is not None else None
            )
            err, attempts, gen = _merge_with_retry(
                store,
                selected,
                cfg.delivery_retry_seconds,
                cfg.delivery_retry_backoff_seconds,
                changes,
            )
            if err is None and view is not None:
                # replayed epochs are safe: replayed records cancel in
                # the change set; a missed generation rebuilds
                view.advance(gen, changes.rows())
            if err is None:
                # A crash between a failed attempt's DLQ write and the
                # checkpoint commit can leave a stale delivery DLQ for
                # this epoch; the successful replay clears it.
                shutil.rmtree(delivery_dlq, ignore_errors=True)
            else:
                # raw = the full KEYED wire line (doc_id included) so a
                # parked record replays through parse_envelope_lines intact.
                selected.select(
                    F.to_json(F.struct("data", "metadata", "doc_id")).alias("raw"),
                    F.lit("delivery-error").alias("error"),
                    F.lit(f"{type(err).__name__}: {err}"[:500]).alias("detail"),
                    F.lit(attempts).alias("attempts"),
                    F.current_timestamp().alias("dead_lettered_at"),
                ).write.mode("overwrite").json(delivery_dlq)
        finally:
            batch.unpersist()

    return deliver


def start_cdc_stream(
    spark: SparkSession, cfg: CdcStreamConfig, *, matview=None
) -> StreamingQuery:
    """Wire and start the CDC delivery stream.

    ``matview``: optional ``IncrementalAggView`` bound to this
    stream's StateStore path; maintained incrementally per batch.
    """
    stream = read_envelope_stream(
        spark, cfg.source_path, max_files_per_trigger=cfg.max_files_per_trigger
    )
    store = StateStore(spark, cfg.state_path)
    if matview is not None and matview.store.path != store.path:
        raise ValueError(
            "matview is bound to a different StateStore path: "
            f"{matview.store.path!r} != {store.path!r}"
        )
    writer = (
        stream.writeStream.foreachBatch(_deliver(cfg, store, matview))
        .option("checkpointLocation", cfg.checkpoint_path)
        .outputMode("update")
    )
    if cfg.trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.trigger_seconds} seconds")
    return writer.start()


def run_cdc_backfill(spark: SparkSession, cfg: CdcStreamConfig) -> None:
    """T5 — process everything currently in the source, then stop
    (full-load-and-cdc's snapshot+tail collapses to availableNow).

    The caller's config is not mutated — reusing it afterwards to
    start a live stream keeps its original trigger cadence.
    """
    q = start_cdc_stream(spark, dataclasses.replace(cfg, trigger_seconds=None))
    q.awaitTermination()
