"""Phase-2 streaming pipeline: readStream → foreachBatch delivery.

Mirrors the reference's delivery stage (SURVEY.md §3.1 steps 5-7):

- 60 s processing-time micro-batches (Firehose buffering hints,
  firehose.py:139-142; tests use ``availableNow`` for determinism),
- per batch, like the one Firehose delivery stream that writes the
  index, the S3 backup and the failed-record prefix from the same
  buffered batch (firehose.py:132-155):

  * ONE tagged pass over the batch writes the side legs — the raw
    archive partitioned ``year/month/day/hour`` (S6 —
    firehose.py:132-135's `{index}/YYYY/MM/dd/HH/` layout) and the
    parse and contract dead-letter queues under ``error/`` (S7 —
    firehose.py:134) — as one JSON write into ``_legs-<epoch>``,
    renamed afterwards into ``archive/batch_id=N/…`` and
    ``error/batch_id=N/{parse,contract}``; the same pass observes
    which store buckets and keys the batch's merge-bound rows have;
  * the idempotent MERGE of those rows into the current-state store
    (S5/T1) takes that bucket set — and their key set, which lets a
    tail batch rewrite only the store's delta run — with a bounded
    retry and a delivery dead-letter queue (S7 — firehose.py:150-152).

  Every Spark action in a ``foreachBatch`` pays a full job's planning
  and scheduling, and at tail batch sizes that fixed cost is most of
  a batch; so a batch runs 4 jobs: the side-leg write and the merge,
  each a shuffle stage plus a write stage.
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
import json
import os
import shutil
import time
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_dms_cdc_data_pipeline_spark import schema as S
from aws_dms_cdc_data_pipeline_spark.operators.selection import (
    select_table,
    table_predicate,
)
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
    touched: Iterable[int] | None = None,
    keys: list | None = None,
) -> tuple[Exception | None, int, int | None]:
    """Retry ``store.merge`` with exponential backoff until the budget
    is spent; return (None, attempts, generation) on success or
    (last_error, attempts, None) once exhausted. Always attempts at
    least once. ``changes`` is handed to every attempt, which observes
    afresh, so it ends up holding the committed attempt's change set;
    ``touched`` (the batch's bucket ids) and ``keys`` (its key set, or
    None) go to every attempt too.

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
            return None, attempts, store.merge(
                selected, changes, touched=touched, keys=keys
            )
        except Exception as exc:  # noqa: BLE001 — any failure is retryable
            delay = backoff_seconds * (2 ** (attempts - 1))
            if time.monotonic() + delay > deadline:
                return exc, attempts, None
            time.sleep(delay)


# Side-leg record: the hour axes (archive only), then the fields of
# every leg in their on-disk order — the archive's (doc_id, value)
# and the dead-letter queues' (raw, error, detail, dead_lettered_at).
_HOUR_AXES = (("year", "yyyy"), ("month", "MM"), ("day", "dd"), ("hour", "HH"))
_LEG_FIELDS = ("doc_id", "value", "raw", "error", "detail", "dead_lettered_at")


def _none(type_: str) -> Column:
    return F.lit(None).cast(type_)


def _leg(name: str, when: Column, *, hour_of: Column | None = None,
         **fields: Column) -> Column:
    """One side-leg record of a row, NULL unless ``when`` holds.

    Every leg has the same struct type, so one array holds a row's
    legs. Fields are in output order; the JSON writer drops NULL
    fields, so each leg's lines carry only the fields it sets. The
    hour axes are set only where ``hour_of`` is given (the archive).
    """
    hours = [
        (F.date_format(hour_of, fmt) if hour_of is not None else _none("string"))
        .alias(axis)
        for axis, fmt in _HOUR_AXES
    ]
    cols = [
        fields.get(c, _none("timestamp" if c == "dead_lettered_at" else "string"))
        .alias(c)
        for c in _LEG_FIELDS
    ]
    return F.when(when, F.struct(F.lit(name).alias("leg"), *hours, *cols))


def _write_side_legs(
    cfg: CdcStreamConfig, store: StateStore, batch: DataFrame, epoch_id: int
) -> tuple[list[int], list | None]:
    """Write the epoch's parse DLQ, contract DLQ and archive in one
    Spark write over the micro-batch, and return the store buckets and
    the distinct keys of its merge-bound rows, observed on that same
    pass. The keys come back as one JSON value, and only while they fit
    the store's delta run (:meth:`StateStore.delta_room`); past that
    the merge folds and the keys are None.

    The legs are staged as one JSON write partitioned by leg (and by
    the hour axes for the archive) under ``<sink_root>/_legs-<epoch>``,
    then renamed into their paths: ``archive/batch_id=N/year=…/hour=…``
    and ``error/batch_id=N/{parse,contract}``. An epoch's earlier
    output is removed first, so a replayed epoch overwrites its own
    previous (possibly partial) attempt instead of doubling.
    """
    corrupt = F.col("_corrupt")
    selected = ~corrupt & table_predicate(cfg.schema_name, cfg.table_name)
    merge_bound = selected
    now = F.current_timestamp()
    legs = [
        # S7: malformed lines with failure metadata
        _leg("parse", corrupt, raw=F.col("_raw"), error=F.lit("parse-error"),
             dead_lettered_at=now),
        # S6: raw hourly-partitioned archive of EVERY well-formed record
        # (AllDocuments backup — selection and the contract gate come
        # after backup, matching firehose.py:153). Partition axis =
        # capture time (deterministic; the reference uses Firehose
        # arrival time, which is the same axis one buffer later).
        _leg("archive", ~corrupt, hour_of=F.col("metadata.timestamp"),
             doc_id=F.col("doc_id"),
             value=F.to_json(F.struct("data", "metadata"))),
    ]
    if cfg.contract_checks:
        from aws_dms_cdc_data_pipeline_spark.operators import expectations

        # S7 (third class): selected rows violating a declared
        # invariant park with their reasons and stay out of the merge
        failed = F.col("_violations")
        merge_bound = selected & (F.size(failed) == 0)
        legs.append(_leg(
            "contract", selected & (F.size(failed) > 0),
            raw=F.to_json(F.struct("data", "metadata", "doc_id")),
            error=F.lit("contract-violation"),
            detail=F.array_join(failed, ","), dead_lettered_at=now,
        ))
        batch = batch.withColumn(
            "_violations", expectations.violations(cfg.contract_checks)
        )
    observed = [F.collect_set(F.when(merge_bound, store._bucket_expr())).alias("b")]
    room = store.delta_room()
    if room > 0:
        keys = F.collect_set(F.when(merge_bound, F.expr(store.key)))
        observed.append(F.when(F.size(keys) <= room, F.to_json(keys)).alias("k"))
    seen = Observation()
    staging = os.path.join(cfg.sink_root, f"_legs-{epoch_id}")
    (
        batch.observe(seen, *observed)
        .select(F.explode(F.array_compact(F.array(*legs))).alias("_leg"))
        .select("_leg.*")
        # Writer distribution: repartition on the partition axes ALONE
        # collapses a batch spanning few hours onto that many writer
        # tasks (a 60 s trigger usually spans ONE hour — the whole
        # batch serialized through a single JSON writer, measured 2/3
        # of drain wall at 1M envelopes). An 8-way doc_id salt inside
        # each hour keeps writers parallel and bounds archive files at
        # 8/hour/batch — the same layout shape at any scale.
        .repartition(
            "leg", *(axis for axis, _ in _HOUR_AXES),
            F.pmod(F.xxhash64("doc_id"), F.lit(8)),
        )
        .write.mode("overwrite")
        .partitionBy("leg", *(axis for axis, _ in _HOUR_AXES))
        .json(staging)
    )
    error_dir = os.path.join(cfg.error_path, f"batch_id={epoch_id}")
    dests = {
        "archive": os.path.join(cfg.archive_path, f"batch_id={epoch_id}"),
        "parse": os.path.join(error_dir, "parse"),
    }
    if cfg.contract_checks:
        dests["contract"] = os.path.join(error_dir, "contract")
    # each leg gets the committer's _SUCCESS marker when the write got one
    marked = os.path.exists(os.path.join(staging, "_SUCCESS"))
    for leg, dst in dests.items():
        src = os.path.join(staging, f"leg={leg}")
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if leg == "archive" and os.path.isdir(src):
            os.rename(src, dst)  # keeps the year=/month=/day=/hour= tree
        else:  # a DLQ leg is flat: lift its files out of the hour axes
            os.makedirs(dst)
            for root, _, files in os.walk(src):
                for f in files:
                    os.rename(os.path.join(root, f), os.path.join(dst, f))
        if marked:
            open(os.path.join(dst, "_SUCCESS"), "w").close()
    shutil.rmtree(staging)
    keys = seen.get.get("k")
    return seen.get["b"], None if keys is None else json.loads(keys)


def _deliver(cfg: CdcStreamConfig, store: StateStore, view=None):
    """Build the foreachBatch delivery function.

    Per micro-batch: one Spark write puts down the side legs and
    observes the touched store buckets and keys
    (:func:`_write_side_legs`), then the merge runs on the batch's
    merge-bound rows with that bucket set and key set.
    ``view`` (optional ``IncrementalAggView``) is advanced after each
    successful merge from the signed change set that merge observed on
    its own write job — the view leg runs no Spark job of its own.
    The batch is not persisted: the merge recomputes its rows from the
    source, which costs less than caching the whole batch.
    """

    def deliver(batch: DataFrame, epoch_id: int) -> None:
        touched, keys = _write_side_legs(cfg, store, batch, epoch_id)

        # S5: idempotent upsert into the current-state store of the
        # rows the tagged pass found merge-bound (same predicates),
        # bounded-retry → DLQ (S7, delivery leg). A transient
        # failure recovers within the budget; a permanent one
        # dead-letters this batch's records with failure metadata
        # and lets the stream continue — at-least-once is kept
        # (the DLQ holds the records for operator-driven replay)
        # and a poison batch can no longer livelock the stream.
        good = batch.filter(~F.col("_corrupt")).drop("_raw", "_corrupt")
        selected = select_table(good, cfg.schema_name, cfg.table_name)
        if cfg.contract_checks:
            from aws_dms_cdc_data_pipeline_spark.operators import expectations

            selected, _ = expectations.quarantine_violations(
                selected, cfg.contract_checks
            )
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
            touched,
            keys,
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
