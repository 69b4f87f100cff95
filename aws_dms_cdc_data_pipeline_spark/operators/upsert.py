"""A1 — latest-version-per-key (the CDC upsert / current-state view).

The reference's terminal store indexes every change record as a
document; the *table* the analyst sees is the derived latest row
version per primary key, with deletes removed (delete/update verbs in
metadata.operation — reference README.md:473; doc contract
README.md:451-492).

Batch form: a ranking window partitioned by PK. The shuffle this
induces is exactly the reference's PK-hash shard routing (X1) — one
exchange, then per-partition sort + rank, no global sort. At 100 TB
the window never sees more than one key's history per task, so skew
is bounded by the hottest key's change count, and AQE skew-join
handling does not apply (no join) — a pathological single-key
hotspot would be handled upstream by doc_id-salted pre-dedup.

Tie-breaking (SURVEY.md §7 "hard parts"): ties on
metadata.timestamp break by transaction-id, then doc_id (the shard
sequence number analog) — per-key total order, never global (T2).

Duplicate delivery (T1, at-least-once): re-delivered records share a
doc_id; rank 1 picks one deterministically, so replay is idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark import schema as S


def key_order(envelopes: DataFrame, key: str = "data.trans_id") -> WindowSpec:
    """The one per-key order of the engine, latest first: event time,
    then transaction id, then doc id when the envelopes carry one. The
    batch view below and the state store's merge both rank with it."""
    order = [
        F.col("metadata.timestamp").desc(),
        F.col(S.meta("transaction-id")).desc(),
    ]
    if "doc_id" in envelopes.columns:
        order.append(F.col("doc_id").desc())
    return Window.partitionBy(F.col(key)).orderBy(*order)


def ranked(envelopes: DataFrame, key: str = "data.trans_id") -> DataFrame:
    """Every envelope with ``_rn``, its rank within its key in
    :func:`key_order` (1 = the latest)."""
    return envelopes.withColumn("_rn", F.row_number().over(key_order(envelopes, key)))


def current_state(
    envelopes: DataFrame,
    *,
    key: str = "data.trans_id",
    keep_deleted: bool = False,
) -> DataFrame:
    """Latest row version per key → one bare data row per live key."""
    latest = ranked(envelopes, key).filter(F.col("_rn") == 1).drop("_rn")
    if not keep_deleted:
        latest = latest.filter(F.col("metadata.operation") != F.lit(S.OP_DELETE))
    return latest.select("data.*")


def scd2_history(
    changes: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 view of a change stream.

    Every change record becomes a VERSION with a validity interval:
    ``valid_from`` = its own timestamp, ``valid_to`` = the next
    version's timestamp for the same key (NULL while current),
    ``is_current`` = 1 on the open version. The classic
    point-in-time-joinable history a warehouse derives from CDC —
    the latest-only view (:func:`current_state`) is this table
    filtered to ``is_current``.

    ``order_col`` closes the per-key order under timestamp ties
    (T2's tie-break contract); the interval chain is then total, so
    the output is engine-deterministic.

    Scale shape: identical to current_state — ONE exchange on the
    key (the reference's PK shard routing), per-key sort, a lead()
    walk; no join, no second shuffle.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    nxt = F.lead(F.col(ts_col)).over(w)
    return changes.withColumn("valid_from", F.col(ts_col)).withColumn(
        "valid_to", nxt
    ).withColumn(
        "is_current",
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def state_as_of(
    changes: DataFrame,
    as_of,
    *,
    key_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Point-in-time (time-travel) state: the table as it was at ``as_of``.

    Filters the change stream to ``ts <= as_of`` — an event-time
    predicate that pushes to the scan (row-group pruning reads only
    history up to the snapshot) — then takes the latest version per
    key exactly like the live view. CDC replayability made queryable:
    any historical audit question is this one operator.
    """
    upto = changes.filter(F.col(ts_col) <= as_of)
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).desc(), F.col(order_col).desc()
    )
    return (
        upto.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
