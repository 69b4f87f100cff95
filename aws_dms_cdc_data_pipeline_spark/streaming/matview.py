"""Incrementally-maintained aggregate view over the CDC current state.

The reference pipeline's analytics surface is "query the latest
version per key" (OpenSearch index / Athena over S3 — reference
README.md:457, firehose.py:114-155). Any dashboard query over that
surface is a GROUP BY over current state — recomputed from scratch
on every refresh. This module maintains such an aggregate
*incrementally*: the Spark work per micro-batch is O(batch), never
O(state), which at 100 TB state with a 60 s trigger is the difference
between a sub-second view refresh and a full-table scan per minute.

How (classic incremental view maintenance over abelian aggregates):

- :meth:`~aws_dms_cdc_data_pipeline_spark.sinks.state_store.StateStore.merge`
  already ranks every batch row against the stored row of its key.
  Handed a :class:`~aws_dms_cdc_data_pipeline_spark.sinks.state_store.ChangeCapture`
  built from :meth:`IncrementalAggView.signed_row`, it signs the
  ranked rows (+1 new winner, -1 superseded stored row) and collects
  each signed row's contribution — (group, signed live count, signed
  SUMs, on integer-exact types) — through an ``Observation`` on its
  own staging write. The view leg runs no Spark job: :meth:`advance`
  is a keyed add of those contributions onto the current view rows,
  in the driver.
- COUNT and SUM form an abelian group (subtraction is well-defined),
  so delta application is a keyed add; AVG and friends derive from
  (count, sum) at read time. Non-subtractable aggregates (MIN/MAX/
  DISTINCT) are out of scope by design — they need per-group
  recomputation on retraction, which `rebuild()` provides.
- The view table itself is versioned-and-swapped exactly like the
  store (``v=N`` dirs + ``_MANIFEST``), one parquet file per version
  written by a driver-side pyarrow writer: readers are never torn, a
  crashed writer's partial directory is invisible, and a replayed
  epoch is harmless — a replayed record either loses to its stored
  twin or replaces it with equal content, so its contributions
  cancel.
- Crash recovery: the view records the store generation it reflects.
  If an ``advance`` finds it has missed a generation (crash between
  a merge and the view apply, or a store write the view never saw,
  such as an erasure), it falls back to ``rebuild()`` — a one-off
  full recompute, correct by construction. The normal path never
  pays it.

Scale note: the view table is one row per group and is rewritten per
batch, in the driver. For group cardinalities where that rewrite
matters, shard the view by ``pmod(hash(group), B)`` exactly as
StateStore shards keys and rewrite only shards whose groups appear in
the delta; the change capture needs no change. Not needed at the
fixture scales this repo tests, so the simple layout stays.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark import schema as S
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import (
    StateStore,
    _read_manifest,
    _swap_manifest,
    _versions_below,
)


class IncrementalAggView:
    """COUNT + SUM aggregate over live current-state rows, maintained
    incrementally from the signed change set of each StateStore merge.

    ``group_expr`` is a SQL expression over the envelope (e.g.
    ``data.device``); ``sums`` maps output column name → SQL
    expression, each accumulated as a long (exact integer addition —
    callers quantize decimals the way plans/queries.py's ``_q6``
    does if the source column is fractional).
    """

    def __init__(
        self,
        store: StateStore,
        path: str,
        *,
        group_expr: str = "data.device",
        group_alias: str = "group_key",
        sums: dict[str, str] | None = None,
    ):
        self.store = store
        self.spark = store.spark
        self.path = path
        self.group_expr = group_expr
        self.group_alias = group_alias
        self.sums = dict(sums or {"amount_sum": "data.amount"})
        if "n_rows" in self.sums or group_alias in self.sums:
            raise ValueError("sum aliases must not collide with n_rows/group")
        os.makedirs(path, exist_ok=True)

    # -- manifest (same atomic-swap discipline as StateStore) -------------
    @property
    def _manifest_file(self) -> str:
        return os.path.join(self.path, "_MANIFEST")

    def _manifest(self) -> dict:
        return _read_manifest(self._manifest_file, {"v": -1, "store_gen": -1})

    def _write_manifest(self, m: dict) -> None:
        _swap_manifest(self._manifest_file, m)

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v={v}")

    # -- read --------------------------------------------------------------
    def table(self) -> DataFrame:
        """Current view contents: group, n_rows, <sum columns>."""
        m = self._manifest()
        if m["v"] < 0:
            return self.spark.createDataFrame([], self._schema_ddl())
        return self.spark.read.schema(self._schema_ddl()).parquet(self._vdir(m["v"]))

    def _schema_ddl(self) -> str:
        sum_cols = ", ".join(f"{a} long" for a in self.sums)
        return f"{self.group_alias} string, n_rows long, {sum_cols}"

    # -- maintenance protocol ----------------------------------------------
    def signed_row(self, sign: Column) -> Column:
        """This view's contribution of one ranked store row carrying
        ``sign``: (group, sign, sign × each sum) for a live row, NULL
        for a delete tombstone. Hand it to the merge as
        ``StateStore.merge(batch, ChangeCapture(view.signed_row))``."""
        live = F.col("metadata.operation") != F.lit(S.OP_DELETE)
        return F.when(
            live,
            F.struct(
                self._group(),
                sign.cast("long").alias("n_rows"),
                *[
                    (sign * F.coalesce(F.expr(e).cast("long"), F.lit(0)))
                    .cast("long")
                    .alias(a)
                    for a, e in self.sums.items()
                ],
            ),
        )

    def advance(self, generation: int, rows: list) -> int:
        """Apply ``rows`` — the :meth:`signed_row` values the merge that
        produced store ``generation`` collected — as a keyed add onto
        the current view, in the driver (no Spark job). Returns the new
        view version. Falls back to :meth:`rebuild` when the view missed
        a generation."""
        m = self._manifest()
        if generation <= m["store_gen"]:
            return m["v"]  # already reflects this (or a later) merge
        if m["v"] < 0 or generation != m["store_gen"] + 1:
            # never built, or the view missed at least one store write
            # (crash between merge and advance): the intermediate
            # delta is unrecoverable
            return self.rebuild()
        metrics = ["n_rows", *self.sums]
        groups = {
            r[self.group_alias]: [r[c] for c in metrics]
            for r in pq.read_table(self._vdir(m["v"])).to_pylist()
        }
        for r in rows:
            acc = groups.setdefault(r[self.group_alias], [0] * len(metrics))
            for i, c in enumerate(metrics):
                acc[i] += r[c]
        return self._swap_in(
            [(g, *acc) for g, acc in groups.items() if acc[0] > 0], generation
        )

    def rebuild(self) -> int:
        """Full recompute from the store (initial build / crash
        recovery). O(state) — the incremental path exists so this is
        rare."""
        env = self.store.envelopes()
        gen = self.store.version()
        rows = [] if env is None else [tuple(r) for r in self._contrib_df(env).collect()]
        return self._swap_in(rows, gen)

    # -- internals ----------------------------------------------------------
    def _group(self) -> Column:
        # NULL group values fold to a sentinel so every group is a
        # plain string key; NULL-valued sum inputs contribute 0 so the
        # incremental and rebuilt tables are identical.
        return F.coalesce(
            F.expr(self.group_expr).cast("string"), F.lit("<null>")
        ).alias(self.group_alias)

    def _contrib_df(self, env: DataFrame) -> DataFrame:
        live = env.filter(F.col("metadata.operation") != F.lit(S.OP_DELETE))
        return live.groupBy(self._group()).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            *[
                F.coalesce(F.sum(F.expr(e).cast("long")), F.lit(0))
                .cast("long")
                .alias(a)
                for a, e in self.sums.items()
            ],
        )

    def _swap_in(self, rows: list[tuple], store_gen: int) -> int:
        m = self._manifest()
        new_v = m["v"] + 1
        out = self._vdir(new_v)
        if os.path.exists(out):
            shutil.rmtree(out)  # crashed earlier attempt
        os.makedirs(out)
        # the view is small (one row per group): one file written from
        # the driver keeps reads cheap and costs no Spark job; shard by
        # group hash before this matters
        schema = pa.schema(
            [(self.group_alias, pa.string())]
            + [(c, pa.int64()) for c in ["n_rows", *self.sums]]
        )
        rows = sorted(rows)
        table = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(schema)],
            schema=schema,
        )
        pq.write_table(table, os.path.join(out, "part-00000.parquet"))
        self._write_manifest({"v": new_v, "store_gen": store_gen})
        # keep one previous version for in-flight readers; GC only the
        # older versions that are actually on disk
        for v in _versions_below(self.path, new_v - 1):
            shutil.rmtree(self._vdir(v), ignore_errors=True)
        return new_v


__all__ = ["IncrementalAggView"]
