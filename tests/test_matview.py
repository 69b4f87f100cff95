"""IncrementalAggView: exact incremental maintenance vs full recompute.

The invariant under test everywhere: after any sequence of merges,
``view.table()`` equals the from-scratch GROUP BY over the store's
live current state — through inserts, updates that MOVE a row across
groups, deletes, replayed batches, batches whose every record loses,
merge retries, and crash-gap recovery.
"""

import os

import pytest
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.generator import GeneratorConfig, envelopes_df
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import ChangeCapture, StateStore
from aws_dms_cdc_data_pipeline_spark.streaming.matview import IncrementalAggView


def _recompute(store):
    """Oracle: full GROUP BY over live current state."""
    return (
        store.table()
        .groupBy(F.coalesce(F.col("device"), F.lit("<null>")).alias("group_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(F.col("amount").cast("long")), F.lit(0))
            .cast("long")
            .alias("amount_sum"),
        )
    )


def _rows(df):
    return sorted(map(tuple, df.select("group_key", "n_rows", "amount_sum").collect()))


def _assert_matches(view, store):
    assert _rows(view.table()) == _rows(_recompute(store))


def _merge(store, view, batch):
    """One pipeline step: merge with the view's change capture, then
    advance the view by what the merge observed. Returns the rows."""
    changes = ChangeCapture(view.signed_row)
    gen = store.merge(batch, changes)
    rows = changes.rows()
    view.advance(gen, rows)
    return rows


def _jobs(spark, group, fn):
    """Spark jobs ``fn`` launches, counted by status-tracker job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def store_and_view(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    view = IncrementalAggView(
        store,
        str(tmp_path / "view"),
        group_expr="data.device",
        group_alias="group_key",
        sums={"amount_sum": "data.amount"},
    )
    return store, view


def _batches(spark, n=3):
    # distinct seeds but overlapping trans_id key ranges: later batches
    # update and delete rows created by earlier ones
    return [
        envelopes_df(
            spark,
            GeneratorConfig(
                n_rows=60,
                seed=100 + i,
                update_fraction=0.4,
                delete_fraction=0.15,
                duplicate_fraction=0.1,
            ),
        )
        for i in range(n)
    ]


def test_view_tracks_store_across_batches(spark, store_and_view):
    store, view = store_and_view
    for batch in _batches(spark):
        _merge(store, view, batch)
        _assert_matches(view, store)


def test_replayed_batch_is_noop(spark, store_and_view):
    store, view = store_and_view
    b1, b2, _ = _batches(spark)
    _merge(store, view, b1)
    before = _rows(view.table())
    # replay: content-identical merge bumps the store generation but
    # its change set must cancel — and the view must not double-count
    _merge(store, view, b1)
    assert _rows(view.table()) == before
    _merge(store, view, b2)
    _assert_matches(view, store)


def test_missed_merge_triggers_rebuild_and_recovers(spark, store_and_view):
    store, view = store_and_view
    b1, b2, b3 = _batches(spark)
    _merge(store, view, b1)
    store.merge(b2)  # crash window: merge landed, view never advanced
    _merge(store, view, b3)  # gap detected -> rebuild
    _assert_matches(view, store)


def _inserts(spark, n=12, seed=9):
    return envelopes_df(
        spark,
        GeneratorConfig(
            n_rows=n, seed=seed, update_fraction=0.0,
            delete_fraction=0.0, duplicate_fraction=0.0,
        ),
    )


def _restamped(df, hours, suffix, operation=None, **data):
    """Copies of ``df`` moved ``hours`` in event time under fresh doc
    ids, optionally with a new operation and new data field values."""
    shift = F.expr(f"INTERVAL {abs(hours)} HOURS")
    ts = F.col("metadata.timestamp")
    meta = F.col("metadata").withField("timestamp", ts + shift if hours > 0 else ts - shift)
    if operation is not None:
        meta = meta.withField("operation", F.lit(operation))
    body = F.col("data")
    for name, value in data.items():
        body = body.withField(name, F.lit(value))
    return (
        df.withColumn("metadata", meta)
        .withColumn("data", body)
        .withColumn("doc_id", F.concat(F.col("doc_id"), F.lit(suffix)))
    )


def test_group_vanishes_when_last_row_deleted(spark, store_and_view):
    store, view = store_and_view
    ins = _inserts(spark, n=4, seed=7)
    _merge(store, view, ins)
    target = store.table().select("trans_id", "device").first()
    dele = _restamped(
        ins.filter(F.col("data.trans_id") == target["trans_id"]),
        1, "-del", operation="delete",
    )
    _merge(store, view, dele)
    _assert_matches(view, store)
    remaining = {r["group_key"] for r in view.table().collect()}
    still_live = {
        r["d"]
        for r in store.table()
        .select(F.coalesce(F.col("device"), F.lit("<null>")).alias("d"))
        .distinct()
        .collect()
    }
    assert remaining == still_live


def _move_then_delete(ins):
    three = ins.orderBy("data.trans_id").limit(3)
    return _restamped(three, 1, "-mv", device="moved").unionByName(
        _restamped(three, 2, "-del", operation="delete")
    )


_EDGE_BATCHES = {
    # every record is older than the stored row of its key: nothing wins
    "all_stale": lambda ins: _restamped(ins, -1, "-old", amount=999),
    # three keys move group and are deleted again within the one batch
    "move_then_delete": _move_then_delete,
    # the same doc delivered twice within the one batch
    "duplicate_doc": lambda ins: _restamped(ins, 1, "-up", amount=7).unionByName(
        _restamped(ins, 1, "-up", amount=7)
    ),
}


@pytest.mark.parametrize("case", sorted(_EDGE_BATCHES))
def test_signed_change_edge_cases(spark, store_and_view, monkeypatch, case):
    store, view = store_and_view
    ins = _inserts(spark)
    _merge(store, view, ins)  # builds the view
    before = _rows(view.table())

    def no_rebuild():
        raise AssertionError("the edge case must take the incremental path")

    monkeypatch.setattr(view, "rebuild", no_rebuild)
    rows = _merge(store, view, _EDGE_BATCHES[case](ins))
    _assert_matches(view, store)
    assert view._manifest()["store_gen"] == store.version()
    if case == "all_stale":
        assert rows == [] and _rows(view.table()) == before
    if case == "move_then_delete":
        assert "moved" not in {g for g, _, _ in _rows(view.table())}
        assert sum(n for _, n, _ in _rows(view.table())) == 12 - 3


def test_view_gc_keeps_current_and_previous_version(spark, store_and_view, monkeypatch):
    """Each advance removes what exists below the keep floor and nothing
    else — it never walks every past version number."""
    import shutil

    store, view = store_and_view
    view.rebuild()  # v=0 over the empty store
    removed = []
    real_rmtree = shutil.rmtree

    def rmtree(path, *a, **kw):
        if str(path).startswith(view.path):
            removed.append(os.path.basename(path))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    n = 3
    for batch in _batches(spark, n):
        _merge(store, view, batch)
    assert sorted(os.listdir(view.path)) == ["_MANIFEST", f"v={n - 1}", f"v={n}"]
    assert removed == [f"v={v}" for v in range(n - 1)]
    _assert_matches(view, store)


def test_view_leg_runs_no_spark_job(spark, store_and_view):
    """The view delta rides on the merge's own write job: advancing the
    view launches no Spark job, and a store read infers no schema."""
    store, view = store_and_view
    b1, b2, _ = _batches(spark)
    _merge(store, view, b1)  # builds the view
    changes = ChangeCapture(view.signed_row)
    gen = store.merge(b2, changes)
    rows = changes.rows()
    assert rows
    assert _jobs(spark, "matview-advance", lambda: view.advance(gen, rows)) == 0
    assert view._manifest()["store_gen"] == gen
    keys = [r["trans_id"] for r in store.table().select("trans_id").limit(3).collect()]
    assert _jobs(spark, "store-lookup", lambda: store.lookup(keys).collect()) <= 2
    _assert_matches(view, store)


def test_merge_retry_applies_view_delta_once(spark, tmp_path, monkeypatch):
    """A merge attempt that fails after its staging write (so its change
    set was observed) but before the manifest swap is retried; the view
    must apply the committed attempt's delta exactly once."""
    from aws_dms_cdc_data_pipeline_spark.generator import write_envelope_jsonl
    from aws_dms_cdc_data_pipeline_spark.streaming import (
        CdcStreamConfig, start_cdc_stream,
    )

    wire = str(tmp_path / "wire")
    write_envelope_jsonl(
        GeneratorConfig(n_rows=80, seed=5, update_fraction=0.3,
                        delete_fraction=0.1, duplicate_fraction=0.2),
        wire, files=2,
    )
    cfg = CdcStreamConfig(
        source_path=wire, sink_root=str(tmp_path / "sink"),
        trigger_seconds=None, max_files_per_trigger=1,
        delivery_retry_seconds=30.0, delivery_retry_backoff_seconds=0.05,
    )
    store = StateStore(spark, cfg.state_path)
    view = IncrementalAggView(store, os.path.join(cfg.sink_root, "matview"))

    real_write = StateStore._write_manifest
    swaps = {"n": 0}

    def crash_second_swap(self, manifest):
        swaps["n"] += 1
        if swaps["n"] == 2:  # batch 2, attempt 1: staged, not yet swapped
            raise RuntimeError("crash before the manifest swap")
        return real_write(self, manifest)

    rebuilds = {"n": 0}
    real_rebuild = IncrementalAggView.rebuild

    def counted_rebuild(self):
        rebuilds["n"] += 1
        return real_rebuild(self)

    monkeypatch.setattr(StateStore, "_write_manifest", crash_second_swap)
    monkeypatch.setattr(IncrementalAggView, "rebuild", counted_rebuild)
    start_cdc_stream(spark, cfg, matview=view).awaitTermination()

    assert swaps["n"] == 3  # batch 1, batch 2 failed, batch 2 retried
    assert rebuilds["n"] == 1  # batch 1 builds the view; batch 2 is a delta
    assert not os.path.exists(os.path.join(cfg.error_path, "batch_id=1", "delivery"))
    _assert_device_view_matches(view, store)


def test_streaming_integration(spark, tmp_path):
    from aws_dms_cdc_data_pipeline_spark.generator import write_envelope_jsonl
    from aws_dms_cdc_data_pipeline_spark.streaming import (
        CdcStreamConfig, start_cdc_stream,
    )

    wire = str(tmp_path / "wire")
    write_envelope_jsonl(
        GeneratorConfig(n_rows=120, seed=3, update_fraction=0.3,
                        delete_fraction=0.1, duplicate_fraction=0.2),
        wire,
        files=4,
    )
    cfg = CdcStreamConfig(
        source_path=wire, sink_root=str(tmp_path / "sink"),
        trigger_seconds=None, max_files_per_trigger=1,
    )
    store = StateStore(spark, cfg.state_path)
    view = IncrementalAggView(store, os.path.join(cfg.sink_root, "matview"))
    start_cdc_stream(spark, cfg, matview=view).awaitTermination()
    assert view.table().count() > 0
    # default group/sum spec: device / amount_sum
    got = sorted(map(tuple, view.table().collect()))
    want = sorted(
        map(
            tuple,
            store.table()
            .groupBy(
                F.coalesce(F.col("device"), F.lit("<null>")).alias("group_key")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.coalesce(F.sum(F.col("amount").cast("long")), F.lit(0))
                .cast("long")
                .alias("amount_sum"),
            )
            .collect(),
        )
    )
    assert got == want


def test_streaming_crash_recovery_mid_trigger(spark, tmp_path):
    """Crash between a batch's store merge and the view advance, with
    the checkpoint intact: on restart the batch replays (idempotent
    merge), the view detects the generation gap and rebuilds — the
    final view still equals the full recompute.
    """
    import shutil

    from aws_dms_cdc_data_pipeline_spark.generator import write_envelope_jsonl
    from aws_dms_cdc_data_pipeline_spark.operators.selection import select_table
    from aws_dms_cdc_data_pipeline_spark.sources.envelope_stream import (
        read_envelope_batch,
    )
    from aws_dms_cdc_data_pipeline_spark.streaming import (
        CdcStreamConfig, start_cdc_stream,
    )

    wire = str(tmp_path / "wire")
    write_envelope_jsonl(
        GeneratorConfig(n_rows=80, seed=11, update_fraction=0.3,
                        delete_fraction=0.1, duplicate_fraction=0.2),
        wire, files=2,
    )
    cfg = CdcStreamConfig(
        source_path=wire, sink_root=str(tmp_path / "sink"),
        trigger_seconds=None, max_files_per_trigger=1,
    )
    store = StateStore(spark, cfg.state_path)
    view = IncrementalAggView(store, os.path.join(cfg.sink_root, "matview"))

    # generation 1: clean run
    start_cdc_stream(spark, cfg, matview=view).awaitTermination()
    _assert_device_view_matches(view, store)
    gen_clean = store.version()

    # new wire files land (fresh names so the file source sees them)
    staging = str(tmp_path / "staging")
    write_envelope_jsonl(
        GeneratorConfig(n_rows=60, seed=12, update_fraction=0.4,
                        delete_fraction=0.2, duplicate_fraction=0.1),
        staging, files=2,
    )
    new_files = []
    for i, name in enumerate(sorted(os.listdir(staging))):
        dst = os.path.join(wire, f"late-{i:05d}.jsonl")
        shutil.move(os.path.join(staging, name), dst)
        new_files.append(dst)

    # CRASH SIMULATION: the stream merged the first new file into the
    # store, then died before view.advance ran and before the epoch
    # committed to the checkpoint. Store generation moves; view's
    # recorded store_gen does not; checkpoint still points before the
    # batch.
    env = read_envelope_batch(spark, new_files[0])
    good = env.filter(~F.col("_corrupt")).drop("_raw", "_corrupt")
    store.merge(select_table(good, cfg.schema_name, cfg.table_name))
    assert store.version() > gen_clean
    stale = _rows(view.table())

    # RESTART on the same checkpoint: both new files (re)process — the
    # crashed file's merge replays idempotently, the view sees the
    # missed generation and falls back to rebuild.
    start_cdc_stream(spark, cfg, matview=view).awaitTermination()
    _assert_device_view_matches(view, store)
    assert _rows(view.table()) != stale  # it actually advanced

    # and a THIRD run with nothing new is a no-op for both
    gen_final, v_final = store.version(), view._manifest()["v"]
    start_cdc_stream(spark, cfg, matview=view).awaitTermination()
    assert store.version() == gen_final
    assert _rows(view.table()) == _rows(_recompute(store))


def _assert_device_view_matches(view, store):
    got = sorted(map(tuple, view.table().collect()))
    want = _rows(_recompute(store))
    assert got == want and got
