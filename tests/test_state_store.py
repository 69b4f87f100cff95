"""Bucketed state store: merge locality, version GC, null-PK DLQ."""

import glob
import json
import os

from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.generator import (
    GeneratorConfig,
    envelopes_df,
    write_envelope_jsonl,
)
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import StateStore
from aws_dms_cdc_data_pipeline_spark.streaming.pipeline import (
    CdcStreamConfig,
    run_cdc_backfill,
)


def test_merge_touches_only_batch_buckets(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    env = envelopes_df(spark, GeneratorConfig(n_rows=64, update_fraction=0.0,
                                              delete_fraction=0.0))
    store.merge(env)
    m1 = json.load(open(store._manifest_file))
    assert m1["generation"] == 0

    # second batch: a single key → exactly one bucket version moves
    one = env.orderBy("data.trans_id").limit(1)
    store.merge(one)
    m2 = json.load(open(store._manifest_file))
    assert m2["generation"] == 1
    moved = [b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]]
    assert len(moved) == 1
    # untouched bucket directories are byte-identical (same version dir)
    untouched = [b for b in m1["buckets"] if b not in moved]
    assert untouched and all(m2["buckets"][b] == m1["buckets"][b] for b in untouched)
    # state content is still the full key set
    assert store.table().count() == 64


def test_version_gc_bounds_disk(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=2)
    for i in range(4):
        env = envelopes_df(spark, GeneratorConfig(n_rows=8, seed=i,
                                                  update_fraction=0.0,
                                                  delete_fraction=0.0))
        store.merge(env)
    # every bucket keeps at most current + one superseded version
    for broot in glob.glob(os.path.join(store.path, "b=*")):
        versions = [e for e in os.listdir(broot) if e.startswith("v=")]
        assert len(versions) <= 2, f"{broot} has {versions}"
    assert store.version() == 3


def test_superseded_version_is_gone_one_commit_later(spark, tmp_path):
    """What commit G supersedes is kept for in-flight readers and
    removed by commit G+1, even when G+1 does not touch that bucket."""
    from aws_dms_cdc_data_pipeline_spark.sinks.state_store import fsck

    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    env = envelopes_df(spark, GeneratorConfig(n_rows=64, update_fraction=0.0,
                                              delete_fraction=0.0))
    store.merge(env)
    bucket = {
        r["k"]: r["b"]
        for r in env.select(F.col("data.trans_id").alias("k"),
                            store._bucket_expr().alias("b")).collect()
    }
    first = min(bucket)
    other = min(k for k in bucket if bucket[k] != bucket[first])
    store.merge(env.filter(F.col("data.trans_id") == first))  # rewrites one bucket
    b = bucket[first]
    assert fsck(store)["retained"] == [f"b={b}/v=0"]
    store.merge(env.filter(F.col("data.trans_id") == other))  # leaves it alone
    assert sorted(os.listdir(os.path.join(store.path, f"b={b}"))) == ["v=1"]
    report = fsck(store)
    assert report["retained"] == [f"b={bucket[other]}/v=0"]
    assert report["orphans"] == [] and report["missing"] == []
    assert store.table().count() == 64


def test_merge_is_idempotent_per_batch(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    env = envelopes_df(spark, GeneratorConfig(n_rows=30))
    store.merge(env)
    before = sorted(map(str, store.table().collect()))
    store.merge(env)  # replayed delivery (same doc_ids)
    after = sorted(map(str, store.table().collect()))
    assert before == after


def test_merge_recovers_from_crashed_attempt(spark, tmp_path):
    # a crash after writing some v=N bucket dirs but before the
    # manifest swap leaves stale next-generation dirs; the retried
    # merge must clobber them and still produce correct state
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    env = envelopes_df(spark, GeneratorConfig(n_rows=20, update_fraction=0.0,
                                              delete_fraction=0.0))
    store.merge(env)

    # simulate: gen-1 dirs exist on disk, manifest still at gen 0
    for b in range(4):
        stale = store._bdir(b, 1)
        os.makedirs(stale, exist_ok=True)
        with open(os.path.join(stale, "garbage.parquet"), "w") as f:
            f.write("not parquet")

    more = envelopes_df(spark, GeneratorConfig(n_rows=10, seed=3,
                                               update_fraction=0.0,
                                               delete_fraction=0.0))
    store.merge(more)  # retried delivery at generation 1
    assert store.version() == 1
    # stale garbage was clobbered, state is readable and complete
    keys = {r.trans_id for r in store.table().select("trans_id").collect()}
    assert len(keys) == 20  # ids 1..20; 1..10 re-merged idempotently


def test_null_pk_records_dead_letter(spark, tmp_path):
    src = str(tmp_path / "wire")
    sink = str(tmp_path / "sink")
    write_envelope_jsonl(
        GeneratorConfig(n_rows=10, update_fraction=0.0, delete_fraction=0.0),
        src,
        files=1,
    )
    # parses fine but has no primary key → must NOT reach the state
    # store's NULL-key group; the DLQ is the advertised safety net
    with open(os.path.join(src, "nullpk.jsonl"), "w") as f:
        f.write(
            json.dumps(
                {
                    "data": {"customer_id": "C-1", "event": "visit"},
                    "metadata": {
                        "timestamp": "2024-01-01T00:00:00.000000Z",
                        "record-type": "data",
                        "operation": "insert",
                        "partition-key-type": "primary-key",
                        "schema-name": "testdb",
                        "table-name": "retail_trans",
                        "transaction-id": 1,
                    },
                    "doc_id": "seq-nullpk",
                }
            )
            + "\n"
        )

    cfg = CdcStreamConfig(source_path=src, sink_root=sink, trigger_seconds=None)
    run_cdc_backfill(spark, cfg)

    dead = [
        json.loads(line)
        for p in glob.glob(
            os.path.join(cfg.error_path, "batch_id=*", "parse", "*.json")
        )
        for line in open(p)
    ]
    assert any("seq-nullpk" in d["raw"] for d in dead)
    table = StateStore(spark, cfg.state_path).table()
    assert table.count() == 10
    assert table.filter(F.col("trans_id").isNull()).count() == 0


def test_lookup_reads_only_key_buckets(spark, tmp_path):
    """Point lookup prunes to the buckets the keys hash into and
    returns exactly the live rows for those keys."""
    from aws_dms_cdc_data_pipeline_spark.generator import (
        GeneratorConfig, envelopes_df,
    )

    store = StateStore(spark, str(tmp_path / "state"), num_buckets=16)
    env = envelopes_df(
        spark, GeneratorConfig(n_rows=60, seed=9, update_fraction=0.3,
                               delete_fraction=0.2, duplicate_fraction=0.1)
    )
    store.merge(env)
    all_rows = {r["trans_id"]: r for r in store.table().collect()}
    live = sorted(all_rows)
    dead = sorted(
        {r["data"]["trans_id"] for r in env.collect()} - set(all_rows)
    )
    assert live and dead  # fixture has both live and deleted keys

    # exact rows for live keys; deleted keys absent; missing keys absent
    want = live[:3] + dead[:1] + [999_999_999]
    got = {r["trans_id"]: r for r in store.lookup(want).collect()}
    assert sorted(got) == live[:3]
    for k in live[:3]:
        assert got[k] == all_rows[k]

    # pruning: the scan's input files stay within the probed buckets
    from pyspark.sql import functions as F

    probe = spark.createDataFrame([(k,) for k in want], "_k long")
    wanted_buckets = {
        r["_b"] for r in probe.select(
            F.expr("pmod(hash(_k), 16)").alias("_b")).collect()
    }
    files = store.lookup(want).inputFiles()
    touched_buckets = {
        int(p.split("/b=")[1].split("/")[0]) for p in files
    }
    assert touched_buckets <= wanted_buckets
    assert len(touched_buckets) < 16  # genuinely pruned, not a full scan

    # empty key list and empty store short-circuit
    assert store.lookup([]).count() == 0
    empty = StateStore(spark, str(tmp_path / "none"), num_buckets=4)
    assert empty.lookup([1, 2]).count() == 0


def test_reshard_preserves_state_and_serves_lookups(spark, tmp_path):
    from aws_dms_cdc_data_pipeline_spark.generator import (
        GeneratorConfig,
        envelopes_df,
    )
    from aws_dms_cdc_data_pipeline_spark.sinks.state_store import (
        StateStore,
        reshard,
    )

    store = StateStore(spark, str(tmp_path / "s8"), num_buckets=8)
    env = envelopes_df(
        spark,
        GeneratorConfig(n_rows=60, seed=5, update_fraction=0.3,
                        delete_fraction=0.15, duplicate_fraction=0.1),
    )
    store.merge(env)
    before = sorted(map(tuple, store.table().collect()))

    new = reshard(store, str(tmp_path / "s32"), 32)

    assert new.num_buckets == 32
    assert sorted(map(tuple, new.table().collect())) == before
    # tombstones survive the migration (not just live rows)
    n_env_old = store.envelopes().count()
    assert new.envelopes().count() == n_env_old
    # bucket-pruned lookup works against the NEW layout
    some = [r[0] for r in store.table().limit(3).collect()]
    got = {r["trans_id"] for r in new.lookup(some).collect()}
    assert got == set(some)
    # old store untouched and still serving
    assert sorted(map(tuple, store.table().collect())) == before
    # refuses to clobber an existing store
    import pytest
    with pytest.raises(ValueError):
        reshard(store, str(tmp_path / "s32"), 16)


def test_snapshot_and_restore_roundtrip(spark, tmp_path):
    from aws_dms_cdc_data_pipeline_spark.sinks.state_store import (
        fsck,
        restore_store,
        snapshot_store,
    )

    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    env = envelopes_df(
        spark, GeneratorConfig(n_rows=64, update_fraction=0.3,
                               delete_fraction=0.1)
    )
    store.merge(env)
    before = sorted(
        tuple(r) for r in store.table().select("trans_id").collect()
    )

    snap = str(tmp_path / "snap")
    info = snapshot_store(store, snap)
    assert info["generation"] == 0 and info["buckets"] == 8

    # the store keeps evolving AFTER the snapshot
    one = env.orderBy("data.trans_id").limit(1)
    store.merge(one)
    assert store.version() == 1

    restored = restore_store(spark, snap, str(tmp_path / "restored"),
                             num_buckets=8)
    after = sorted(
        tuple(r) for r in restored.table().select("trans_id").collect()
    )
    assert after == before                       # point-in-time content
    assert restored.version() == 0               # snapshot generation
    rep = fsck(restored)
    assert rep["orphans"] == [] and rep["missing"] == []

    # guard rails
    import pytest as _pt

    with _pt.raises(ValueError, match="already has a store"):
        snapshot_store(store, snap)
    with _pt.raises(ValueError, match="not a snapshot"):
        restore_store(spark, str(tmp_path / "nowhere"),
                      str(tmp_path / "r2"))
