"""StateStore fault injection: crashes between staging, rename, and
manifest swap must never tear readers or block recovery.

The manifest swap is the commit point. Everything before it (staging
writes, per-bucket renames into versioned slots) must be invisible to
readers if the process dies, and a replayed merge of the same batch
must converge to exactly the clean-path state.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

import aws_dms_cdc_data_pipeline_spark.sinks.state_store as SS
from aws_dms_cdc_data_pipeline_spark.generator import GeneratorConfig, envelopes_df
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import StateStore


def _rows(store):
    return sorted(map(tuple, store.table().collect()))


def _batches(spark):
    b1 = envelopes_df(
        spark, GeneratorConfig(n_rows=30, seed=5, update_fraction=0.2,
                               delete_fraction=0.1, duplicate_fraction=0.1)
    )
    b2 = envelopes_df(
        spark, GeneratorConfig(n_rows=25, seed=6, update_fraction=0.4,
                               delete_fraction=0.2, duplicate_fraction=0.1)
    )
    return b1, b2


def test_crash_mid_bucket_rename_is_invisible_then_recoverable(
    spark, tmp_path, monkeypatch
):
    b1, b2 = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    before = _rows(store)
    gen_before = store.version()

    real_rename = os.rename
    seen = {"n": 0}

    def flaky(src, dst):
        if f"{os.sep}v=" in dst:
            seen["n"] += 1
            if seen["n"] > 1:
                raise OSError("injected crash mid-rename")
        return real_rename(src, dst)

    monkeypatch.setattr(SS.os, "rename", flaky)
    with pytest.raises(OSError, match="injected"):
        store.merge(b2)
    monkeypatch.undo()
    assert seen["n"] > 1  # the batch really spanned multiple buckets

    # commit point never reached: readers see exactly the old state
    assert store.version() == gen_before
    assert _rows(store) == before

    # replayed merge converges to the clean-path result
    store.merge(b2)
    clean = StateStore(spark, str(tmp_path / "clean"), num_buckets=4)
    clean.merge(b1)
    clean.merge(b2)
    assert _rows(store) == _rows(clean)
    assert store.version() == gen_before + 1


def test_orphan_staging_dir_is_harmless(spark, tmp_path):
    b1, b2 = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    # a crash after the staging write leaves _staging-N behind
    orphan = os.path.join(store.path, f"_staging-{store.version() + 1}")
    os.makedirs(os.path.join(orphan, "_b=0"), exist_ok=True)
    with open(os.path.join(orphan, "_b=0", "junk"), "w") as f:
        f.write("partial")
    store.merge(b2)
    clean = StateStore(spark, str(tmp_path / "clean"), num_buckets=4)
    clean.merge(b1)
    clean.merge(b2)
    assert _rows(store) == _rows(clean)


def test_crash_before_gc_self_heals_on_next_merge(spark, tmp_path, monkeypatch):
    """Manifest swapped but GC skipped (crash after commit): stale
    version dirs linger; the next merge GCs them and nothing breaks."""
    b1, b2 = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)

    real_rmtree = SS.shutil.rmtree
    monkeypatch.setattr(SS.shutil, "rmtree", lambda *a, **kw: None)  # GC dies
    store.merge(b2)
    monkeypatch.undo()
    after = _rows(store)

    # third merge (same-content replay) runs the normal path incl. GC
    store.merge(b2)
    assert _rows(store) == after
    # old generations beyond keep-one are actually gone again
    import glob

    for bdir in glob.glob(os.path.join(store.path, "b=*")):
        versions = sorted(
            int(v.split("=")[1]) for v in os.listdir(bdir) if v.startswith("v=")
        )
        assert len(versions) <= 2, f"{bdir} kept {versions}"


def test_fsck_classifies_and_cleans(spark, tmp_path):
    import os

    from aws_dms_cdc_data_pipeline_spark.generator import (
        GeneratorConfig,
        envelopes_df,
    )
    from aws_dms_cdc_data_pipeline_spark.sinks.state_store import (
        StateStore,
        fsck,
    )

    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    env1 = envelopes_df(spark, GeneratorConfig(n_rows=20, seed=1))
    env2 = envelopes_df(spark, GeneratorConfig(n_rows=20, seed=2))
    store.merge(env1)
    store.merge(env2)  # creates retained previous versions

    clean_report = fsck(store)
    assert clean_report["orphans"] == [] and clean_report["missing"] == []
    assert len(clean_report["live"]) == len(store._manifest()["buckets"])

    # plant crash debris: an ancient version dir + a superseded staging
    # dir (gen 0 <= manifest gen: provably not a live writer's) + an
    # in-flight staging dir (gen+1: may belong to a running merge)
    os.makedirs(os.path.join(store.path, "b=0", "v=99"))
    os.makedirs(os.path.join(store.path, "_staging-0"))
    inflight = f"_staging-{store.version() + 1}"
    os.makedirs(os.path.join(store.path, inflight))
    report = fsck(store)
    assert "b=0/v=99" in report["orphans"]
    assert "_staging-0" in report["orphans"]
    assert inflight in report["in_flight"]
    assert inflight not in report["orphans"]
    # retained previous versions are NOT orphans
    assert all(r not in report["orphans"] for r in report["retained"])

    before = sorted(map(tuple, store.table().collect()))
    cleaned = fsck(store, clean=True)
    assert cleaned["cleaned"]
    assert not os.path.exists(os.path.join(store.path, "b=0", "v=99"))
    assert not os.path.exists(os.path.join(store.path, "_staging-0"))
    # the possibly-live staging dir is never deleted
    assert os.path.exists(os.path.join(store.path, inflight))
    os.rmdir(os.path.join(store.path, inflight))
    # cleaning touched nothing live: table identical, next fsck clean
    assert sorted(map(tuple, store.table().collect())) == before
    assert fsck(store)["orphans"] == []

    # missing directory is reported, never repaired
    victim = fsck(store)["live"][0]
    import shutil

    shutil.rmtree(os.path.join(store.path, victim))
    assert fsck(store)["missing"] != []


def test_erasing_whole_bucket_drops_it_and_reads_survive(spark, tmp_path):
    """Erasing every key of a bucket must not leave an empty version
    dir behind (spark.read.parquet on it raises UNABLE_TO_INFER_SCHEMA);
    the bucket is dropped from the manifest and lookup/envelopes keep
    working."""
    from aws_dms_cdc_data_pipeline_spark.maintenance.erasure import erase_keys

    b1, _ = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    env = store.envelopes().withColumn(
        "_b", F.expr(f"pmod(hash({store.key}), {store.num_buckets})")
    )
    by_bucket = {
        r["_b"]: r["n"]
        for r in env.groupBy("_b").count().withColumnRenamed("count", "n").collect()
    }
    victim_bucket = min(by_bucket)
    victims = [
        r["k"]
        for r in env.filter(F.col("_b") == victim_bucket)
        .select(F.expr(store.key).alias("k"))
        .collect()
    ]
    survivors_before = sorted(
        r["k"]
        for r in env.filter(F.col("_b") != victim_bucket)
        .select(F.expr(store.key).alias("k"))
        .collect()
    )

    out = erase_keys(spark, store, victims)
    assert out["store_rows_erased"] == len(victims)

    manifest = store._manifest()
    assert str(victim_bucket) not in manifest["buckets"]
    # no empty version dir left on disk for the dropped bucket
    bdir = os.path.join(store.path, f"b={victim_bucket}")
    assert not os.path.isdir(bdir) or os.listdir(bdir) == []

    # point lookups: erased key -> empty, survivor -> found
    assert store.lookup(victims[:1]).count() == 0
    assert store.lookup(survivors_before[:1]).count() == 1
    # full reads unaffected
    assert sorted(
        r["k"] for r in store.envelopes().select(F.expr(store.key).alias("k")).collect()
    ) == survivors_before
    fr = SS.fsck(store)
    assert fr["missing"] == [] and fr["orphans"] == []


def test_erasing_every_key_leaves_working_empty_store(spark, tmp_path):
    from aws_dms_cdc_data_pipeline_spark.maintenance.erasure import erase_keys

    b1, b2 = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    all_keys = [
        r["k"] for r in store.envelopes().select(F.expr(store.key).alias("k")).collect()
    ]
    erase_keys(spark, store, all_keys)
    assert store._manifest()["buckets"] == {}
    env = store.envelopes()
    assert env is not None and env.count() == 0
    assert store.table().count() == 0
    assert store.lookup(all_keys[:2]).count() == 0
    # the store is still writable: a later merge repopulates it
    store.merge(b2)
    assert store.table().count() > 0


def test_merge_refuses_to_commit_empty_bucket_version(spark, tmp_path):
    """merge never shrinks a bucket, so a touched bucket with no staged
    output is interference (e.g. a concurrent fsck clean ate the
    staging dir); _swap_buckets must raise, not publish empty state."""
    b1, _ = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    before = _rows(store)
    gen = store.version()
    manifest = store._manifest()
    # rows land only in their real buckets; claiming an extra touched
    # bucket simulates a staged dir that vanished before the rename
    latest = store.envelopes().withColumn("_b", store._bucket_expr())
    real = {r["_b"] for r in latest.select("_b").distinct().collect()}
    phantom = next(b for b in range(store.num_buckets) if b not in real) \
        if len(real) < store.num_buckets else None
    if phantom is None:
        latest = latest.filter(F.col("_b") != 0)
        phantom = 0
        real.discard(0)
    with pytest.raises(RuntimeError, match="no staged output"):
        store._swap_buckets(latest, sorted(real | {phantom}), manifest, gen + 1)
    # commit never happened
    assert store.version() == gen
    assert _rows(store) == before


def test_merge_aborts_when_staging_vanishes(spark, tmp_path, monkeypatch):
    """A concurrent fsck(clean=True) deleting the in-flight staging dir
    must abort the merge loudly instead of committing empty buckets."""
    import shutil as _sh

    b1, b2 = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    before = _rows(store)
    gen = store.version()

    real_exists = os.path.exists

    def sabotage(p):
        # simulate fsck racing in right after the staging write
        if p.endswith("_SUCCESS") and "_staging-" in p:
            _sh.rmtree(os.path.dirname(p), ignore_errors=True)
        return real_exists(p)

    monkeypatch.setattr(SS.os.path, "exists", sabotage)
    with pytest.raises(RuntimeError, match="staging dir .* vanished"):
        store.merge(b2)
    monkeypatch.undo()
    assert store.version() == gen
    assert _rows(store) == before
    store.merge(b2)  # replay succeeds
    assert store.version() == gen + 1


def test_touched_set_missing_a_bucket_raises_and_commits_nothing(spark, tmp_path):
    """A caller-supplied bucket set that misses one of the batch's
    buckets must not silently drop that bucket's rows: the merge
    raises after the staging write and the manifest stays as it was."""
    b1, b2 = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    before, manifest_before = _rows(store), store._manifest()
    buckets = {
        r["_b"]
        for r in b2.select(store._bucket_expr().alias("_b")).distinct().collect()
    }
    assert len(buckets) > 1
    for wrong in (buckets - {min(buckets)}, set()):
        with pytest.raises(RuntimeError, match="not in the touched set"):
            store.merge(b2, touched=wrong)
        assert store._manifest() == manifest_before
    assert _rows(store) == before
    assert not [e for e in os.listdir(store.path) if e.startswith("_staging-")]
    # the exact set commits, like a merge that finds its own buckets
    store.merge(b2, touched=buckets)
    ref = StateStore(spark, str(tmp_path / "ref"), num_buckets=4)
    ref.merge(b1)
    ref.merge(b2)
    assert _rows(store) == _rows(ref)


def _into_delta(spark, store, keys):
    """Merge newer rows of ``keys`` through the delta run."""
    batch = (
        envelopes_df(spark, GeneratorConfig(n_rows=max(keys), seed=11,
                                            update_fraction=0.0, delete_fraction=0.0))
        .filter(F.col("data.trans_id").isin(keys))
        .withColumn("metadata", F.col("metadata").withField(
            "timestamp", F.lit(dt.datetime(2030, 1, 1))))
    )
    gen = store.merge(batch, keys=keys)
    assert store._manifest()["delta"]["v"] == gen
    return batch


def test_fsck_and_snapshot_know_the_delta_run(spark, tmp_path):
    b1, _ = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)  # 30 base keys: room for 3 in the delta
    _into_delta(spark, store, [1, 2])
    _into_delta(spark, store, [3])
    report = SS.fsck(store)
    assert "delta/v=2" in report["live"]
    assert report["retained"] == ["delta/v=1"]
    assert report["orphans"] == [] and report["missing"] == []

    os.makedirs(os.path.join(store.path, "delta", "v=99"))
    assert "delta/v=99" in SS.fsck(store)["orphans"]
    before = _rows(store)
    SS.fsck(store, clean=True)
    assert not os.path.exists(os.path.join(store.path, "delta", "v=99"))
    assert _rows(store) == before

    snap = str(tmp_path / "snap")
    SS.snapshot_store(store, snap)
    assert sorted(os.listdir(os.path.join(snap, "delta"))) == ["v=2"]
    restored = SS.restore_store(spark, snap, str(tmp_path / "restored"), num_buckets=4)
    assert _rows(restored) == before
    assert sorted(map(tuple, restored.lookup([1, 2, 3]).collect())) == sorted(
        map(tuple, store.lookup([1, 2, 3]).collect()))
    rep = SS.fsck(restored)
    assert "delta/v=2" in rep["live"]
    assert rep["orphans"] == [] and rep["retained"] == [] and rep["missing"] == []


def test_crash_mid_delta_rename_is_invisible_then_recoverable(
    spark, tmp_path, monkeypatch
):
    b1, _ = _batches(spark)
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=4)
    store.merge(b1)
    before, gen = _rows(store), store.version()
    real_rename = os.rename

    def crash(src, dst):
        if f"{os.sep}delta{os.sep}" in dst:
            raise OSError("injected crash before the delta rename")
        return real_rename(src, dst)

    monkeypatch.setattr(SS.os, "rename", crash)
    with pytest.raises(OSError, match="injected"):
        _into_delta(spark, store, [1, 2])
    monkeypatch.undo()
    assert store.version() == gen and _rows(store) == before

    batch = _into_delta(spark, store, [1, 2])  # the replay commits
    ref = StateStore(spark, str(tmp_path / "ref"), num_buckets=4)
    ref.merge(b1)
    ref.merge(batch)
    assert _rows(store) == _rows(ref)
    assert SS.fsck(store)["orphans"] == []
