"""Key erasure across state store + raw archive (right-to-be-forgotten)."""

import datetime as dt
import glob
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.generator import GeneratorConfig, envelopes_df
from aws_dms_cdc_data_pipeline_spark.maintenance.erasure import erase_keys
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import StateStore, fsck
from aws_dms_cdc_data_pipeline_spark.streaming import (
    CdcStreamConfig,
    start_cdc_stream,
)
from aws_dms_cdc_data_pipeline_spark.generator import write_envelope_jsonl


def _build_store(spark, tmp_path, n_rows=40):
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    env = envelopes_df(
        spark,
        GeneratorConfig(n_rows=n_rows, seed=7, update_fraction=0.2,
                        delete_fraction=0.0, duplicate_fraction=0.0),
    )
    store.merge(env)
    return store


def test_store_erasure_removes_only_requested_keys(spark, tmp_path):
    store = _build_store(spark, tmp_path)
    before = {r["trans_id"]: r for r in store.table().collect()}
    victims = sorted(before)[:3]
    gen_before = store.version()
    manifest_before = dict(store._manifest()["buckets"])

    out = erase_keys(spark, store, victims)

    assert out["store_rows_erased"] == 3
    assert out["generation"] == gen_before + 1
    after = {r["trans_id"]: r for r in store.table().collect()}
    assert set(after) == set(before) - set(victims)
    for k, row in after.items():
        assert row == before[k]  # survivors byte-identical
    # untouched buckets keep their version directory (no full rewrite)
    manifest_after = store._manifest()["buckets"]
    probe = spark.createDataFrame([(k,) for k in victims], "_k long")
    touched = {
        str(r["_b"])
        for r in probe.select(F.expr("pmod(hash(_k), 8)").alias("_b")).collect()
    }
    for b, v in manifest_before.items():
        if b not in touched:
            assert manifest_after[b] == v


def test_erasure_removes_superseded_pii_version_immediately(spark, tmp_path):
    """Erasure must not leave the erased rows readable in the touched
    bucket's superseded version dir: unlike merge (which keeps v=prev
    one extra generation for in-flight readers), erasure's contract is
    physical PII removal NOW."""
    store = _build_store(spark, tmp_path)
    victims = [r["trans_id"] for r in store.table().limit(2).collect()]
    manifest_before = dict(store._manifest()["buckets"])
    probe = spark.createDataFrame([(k,) for k in victims], "_k long")
    touched = {
        str(r["_b"])
        for r in probe.select(F.expr("pmod(hash(_k), 8)").alias("_b")).collect()
    }
    erase_keys(spark, store, victims)
    for b in touched:
        prev = manifest_before[b]
        stale = os.path.join(store.path, f"b={b}", f"v={prev}")
        assert not os.path.exists(stale), (
            f"superseded version {stale} still holds erased rows"
        )


def test_erasure_removes_a_delta_key_in_the_same_generation(spark, tmp_path):
    """A key whose current row lives in the delta run is erased from
    the delta and from the base in one generation, and no directory
    left under the store holds it."""
    store = _build_store(spark, tmp_path)  # 40 base keys: room for 4 in the delta
    keys = [1, 2, 41, 42]
    newer = (
        envelopes_df(spark, GeneratorConfig(n_rows=42, seed=8, update_fraction=0.0,
                                            delete_fraction=0.0))
        .filter(F.col("data.trans_id").isin(keys))
        .withColumn("metadata", F.col("metadata").withField(
            "timestamp", F.lit(dt.datetime(2030, 1, 1))))
    )
    gen = store.merge(newer, keys=keys)
    assert store._manifest()["delta"] == {"v": gen, "rows": 4,
                                          "buckets": store._manifest()["delta"]["buckets"]}

    def stored_keys():
        return {
            k
            for f in glob.glob(os.path.join(store.path, "**", "*.parquet"), recursive=True)
            for k in pq.read_table(f, columns=["data.trans_id"]).column(0).to_pylist()
        }

    out = erase_keys(spark, store, [1, 41])  # 1: base and delta; 41: delta only
    assert out["store_rows_erased"] == 3
    assert out["generation"] == gen + 1 == store.version()
    assert store.lookup([1, 41]).count() == 0
    live = {r["trans_id"] for r in store.table().collect()}
    assert live.isdisjoint({1, 41}) and {2, 42} <= live
    assert stored_keys().isdisjoint({1, 41})
    assert store._manifest()["delta"]["rows"] == 2
    report = fsck(store)
    assert report["retained"] == [] and report["orphans"] == []

    # erasing the delta's last keys drops the run
    erase_keys(spark, store, [2, 42])
    assert "delta" not in store._manifest()
    assert not glob.glob(os.path.join(store.path, "delta", "v=*"))
    assert stored_keys().isdisjoint({1, 2, 41, 42})
    assert len(live) - 2 == store.table().count()


def test_erase_missing_key_is_noop(spark, tmp_path):
    store = _build_store(spark, tmp_path)
    gen = store.version()
    out = erase_keys(spark, store, [999_999_999])
    assert out["store_rows_erased"] == 0
    assert store.version() == gen  # no pointless generation bump


def test_audit_trail_written(spark, tmp_path):
    store = _build_store(spark, tmp_path)
    victims = [r["trans_id"] for r in store.table().limit(2).collect()]
    erase_keys(spark, store, victims)
    lines = open(os.path.join(store.path, "_ERASURES")).read().splitlines()
    rec = json.loads(lines[-1])
    assert rec["n_keys"] == 2 and rec["store_rows_erased"] == 2


def test_archive_erasure_rewrites_only_touched_files(spark, tmp_path):
    cfg = GeneratorConfig(n_rows=60, seed=13, update_fraction=0.2,
                          delete_fraction=0.1, duplicate_fraction=0.1)
    wire = str(tmp_path / "wire")
    sink = str(tmp_path / "sink")
    write_envelope_jsonl(cfg, wire, files=4)
    # one wire file per micro-batch → several archive files, so the
    # surgical-rewrite claim (untouched files stay untouched) is testable
    scfg = CdcStreamConfig(source_path=wire, sink_root=sink,
                           trigger_seconds=None, max_files_per_trigger=1)
    start_cdc_stream(spark, scfg).awaitTermination()
    store = StateStore(spark, scfg.state_path)
    archive = scfg.archive_path

    files_before = sorted(glob.glob(
        os.path.join(archive, "batch_id=*", "**", "part-*"), recursive=True))
    mtimes_before = {f: os.path.getmtime(f) for f in files_before}

    def archive_keys():
        df = (
            spark.read.schema("doc_id string, value string")
            .option("basePath", archive)
            .json(sorted(glob.glob(os.path.join(archive, "batch_id=*"))))
        )
        return df.select(
            F.get_json_object("value", "$.data.trans_id").alias("k")
        )

    all_keys = {r["k"] for r in archive_keys().distinct().collect()}
    # choose victims that live in the FEWEST files so some file stays
    # untouched and the surgical-rewrite claim is actually exercised
    kf = (
        spark.read.schema("doc_id string, value string")
        .option("basePath", archive)
        .json(sorted(glob.glob(os.path.join(archive, "batch_id=*"))))
        .select(
            F.get_json_object("value", "$.data.trans_id").alias("k"),
            F.input_file_name().alias("f"),
        )
        .groupBy("k")
        .agg(F.countDistinct("f").alias("nf"))
        .orderBy("nf", "k")
        .collect()
    )
    victims = [r["k"] for r in kf[:2]]
    n_before = archive_keys().count()
    n_victim_rows = archive_keys().filter(F.col("k").isin(victims)).count()
    assert n_victim_rows > 0

    out = erase_keys(
        spark, store, [int(v) for v in victims], archive_path=archive
    )

    assert out["archive_rows_erased"] == n_victim_rows
    assert out["archive_files_rewritten"] >= 1
    remaining = {r["k"] for r in archive_keys().distinct().collect()}
    assert remaining == all_keys - set(victims)
    assert archive_keys().count() == n_before - n_victim_rows
    # store side is clean too
    live = {r["trans_id"] for r in store.table().collect()}
    assert live.isdisjoint({int(v) for v in victims})
    # files that held no victim rows were not rewritten
    untouched_kept = 0
    for f, m in mtimes_before.items():
        if os.path.exists(f) and os.path.getmtime(f) == m:
            untouched_kept += 1
    assert untouched_kept >= 1
    # re-running the same request is a no-op (idempotent erasure)
    again = erase_keys(
        spark, store, [int(v) for v in victims], archive_path=archive
    )
    assert again["store_rows_erased"] == 0
    assert again["archive_rows_erased"] == 0
    assert again["archive_files_rewritten"] == 0


def test_concurrent_merge_detected_not_clobbered(spark, tmp_path, monkeypatch):
    """A merge landing between erasure's manifest read and its bucket
    swap must abort the erasure, not silently lose the merge."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.maintenance import erasure as er

    store = _build_store(spark, tmp_path)
    victims = [r["trans_id"] for r in store.table().limit(2).collect()]

    late_env = envelopes_df(
        spark, GeneratorConfig(n_rows=5, seed=99, update_fraction=0.0,
                               delete_fraction=0.0)
    )

    orig_version = type(store).version
    state = {"calls": 0}

    def racing_version(self):
        # call 1 = erase_keys' result bookkeeping; call 2 = the
        # guard's re-check — sneak a merge in just before it
        state["calls"] += 1
        if state["calls"] == 2:
            type(store).version = orig_version
            store.merge(late_env)
            monkeypatch.setattr(type(store), "version", racing_version)
        return orig_version(self)

    monkeypatch.setattr(type(store), "version", racing_version)
    try:
        with pytest.raises(RuntimeError, match="advanced during erasure"):
            er.erase_keys(spark, store, victims)
    finally:
        type(store).version = orig_version
    # the concurrent merge's rows are intact; re-running now succeeds
    out = er.erase_keys(spark, store, victims)
    assert out["store_rows_erased"] == 2


def test_stream_contract_quarantine_and_optin_replay(spark, tmp_path):
    """Third DLQ class: well-formed rows violating a declared contract
    park with reasons, stay out of state, remain archived — and
    replay back only with the operator's explicit opt-in."""
    import pytest

    from aws_dms_cdc_data_pipeline_spark.maintenance.replay import replay_dlq

    cfg = GeneratorConfig(n_rows=40, seed=3, update_fraction=0.0,
                          delete_fraction=0.0)
    wire = str(tmp_path / "wire")
    write_envelope_jsonl(cfg, wire, files=2)
    scfg = CdcStreamConfig(
        source_path=wire, sink_root=str(tmp_path / "sink"),
        trigger_seconds=None,
        contract_checks={"amount_small": "data.amount < 50"},
    )
    start_cdc_stream(spark, scfg).awaitTermination()
    store = StateStore(spark, scfg.state_path)

    live = store.table()
    n_live = live.count()
    assert live.filter("amount >= 50").count() == 0  # gate held

    parked_files = glob.glob(os.path.join(
        scfg.error_path, "batch_id=*", "contract", "*.json"))
    parked = spark.read.json(parked_files)
    n_parked = parked.count()
    n_parked_keys = parked.select(
        F.get_json_object("raw", "$.data.trans_id")
    ).distinct().count()
    assert n_parked > 0
    assert parked.filter("error != 'contract-violation'").count() == 0
    assert parked.filter("detail != 'amount_small'").count() == 0

    # every parked row is still in the raw archive (backup-before-validate)
    archive = spark.read.option("basePath", scfg.archive_path).json(
        sorted(glob.glob(os.path.join(scfg.archive_path, "batch_id=*"))))
    assert archive.count() >= n_live + n_parked

    # default replay ignores the quarantine…
    out = replay_dlq(spark, scfg.error_path, store)
    assert "contract_replayed" not in out
    assert store.table().filter("amount >= 50").count() == 0
    # …opt-in replay merges it back
    out = replay_dlq(spark, scfg.error_path, store, include_contract=True)
    assert out["contract_replayed"] == n_parked
    assert out["still_corrupt"] == 0
    after = store.table()
    assert after.count() == n_live + n_parked_keys
    assert after.filter("amount >= 50").count() > 0


def test_stranded_erasure_staging_dir_is_invisible_to_readers(spark, tmp_path):
    """Crash-debris contract: a half-finished erasure's staging dir
    must never double-count rows in archive reads."""
    import json as _json

    archive = str(tmp_path / "archive")
    leaf = os.path.join(archive, "batch_id=0", "year=2024", "month=01",
                        "day=01", "hour=00")
    os.makedirs(leaf)
    with open(os.path.join(leaf, "part-0.json"), "w") as f:
        f.write(_json.dumps({"doc_id": "1", "value": "{}"}) + "\n")
    # simulate a crashed rewrite: staging dir with a survivor copy
    stranded = os.path.join(leaf, "_erasing.part-0.json")
    os.makedirs(stranded)
    with open(os.path.join(stranded, "part-x.json"), "w") as f:
        f.write(_json.dumps({"doc_id": "1", "value": "{}"}) + "\n")

    df = (spark.read.schema("doc_id string, value string")
          .option("basePath", archive)
          .json(sorted(glob.glob(os.path.join(archive, "batch_id=*")))))
    assert df.count() == 1  # the stranded copy is ignored


def test_bulk_lookup_and_erasure_over_base_and_delta(spark, tmp_path):
    """Thousands of keys at once — some with only a base row, some with
    a newer row in the delta run, some absent: the lookup returns
    exactly the keys' current rows, and erasure removes exactly their
    stored rows and archive lines."""
    store = StateStore(spark, str(tmp_path / "state"), num_buckets=8)
    one_version = dict(update_fraction=0.0, delete_fraction=0.0)
    base = envelopes_df(spark, GeneratorConfig(n_rows=12_000, seed=7, **one_version))
    store.merge(base)  # 12,000 base rows: room for 1,200 delta keys
    delta_keys = list(range(1, 601))
    newer = envelopes_df(
        spark, GeneratorConfig(n_rows=600, seed=8, **one_version)
    ).withColumn("metadata", F.col("metadata").withField(
        "timestamp", F.lit(dt.datetime(2030, 1, 1))))
    store.merge(newer, keys=delta_keys)
    assert store._manifest()["delta"]["rows"] == 600

    in_delta = delta_keys[::2]                   # 300: base row + delta row
    base_only = list(range(10_001, 11_801))      # 1,800: base row only
    absent = list(range(90_001, 90_201))         # 200: never stored
    keys = in_delta + base_only + absent

    def by_key(df, wanted):
        return {r["trans_id"]: r for r in df.select("data.*").collect()
                if r["trans_id"] in wanted}

    want = {**by_key(base, set(base_only)), **by_key(newer, set(in_delta))}
    got = store.lookup(keys).collect()
    assert len(got) == 2_100
    assert {r["trans_id"]: r for r in got} == want

    archive = tmp_path / "archive" / "batch_id=0"
    archive.mkdir(parents=True)
    with open(archive / "part-00000.json", "w") as f:
        for k in range(1, 11_801):
            value = json.dumps({"data": {"trans_id": k}})
            f.write(json.dumps({"doc_id": f"d{k}", "value": value}) + "\n")
        f.write(json.dumps({"doc_id": "no-key", "value": "{}"}) + "\n")

    out = erase_keys(spark, store, keys, archive_path=str(tmp_path / "archive"))
    assert out["store_rows_erased"] == 300 * 2 + 1_800
    assert out["archive_rows_erased"] == 2_100
    assert out["archive_files_rewritten"] == 1
    assert store.lookup(keys).count() == 0
    live = {r["trans_id"] for r in store.table().select("trans_id").collect()}
    assert live == set(range(1, 12_001)) - set(in_delta) - set(base_only)
    assert store._manifest()["delta"]["rows"] == 300
    with open(archive / "part-00000.json") as f:
        left = [json.loads(line)["doc_id"] for line in f]
    erased_docs = {f"d{k}" for k in in_delta + base_only}
    assert sorted(left) == sorted(
        [f"d{k}" for k in range(1, 11_801) if f"d{k}" not in erased_docs]
        + ["no-key"]
    )
