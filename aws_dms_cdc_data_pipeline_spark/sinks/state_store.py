"""S5 — the upsert-style "index" store (OpenSearch analog).

The reference bulk-indexes every envelope into a fixed OpenSearch
index with doc-id = shard sequence number (firehose.py:114-155,
README.md:457); the queryable "table" is the latest version per
primary key. Our store keeps that semantic with plain Parquet +
an atomically-swapped JSON manifest — a compacted, **key-bucketed**
changelog:

  state/b=<B>/v=<N>/   latest envelope per key for bucket B
  state/_MANIFEST      {"generation": G, "buckets": {"B": N, ...}}

Keys hash into ``num_buckets`` buckets (pmod(hash(key), B) — the same
function on every merge, so a key's bucket never moves). A micro-batch
merge touches ONLY the buckets its keys hash into: merge I/O is
O(state/num_buckets × touched_buckets + batch), not O(state) — at
100 TB state with a 60 s trigger this is the difference between a
perpetual full-table rewrite and a bounded incremental one. Untouched
buckets keep their current version directory byte-for-byte.

Each touched bucket's previous version directory is kept for one
generation (in-flight readers) and garbage-collected after that, so
disk stays ~2× live state instead of growing per trigger.

Replayed batches are idempotent because re-delivered records carry
the same doc_id and per-key ranking is deterministic (T1). On a real
deployment this class is replaced 1:1 by a Delta/Iceberg ``MERGE
INTO`` (same logical plan, transactional commit); the manifest swap
is the minimal standalone equivalent.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark import schema as S
from aws_dms_cdc_data_pipeline_spark.operators.upsert import ranked


class StateStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "data.trans_id",
        num_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.num_buckets = num_buckets
        os.makedirs(path, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_file(self) -> str:
        return os.path.join(self.path, "_MANIFEST")

    def _manifest(self) -> dict:
        return _read_manifest(self._manifest_file, {"generation": -1, "buckets": {}})

    def _write_manifest(self, manifest: dict) -> None:
        _swap_manifest(self._manifest_file, manifest)

    def version(self) -> int:
        """Monotonic store generation (bumped once per merge)."""
        return self._manifest()["generation"]

    def _bdir(self, b: int, v: int) -> str:
        return os.path.join(self.path, f"b={b}", f"v={v}")

    def _bucket_expr(self):
        return F.expr(f"pmod(hash({self.key}), {self.num_buckets})")

    def _read(self, dirs: list[str]) -> DataFrame:
        # the layout's schema is known: passing it skips the footer-read
        # job that schema inference launches on every read
        return self.spark.read.schema(S.KEYED_ENVELOPE_SCHEMA).parquet(*dirs)

    # -- read --------------------------------------------------------------
    def envelopes(self) -> DataFrame | None:
        """Latest envelope per key, including delete tombstones."""
        manifest = self._manifest()
        if manifest["generation"] < 0:
            return None
        dirs = [self._bdir(int(b), v) for b, v in manifest["buckets"].items()]
        if not dirs:  # every key erased: live store with zero buckets
            return self.spark.createDataFrame([], S.KEYED_ENVELOPE_SCHEMA)
        return self._read(dirs)

    def table(self) -> DataFrame:
        """The analyst-facing current-state table (live rows only)."""
        env = self.envelopes()
        if env is None:
            return self.spark.createDataFrame([], S.DATA_SCHEMA)
        return env.filter(F.col("metadata.operation") != F.lit(S.OP_DELETE)).select(
            "data.*"
        )

    def lookup(self, keys: list) -> DataFrame:
        """Point lookup — the OpenSearch GET-by-id parity call.

        The bucket layout IS the index: each key hashes to exactly one
        bucket, so the read touches only the bucket directories the
        requested keys live in — ``len(set(buckets))/num_buckets`` of
        the state, not a full scan. At 100 TB state with 4096 buckets
        a 10-key lookup reads ≤ 10 buckets (~0.25% of the files); the
        residual in-bucket filter prunes further via parquet min/max
        on the key column. Keys are literals, so the bucket set is
        computed driver-side with the SAME hash Spark applies
        (verified by construction: one spark-side eval over the
        literal array — no Python reimplementation of xxhash/murmur
        to drift).
        """
        if not keys:
            return self.table().limit(0)
        manifest = self._manifest()
        if manifest["generation"] < 0:
            return self.table().limit(0)
        # bucket ids via Spark's own hash, evaluated once on literals.
        # The probe column type MUST match the stored key type: Spark's
        # Murmur3 hashes int32 and int64 differently, so a width
        # mismatch would probe the wrong bucket.
        ktype = "string" if isinstance(keys[0], str) else "long"
        probe = self.spark.createDataFrame([(k,) for k in keys], f"_k {ktype}")
        wanted = {
            r["_b"]
            for r in probe.select(
                F.expr(f"pmod(hash(_k), {self.num_buckets})").alias("_b")
            ).collect()
        }
        dirs = [
            self._bdir(int(b), v)
            for b, v in manifest["buckets"].items()
            if int(b) in wanted
        ]
        if not dirs:
            return self.table().limit(0)
        env = self._read(dirs)
        live = env.filter(F.col("metadata.operation") != F.lit(S.OP_DELETE))
        return live.filter(F.expr(self.key).isin(keys)).select("data.*")

    # -- write -------------------------------------------------------------
    def merge(
        self,
        batch_envelopes: DataFrame,
        changes: ChangeCapture | None = None,
        touched: Iterable[int] | None = None,
    ) -> int:
        """Upsert one micro-batch of keyed envelopes; returns new generation.

        Only buckets whose keys appear in the batch are read, merged,
        and rewritten; everything else is untouched metadata-only.
        ``changes`` (optional) collects the merge's signed change set
        on the staging write itself — see :class:`ChangeCapture`.
        ``touched`` (optional) is the batch's bucket ids
        (``_bucket_expr()`` over its rows) when the caller already has
        them, which spares the merge its own pass over the batch; a
        set that misses a bucket of the batch makes the commit raise
        (so an empty set still runs the write that proves it).
        """
        cols = ["data", "metadata", "doc_id"]
        batch = batch_envelopes.select(*cols).withColumn("_b", self._bucket_expr())
        manifest = self._manifest()
        new_gen = manifest["generation"] + 1
        if touched is None:
            # Affected-bucket ids: a <= num_buckets-element driver list, not data.
            touched = {r["_b"] for r in batch.select("_b").distinct().collect()}
            if not touched:  # empty batch — bump generation only
                manifest["generation"] = new_gen
                self._write_manifest(manifest)
                return new_gen
        touched = sorted(touched)

        old_dirs = [
            self._bdir(b, manifest["buckets"][str(b)])
            for b in touched
            if str(b) in manifest["buckets"]
        ]
        merged_src = batch.withColumn("_new", F.lit(True))
        if old_dirs:
            old = (
                self._read(old_dirs)
                .select(*cols)
                .withColumn("_b", self._bucket_expr())
                .withColumn("_new", F.lit(False))
            )
            merged_src = old.unionByName(merged_src)
        # keep tombstones so a late pre-delete change can't resurrect the row
        by_key = ranked(merged_src, self.key)
        if changes is not None:
            # a stored row that ranks below 1 lost to a batch row (the
            # store holds one row per key); batch rows below 1 never
            # reached the store
            first, new = F.col("_rn") == 1, F.col("_new")
            sign = F.when(first & new, 1).when(~first & ~new, -1).otherwise(0)
            by_key = changes._observe(by_key, sign)
        latest = by_key.filter(F.col("_rn") == 1).drop("_rn", "_new")
        return self._swap_buckets(latest, touched, manifest, new_gen)

    def _swap_buckets(
        self,
        latest: DataFrame,
        touched: list[int],
        manifest: dict,
        new_gen: int,
        *,
        allow_empty: bool = False,
    ) -> int:
        """Write ``latest`` (which carries ``_b``) as version ``new_gen``
        of the ``touched`` buckets, swap the manifest, GC superseded
        versions. Shared by :meth:`merge` and the erasure job — any
        bucket rewrite goes through this one path.

        One job writes every touched bucket; per-bucket dirs then move
        into their versioned slots before the single manifest swap.

        A touched bucket with no staged output means every one of its
        keys vanished. ``merge`` can never shrink a bucket (it keeps
        tombstones), so there a missing dir is interference — a crash
        or a concurrent ``fsck(clean=True)`` removing the in-flight
        staging — and committing would silently publish an empty
        bucket: raise instead. Erasure passes ``allow_empty=True``;
        an emptied bucket is then dropped from the manifest (readers
        simply never visit it) and ALL its versions are GC'd
        IMMEDIATELY. ``allow_empty=True`` (the erasure path) also
        eagerly GCs every touched bucket's just-superseded version —
        deliberately skipping the keep-one-generation grace the merge
        path gives in-flight readers, because superseded versions of
        erasure-touched buckets hold the erased PII and erasure's
        contract is physical removal NOW, not at the next touch. The
        accepted cost (documented, not hidden): a reader holding the
        pre-erasure manifest may hit FileNotFound mid-scan on an
        erasure-touched bucket; merge retains its grace generation
        and is unaffected.
        """
        staging = os.path.join(self.path, f"_staging-{new_gen}")
        latest.write.mode("overwrite").partitionBy("_b").parquet(staging)
        # interference check (concurrent fsck clean removing the
        # in-flight staging): the _SUCCESS marker is the strongest
        # signal, but it only exists when the committer's
        # marksuccessfuljobs convention is on (the default; commonly
        # disabled in deployments) — fall back to the staging dir
        # itself, which is the actual thing fsck would have removed.
        marks = (
            self.spark.sparkContext._jsc.hadoopConfiguration()
            .get("mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
        )
        probe = (
            os.path.join(staging, "_SUCCESS")
            if str(marks).lower() == "true"
            else staging
        )
        if not os.path.exists(probe):
            raise RuntimeError(
                f"state store staging dir {staging} vanished or is "
                "incomplete after write (concurrent fsck clean?); "
                "nothing was committed — re-run"
            )
        # a staged bucket outside ``touched`` would never be committed:
        # its rows would silently vanish (a caller-supplied bucket set
        # that misses one of the batch's buckets)
        staged = {
            int(e.removeprefix("_b="))
            for e in os.listdir(staging)
            if e.startswith("_b=")
        }
        if not staged <= set(touched):
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                f"staged buckets {sorted(staged - set(touched))} are not "
                f"in the touched set {touched}; nothing was committed"
            )
        gc_dirs: list[str] = []
        for b in touched:
            src = os.path.join(staging, f"_b={b}")
            prev = manifest["buckets"].get(str(b))
            if not os.path.exists(src):
                if not allow_empty:
                    raise RuntimeError(
                        f"bucket {b} had rows but produced no staged "
                        f"output under {staging}; refusing to commit "
                        "an empty bucket version"
                    )
                # every key of the bucket was erased: drop the bucket
                # from the manifest and GC all its versions.
                if prev is not None:
                    del manifest["buckets"][str(b)]
                    gc_dirs.extend(
                        self._bdir(b, v)
                        for v in _versions_below(
                            os.path.join(self.path, f"b={b}"), prev + 1
                        )
                    )
                continue
            dst = self._bdir(b, new_gen)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):
                shutil.rmtree(dst)  # crashed earlier attempt of same gen
            os.rename(src, dst)
            if prev is not None:
                # merge keeps v=prev one extra generation for in-flight
                # readers; erasure (allow_empty) removes it now — it
                # still contains the erased rows (see docstring).
                keep_floor = prev + 1 if allow_empty else prev
                gc_dirs.extend(
                    self._bdir(b, v)
                    for v in _versions_below(
                        os.path.join(self.path, f"b={b}"), keep_floor
                    )
                )
            manifest["buckets"][str(b)] = new_gen
        shutil.rmtree(staging, ignore_errors=True)
        manifest["generation"] = new_gen
        self._write_manifest(manifest)
        # GC: drop versions older than the just-superseded one (which is
        # kept one more generation for in-flight readers — except on the
        # erasure path, which removes superseded PII immediately).
        for d in gc_dirs:
            shutil.rmtree(d, ignore_errors=True)
        return new_gen


def _read_manifest(path: str, default: dict) -> dict:
    """The JSON manifest at ``path``, or ``default`` before the first swap."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def _swap_manifest(path: str, manifest: dict) -> None:
    """Replace the JSON manifest at ``path`` atomically: readers see the
    old or the new manifest whole, never a partial write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)  # atomic pointer swap


def _versions_below(version_root: str, floor: int) -> list[int]:
    """The ``v=<N>`` versions on disk under ``version_root`` with
    ``N < floor``, ascending (none when the directory is missing)."""
    try:
        entries = os.listdir(version_root)
    except FileNotFoundError:
        return []
    versions = (int(e.removeprefix("v=")) for e in entries if e.startswith("v="))
    return sorted(v for v in versions if v < floor)


class ChangeCapture:
    """The signed change set of one :meth:`StateStore.merge`, observed
    on the merge's own staging write: no extra Spark job, nothing
    persisted, nothing written under the store.

    The merge ranks the batch together with the stored rows of its
    keys and signs each ranked row: +1 for a batch row that becomes
    the stored winner, -1 for a stored row that a batch row
    supersedes, 0 otherwise. ``row(sign)`` maps a ranked envelope
    (``data``/``metadata``/``doc_id``) and its sign to the value to
    keep (NULL = nothing); after a successful merge :meth:`rows`
    returns that value for every +/-1 row. Replayed records cancel:
    a content-identical row either keeps its stored twin (0) or
    replaces it (+1 and -1 of equal content).

    Every merge attempt observes into a fresh ``Observation``, so
    after a retried merge :meth:`rows` reflects the committed attempt
    alone. An empty batch writes nothing and leaves :meth:`rows`
    empty.
    """

    def __init__(self, row: Callable[[Column], Column]):
        self._row = row
        self._obs: Observation | None = None

    def _observe(self, ranked: DataFrame, sign: Column) -> DataFrame:
        self._obs = Observation()
        return ranked.observe(
            self._obs,
            F.collect_list(F.when(sign != 0, self._row(sign))).alias("rows"),
        )

    def rows(self) -> list:
        return [] if self._obs is None else self._obs.get["rows"]


__all__ = ["StateStore", "ChangeCapture", "changes_in_generation", "reshard", "fsck"]


def changes_in_generation(store: StateStore) -> DataFrame | None:
    """Change-data-feed of the store's most recent merge (the Delta
    CDF analog): one row per key whose LIVE value changed, classified
    insert/update/delete with the changed-column list.

    Reads only the touched buckets' current and kept-previous version
    directories — never the full state — and diffs live rows with
    :func:`~aws_dms_cdc_data_pipeline_spark.operators.diff.snapshot_diff`
    (one co-keyed full-outer join of bucket-sized inputs). Re-delivered
    no-op records (same key, same values) produce NO feed row, so a
    replayed epoch emits an empty feed. Returns None before the first
    merge.

    Relies on the store's GC contract that a touched bucket's previous
    version survives exactly one generation, so call this between
    merges (e.g. from the foreachBatch hook); after a crash-gap,
    downstream consumers re-baseline from :meth:`StateStore.table`.
    """
    from aws_dms_cdc_data_pipeline_spark.operators.diff import snapshot_diff

    manifest = store._manifest()
    gen = manifest["generation"]
    if gen < 0:
        return None
    key_leaf = store.key.split(".")[-1]

    def _live(dirs: list[str]) -> DataFrame:
        if not dirs:
            return store.spark.createDataFrame([], S.DATA_SCHEMA)
        env = store._read(dirs)
        return env.filter(
            F.col("metadata.operation") != F.lit(S.OP_DELETE)
        ).select("data.*")

    touched = [int(b) for b, v in manifest["buckets"].items() if v == gen]
    new_dirs, old_dirs = [], []
    for b in touched:
        new_dirs.append(store._bdir(b, gen))
        prev = _versions_below(os.path.join(store.path, f"b={b}"), gen)
        if prev:
            old_dirs.append(store._bdir(b, prev[-1]))
    return snapshot_diff(_live(old_dirs), _live(new_dirs), keys=key_leaf)


def reshard(store: StateStore, new_path: str, num_buckets: int) -> StateStore:
    """Rebuild ``store`` under a different bucket count — the
    operational re-shard a growing deployment eventually needs (bucket
    count fixes merge parallelism and lookup granularity; at 100 TB
    state, 16 buckets that were right at launch become hotspots).

    Blue-green by construction: the new store materializes at
    ``new_path`` while the old one keeps serving; the caller swaps
    consumers over when done (and deletes the old path). The rebuild
    is ONE call into the same ``merge`` path every micro-batch uses —
    latest-envelope semantics, tombstone preservation, manifest
    atomicity and GC all come from the existing, fault-tested code
    rather than a parallel implementation. Cost: one full read +
    bucketed rewrite of live state — the unavoidable minimum, since
    every key changes bucket with the modulus.
    """
    if os.path.exists(os.path.join(new_path, "_MANIFEST")):
        raise ValueError(f"reshard target {new_path!r} already has a store")
    new = StateStore(
        store.spark, new_path, key=store.key, num_buckets=num_buckets
    )
    env = store.envelopes()
    if env is not None:
        new.merge(env.select("data", "metadata", "doc_id"))
    return new


def fsck(store: StateStore, *, clean: bool = False) -> dict:
    """Manifest↔disk consistency report (and optional repair) for a
    bucketed store — the operational check after a crash or an
    interrupted maintenance job.

    Classifies every ``b=*/v=*`` directory on disk against the
    manifest:

    - ``live``: the manifest's current version for its bucket;
    - ``retained``: the immediately-previous version (kept one
      generation for in-flight readers — expected, never cleaned);
    - ``orphans``: anything else — crash debris from an interrupted
      ``_swap_buckets`` (its staging dir), an aborted erasure, or a
      GC that never ran. ``clean=True`` deletes these (and stray
      ``_staging-*`` dirs); the manifest is never modified.
    - ``in_flight``: ``_staging-<g>`` with ``g`` ABOVE the manifest
      generation — a merge/erasure that may be running right now.
      Never classified as orphan and never cleaned: deleting it
      would yank a live writer's staged output out from under the
      commit (the writer now also detects that and aborts, but fsck
      must not cause the abort). Only ``_staging-<g>`` with
      ``g <= generation`` — provably superseded — is crash debris.
    - ``missing``: manifest points at a directory that does not
      exist — state LOSS, never auto-repaired; restore from the
      archive (maintenance/replay + compact) instead.

    Driver-side directory listing only — no data files are opened,
    so the check is O(#directories) regardless of state size.
    """
    manifest = store._manifest()
    live: list[str] = []
    retained: list[str] = []
    orphans: list[str] = []
    missing: list[str] = []
    in_flight: list[str] = []
    for b_str, v in manifest["buckets"].items():
        if not os.path.isdir(store._bdir(int(b_str), v)):
            missing.append(f"b={b_str}/v={v}")
    for entry in sorted(os.listdir(store.path)):
        full = os.path.join(store.path, entry)
        if entry.startswith("_staging-") and os.path.isdir(full):
            try:
                staged_gen = int(entry.removeprefix("_staging-"))
            except ValueError:
                staged_gen = None
            if staged_gen is not None and staged_gen > manifest["generation"]:
                in_flight.append(entry)
            else:
                orphans.append(entry)
            continue
        if not (entry.startswith("b=") and os.path.isdir(full)):
            continue
        b_str = entry.removeprefix("b=")
        current = manifest["buckets"].get(b_str)
        below = _versions_below(full, current) if current is not None else []
        previous = below[-1] if below else None
        for vdir in sorted(os.listdir(full)):
            if not vdir.startswith("v="):
                continue
            v = int(vdir.removeprefix("v="))
            rel = f"{entry}/{vdir}"
            if v == current:
                live.append(rel)
            elif v == previous:
                retained.append(rel)
            else:
                orphans.append(rel)
    if clean:
        for rel in orphans:
            shutil.rmtree(os.path.join(store.path, rel), ignore_errors=True)
    return {
        "generation": manifest["generation"],
        "live": live,
        "retained": retained,
        "orphans": orphans,
        "in_flight": in_flight,
        "missing": missing,
        "cleaned": clean,
    }


def snapshot_store(store: StateStore, dest: str) -> dict:
    """Point-in-time snapshot of a live store — the OpenSearch
    snapshot API parity (the reference's terminal store relies on
    snapshots for disaster recovery): copy EXACTLY the files the
    current manifest references into ``dest``, then write a manifest
    pointing at them. The copy is consistent without stopping writes
    because the store's versioned-bucket layout is immutable-by
    construction — a concurrent merge writes NEW ``v=`` directories
    and swaps the manifest pointer; the directories this snapshot
    reads are never modified in place (the same property the
    time-travel reads rely on).

    Returns {"generation", "buckets", "files"} — the snapshot
    inventory. Restore with :func:`restore_store`.
    """
    if os.path.exists(os.path.join(dest, "_MANIFEST")):
        raise ValueError(f"snapshot target {dest!r} already has a store")
    manifest = store._manifest()
    if manifest["generation"] < 0:
        raise ValueError("cannot snapshot an empty store (no generation)")
    os.makedirs(dest, exist_ok=True)
    n_files = 0
    for b, v in manifest["buckets"].items():
        src_dir = store._bdir(int(b), v)
        dst_dir = os.path.join(dest, f"b={b}", f"v={v}")
        shutil.copytree(src_dir, dst_dir)
        n_files += sum(len(fs) for _, _, fs in os.walk(dst_dir))
    _swap_manifest(os.path.join(dest, "_MANIFEST"), manifest)
    return {
        "generation": manifest["generation"],
        "buckets": len(manifest["buckets"]),
        "files": n_files,
    }


def restore_store(
    spark: SparkSession, snapshot_path: str, dest: str, *,
    key: str = "data.trans_id", num_buckets: int = 16,
) -> StateStore:
    """Restore a :func:`snapshot_store` snapshot into a NEW store at
    ``dest`` (never in place — the blue-green convention shared with
    :func:`reshard`: the damaged store keeps serving while the
    restore materializes, and the caller swaps consumers over).

    The snapshot IS a valid store directory (same layout + manifest),
    so restore is a copy + StateStore handle; post-restore ``fsck``
    must come back clean (asserted in tests).
    """
    if not os.path.exists(os.path.join(snapshot_path, "_MANIFEST")):
        raise ValueError(f"{snapshot_path!r} is not a snapshot")
    if os.path.exists(os.path.join(dest, "_MANIFEST")):
        raise ValueError(f"restore target {dest!r} already has a store")
    os.makedirs(dest, exist_ok=True)
    for entry in os.listdir(snapshot_path):
        src = os.path.join(snapshot_path, entry)
        dst = os.path.join(dest, entry)
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
    return StateStore(spark, dest, key=key, num_buckets=num_buckets)
