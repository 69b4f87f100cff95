"""S5 — the upsert-style "index" store (OpenSearch analog).

The reference bulk-indexes every envelope into a fixed OpenSearch
index with doc-id = shard sequence number (firehose.py:114-155,
README.md:457); the queryable "table" is the latest version per
primary key. Our store keeps that semantic with plain Parquet +
an atomically-swapped JSON manifest — a compacted, **key-bucketed**
changelog plus one resolved delta run:

  state/b=<B>/v=<N>/   the base: latest envelope per key for bucket B
  state/delta/v=<G>/   the delta run: at most one row per key, each the
                       key's current envelope, superseding its base row
  state/_MANIFEST      {"generation": G, "buckets": {"B": N, ...},
                        "base_rows": R,
                        "delta": {"v": G', "rows": n, "buckets": [...]},
                        "retained": ["b=3/v=7", "delta/v=8", ...]}

Keys hash into ``num_buckets`` buckets (pmod(hash(key), B) — the same
function on every merge, so a key's bucket never moves). Reads put
each delta row in place of its key's base row.

A merge takes one of two paths (merge-on-read, one LSM level):

- **delta** — when the caller hands over the batch's key set and the
  resolved delta stays within ``base_rows / FOLD_RATIO`` rows, the
  merge ranks three inputs once — the base rows of those keys (their
  buckets, filtered to the key set), the current delta and the batch —
  and rewrites only the delta, as one file. A tail batch costs one
  small file instead of a rewrite of every bucket it touches.
- **fold** — otherwise the delta and the batch are folded into the
  buckets they hash into: only those buckets are read, merged and
  rewritten (O(state/num_buckets × touched_buckets + batch), not
  O(state)); untouched buckets keep their version directory
  byte-for-byte, and the delta is gone.

Every commit is one manifest swap. What commit G supersedes (a bucket
version, a delta run) is listed as ``retained`` for in-flight readers
and removed by commit G+1, which also removes any other version
directory that is not live (debris of a crashed attempt); the erasure
path removes superseded directories at once. Disk therefore holds the
live base and delta plus what the last commit superseded.

Replayed batches are idempotent because re-delivered records carry
the same doc_id and per-key ranking is deterministic (T1). On a real
deployment this class is replaced 1:1 by a Delta/Iceberg ``MERGE
INTO`` (same logical plan, transactional commit); the manifest swap
is the minimal standalone equivalent.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
from collections.abc import Callable, Iterable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark import schema as S
from aws_dms_cdc_data_pipeline_spark.operators.upsert import key_order

# A delta run may grow to 1/FOLD_RATIO of the base's rows before a merge
# folds it into the buckets: the level size ratio of a levelled LSM tree.
FOLD_RATIO = 10

# where a ranked row came from; a base row never outranks its key's
# delta row, and only batch rows are new
_BASE, _DELTA, _BATCH = 0, 1, 2
_ENVELOPE = ["data", "metadata", "doc_id"]


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

    def delta_room(self, manifest: dict | None = None) -> int:
        """How many keys a batch may bring into the delta run before it
        would outgrow ``base_rows / FOLD_RATIO``; a batch with more
        keys (any batch, when this is not positive) folds."""
        m = self._manifest() if manifest is None else manifest
        delta = m.get("delta")
        return m.get("base_rows", 0) // FOLD_RATIO - (delta["rows"] if delta else 0)

    def _bdir(self, b: int, v: int) -> str:
        return os.path.join(self.path, f"b={b}", f"v={v}")

    def _ddir(self, v: int) -> str:
        return os.path.join(self.path, "delta", f"v={v}")

    def _bucket_expr(self):
        return F.expr(f"pmod(hash({self.key}), {self.num_buckets})")

    def _key_in(self, keys: Iterable) -> Column:
        return sql_in(self.key, keys)

    def _buckets_of(self, keys: list) -> set[int]:
        """The buckets ``keys`` hash into, by Spark's own hash evaluated
        once over the literals (no Python re-implementation of Murmur3
        to drift). The probe column's type must match the stored key's:
        Murmur3 hashes int32 and int64 differently, so a width mismatch
        would probe the wrong bucket."""
        ktype = "string" if isinstance(keys[0], str) else "long"
        probe = self.spark.createDataFrame([(k,) for k in keys], f"_k {ktype}")
        return {
            r["_b"]
            for r in probe.select(
                F.expr(f"pmod(hash(_k), {self.num_buckets})").alias("_b")
            ).collect()
        }

    def _read(self, dirs: list[str]) -> DataFrame:
        # the layout's schema is known: passing it skips the footer-read
        # job that schema inference launches on every read
        return self.spark.read.schema(S.KEYED_ENVELOPE_SCHEMA).parquet(*dirs)

    def _keys_in_run(self, run_dir: str) -> list:
        """The keys of the delta run at ``run_dir``, read in the driver
        from its key column."""
        return pq.read_table(run_dir, columns=[self.key]).column(0).to_pylist()

    def _overlay(self, dirs: list[str], delta_dir: str | None) -> DataFrame:
        """The envelopes under the base ``dirs`` with each key of the
        delta run at ``delta_dir`` (if any) read from the delta instead."""
        base = (
            self._read(dirs)
            if dirs
            else self.spark.createDataFrame([], S.KEYED_ENVELOPE_SCHEMA)
        )
        if delta_dir is None:
            return base
        keep = ~self._key_in(self._keys_in_run(delta_dir))
        return base.filter(keep).unionByName(self._read([delta_dir]))

    def _delta_dir(self, manifest: dict) -> str | None:
        delta = manifest.get("delta")
        return None if delta is None else self._ddir(delta["v"])

    # -- read --------------------------------------------------------------
    def envelopes(self) -> DataFrame | None:
        """Latest envelope per key, including delete tombstones."""
        manifest = self._manifest()
        if manifest["generation"] < 0:
            return None
        dirs = [self._bdir(int(b), v) for b, v in manifest["buckets"].items()]
        # no bucket is left when every key was erased: an empty read
        return self._overlay(dirs, self._delta_dir(manifest))

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
        the state, not a full scan — plus the delta run, which is at
        most a tenth of the base. At 100 TB state with 4096 buckets
        a 10-key lookup reads ≤ 10 buckets (~0.25% of the files); the
        residual in-bucket filter prunes further via parquet min/max
        on the key column. Keys are literals, so the bucket set is
        computed driver-side with the SAME hash Spark applies
        (:meth:`_buckets_of`).
        """
        if not keys:
            return self.table().limit(0)
        manifest = self._manifest()
        if manifest["generation"] < 0:
            return self.table().limit(0)
        wanted = self._buckets_of(keys)
        dirs = [
            self._bdir(int(b), v)
            for b, v in manifest["buckets"].items()
            if int(b) in wanted
        ]
        delta_dir = self._delta_dir(manifest)
        if not dirs and delta_dir is None:
            return self.table().limit(0)
        env = self._overlay(dirs, delta_dir)
        live = env.filter(F.col("metadata.operation") != F.lit(S.OP_DELETE))
        return live.filter(self._key_in(keys)).select("data.*")

    # -- write -------------------------------------------------------------
    def merge(
        self,
        batch_envelopes: DataFrame,
        changes: ChangeCapture | None = None,
        touched: Iterable[int] | None = None,
        keys: Iterable | None = None,
    ) -> int:
        """Upsert one micro-batch of keyed envelopes; returns new generation.

        Only buckets whose keys appear in the batch are read; they are
        merged and rewritten (a fold), or, when ``keys`` is given and
        the delta run has room for them (:meth:`delta_room`), only the
        delta run is rewritten (see the module docstring).
        ``changes`` (optional) collects the merge's signed change set
        on the staging write itself — see :class:`ChangeCapture`.
        ``touched`` (optional) is the batch's bucket ids
        (``_bucket_expr()`` over its rows) when the caller already has
        them, which spares the merge its own pass over the batch; a
        set that misses a bucket of the batch makes the commit raise
        (so an empty set still runs the write that proves it).
        ``keys`` (optional) is the batch's distinct keys; a set that
        misses a key of the batch makes a delta commit raise.
        """
        batch = batch_envelopes.select(*_ENVELOPE).withColumn("_b", self._bucket_expr())
        manifest = self._manifest()
        new_gen = manifest["generation"] + 1
        if touched is None:
            # Affected-bucket ids: a <= num_buckets-element driver list, not data.
            touched = {r["_b"] for r in batch.select("_b").distinct().collect()}
            if not touched:  # empty batch — bump generation only
                return self._publish(manifest, new_gen)
        touched = sorted(touched)
        if keys is not None:
            keys = list(keys)
            if len(keys) <= self.delta_room(manifest):
                return self._merge_delta(batch, keys, touched, manifest, new_gen, changes)

        delta_dir = self._delta_dir(manifest)
        delta = manifest.pop("delta", None)
        if delta is not None:  # the fold takes the delta's buckets along
            touched = sorted(set(touched) | set(delta["buckets"]))
        parts = [batch.withColumn("_src", F.lit(_BATCH))]
        old_dirs = [
            self._bdir(b, manifest["buckets"][str(b)])
            for b in touched
            if str(b) in manifest["buckets"]
        ]
        if old_dirs:
            parts.append(self._tagged(self._read(old_dirs), _BASE))
        if delta_dir is not None:
            parts.append(self._tagged(self._read([delta_dir]), _DELTA))
        # keep tombstones so a late pre-delete change can't resurrect the row
        by_key = self._ranked(parts, changes)
        latest = by_key.filter(F.col("_rn") == 1).select(*_ENVELOPE, "_b")
        return self._swap_buckets(latest, touched, manifest, new_gen)

    def _tagged(self, stored: DataFrame, src: int) -> DataFrame:
        return (
            stored.select(*_ENVELOPE)
            .withColumn("_b", self._bucket_expr())
            .withColumn("_src", F.lit(src))
        )

    def _ranked(self, parts: list[DataFrame], changes: ChangeCapture | None) -> DataFrame:
        """The union of ``parts`` (envelopes tagged with ``_src``) with
        ``_rn``, each row's rank within its key — one ranking pass.

        With ``changes``, each ranked row is signed in the same pass:
        +1 for a batch row that becomes the key's winner, -1 for the
        key's current stored row (its delta row, else its base row —
        the first stored row in rank order) when a batch row displaces
        it, 0 otherwise; so a key's base and delta rows are never both
        subtracted, and batch rows below 1 never reached the store.
        """
        src = functools.reduce(DataFrame.unionByName, parts)
        w = key_order(src, self.key)
        if changes is None:
            return src.withColumn("_rn", F.row_number().over(w))
        stored = F.col("_src") != _BATCH
        by_key = src.select(
            "*",
            F.row_number().over(w).alias("_rn"),
            F.sum(stored.cast("int"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("_stored"),
        )
        first = F.col("_rn") == 1
        current = stored & (F.col("_stored") == 1)
        sign = F.when(first & ~stored, 1).when(~first & current, -1).otherwise(0)
        return changes._observe(by_key, sign)

    def _merge_delta(
        self,
        batch: DataFrame,
        keys: list,
        touched: list[int],
        manifest: dict,
        new_gen: int,
        changes: ChangeCapture | None,
    ) -> int:
        """Rank the base rows of ``keys`` (in the ``touched`` buckets),
        the current delta run and the batch once, and write the
        winners that are not base rows as the new delta run — one
        file. A batch row outside ``keys`` or ``touched`` could rank
        against a base row this read skipped: the commit raises."""
        in_keys = self._key_in(keys)
        parts = [batch.withColumn("_src", F.lit(_BATCH))]
        base_dirs = [
            self._bdir(b, manifest["buckets"][str(b)])
            for b in touched
            if str(b) in manifest["buckets"]
        ]
        if base_dirs:
            parts.append(self._tagged(self._read(base_dirs).filter(in_keys), _BASE))
        delta, delta_dir = manifest.get("delta"), self._delta_dir(manifest)
        if delta_dir is not None:
            parts.append(self._tagged(self._read([delta_dir]), _DELTA))
        covered = F.coalesce(in_keys & F.col("_b").isin(touched), F.lit(False))
        strays = Observation()
        by_key = self._ranked(parts, changes).observe(
            strays,
            F.count(F.when((F.col("_src") == _BATCH) & ~covered, 1)).alias("n"),
        )
        latest = by_key.filter((F.col("_rn") == 1) & (F.col("_src") != _BASE))
        buckets = set(delta["buckets"] if delta else ()) | set(touched)
        self._write_delta(latest, manifest, new_gen, buckets)
        if strays.get["n"]:
            shutil.rmtree(self._ddir(new_gen), ignore_errors=True)
            raise RuntimeError(
                f"{strays.get['n']} batch rows have a key outside the key "
                f"set or a bucket outside the touched set {touched}; "
                "nothing was committed"
            )
        return self._publish(manifest, new_gen)

    def _write_delta(
        self, rows: DataFrame, manifest: dict, new_gen: int, buckets: Iterable[int]
    ) -> None:
        """Write ``rows`` (envelopes of the keys in ``buckets``) as the
        delta run of generation ``new_gen``, one file, and point
        ``manifest`` at it; an empty run leaves ``manifest`` without
        a delta. Publishing ``manifest`` commits it."""
        staging = self._stage(rows.select(*_ENVELOPE).coalesce(1), new_gen)
        dst = self._ddir(new_gen)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.exists(dst):
            shutil.rmtree(dst)  # crashed earlier attempt of same gen
        os.rename(staging, dst)
        n = _rows([dst])
        if n:
            manifest["delta"] = {"v": new_gen, "rows": n, "buckets": sorted(buckets)}
        else:
            manifest.pop("delta", None)  # publishing removes the empty run

    def _stage(self, df: DataFrame, new_gen: int, *partition_by: str) -> str:
        """Write ``df`` into ``_staging-<new_gen>`` and check it is still
        there; returns the staging path."""
        staging = os.path.join(self.path, f"_staging-{new_gen}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
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
        return staging

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
        of the ``touched`` buckets and publish ``manifest`` with them.
        Shared by :meth:`merge` and the erasure job — any bucket
        rewrite goes through this one path.

        One job writes every touched bucket; per-bucket dirs then move
        into their versioned slots before the single manifest swap.

        A touched bucket with no staged output means every one of its
        keys vanished. ``merge`` can never shrink a bucket (it keeps
        tombstones), so there a missing dir is interference — a crash
        or a concurrent ``fsck(clean=True)`` removing the in-flight
        staging — and committing would silently publish an empty
        bucket: raise instead. Erasure passes ``allow_empty=True``;
        an emptied bucket is then dropped from the manifest (readers
        simply never visit it). ``allow_empty=True`` (the erasure
        path) also removes every superseded directory IMMEDIATELY —
        deliberately skipping the one-generation grace the merge path
        gives in-flight readers, because superseded versions hold the
        erased PII and erasure's contract is physical removal NOW,
        not a commit later. The accepted cost (documented, not
        hidden): a reader holding the pre-erasure manifest may hit
        FileNotFound mid-scan on an erasure-touched bucket; merge
        retains its grace generation and is unaffected.
        """
        staging = self._stage(latest, new_gen, "_b")
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
        for b in touched:
            src = os.path.join(staging, f"_b={b}")
            if not os.path.exists(src):
                if not allow_empty:
                    raise RuntimeError(
                        f"bucket {b} had rows but produced no staged "
                        f"output under {staging}; refusing to commit "
                        "an empty bucket version"
                    )
                # every key of the bucket was erased: drop the bucket
                manifest["buckets"].pop(str(b), None)
                continue
            dst = self._bdir(b, new_gen)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):
                shutil.rmtree(dst)  # crashed earlier attempt of same gen
            os.rename(src, dst)
            manifest["buckets"][str(b)] = new_gen
        shutil.rmtree(staging, ignore_errors=True)
        manifest["base_rows"] = _rows(
            [self._bdir(int(b), v) for b, v in manifest["buckets"].items()]
        )
        return self._publish(manifest, new_gen, retain=not allow_empty)

    def _publish(self, manifest: dict, new_gen: int, *, retain: bool = True) -> int:
        """Swap in ``manifest`` as generation ``new_gen``, then GC.

        The directories live before this commit and not after it are
        listed as ``retained`` (unless ``retain`` is false) and kept
        for in-flight readers; every other version directory that is
        not live — what the previous commit retained, crash debris —
        is removed. So what commit G supersedes is gone after G+1.
        """
        live = _live(manifest)
        superseded = _live(self._manifest()) - live
        manifest["generation"] = new_gen
        manifest["retained"] = sorted(superseded) if retain else []
        self._write_manifest(manifest)
        keep = live | set(manifest["retained"])
        for rel in _version_dirs(self.path):
            if rel not in keep:
                shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)
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


def _live(manifest: dict) -> set[str]:
    """The version directories ``manifest`` reads, relative to the store."""
    live = {f"b={b}/v={v}" for b, v in manifest["buckets"].items()}
    if manifest.get("delta"):
        live.add(f"delta/v={manifest['delta']['v']}")
    return live


def _version_dirs(root: str) -> list[str]:
    """Every ``b=*/v=*`` and ``delta/v=*`` directory on disk under
    ``root``, relative to it, sorted."""
    return sorted(
        os.path.relpath(d, root)
        for pattern in ("b=*/v=*", "delta/v=*")
        for d in glob.glob(os.path.join(glob.escape(root), pattern))
        if os.path.isdir(d)
    )


def _rows(dirs: list[str]) -> int:
    """Rows in the parquet files under ``dirs``, from their footers."""
    return sum(
        pq.read_metadata(f).num_rows
        for d in dirs
        for f in glob.glob(os.path.join(glob.escape(d), "*.parquet"))
    )


def sql_in(expr: str, keys: Iterable) -> Column:
    """``expr IN (keys)`` as one SQL expression: building it from
    per-key literal columns (``Column.isin``) costs a py4j call per
    key, seconds for a few thousand keys."""
    keys = list(keys)
    if not keys:
        return F.lit(False)
    return F.expr(f"{expr} IN ({', '.join(map(_sql_literal, keys))})")


def _sql_literal(value) -> str:
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(value))


class ChangeCapture:
    """The signed change set of one :meth:`StateStore.merge`, observed
    on the merge's own staging write: no extra Spark job, nothing
    persisted, nothing written under the store.

    The merge ranks the batch together with the stored rows of its
    keys and signs each ranked row: +1 for a batch row that becomes
    the stored winner, -1 for the key's current stored row when a
    batch row supersedes it, 0 otherwise. ``row(sign)`` maps a ranked
    envelope (``data``/``metadata``/``doc_id``) and its sign to the
    value to keep (NULL = nothing); after a successful merge
    :meth:`rows` returns that value for every +/-1 row. Replayed
    records cancel: a content-identical row either keeps its stored
    twin (0) or replaces it (+1 and -1 of equal content).

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

    Reads only what the merge wrote and what it superseded (the
    manifest's ``retained`` directories) — never the full state — and
    diffs live rows with
    :func:`~aws_dms_cdc_data_pipeline_spark.operators.diff.snapshot_diff`
    (one co-keyed full-outer join of bucket-sized inputs):

    - after a fold, the touched buckets' new versions against their
      retained versions with the retained delta run put over them;
    - after a delta commit, the new delta run against the base rows
      of its keys with the retained delta run put over them (the
      base itself did not change).

    Re-delivered no-op records (same key, same values) produce NO feed
    row, so a replayed epoch emits an empty feed. Returns None before
    the first merge.

    Relies on the store's GC contract that what a commit supersedes
    survives exactly one generation, so call this between merges (e.g.
    from the foreachBatch hook); after a crash-gap, downstream
    consumers re-baseline from :meth:`StateStore.table`.
    """
    from aws_dms_cdc_data_pipeline_spark.operators.diff import snapshot_diff

    manifest = store._manifest()
    gen = manifest["generation"]
    if gen < 0:
        return None
    key_leaf = store.key.split(".")[-1]

    def _live_rows(env: DataFrame) -> DataFrame:
        return env.filter(
            F.col("metadata.operation") != F.lit(S.OP_DELETE)
        ).select("data.*")

    old_base, old_delta = [], None
    for rel in manifest.get("retained", []):
        if rel.startswith("delta/"):
            old_delta = os.path.join(store.path, rel)
        else:
            old_base.append(os.path.join(store.path, rel))
    delta = manifest.get("delta")
    if delta is not None and delta["v"] == gen:
        new_dir = store._ddir(gen)
        keys = store._keys_in_run(new_dir)
        base_dirs = [
            store._bdir(b, manifest["buckets"][str(b)])
            for b in delta["buckets"]
            if str(b) in manifest["buckets"]
        ]
        before = store._overlay(base_dirs, old_delta).filter(store._key_in(keys))
        after = store._read([new_dir])
    else:
        new_dirs = [
            store._bdir(int(b), v) for b, v in manifest["buckets"].items() if v == gen
        ]
        before = store._overlay(old_base, old_delta)
        after = store._overlay(new_dirs, None)
    return snapshot_diff(_live_rows(before), _live_rows(after), keys=key_leaf)


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

    Classifies every ``b=*/v=*`` and ``delta/v=*`` directory on disk
    against the manifest:

    - ``live``: a bucket version or the delta run the manifest reads;
    - ``retained``: what the manifest's commit superseded (kept one
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
    live_set = _live(manifest)
    retained_set = set(manifest.get("retained", []))
    live: list[str] = []
    retained: list[str] = []
    orphans: list[str] = []
    in_flight: list[str] = []
    missing = sorted(
        rel for rel in live_set if not os.path.isdir(os.path.join(store.path, rel))
    )
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
    for rel in _version_dirs(store.path):
        if rel in live_set:
            live.append(rel)
        elif rel in retained_set:
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
    snapshots for disaster recovery): copy EXACTLY the directories the
    current manifest reads (its bucket versions and its delta run)
    into ``dest``, then write a manifest pointing at them. The copy is
    consistent without stopping writes because the store's versioned
    layout is immutable-by construction — a concurrent merge writes
    NEW ``v=`` directories and swaps the manifest pointer; the
    directories this snapshot reads are never modified in place (the
    same property the time-travel reads rely on).

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
    for rel in sorted(_live(manifest)):
        dst_dir = os.path.join(dest, rel)
        shutil.copytree(os.path.join(store.path, rel), dst_dir)
        n_files += sum(len(fs) for _, _, fs in os.walk(dst_dir))
    # the superseded directories stay behind
    _swap_manifest(os.path.join(dest, "_MANIFEST"), {**manifest, "retained": []})
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
