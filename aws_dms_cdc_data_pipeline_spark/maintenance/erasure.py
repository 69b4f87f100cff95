"""Key erasure (right-to-be-forgotten) across the store and archive.

The reference pipeline persists every record twice: the queryable
current state (OpenSearch index — firehose.py:114-155) and the raw
hourly S3 archive (firehose.py:153). A data-subject erasure request
must remove a key from BOTH, without rewriting either dataset
wholesale. This job does the minimal physical work each side allows:

- **State store** — the key-bucketed layout IS the index: the
  requested keys hash (with Spark's own hash, evaluated once on
  literals — no Python re-implementation to drift) to a bounded set
  of buckets, and only those buckets are rewritten as a new store
  generation through the same ``_swap_buckets`` path ``merge`` uses.
  A key that lives in the delta run is removed from it in the same
  generation. I/O is O(state/num_buckets × touched_buckets + delta),
  never O(state). Every directory the erasure supersedes is removed at
  once, not kept a generation for readers.

- **Archive** — one pruned scan finds the leaf files that contain the
  keys (at 100 TB, parquet/JSON partition pruning plus the driver
  only ever holding FILE PATHS keeps this bounded); each touched file
  is rewritten in place minus the erased rows, preserving its name so
  downstream manifests stay valid. Untouched files are not opened for
  write. The driver loop is over touched FILES — for an erasure
  request (a handful of keys) that set is small by construction; bulk
  redaction of millions of keys should instead use a full
  ``compact_archive`` pass.

Semantics: physical removal, not tombstoning — the store's delete
tombstone would itself retain the key. Consequence (documented, not
hidden): a LATE-arriving envelope for an erased key would re-insert
it; run erasure after the source retention window, or re-run it. An
audit line (generation, key count, row counts, UTC time) is appended
to ``<store>/_ERASURES`` so the operation itself is accountable.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from aws_dms_cdc_data_pipeline_spark.sinks.state_store import (
    StateStore,
    _sql_literal,
    sql_in,
)


def erase_keys(
    spark: SparkSession,
    store: StateStore | None,
    keys: list,
    *,
    archive_path: str | None = None,
) -> dict:
    """Erase ``keys`` from ``store`` (if given) and every archive file
    under ``archive_path`` (if given). Returns counts::

        {"store_rows_erased": N, "archive_rows_erased": N,
         "archive_files_rewritten": N, "generation": G}

    ``store_rows_erased`` counts stored rows: a key whose base row and
    delta row are both stored counts twice.
    """
    if not keys:
        raise ValueError("erase_keys: empty key list")
    out = {
        "store_rows_erased": 0,
        "archive_rows_erased": 0,
        "archive_files_rewritten": 0,
        "generation": store.version() if store is not None else -1,
    }
    if store is not None:
        erased, gen = _erase_from_store(store, keys)
        out["store_rows_erased"] = erased
        out["generation"] = gen
    if archive_path is not None:
        key = store.key if store is not None else "data.trans_id"
        rows, files = _erase_from_archive(spark, archive_path, keys, key)
        out["archive_rows_erased"] = rows
        out["archive_files_rewritten"] = files
    if store is not None:
        _audit(store, keys, out)
    return out


def _erase_from_store(store: StateStore, keys: list):
    manifest = store._manifest()
    if manifest["generation"] < 0:
        return 0, manifest["generation"]
    wanted = store._buckets_of(keys)
    touched = sorted(b for b in wanted if str(b) in manifest["buckets"])
    delta = manifest.get("delta")
    keep_row = ~store._key_in(keys) | F.expr(store.key).isNull()
    erased = 0
    if touched:
        old_dirs = [store._bdir(b, manifest["buckets"][str(b)]) for b in touched]
        env = store._read(old_dirs).withColumn("_b", store._bucket_expr())
        erased = env.filter(~keep_row).count()
    in_delta = 0
    if delta is not None:
        delta_env = store._read([store._ddir(delta["v"])])
        in_delta = delta_env.filter(~keep_row).count()
    if erased + in_delta == 0:
        return 0, manifest["generation"]
    # Lost-update guard: the store is single-writer by design, but an
    # operator running erasure beside a live stream would otherwise
    # have this job overwrite bucket versions a concurrent merge just
    # advanced. Re-check the generation at the last moment and refuse
    # loudly instead of silently dropping that merge. (The remaining
    # ms-scale window is the same one merge itself accepts; pausing
    # the stream removes it entirely.)
    if store.version() != manifest["generation"]:
        raise RuntimeError(
            "state store advanced during erasure "
            f"(gen {manifest['generation']} -> {store.version()}); re-run"
        )
    new_gen = manifest["generation"] + 1
    if in_delta:
        # the delta run is rewritten without the keys in the same
        # generation as the buckets
        store._write_delta(
            delta_env.filter(keep_row), manifest, new_gen, delta["buckets"]
        )
    if erased:
        gen = store._swap_buckets(
            env.filter(keep_row), touched, manifest, new_gen, allow_empty=True
        )
    else:
        gen = store._publish(manifest, new_gen, retain=False)
    return erased + in_delta, gen


def _archive_key_sql(key: str) -> str:
    """The store key re-read from the archive's serialized envelope, as
    a SQL expression.

    Archive rows are ``(doc_id, value)`` where ``value`` is the JSON
    envelope (streaming/pipeline.py S6 leg); ``get_json_object``
    extracts the key as a string without a full parse.
    """
    # e.g. "data.trans_id" -> "$.data.trans_id"
    return f"get_json_object(value, {_sql_literal('$.' + key)})"


def _erase_from_archive(
    spark: SparkSession, archive_path: str, keys: list, key: str = "data.trans_id"
):
    batch_dirs = sorted(glob.glob(os.path.join(archive_path, "batch_id=*")))
    if not batch_dirs:
        return 0, 0
    key_sql = _archive_key_sql(key)
    in_keys = sql_in(key_sql, [str(k) for k in keys])
    df = (
        spark.read.schema("doc_id string, value string")
        .option("basePath", archive_path)
        .json(batch_dirs)
        .withColumn("_f", F.input_file_name())
    )
    hit = df.filter(in_keys)
    rows = hit.count()
    if rows == 0:
        return 0, 0
    touched = sorted(
        _local_path(r["_f"]) for r in hit.select("_f").distinct().collect()
    )
    for path in touched:
        keep = (
            spark.read.schema("doc_id string, value string")
            .json(path)
            .filter(~in_keys | F.expr(key_sql).isNull())
        )
        # underscore prefix: a crash that strands this staging dir
        # leaves a path Spark's hidden-file filter IGNORES, so a
        # half-finished erasure can never double-count archive rows
        tmp = os.path.join(
            os.path.dirname(path), "_erasing." + os.path.basename(path)
        )
        keep.coalesce(1).write.mode("overwrite").json(tmp)
        parts = [
            p
            for p in glob.glob(os.path.join(tmp, "part-*"))
            if not p.endswith(".crc")
        ]
        if parts and os.path.getsize(parts[0]) > 0:
            os.replace(parts[0], path)  # same name: manifests stay valid
        else:  # every row of the file was erased
            os.remove(path)
        # Hadoop's local FS keeps a .crc sidecar per file; the replaced
        # content no longer matches it and reads would fail checksum
        crc = os.path.join(
            os.path.dirname(path), "." + os.path.basename(path) + ".crc"
        )
        if os.path.exists(crc):
            os.remove(crc)
        shutil.rmtree(tmp, ignore_errors=True)
    return rows, len(touched)


def _local_path(spark_uri: str) -> str:
    if spark_uri.startswith("file:"):
        p = spark_uri.removeprefix("file:")
        while p.startswith("//"):
            p = p[1:]
        return p
    return spark_uri


def _audit(store: StateStore, keys: list, result: dict) -> None:
    line = {
        "at": dt.datetime.now(dt.timezone.utc).isoformat(),
        "n_keys": len(keys),
        **result,
    }
    with open(os.path.join(store.path, "_ERASURES"), "a") as f:
        f.write(json.dumps(line) + "\n")
