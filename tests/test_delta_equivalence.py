"""Merge-on-read equivalence: the delta path against the fold path.

The same random batch sequence is merged into two stores built from
the same base: one hands ``merge`` each batch's key set, so a batch
that fits goes into the store's delta run; the other merges without a
key set, which folds every batch into the buckets (the reference).
After every batch both must answer alike: ``table()``, ``lookup()``,
the incrementally advanced aggregate view and the change feed of the
generation.
"""

import datetime as dt
import random

import pytest

from aws_dms_cdc_data_pipeline_spark import schema as S
from aws_dms_cdc_data_pipeline_spark.sinks.state_store import (
    ChangeCapture,
    StateStore,
    changes_in_generation,
)
from aws_dms_cdc_data_pipeline_spark.streaming.matview import IncrementalAggView

T0 = dt.datetime(2022, 3, 14, 12, 0, 0)
BASE_KEYS = 80  # room for 8 keys in the delta run
DEVICES = ("pc", "mobile", "tablet")


def _event(rng, key, ts, doc, op=None, txn=None):
    op = op or rng.choice([S.OP_INSERT, S.OP_UPDATE, S.OP_UPDATE, S.OP_DELETE])
    return (key, rng.randint(1, 99), rng.choice(DEVICES), op, ts,
            txn if txn is not None else rng.randint(1, 3), doc)


def _df(spark, events):
    rows = [
        (
            (key, "c", "cart", "SKU", amount, device, T0),
            (T0 + dt.timedelta(seconds=ts), "data", op, "primary-key",
             "testdb", "retail_trans", txn),
            doc,
        )
        for key, amount, device, op, ts, txn, doc in events
    ]
    return spark.createDataFrame(rows, S.KEYED_ENVELOPE_SCHEMA)


def _batch(rng, n, tag):
    """``n`` random changes: keys past the base are new inserts, event
    times fall before and after the base's (stale and fresh rows)."""
    return [
        _event(rng, rng.randint(1, BASE_KEYS + 10), rng.randint(0, 40), f"{tag}-{i}")
        for i in range(n)
    ]


def _scenario(name, rng):
    """The batch sequence of one case, drawn from ``rng``."""
    if name == "out_of_order":
        return [_batch(rng, rng.randint(2, 5), f"o{j}") for j in range(5)]
    if name == "duplicates":
        out = []
        for j in range(4):
            batch = _batch(rng, 3, f"d{j}")
            out.append(batch + rng.sample(batch, 2))  # same doc_id twice
        return out
    if name == "late_pre_delete_update":
        key = rng.randint(1, BASE_KEYS)
        return [
            [_event(rng, key, 30, "del", op=S.OP_DELETE, txn=5)],
            [_event(rng, key, 25, "late", op=S.OP_UPDATE, txn=4)]
            + _batch(rng, 2, "l1"),
            [_event(rng, key, 30, "late2", op=S.OP_UPDATE, txn=4)],
        ]
    if name == "replayed_epoch":
        first, second = _batch(rng, 4, "r0"), _batch(rng, 3, "r1")
        return [first, first, second, list(reversed(second))]
    if name == "crosses_fold_threshold":
        # small batches fill the delta run, a wide one folds it
        return [_batch(rng, 3, f"c{j}") for j in range(3)] + [
            _batch(rng, 30, "wide"), _batch(rng, 3, "after")
        ]
    raise ValueError(name)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "name,seed",
    [("out_of_order", 1), ("duplicates", 2), ("late_pre_delete_update", 3),
     ("replayed_epoch", 4), ("crosses_fold_threshold", 5)],
)
def test_delta_path_answers_like_the_fold_path(spark, tmp_path, name, seed):
    rng = random.Random(seed)
    base = _df(spark, [
        _event(rng, k, 10, f"base-{k}", op=S.OP_INSERT, txn=2)
        for k in range(1, BASE_KEYS + 1)
    ])
    stores, views = {}, {}
    for path in ("delta", "fold"):
        stores[path] = StateStore(spark, str(tmp_path / path), num_buckets=4)
        stores[path].merge(base)
        views[path] = IncrementalAggView(stores[path], str(tmp_path / f"view-{path}"))
        views[path].rebuild()
    paths_taken = set()
    for events in _scenario(name, rng):
        batch = _df(spark, events)
        keys = sorted({e[0] for e in events})
        for path, store in stores.items():
            changes = ChangeCapture(views[path].signed_row)
            gen = store.merge(batch, changes, keys=keys if path == "delta" else None)
            views[path].advance(gen, changes.rows())
        manifest = stores["delta"]._manifest()
        paths_taken.add(
            "delta" if manifest.get("delta", {}).get("v") == manifest["generation"]
            else "fold"
        )
        delta, fold = stores["delta"], stores["fold"]
        assert _rows(delta.table()) == _rows(fold.table())
        probe = keys[:3] + [BASE_KEYS + 50]
        assert _rows(delta.lookup(probe)) == _rows(fold.lookup(probe))
        assert _rows(views["delta"].table()) == _rows(views["fold"].table())
        assert _rows(changes_in_generation(delta)) == _rows(changes_in_generation(fold))
    # the incremental view equals a full recompute over the overlaid store
    views["delta"].rebuild()
    assert _rows(views["delta"].table()) == _rows(views["fold"].table())
    assert "delta" in paths_taken
    if name == "crosses_fold_threshold":
        assert paths_taken == {"delta", "fold"}
