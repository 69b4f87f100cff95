"""Seeded CDC workload generator for the benchmark.

Emits the DMS one-line-JSON wire format the pipeline reads
(``{"data": {...}, "metadata": {...}, "doc_id": "..."}``) with known
counts of every injected anomaly. The program under test only ever
sees the files written here; everything else in this module is the
benchmark's own bookkeeping.

Two input shapes:

- ``backfill``: one backlog of uniform-key changes (inserts, 30 %
  updates, 10 % deletes) plus duplicates, adjacent swaps, malformed
  lines, ``amount < 0`` contract violations and foreign-table rows,
  split into equal files.
- ``tail``: a clean seed snapshot (one insert per key) and a sequence
  of small change files, mostly updates to a hot-key set, that the
  live-tail generator lands one by one on a fixed schedule.

Outputs are cached by (shape, seed, size) under the checkout's
``.perfbench/cache`` so a repeated seed skips generation.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import string
from dataclasses import dataclass, field

SCHEMA_NAME = "testdb"
TABLE_NAME = "retail_trans"
FOREIGN_TABLE = "other_table"
EVENTS = ("visit", "view", "cart", "list", "like", "purchase")
DEVICES = ("pc", "mobile", "tablet")
CONTRACT = {"amount_non_negative": "data.amount >= 0"}

_EPOCH = dt.datetime(2022, 3, 14)
_TS_FMT = "%Y-%m-%dT%H:%M:%S.%fZ"


@dataclass
class Counts:
    """Known counts of what the generator emitted (lines, not keys)."""

    lines: int = 0
    malformed: int = 0
    foreign: int = 0
    violations: int = 0
    duplicates: int = 0
    swaps: int = 0
    inserts: int = 0
    updates: int = 0
    deletes: int = 0


@dataclass
class ChangeStream:
    """Stateful source table: every call emits the next change in
    commit order (strictly increasing timestamp and transaction id)."""

    rng: random.Random
    counts: Counts = field(default_factory=Counts)
    ts_us: int = 14 * 3600 * 1_000_000
    txn: int = 8_590_000_000
    seq: int = 0
    next_key: int = 1
    rows: dict = field(default_factory=dict)
    live: list = field(default_factory=list)
    _pos: dict = field(default_factory=dict)

    def _row(self, key: int) -> dict:
        r = self.rng
        event = r.choice(EVENTS)
        return {
            "trans_id": key,
            "customer_id": f"{r.randrange(10**12):012d}",
            "event": event,
            "sku": "".join(r.choices(string.ascii_uppercase, k=2))
            + f"{r.randrange(1000):03d}"
            + "".join(r.choices(string.ascii_uppercase, k=4)),
            "amount": r.randint(1, 100) if event in ("cart", "purchase") else 1,
            "device": r.choice(DEVICES),
            "trans_datetime": (
                _EPOCH + dt.timedelta(seconds=r.randrange(86400))
            ).strftime(_TS_FMT),
        }

    def _envelope(self, row: dict, op: str) -> dict:
        self.ts_us += 500 + self.rng.randrange(400)
        self.txn += 1 + self.rng.randrange(5000)
        self.seq += 1
        ts = _EPOCH + dt.timedelta(microseconds=self.ts_us)
        return {
            "data": row,
            "metadata": {
                "timestamp": ts.strftime(_TS_FMT),
                "record-type": "data",
                "operation": op,
                "partition-key-type": "primary-key",
                "schema-name": SCHEMA_NAME,
                "table-name": TABLE_NAME,
                "transaction-id": self.txn,
            },
            "doc_id": f"{self.seq:040d}.0",
        }

    def insert(self) -> dict:
        key = self.next_key
        self.next_key += 1
        self.rows[key] = self._row(key)
        self._pos[key] = len(self.live)
        self.live.append(key)
        self.counts.inserts += 1
        return self._envelope(dict(self.rows[key]), "insert")

    def update(self, key: int) -> dict:
        row = dict(self.rows[key])
        row["event"] = self.rng.choice(EVENTS)
        row["amount"] = (
            self.rng.randint(1, 100) if row["event"] in ("cart", "purchase") else 1
        )
        self.rows[key] = row
        self.counts.updates += 1
        return self._envelope(dict(row), "update")

    def delete(self, key: int) -> dict:
        i = self._pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self._pos[last] = i
        self.counts.deletes += 1
        return self._envelope(dict(self.rows.pop(key)), "delete")

    def random_live(self) -> int:
        return self.live[self.rng.randrange(len(self.live))]

    # -- anomalies ---------------------------------------------------------
    def violating(self, env: dict) -> dict:
        """Same change with a negative amount: the contract gate must
        quarantine it (the source row keeps its valid value)."""
        env["data"] = dict(env["data"], amount=-self.rng.randint(1, 100))
        self.counts.violations += 1
        return env

    def foreign(self, env: dict) -> dict:
        self.seq += 1
        out = json.loads(json.dumps(env))
        out["metadata"]["table-name"] = FOREIGN_TABLE
        out["doc_id"] = f"F{self.seq:039d}.0"
        self.counts.foreign += 1
        return out

    def malformed(self, env: dict) -> str:
        """Half truncated JSON, half well-formed JSON without the key."""
        self.counts.malformed += 1
        line = json.dumps(env)
        if self.rng.random() < 0.5:
            return line[: len(line) // 2]
        data = dict(env["data"])
        del data["trans_id"]
        return json.dumps(dict(env, data=data))


def _line(env: dict) -> str:
    return json.dumps(env, separators=(",", ":"))


def _is_clean(line: str) -> bool:
    """A well-formed, keyed, valid target-table line (re-delivering it
    is a plain at-least-once duplicate and changes no anomaly count)."""
    try:
        env = json.loads(line)
    except ValueError:
        return False
    return (
        "trans_id" in env["data"]
        and env["data"]["amount"] >= 0
        and env["metadata"]["table-name"] == TABLE_NAME
    )


def backfill_lines(seed: int, n_changes: int) -> tuple[list[str], Counts]:
    """Backlog of ~``n_changes`` changes: 60 % inserts, 30 % updates,
    10 % deletes over uniform keys, then 1 % contract violations,
    2 % foreign rows, 0.5 % malformed lines, 2 % duplicates and 5 %
    adjacent swaps."""
    rng = random.Random(seed)
    cs = ChangeStream(rng)
    lines: list[str] = []
    for _ in range(n_changes):
        r = rng.random()
        if len(cs.live) < 100 or r >= 0.40:
            env = cs.insert()
        elif r < 0.30:
            env = cs.update(cs.random_live())
        else:
            env = cs.delete(cs.random_live())
        if env["metadata"]["operation"] != "delete" and rng.random() < 0.01:
            env = cs.violating(env)
        lines.append(_line(env))
        if rng.random() < 0.02:
            lines.append(_line(cs.foreign(env)))
        if rng.random() < 0.005:
            lines.append(cs.malformed(env))
    for _ in range(int(len(lines) * 0.02)):
        i = rng.randrange(len(lines))
        if _is_clean(lines[i]):
            j = min(len(lines), i + 1 + rng.randrange(2000))
            lines.insert(j, lines[i])
            cs.counts.duplicates += 1
    for _ in range(int(len(lines) * 0.05)):
        k = rng.randrange(len(lines) - 1)
        lines[k], lines[k + 1] = lines[k + 1], lines[k]
        cs.counts.swaps += 1
    cs.counts.lines = len(lines)
    return lines, cs.counts


SNAPSHOT_SEED = 20220314


def snapshot(n_keys: int) -> tuple[ChangeStream, list[str]]:
    """The source table the live tail starts from: one insert per key.
    Fixed seed, so one seeded store per checkout serves every run."""
    cs = ChangeStream(random.Random(SNAPSHOT_SEED))
    return cs, [_line(cs.insert()) for _ in range(n_keys)]


def tail_files(
    cs: ChangeStream, seed: int, n_files: int, per_file: int,
    hot_share: float = 0.02,
) -> tuple[list[list[str]], Counts]:
    """``n_files`` change files of ``per_file`` lines continuing ``cs``:
    80 % updates to a ``hot_share`` hot-key set, 10 % random updates,
    6 % inserts, 4 % deletes of non-hot keys, plus 0.5 % contract
    violations and 0.5 % malformed lines."""
    rng = cs.rng = random.Random(seed)
    cs.counts = Counts()
    hot = rng.sample(cs.live, max(1, int(len(cs.live) * hot_share)))
    hot_set = set(hot)
    files: list[list[str]] = []
    for _ in range(n_files):
        out: list[str] = []
        while len(out) < per_file:
            r = rng.random()
            if r < 0.80:
                env = cs.update(rng.choice(hot))
            elif r < 0.90:
                env = cs.update(cs.random_live())
            elif r < 0.96:
                env = cs.insert()
            else:
                key = cs.random_live()
                env = cs.update(key) if key in hot_set else cs.delete(key)
            if env["metadata"]["operation"] != "delete" and rng.random() < 0.005:
                env = cs.violating(env)
            out.append(_line(env))
            if rng.random() < 0.005 and len(out) < per_file:
                out.append(cs.malformed(env))
        files.append(out)
    cs.counts.lines = sum(len(f) for f in files)
    return files, cs.counts


def write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def write_files(lines: list[str], out_dir: str, n_files: int) -> None:
    """Split ``lines`` into ``n_files`` equal part files."""
    per = -(-len(lines) // n_files)
    for i in range(n_files):
        write_lines(os.path.join(out_dir, f"part-{i:05d}.jsonl"),
                    lines[i * per : (i + 1) * per])


def cached(cache_root: str, key: str, build) -> tuple[str, dict]:
    """Run ``build(tmp_dir) -> meta`` once per ``key``; return the
    completed directory and its meta. A crashed build leaves no
    ``_COMPLETE`` and is redone."""
    out = os.path.join(cache_root, key)
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            json.dump(meta, f)
        os.rename(tmp, out)
    with open(marker) as f:
        return out, json.load(f)

