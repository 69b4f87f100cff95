"""Pure-Python correctness oracle for the CDC benchmark.

Folds the generated wire lines exactly as the pipeline's contract
says it must: malformed lines (bad JSON or no data / metadata /
doc_id / key) go to the parse DLQ, foreign-table rows are dropped,
rows failing ``data.amount >= 0`` go to the contract DLQ, and every
other envelope competes for its key, latest by (timestamp,
transaction-id, doc_id). Deleted keys leave no live row.

No Spark here: the oracle shares no code with the system it checks.
The Spark-side observations it is compared against are computed in
``run.py`` and passed in as plain Python values.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from workload import SCHEMA_NAME, TABLE_NAME


def row_digest(row: dict) -> int:
    """32-bit md5 prefix of the canonical row text. ``run.py`` computes
    the same text in Spark SQL (``concat_ws`` + ``md5``)."""
    dtm = row["trans_datetime"]
    text = "|".join(
        str(v)
        for v in (
            row["trans_id"],
            row["customer_id"],
            row["event"],
            row["sku"],
            row["amount"],
            row["device"],
            f"{dtm[:10]} {dtm[11:19]}",
        )
    )
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)


def _order(env: dict) -> tuple:
    m = env["metadata"]
    return (m["timestamp"], m["transaction-id"], env["doc_id"])


@dataclass
class Fold:
    """Running fold of wire lines into the expected current state."""

    latest: dict = field(default_factory=dict)  # key -> (order, env)
    corrupt: int = 0
    foreign: int = 0
    violations: int = 0

    def add(self, line: str) -> None:
        try:
            env = json.loads(line)
        except ValueError:
            self.corrupt += 1
            return
        if (
            not isinstance(env, dict)
            or not isinstance(env.get("data"), dict)
            or not isinstance(env.get("metadata"), dict)
            or env.get("doc_id") is None
            or env["data"].get("trans_id") is None
        ):
            self.corrupt += 1
            return
        m = env["metadata"]
        if m.get("schema-name") != SCHEMA_NAME or m.get("table-name") != TABLE_NAME:
            self.foreign += 1
            return
        amount = env["data"].get("amount")
        if amount is None or amount < 0:
            self.violations += 1
            return
        key = env["data"]["trans_id"]
        order = _order(env)
        cur = self.latest.get(key)
        if cur is None or order > cur[0]:
            self.latest[key] = (order, env)

    def add_all(self, lines) -> "Fold":
        for line in lines:
            self.add(line)
        return self

    # -- expected observations ------------------------------------------
    def live_rows(self) -> dict:
        return {
            k: env["data"]
            for k, (_, env) in self.latest.items()
            if env["metadata"]["operation"] != "delete"
        }

    def expected(self) -> dict:
        """Everything a run compares against the store after a drain."""
        live = self.live_rows()
        view: dict = {}
        terms: dict = {}
        hist: dict = {}
        digest = 0
        for row in live.values():
            digest += row_digest(row)
            dev = row["device"]
            n, s = view.get(dev, (0, 0))
            view[dev] = (n + 1, s + row["amount"])
            dtm = row["trans_datetime"]
            minute = int(dtm[14:16]) // 10 * 10
            bucket = f"{dtm[:10]} {dtm[11:13]}:{minute:02d}:00"
            hist[bucket] = hist.get(bucket, 0) + 1
        for dev, (n, s) in view.items():
            terms[dev] = (n, float(s))
        return {
            "live_rows": len(live),
            "live_digest": digest,
            "parse_dlq": self.corrupt,
            "contract_dlq": self.violations,
            "delivery_dlq": 0,
            "matview": sorted((d, n, s) for d, (n, s) in view.items()),
            "dashboard_terms": sorted((d, n, s) for d, (n, s) in terms.items()),
            "dashboard_hist": sorted(hist.items()),
        }

    def lookup(self, keys) -> list:
        live = self.live_rows()
        return sorted(
            (row_digest(live[k]) for k in set(keys) if k in live)
        )


def compare(expected: dict, observed: dict) -> list[str]:
    """One line per observed field that disagrees with the oracle."""
    return [
        f"{k}: expected {expected[k]!r}, observed {v!r}"
        for k, v in observed.items()
        if v != expected[k]
    ]
