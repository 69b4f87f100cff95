"""Traced benchmark run: spans around the package's public calls.

The program is not modified. ``install`` wraps, from outside:
``StateStore.merge / lookup / table``, ``IncrementalAggView.advance /
rebuild``, the pipeline's ``select_table`` and
``quarantine_violations`` gates, every ``DataFrameWriter.json`` sink
leg (named by destination: parse DLQ, contract DLQ, archive,
delivery DLQ) and the function handed to
``DataStreamWriter.foreachBatch`` (one span per micro-batch, request
id = epoch, Spark job group ``pb-batch-<epoch>``). Spans (name,
start, end, parent, request id) stay in memory; ``summarize`` turns
them into the per-layer metrics with per-layer self time.

Traced and untraced units alternate inside one run (drains on
``backfill``, micro-batches on the tail, requests of the read probe),
so the run reports its own tracing overhead as the ratio of their
medians.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None
    sid: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True            # per drain on backfill
        self.alternate_batches = False  # per micro-batch on the tails
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._undo: list = []

    def active(self) -> bool:
        return self.enabled and not getattr(self._local, "off", False)

    def span(self, name: str, req: str | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, req)

    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        """Replace ``owner.attr`` with a spanned version. ``before(args)``
        returns a context handed to ``after(span, args, result, ctx)``,
        which records counts on the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.active():
                return orig(*args, **kwargs)
            ctx = before(args) if before else None
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
            if after:
                after(sp, args, result, ctx)
            return result

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def keep_batches(self, first: int, last: int) -> None:
        """Forget the spans of micro-batches outside ``first..last``
        (the tail's warm-up and the catch-up bursts after it)."""
        self.spans = [s for s in self.spans
                      if not (s.req or "").isdigit() or first <= int(s.req) <= last]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span, children: dict) -> float:
        covered = _union([(c.start, c.end) for c in children.get(span.sid, [])])
        return (span.end - span.start) - covered


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, req: str | None):
        self.t, self.name, self.req = tracer, name, req

    def __enter__(self) -> Span:
        stack = self.t._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self.t._lock:
            self.t._next += 1
            sid = self.t._next
        self.span = Span(
            self.name, time.time(), 0.0,
            parent.sid if parent else None,
            self.req or (parent.req if parent else None),
            sid,
        )
        stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.t._local.stack.pop()
        with self.t._lock:
            self.t.spans.append(self.span)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# wrappers
# --------------------------------------------------------------------------
_JSON_LEGS = (
    ("/parse", "sources.parse"),
    ("/contract", "operators.expectations.contract"),
    ("/delivery", "streaming.pipeline.delivery_dlq"),
    ("/archive/", "streaming.pipeline.archive"),
)


def _manifest(store) -> dict:
    try:
        with open(os.path.join(store.path, "_MANIFEST")) as f:
            return json.load(f)
    except FileNotFoundError:  # before the store's first merge
        return {"generation": -1, "buckets": {}}


def install(bench) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from aws_dms_cdc_data_pipeline_spark.operators import expectations
    from aws_dms_cdc_data_pipeline_spark.sinks.state_store import StateStore
    from aws_dms_cdc_data_pipeline_spark.streaming import pipeline
    from aws_dms_cdc_data_pipeline_spark.streaming.matview import IncrementalAggView

    t: Tracer = bench.tracer

    def merge_before(args):
        return _manifest(args[0])

    def merge_after(sp, args, result, pre):
        store = args[0]
        post = _manifest(store)
        touched = [b for b, v in post["buckets"].items()
                   if pre["buckets"].get(b) != v]
        size = rows = 0
        for b in touched:
            for path in glob.glob(os.path.join(
                    store.path, f"b={b}", f"v={post['buckets'][b]}", "*.parquet")):
                size += os.path.getsize(path)
                rows += pq.read_metadata(path).num_rows
        sp.attrs.update(touched=len(touched), bytes=size, rows=rows)

    t.wrap(StateStore, "merge", "sinks.state_store.merge",
           before=merge_before, after=merge_after)
    t.wrap(StateStore, "lookup", "sinks.state_store.lookup",
           after=lambda sp, a, r, c: sp.attrs.update(files=len(r.inputFiles())))
    t.wrap(StateStore, "table", "sinks.state_store.table",
           after=lambda sp, a, r, c: sp.attrs.update(files=len(r.inputFiles())))
    t.wrap(IncrementalAggView, "advance", "streaming.matview.advance")
    t.wrap(IncrementalAggView, "rebuild", "streaming.matview.rebuild")
    t.wrap(pipeline, "select_table", "operators.selection.select")
    t.wrap(expectations, "quarantine_violations", "operators.expectations.gate")

    orig_json = DataFrameWriter.json

    def json_leg(self, path, *args, **kwargs):
        name = next((n for key, n in _JSON_LEGS if key in str(path)), None)
        if name is None or not t.active():
            return orig_json(self, path, *args, **kwargs)
        with t.span(name):
            return orig_json(self, path, *args, **kwargs)

    DataFrameWriter.json = json_leg
    t._undo.append((DataFrameWriter, "json", orig_json))

    orig_fb = DataStreamWriter.foreachBatch

    def sc():  # the session starts after the wrappers are in place
        return bench.spark.sparkContext

    def foreach_batch(self, func):
        def traced_batch(df, epoch):
            sc().setJobGroup(f"pb-batch-{epoch}", "micro-batch")
            t._local.off = t.alternate_batches and epoch % 2 == 0
            try:
                if t.active():
                    with t.span("streaming.pipeline.batch", req=str(epoch)) as sp:
                        func(df, epoch)
                else:
                    func(df, epoch)
                    sp = None
            finally:
                t._local.off = False
            jobs = len(sc().statusTracker().getJobIdsForGroup(f"pb-batch-{epoch}"))
            bench.batch_jobs.append((epoch, jobs))
            if sp is not None:
                sp.attrs["jobs"] = jobs

        return orig_fb(self, traced_batch)

    DataStreamWriter.foreachBatch = foreach_batch
    t._undo.append((DataStreamWriter, "foreachBatch", orig_fb))


# --------------------------------------------------------------------------
# summary
# --------------------------------------------------------------------------
def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def summarize(bench, source_sizes: dict) -> dict:
    """Per-layer metrics from the spans, the stream's progress log and
    the final sink. ``source_sizes`` maps batchId -> input bytes."""
    t: Tracer = bench.tracer
    children: dict = {}
    for s in t.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_id = {s.sid: s for s in t.spans}

    def under(name: str, parent_name: str) -> list[Span]:
        return [s for s in t.named(name)
                if s.parent is not None and by_id.get(s.parent)
                and by_id[s.parent].name == parent_name]

    batches = t.named("streaming.pipeline.batch")
    leg = {}
    for name in ("sources.parse", "operators.expectations.contract",
                 "streaming.pipeline.archive", "sinks.state_store.merge",
                 "streaming.matview.advance"):
        leg[name] = under(name, "streaming.pipeline.batch")
    named_child = sum(
        t.self_time(c, children) for b in batches for c in children.get(b.sid, [])
    )
    busy = [p for p in bench.progress if p["numInputRows"] > 0]
    traced_ids = {b.req for b in batches}
    traced_prog = [p for p in busy if str(p["batchId"]) in traced_ids]
    in_rows = {str(p["batchId"]): p["numInputRows"] for p in busy}
    merges = leg["sinks.state_store.merge"]
    m_rows = sum(m.attrs.get("rows", 0) for m in merges)
    m_bytes = sum(m.attrs.get("bytes", 0) for m in merges)
    m_in_rows = sum(in_rows.get(m.req, 0) for m in merges)
    m_in_bytes = sum(source_sizes.get(int(m.req), 0) for m in merges if m.req)
    if bench.blocking_wall is not None:  # backfill: traced drains' wall
        wall = bench.blocking_wall
    else:
        wall = sum(p["durationMs"]["triggerExecution"] for p in traced_prog) / 1e3
    lookups = t.named("reads.lookup")
    dashes = t.named("reads.dashboard")
    obs = bench.last_obs
    lat = bench.lat
    return {
        "sources.parse_s": _med(s.end - s.start for s in leg["sources.parse"]),
        "sources.rows_in": sum(p["numInputRows"] for p in busy),
        "sources.corrupt_rows": obs["parse_dlq"],
        "operators.expectations.contract_s": _med(
            s.end - s.start for s in leg["operators.expectations.contract"]),
        "operators.expectations.violations": obs["contract_dlq"],
        "operators.selection.foreign_dropped": bench.foreign_archived,
        "streaming.pipeline.archive_s": _med(
            s.end - s.start for s in leg["streaming.pipeline.archive"]),
        "streaming.pipeline.archive_files": bench.archive_files,
        "streaming.pipeline.batches": len(busy),
        "streaming.pipeline.rows_per_batch_p50": _med(p["numInputRows"] for p in busy),
        "streaming.pipeline.add_batch_s_p50": _med(
            p["durationMs"]["addBatch"] / 1e3 for p in busy),
        "streaming.pipeline.batch_self_s": _med(
            t.self_time(b, children) for b in batches),
        "streaming.pipeline.trigger_overhead_s": _med(
            (p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1e3
            for p in busy),
        "streaming.pipeline.jobs_per_batch": _med(j for _, j in bench.batch_jobs),
        "sinks.state_store.merge_s": _med(s.end - s.start for s in merges),
        "sinks.state_store.buckets_touched_per_merge": _med(
            m.attrs.get("touched", 0) for m in merges),
        "sinks.state_store.rows_rewritten_per_envelope": m_rows / m_in_rows if m_in_rows else 0.0,
        "sinks.state_store.write_amplification": m_bytes / m_in_bytes if m_in_bytes else 0.0,
        "sinks.state_store.state_files": bench.layer.get("sinks.state_store.state_files", 0),
        "streaming.matview.advance_s": _med(
            s.end - s.start for s in leg["streaming.matview.advance"]),
        "streaming.matview.rebuilds": len(under("streaming.matview.rebuild",
                                                "streaming.matview.advance")),
        "sinks.state_store.lookup_s": _med(s.end - s.start for s in lookups),
        "sinks.state_store.lookup_jobs": _med(bench.read_jobs["lookup"]),
        "sinks.state_store.lookup_files_read": _med(
            s.attrs.get("files", 0) for s in under("sinks.state_store.lookup",
                                                    "reads.lookup")),
        "operators.dsl.aggs_s": _med(s.end - s.start for s in dashes),
        "operators.dsl.jobs_per_dashboard": _med(bench.read_jobs["dashboard"]),
        "sinks.state_store.table_scan_files": _med(
            s.attrs.get("files", 0) for s in under("sinks.state_store.table",
                                                    "reads.dashboard")),
        **{k: v for k, v in bench.layer.items() if k.startswith("reads.")},
        "reads.samples": len(lat["lookup"]) + len(lat["dashboard"]),
        "generator.late_max_s": bench.layer.get("generator.late_max_s", 0.0),
        "generator.backlog_files_at_stop": bench.layer.get(
            "generator.backlog_files_at_stop", 0),
        "jvm.gc_s": bench.layer["jvm.gc_s"],
        "jvm.session_start_s": bench.layer["jvm.session_start_s"],
        "run.failed_op_ratio": bench.failed / max(1, bench.attempted),
        "trace.overhead_ratio": bench.trace_overhead,
        "trace.blocking_path_attributed": named_child / wall if wall else 0.0,
        "reference.local1_drain_envelopes_per_s": bench.layer.get(
            "reference.local1_drain_envelopes_per_s", 0.0),
    }


def write_spans(tracer: Tracer, path: str) -> None:
    """All spans as JSON lines, with self time, for offline digging."""
    children: dict = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    with open(path, "w") as f:
        for s in sorted(tracer.spans, key=lambda s: s.start):
            f.write(json.dumps({
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "id": s.sid, "req": s.req,
                "self_s": tracer.self_time(s, children), **s.attrs,
            }) + "\n")
