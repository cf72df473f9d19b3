"""Span recording for the traced run, from outside the engine.

The engine is not modified: :func:`install` replaces each traced public
function with a timing wrapper under every module attribute that holds
it (``plans.ingest`` and ``api.service`` import several of them by
name), and wraps the action ``JobRegistry.submit`` runs on its own
thread. A span is linked to the client op through the partition or job
id its call carries, never through thread-local state, so the write the
registry thread performs still lands under the op that requested it.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import sys
import threading
import time

PKG = "gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark"


def _arg(i: int, name: str):
    def get(args, kwargs):
        if name in kwargs:
            return kwargs[name]
        return args[i] if len(args) > i else None

    return get


# (module, attribute or Class.method, span name, how to find the call's
# partition or job id; None: the call belongs to the client's open op)
TARGETS = [
    ("api.service", "IngestService.partition_exists_in_bucket", "api.partition_exists", _arg(2, "partition")),
    ("api.service", "IngestService.ingest_partition", "api.ingest_partition", _arg(1, "partition")),
    ("api.service", "IngestService.job_status", "api.job_status", _arg(1, "job_id")),
    ("plans.ingest", "backfill_partition_range", "plans.ingest.backfill_partition_range", _arg(3, "start_partition")),
    ("plans.ingest", "run_partition_ingest", "plans.ingest.run_partition_ingest", lambda a, k: (k.get("plan") or a[1]).partition),
    ("sources.probe", "partition_exists", "sources.probe.partition_exists", _arg(2, "partition")),
    ("sources.hive_csv", "read_hive_partition", "sources.hive_csv.read_hive_partition", _arg(2, "partition")),
    ("operators.sink", "write_partition_overwrite", "operators.sink.write_partition_overwrite", lambda a, k: k.get("partition")),
    ("operators.sink", "read_landing_table", "operators.sink.read_landing_table", _arg(2, "partition")),
    ("plans.guard", "assert_partition_filtered", "plans.guard.assert_partition_filtered", None),
    ("sources.tables", "load_table", "sources.tables.load_table", None),
]


class Tracer:
    """In-memory spans: name, start, end, parent, op. A call whose key
    (partition or job id) is bound to an op belongs to that op; a call
    without one belongs to the op the single client has open."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.action_end: dict[str, float] = {}
        self.enabled = False
        self._lock = threading.Lock()
        self._op_of: dict[str, int] = {}
        self._root_of: dict[int, int] = {}
        self._stacks: dict[tuple[int, int], list[int]] = {}
        self._next_op = 0
        self.current_op: int | None = None

    def bind(self, key: str, op: int) -> None:
        self._op_of[key] = op

    def _open(self, name: str, op: int | None) -> int:
        stack = self._stacks.setdefault((op, threading.get_ident()), [])
        with self._lock:
            sid = len(self.spans)
            parent = stack[-1] if stack else self._root_of.get(op)
            self.spans.append(
                {"id": sid, "name": name, "op": op, "parent": parent,
                 "start": time.perf_counter(), "end": None}
            )
        stack.append(sid)
        return sid

    def _close(self, sid: int) -> float:
        end = time.perf_counter()
        span = self.spans[sid]
        span["end"] = end
        self._stacks[(span["op"], threading.get_ident())].pop()
        return end

    @contextlib.contextmanager
    def op(self, name: str, keys=()):
        """One client op: a root span, with ``keys`` (partitions) bound
        to it so engine calls on other threads find their op."""
        if not self.enabled:
            yield None
            return
        op_id = self._next_op
        self._next_op += 1
        for key in keys:
            self.bind(key, op_id)
        sid = self._open(f"op.{name}", op_id)
        self._root_of[op_id] = sid
        self.current_op = op_id
        try:
            yield op_id
        finally:
            self._close(sid)
            self.current_op = None

    @contextlib.contextmanager
    def span(self, name: str):
        """A span opened by the harness itself, inside the current op."""
        if not self.enabled:
            yield
            return
        sid = self._open(name, self.current_op)
        try:
            yield
        finally:
            self._close(sid)

    def wrap(self, fn, name: str, key_of):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            key = key_of(args, kwargs) if key_of else None
            op = tracer._op_of.get(key, tracer.current_op)
            sid = tracer._open(name, op)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sid)

        return traced

    def span_cost_s(self, calls: int = 20_000) -> float:
        """Seconds that one traced call adds to a plain one, measured by
        wrapping a no-op in this tracer's own wrapper."""

        def noop():
            return None

        traced = self.wrap(noop, "trace.calibration", None)
        kept = self.spans, self._stacks, self.enabled, self.current_op
        self.spans, self._stacks, self.enabled, self.current_op = [], {}, True, None
        try:
            t0 = time.perf_counter()
            for _ in range(calls):
                traced()
            t1 = time.perf_counter()
            for _ in range(calls):
                noop()
            t2 = time.perf_counter()
        finally:
            self.spans, self._stacks, self.enabled, self.current_op = kept
        return max((t1 - t0) - (t2 - t1), 0.0) / calls

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for span in self.spans:
                fh.write(json.dumps(span) + "\n")


def _engine_modules():
    return [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m is not None]


def install(tracer: Tracer) -> None:
    """Wrap every target under every name it is looked up by."""
    for mod_name, attr, span_name, key_of in TARGETS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, tracer.wrap(getattr(cls, meth), span_name, key_of))
            continue
        original = getattr(mod, attr)
        traced = tracer.wrap(original, span_name, key_of)
        for module in _engine_modules():
            for name, value in list(vars(module).items()):
                if value is original:
                    setattr(module, name, traced)

    jobs = importlib.import_module(f"{PKG}.plans.jobs")
    submit = jobs.JobRegistry.submit

    @functools.wraps(submit)
    def traced_submit(registry, meta, action):
        def timed_action():
            if not tracer.enabled:
                return action()
            op = tracer._op_of.get(meta.partition, tracer.current_op)
            sid = tracer._open("plans.jobs.action", op)
            try:
                return action()
            finally:
                tracer.action_end[meta.job_id] = tracer._close(sid)

        return submit(registry, meta, timed_action)

    jobs.JobRegistry.submit = traced_submit


def _self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
        if c["end"] is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total and median duration, total self time."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    table: dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        row = table.setdefault(s["name"], {"durs": [], "self_s": 0.0})
        row["durs"].append(s["end"] - s["start"])
        row["self_s"] += _self_time(s, children.get(s["id"], []))
    return {
        name: {
            "calls": len(r["durs"]),
            "total_s": round(sum(r["durs"]), 6),
            "median_s": round(statistics.median(r["durs"]), 6),
            "self_s": round(r["self_s"], 6),
        }
        for name, r in sorted(table.items())
    }
