"""Per-layer tracing for the benchmark's traced runs (``--trace 1``).

No engine source changes: :func:`install` swaps the engine's public
functions for timing wrappers at import level (the source module plus
every already-imported module that bound the same function object), and
patches py4j's send path with a call counter.  Every wrapper opens a span
``(id, name, start, end, parent, op)`` kept in memory; :meth:`Tracer.dump`
writes them out at the end of the run and :func:`layer_metrics`
derives the per-layer figures, self time included.

Spark-side counters come from two session features the benchmark turns
on for traced runs: a job group per operation phase (``<op>|<phase>``)
and a local event log, parsed after the session stops.  Streaming batch
figures come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "simple_query_engine_spark"

# (module, attribute) -> span name; the span's layer is its first component.
FUNCTIONS = {
    (f"{PKG}.session", "get_spark"): "session.get_spark",
    (f"{PKG}.sources.catalog", "load_tables"): "catalog.load_tables",
    (f"{PKG}.sources.catalog", "table"): "catalog.table",
    (f"{PKG}.minilang.parser", "parse"): "minilang.parse",
    (f"{PKG}.executor", "execute"): "executor.execute",
    (f"{PKG}.repl", "dispatch"): "repl.dispatch",
    (f"{PKG}.repl", "format_result"): "repl.format_result",
    (f"{PKG}.operators.storage", "materialize_once"): "storage.materialize_once",
    (f"{PKG}.functions.caching", "session_cache"): "caching.session_cache",
    (f"{PKG}.functions.caching", "session_materialize"): "caching.session_materialize",
}
MANAGED_METHODS = {
    "merge": "managed.merge",
    "insert": "managed.insert",
    "delete_where": "managed.delete",
    "read": "managed.read",
    "create": "managed.create",
}
# Layers whose spans run inside measured operations (self time per layer).
LAYERS = (
    "bench", "catalog", "minilang", "executor", "repl",
    "operators", "storage", "caching", "managed",
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.RLock()
        self.op: str | None = None
        self.batches: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            self._next_id += 1
            parent = self._stack[-1]["id"] if self._stack else None
            record = {
                "id": self._next_id, "name": name, "parent": parent,
                "op": self.op, "start": time.time(), "end": None,
                "py4j_calls": 0, "py4j_ms": 0.0, **attrs,
            }
            self._stack.append(record)
        try:
            yield record
        finally:
            with self._lock:
                record["end"] = time.time()
                self._stack.remove(record)
                self.spans.append(record)

    def wrap(self, name: str, fn, before=None, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as record:
                if before is not None:
                    before(record, args, kwargs)
                try:
                    result = fn(*args, **kwargs)
                except Exception as error:
                    record["error"] = type(error).__name__
                    raise
                if after is not None:
                    after(record, result)
                return result

        return traced

    def count_py4j(self, elapsed_ms: float) -> None:
        with self._lock:
            if self._stack:
                self._stack[-1]["py4j_calls"] += 1
                self._stack[-1]["py4j_ms"] += elapsed_ms

    # -- derived metrics ---------------------------------------------------

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "batches": self.batches,
                       **(extra or {})}, fh)


def _success_before(record, args, kwargs) -> None:
    path = args[0] if args else kwargs["path"]
    record["hit"] = os.path.exists(os.path.join(path, "_SUCCESS"))


def _rows_rendered(record, text) -> None:
    record["rows"] = max(0, text.count("\n") - 1)


def install(tracer: Tracer) -> None:
    """Swap every traced engine function for its wrapper, everywhere."""
    import importlib

    import __spark_entry__  # noqa: F401  (imports the operator catalog)
    from simple_query_engine_spark.operators import all_queries
    from simple_query_engine_spark.sources.managed import ManagedTable

    all_queries()
    hooks = {
        "storage.materialize_once": (_success_before, None),
        "repl.format_result": (None, _rows_rendered),
    }
    replaced = {}
    for (module_name, attr), name in FUNCTIONS.items():
        module = importlib.import_module(module_name)
        original = getattr(module, attr)
        before, after = hooks.get(name, (None, None))
        replaced[id(original)] = tracer.wrap(name, original, before, after)
    for module_name, module in list(sys.modules.items()):
        if not (module_name.startswith(PKG) or module_name == "__spark_entry__"):
            continue
        for attr, value in list(vars(module).items()):
            wrapper = replaced.get(id(value))
            if wrapper is not None:
                setattr(module, attr, wrapper)
    for method, name in MANAGED_METHODS.items():
        original = ManagedTable.__dict__[method]
        if isinstance(original, classmethod):
            wrapped = tracer.wrap(name, original.__func__)
            setattr(ManagedTable, method, classmethod(wrapped))
        else:
            setattr(ManagedTable, method, tracer.wrap(name, original))
    _patch_py4j(tracer)


def _patch_py4j(tracer: Tracer) -> None:
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        original = cls.send_command

        def send_command(self, command, *args, _original=original, **kwargs):
            start = time.perf_counter()
            try:
                return _original(self, command, *args, **kwargs)
            finally:
                tracer.count_py4j((time.perf_counter() - start) * 1e3)

        cls.send_command = send_command


def add_stream_listener(spark, tracer: Tracer) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress = event.progress
            durations = progress.durationMs or {}
            tracer.batches.append({
                "time": time.time(),
                "batch": progress.batchId,
                "trigger_ms": durations.get("triggerExecution", 0),
                "add_batch_ms": durations.get("addBatch", 0),
                "rows": progress.numInputRows,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_logs(log_dir: str) -> list[dict]:
    """One record per job: group, submission time, and its tasks' totals."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p)
    )
    for n, path in enumerate(paths):
        with open(path) as fh:
            for line in fh:
                try:
                    event = json.loads(line)
                except ValueError:
                    continue  # a truncated last line of an unfinished log
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (n, event["Job ID"])
                    props = event.get("Properties") or {}
                    jobs[key] = {
                        "group": props.get("spark.jobGroup.id"),
                        "time": event.get("Submission Time", 0) / 1e3,
                        "stages": 0, "tasks": 0, "executor_run_ms": 0,
                        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0, "gc_ms": 0,
                    }
                    for stage in event.get("Stage IDs", []):
                        stage_job.setdefault((n, stage), key)
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get((n, event["Stage Info"]["Stage ID"])))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get((n, event.get("Stage ID"))))
                    metrics = event.get("Task Metrics")
                    if job is None or not metrics:
                        continue
                    read = metrics.get("Shuffle Read Metrics", {})
                    write = metrics.get("Shuffle Write Metrics", {})
                    job["tasks"] += 1
                    job["executor_run_ms"] += metrics.get("Executor Run Time", 0)
                    job["gc_ms"] += metrics.get("JVM GC Time", 0)
                    job["shuffle_read_bytes"] += (
                        read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                    )
                    job["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += (
                        metrics.get("Memory Bytes Spilled", 0)
                        + metrics.get("Disk Bytes Spilled", 0)
                    )
    return list(jobs.values())


SPARK_COUNTERS = (
    "stages", "tasks", "executor_run_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_ms",
)


def attribute_jobs(jobs: list[dict], ops: list[dict]) -> dict[str, dict]:
    """Per-operation Spark totals.  A job belongs to the operation named by
    its job group; jobs without one (streaming micro-batches run on their
    own thread) belong to the operation whose time window holds them."""
    per_op: dict[str, dict] = {op["id"]: defaultdict(float) for op in ops}
    for job in jobs:
        op_id, phase = None, None
        if job["group"] and "|" in job["group"]:
            op_id, phase = job["group"].split("|", 1)
        else:
            for op in ops:
                if op["start"] <= job["time"] <= op["end"]:
                    op_id = op["id"]
                    break
        if op_id not in per_op:
            continue
        totals = per_op[op_id]
        totals["jobs"] += 1
        if phase == "build":
            totals["eager_jobs"] += 1
        for counter in SPARK_COUNTERS:
            totals[counter] += job[counter]
    return per_op


def layer_metrics(
    tracer: Tracer, ops: list[dict], jobs: list[dict]
) -> tuple[dict[str, float], dict[str, dict]]:
    """Fold spans, py4j counts, listener batches and event-log jobs into the
    per-layer metrics, each normalised per measured operation unless its
    name says otherwise; also return the Spark totals per operation."""
    op_ids = {op["id"] for op in ops}
    n_ops = max(1, len(op_ids))
    window = [s for s in tracer.spans if s["op"] in op_ids]
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in window:
        by_name[s["name"]].append(s)

    def total_ms(name: str) -> float:
        return sum((s["end"] - s["start"]) * 1e3 for s in by_name[name])

    def per_op(name: str) -> float:
        return total_ms(name) / n_ops

    load_calls = [s for s in tracer.spans if s["name"] == "catalog.load_tables"]
    mat = by_name["storage.materialize_once"]
    writes = [op for op in ops if op.get("kind") in ("merge", "insert", "delete")]
    first_session = next(
        (s for s in tracer.spans if s["name"] == "session.get_spark"), None
    )
    m: dict[str, float] = {
        "session.start_s": (
            first_session["end"] - first_session["start"] if first_session else 0.0
        ),
        "catalog.load_tables_ms": (
            statistics.mean((s["end"] - s["start"]) * 1e3 for s in load_calls)
            if load_calls else 0.0
        ),
        "catalog.calls": (
            len(by_name["catalog.load_tables"]) + len(by_name["catalog.table"])
        ) / n_ops,
        "minilang.parse_us": per_op("minilang.parse") * 1e3,
        "executor.execute_ms": per_op("executor.execute"),
        "repl.dispatch_ms": per_op("repl.dispatch"),
        "repl.format_ms": per_op("repl.format_result"),
        "repl.rows_rendered": (
            sum(s.get("rows", 0) for s in by_name["repl.format_result"]) / n_ops
        ),
        "operators.build_ms": per_op("operators.build"),
        "operators.plan_ms": per_op("operators.plan"),
        "operators.exec_ms": per_op("operators.exec"),
        "storage.materialize_once_calls": len(mat) / n_ops,
        "storage.materialize_once_hit_ratio": (
            sum(1 for s in mat if s.get("hit")) / len(mat) if mat else 0.0
        ),
        "storage.materialize_once_ms": per_op("storage.materialize_once"),
        "caching.session_cache_calls": len(by_name["caching.session_cache"]) / n_ops,
        "caching.session_cache_ms": per_op("caching.session_cache"),
        "caching.session_materialize_calls": (
            len(by_name["caching.session_materialize"]) / n_ops
        ),
        "managed.merge_ms": per_op("managed.merge"),
        "managed.insert_ms": per_op("managed.insert"),
        "managed.delete_ms": per_op("managed.delete"),
        "managed.read_ms": per_op("managed.read"),
        "managed.files_per_version": (
            statistics.mean(op["files"] for op in writes) if writes else 0.0
        ),
        "managed.bytes_written": (
            statistics.mean(op["bytes_added"] for op in writes) if writes else 0.0
        ),
        "managed.conflicts": sum(
            1 for s in window if s.get("error") == "TableVersionConflict"
        ) / n_ops,
        "py4j.calls": sum(s["py4j_calls"] for s in window) / n_ops,
        "py4j.ms": sum(s["py4j_ms"] for s in window) / n_ops,
    }
    batches = [
        b for b in tracer.batches
        if any(op["start"] <= b["time"] <= op["end"] + 5 for op in ops)
    ]
    stream_ops = [op for op in ops if op.get("kind") == "stream"]
    m["streaming.batches"] = len(batches) / max(1, len(stream_ops)) if stream_ops else 0.0
    m["streaming.batch_ms"] = (
        statistics.mean(b["trigger_ms"] for b in batches) if batches else 0.0
    )
    m["streaming.add_batch_ms"] = (
        statistics.mean(b["add_batch_ms"] for b in batches) if batches else 0.0
    )
    spark_per_op = attribute_jobs(jobs, ops)
    m["spark.eager_jobs"] = sum(t["eager_jobs"] for t in spark_per_op.values()) / n_ops
    m["spark.jobs"] = sum(t["jobs"] for t in spark_per_op.values()) / n_ops
    for counter in SPARK_COUNTERS:
        m[f"spark.{counter}"] = (
            sum(t[counter] for t in spark_per_op.values()) / n_ops
        )
    self_times = _self_ms(window)
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = self_times.get(layer, 0.0) / n_ops
    return m, spark_per_op


def _self_ms(spans: list[dict]) -> dict[str, float]:
    child_ms: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        own = (s["end"] - s["start"]) * 1e3 - child_ms[s["id"]]
        out[s["name"].split(".")[0]] += max(0.0, own)
    return out
