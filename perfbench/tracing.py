"""Measurement from outside the program: a streaming-progress listener,
timing wrappers on the layers' public functions, and the Spark event log.

Nothing here reaches inside the engine. The wrappers replace attributes
on the module or class the caller looks them up on (``engine`` imports
``write_csv`` by name, so the wrapper goes on ``engine.write_csv``), keep
their spans in memory, and are removed when tracing stops.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch's ``durationMs`` and the start and end
    of every streaming query. Listener events arrive asynchronously, so
    callers wait for ``onQueryTerminated`` of each started query before
    reading (otherwise the last trigger's progress can be missed)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.started: set[str] = set()
            self.terminated: set[str] = set()
            self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.append({"id": str(p.id), "batch": p.batchId,
                                  "rows": p.numInputRows,
                                  "ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.id))

    def wait_terminated(self, timeout_s: float = 30.0) -> bool:
        end = time.monotonic() + timeout_s
        while time.monotonic() < end:
            with self.lock:
                if self.started <= self.terminated:
                    return True
            time.sleep(0.01)
        return False

    def snapshot(self) -> tuple[int, list[dict]]:
        with self.lock:
            return len(self.started), list(self.progress)


class Tracer:
    """Spans around calls into each layer's public functions. A span is
    (name, start, end, op, parent); ``op`` is the timed operation the
    call belongs to and ``parent`` the span that was open on the same
    thread when it started."""

    # (layer span name, module path, attribute holder, attribute)
    TARGETS = [
        ("sinks.csv_write", "python_cdc_component_spark.engine", None,
         "write_csv"),
        ("sinks.manifest", "python_cdc_component_spark.engine", None,
         "write_manifest"),
        ("sinks.manifest", "python_cdc_component_spark.engine", None,
         "write_legacy_manifest"),
        ("sinks.state", "python_cdc_component_spark.sinks.state",
         "RunState", "save"),
        ("model.registry", "python_cdc_component_spark.model.schema",
         "SchemaRegistry", "update"),
        ("sinks.merge", "python_cdc_component_spark.sinks.merge",
         "MergeCompactor", "merge"),
        ("streaming.dedup_state.process_batch",
         "python_cdc_component_spark.streaming.dedup_state",
         "StreamingDedupGroups", "process_batch"),
        ("streaming.dedup_state.purge",
         "python_cdc_component_spark.streaming.dedup_state",
         "StreamingDedupGroups", "purge_docs_df"),
        ("streaming.lexical_state.add_batch",
         "python_cdc_component_spark.streaming.lexical_state",
         "StreamingLexicalIndex", "add_batch"),
        ("streaming.lexical_state.purge",
         "python_cdc_component_spark.streaming.lexical_state",
         "StreamingLexicalIndex", "purge_docs_df"),
        ("streaming.lexical_state.compact",
         "python_cdc_component_spark.streaming.lexical_state",
         "StreamingLexicalIndex", "compact"),
        ("streaming.lexical_state.bm25_topk",
         "python_cdc_component_spark.streaming.lexical_state",
         "StreamingLexicalIndex", "bm25_topk"),
    ]

    def __init__(self):
        self.spans: list[dict] = []
        self.op = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []

    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            span = {"name": name, "op": tracer.op,
                    "parent": stack[-1]["name"] if stack else None,
                    "start": time.time()}
            stack.append(span)
            try:
                out = fn(*args, **kwargs)
                if name == "sinks.merge":
                    span["buckets_rewritten"] = out
                    span["num_buckets"] = args[0].num_buckets
                return out
            finally:
                stack.pop()
                span["end"] = time.time()
                with tracer._lock:
                    tracer.spans.append(span)
        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        import importlib
        for name, mod, holder, attr in self.TARGETS:
            obj = importlib.import_module(mod)
            if holder:
                obj = getattr(obj, holder)
            orig = obj.__dict__[attr]
            self._saved.append((obj, attr, orig))
            setattr(obj, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._saved):
            setattr(obj, attr, orig)
        self._saved.clear()

    def op_spans(self, op) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["op"] == op]


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (uncompressed, rolling) Spark event logs under
    ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*")),
                   key=lambda p: (os.path.dirname(p),
                                  int(os.path.basename(p).split("_")[1])))
    out = []
    for line in itertools.chain.from_iterable(open(p) for p in files):
        try:
            out.append(json.loads(line))
        except ValueError:
            pass            # a partially flushed last line
    return out


def event_log_counts(events: list[dict], start_ms: float,
                     end_ms: float) -> dict:
    """Jobs, stages and tasks submitted inside [start_ms, end_ms], with
    the tasks' summed metrics."""
    c = dict(jobs=0, stages=0, tasks=0, input_bytes=0, input_records=0,
             shuffle_bytes=0, spill_bytes=0, output_bytes=0, run_ms=0,
             gc_ms=0)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            if start_ms <= e["Submission Time"] <= end_ms:
                c["jobs"] += 1
        elif ev == "SparkListenerStageCompleted":
            t = e["Stage Info"].get("Submission Time")
            if t is not None and start_ms <= t <= end_ms:
                c["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            if not start_ms <= e["Task Info"]["Launch Time"] <= end_ms:
                continue
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            inp = m.get("Input Metrics", {})
            c["input_bytes"] += inp.get("Bytes Read", 0)
            c["input_records"] += inp.get("Records Read", 0)
            c["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            c["output_bytes"] += m.get("Output Metrics", {}).get(
                "Bytes Written", 0)
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
    return c
