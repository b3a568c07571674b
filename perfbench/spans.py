"""Span recorder for the traced run.

Wrappers are installed on the program's public callables only in a traced
run, from the benchmark's own code; the program is not modified. A span
records its name, start, end, parent and trace id (one per trigger).
Spans stay in memory and are written as JSON lines when the run ends.

A span opened on a thread with no open span of its own (the admission
controller's background queue drain) takes the innermost span open on
any thread as its parent, so the caller's self time excludes the work it
waited for.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.trace_id = 0
        self._local = threading.local()
        self._open: list[dict] = []
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self._paused = False

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    @contextmanager
    def paused(self):
        """Record nothing, on any thread, inside the block: for the
        benchmark's own calls into wrapped code (and the background queue
        drains they start)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    @contextmanager
    def span(self, name: str):
        if self._paused:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            s = {
                "id": len(self.spans),
                "name": name,
                "trace": self.trace_id,
                "parent": parent["id"] if parent else None,
                "thread": threading.get_ident(),
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(s)
            self._open.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self._open.remove(s)

    # -- wrappers --

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. Generator
        functions are spanned over their whole iteration. ``on_result``
        sees each return value (counters)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        rec = self

        if inspect.isgeneratorfunction(orig):

            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                with rec.span(name):
                    yield from orig(*args, **kwargs)

        else:

            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                with rec.span(name):
                    out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(out, *args)
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reductions --

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of(name))

    def calls(self, name: str) -> int:
        return len(self.of(name))

    def self_time(self, name: str) -> float:
        """Sum over ``name``'s spans of duration minus the part of the
        span's interval covered by its children."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        total = 0.0
        for s in self.of(name):
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            total += (s["end"] - s["start"]) - covered
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def span_cost_s(n: int = 20000) -> float:
    """Seconds one span adds, measured on a wrapped no-op."""
    rec = Recorder()

    class Probe:
        def f(self):
            return None

    p = Probe()
    t = time.perf_counter()
    for _ in range(n):
        p.f()
    bare = time.perf_counter() - t
    rec.wrap(Probe, "f", "probe")
    t = time.perf_counter()
    for _ in range(n):
        p.f()
    return max(0.0, (time.perf_counter() - t - bare) / n)


def install_connector_spans(rec: Recorder) -> None:
    """Spans around the connector's driver- and executor-side callables:
    queue drain, validation, metadata log, cache, admission, planning and
    the Arrow read."""
    from spark_streaming_sql_s3_connector_spark.queueing import local
    from spark_streaming_sql_s3_connector_spark.sources import admission, datasource
    from spark_streaming_sql_s3_connector_spark.state import file_cache, metadata_log, validator

    def count_verdict(result, *_):
        rec.count(f"validator.{result.name}")

    def cache_size(_, cache):
        rec.counts["file_cache.peak_size"] = max(rec.counts["file_cache.peak_size"], cache.size)

    Q = local.LocalFileQueueClient
    rec.wrap(Q, "fetch", "queueing.fetch")
    rec.wrap(Q, "delete_messages", "queueing.delete")
    rec.wrap(Q, "set_message_visibility", "queueing.visibility")
    rec.wrap(local, "parse_s3_event", "queueing.parse")
    rec.wrap(validator.FileValidator, "is_valid_new_file", "state.validator", count_verdict)
    L = metadata_log.JsonMetadataLog
    rec.wrap(L, "__init__", "state.metadata_log.recover")
    rec.wrap(L, "add", "state.metadata_log.add")
    rec.wrap(L, "get_range", "state.metadata_log.get_range")
    rec.wrap(file_cache.FileCache, "purge", "state.file_cache.purge")
    rec.wrap(file_cache.FileCache, "add_if_absent", "state.file_cache.add", lambda _, c, *a: cache_size(_, c))
    A = admission.AdmissionController
    rec.wrap(A, "fetch_max_offset", "sources.admission.fetch_max_offset")
    rec.wrap(A, "commit", "sources.admission.commit")
    rec.wrap(A, "get_batch_files", "sources.admission.get_batch_files")
    R = datasource.S3ConnectorStreamReader
    rec.wrap(R, "partitions", "sources.datasource.partitions")
    rec.wrap(R, "read", "sources.file_read.read")


def install_orchestrator_spans(rec: Recorder) -> None:
    from spark_streaming_sql_s3_connector_spark.streaming import orchestrator

    install_connector_spans(rec)
    rec.wrap(orchestrator.MicroBatchOrchestrator, "run_once", "streaming.orchestrator.run_once")
