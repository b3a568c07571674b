"""Queue-client protocol + metrics.

Abstracts the reference's AsyncSqsClient trait (AsyncSqsClientImpl.scala)
into a pluggable protocol so tests run against a local file-backed queue
and production runs against SQS. Counter names mirror the reference's
AsyncClientMetrics (AsyncSqsClientMetricsImpl.scala:25-77).
"""

from __future__ import annotations

import threading
import time
from abc import ABC, abstractmethod
from collections import deque
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional

from spark_streaming_sql_s3_connector_spark.models import FileMetadata
from spark_streaming_sql_s3_connector_spark.queueing.events import (
    S3EventNotCreated,
    S3EventParseError,
)


def _nearest_rank(data: list[float], q: float) -> float:
    """Nearest-rank percentile of an already-sorted sample (0 if empty)."""
    import math

    if not data:
        return 0.0
    idx = min(len(data) - 1, max(0, math.ceil(q / 100.0 * len(data)) - 1))
    return data[idx]


class LatencyHistogram:
    """Sliding-window latency distribution: keeps the most recent
    ``capacity`` samples (deque ring buffer, O(1) memory — the
    deterministic analog of the reference's Dropwizard reservoirs behind
    its RocksDB get/put/commit histograms, RocksDB.scala:334-381,
    AsyncSqsClientMetricsImpl.scala:25-77) and reports
    count/min/max/mean/p50/p95/p99 on demand. ``count`` is lifetime; all
    other statistics (including mean) describe the CURRENT window, so
    they stay internally consistent after the buffer wraps."""

    def __init__(self, capacity: int = 4096):
        self._samples: deque[float] = deque(maxlen=capacity)
        self._count = 0  # lifetime observations, beyond the window
        self._lock = threading.Lock()

    def observe(self, value_ms: float) -> None:
        with self._lock:
            self._samples.append(float(value_ms))
            self._count += 1

    @property
    def count(self) -> int:
        with self._lock:
            return self._count

    def percentile(self, q: float) -> float:
        """Nearest-rank percentile over the current window (0 if empty)."""
        with self._lock:
            data = sorted(self._samples)
        return _nearest_rank(data, q)

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            data = sorted(self._samples)
            count = self._count
        if not data:
            return {"count": 0, "min": 0.0, "max": 0.0, "mean": 0.0,
                    "p50": 0.0, "p95": 0.0, "p99": 0.0}
        return {
            "count": count,
            "min": data[0],
            "max": data[-1],
            "mean": sum(data) / len(data),
            "p50": _nearest_rank(data, 50),
            "p95": _nearest_rank(data, 95),
            "p99": _nearest_rank(data, 99),
        }


@contextmanager
def timed(hist: LatencyHistogram):
    """Record the wall-clock of the wrapped block into ``hist`` (ms);
    observes on error too — failure latency is still latency."""
    t0 = time.monotonic()
    try:
        yield
    finally:
        hist.observe((time.monotonic() - t0) * 1000.0)

# consumer callback: called for each parsed FileMetadata; returns True if
# the message is consumed (deletable), False if it should stay visible.
ConsumerCallback = Callable[[FileMetadata], bool]


@dataclass
class QueueMessage:
    message_id: str
    receipt_handle: str
    body: str


def _on_async_fetch_thread() -> bool:
    """The fetchThread* counters split consumption driven by the background
    continuation (admission._kick_async_fetch names its thread
    s3conn-async-fetch) from trigger-synchronous consumption — the same
    split the reference draws for its fetch-thread pool."""
    return threading.current_thread().name.startswith("s3conn-async-fetch")


# snake_case counter -> the reference's metric-registry key. One row per
# counter in AsyncClientMetrics.scala:22-38; the parse counter keeps the
# reference's misspelled registry name ("parseMassageCounter",
# AsyncSqsClientMetricsImpl.scala:36) bug-for-bug so dashboards keyed on
# the reference's JSON keep working unchanged.
REFERENCE_COUNTER_NAMES = {
    "received_messages": "AsyncSqsClient.receiveMessageCounter",
    "receive_failed_messages": "AsyncSqsClient.receiveMessageFailedCounter",
    "parsed_messages": "AsyncSqsClient.parseMassageCounter",
    "parse_failed_messages": "AsyncSqsClient.parseMessageFailedCounter",
    "discarded_messages": "AsyncSqsClient.discardedMessageCounter",
    "consumed_messages": "AsyncSqsClient.consumeMessageCounter",
    "consume_failed_messages": "AsyncSqsClient.consumeMessageFailedCounter",
    "deleted_messages": "AsyncSqsClient.deleteMessageCounter",
    "delete_failed_messages": "AsyncSqsClient.deleteMessageFailedCounter",
    "visibility_changed_messages": "AsyncSqsClient.setMessageVisibilityCounter",
    "visibility_change_failed_messages": "AsyncSqsClient.setMessageVisibilityFailedCounter",
    "fetch_thread_consumed_messages": "AsyncSqsClient.fetchThreadConsumeMessageCounter",
    "fetch_thread_consume_failed_messages": "AsyncSqsClient.fetchThreadConsumeMessageFailedCounter",
    "fetch_thread_uncaught_exceptions": "AsyncSqsClient.fetchThreadUncaughtExceptionCounter",
}


@dataclass
class QueueClientMetrics:
    """Full parity with the reference's 14 AsyncClientMetrics counters
    (AsyncClientMetrics.scala:22-38), snake_cased, plus ``fetch_rounds``
    (ours — drain-loop iterations, a cheap liveness signal)."""

    received_messages: int = 0
    receive_failed_messages: int = 0
    parsed_messages: int = 0
    parse_failed_messages: int = 0
    discarded_messages: int = 0
    consumed_messages: int = 0
    consume_failed_messages: int = 0
    deleted_messages: int = 0
    delete_failed_messages: int = 0
    visibility_changed_messages: int = 0
    visibility_change_failed_messages: int = 0
    fetch_thread_consumed_messages: int = 0
    fetch_thread_consume_failed_messages: int = 0
    fetch_thread_uncaught_exceptions: int = 0
    fetch_rounds: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False, compare=False)
    # latency distributions alongside the counters (reference records
    # timing via Dropwizard timers in the same metrics impl)
    histograms: dict[str, LatencyHistogram] = field(
        default_factory=dict, repr=False, compare=False
    )

    def incr(self, name: str, n: int = 1) -> None:
        with self._lock:
            setattr(self, name, getattr(self, name) + n)

    def hist(self, name: str) -> LatencyHistogram:
        with self._lock:
            h = self.histograms.get(name)
            if h is None:
                h = self.histograms[name] = LatencyHistogram()
            return h

    def histograms_snapshot(self) -> dict[str, dict[str, float]]:
        with self._lock:
            hists = dict(self.histograms)
        return {name: h.snapshot() for name, h in hists.items()}

    def as_dict(self) -> dict[str, int]:
        return {k: getattr(self, k) for k in (*REFERENCE_COUNTER_NAMES, "fetch_rounds")}

    def json(self) -> str:
        """Reference-shaped JSON (AsyncSqsClientMetricsImpl.json) — the
        registry keys the reference serializes, same counter semantics."""
        import json as _json

        return _json.dumps(
            {ref: getattr(self, k) for k, ref in REFERENCE_COUNTER_NAMES.items()}
        )


class QueueClient(ABC):
    """Driver-side queue consumer. Implementations must be thread-safe."""

    def __init__(
        self,
        visibility_timeout_seconds: int = 60,
        keep_message_for_consumer_error: bool = False,
    ) -> None:
        self.metrics = QueueClientMetrics()
        self._visibility_timeout = visibility_timeout_seconds
        self._keep_for_consumer_error = keep_message_for_consumer_error

    def _handle_message(
        self,
        msg: QueueMessage,
        consumer: ConsumerCallback,
        parse: Callable[..., FileMetadata],
    ) -> bool:
        """Parse one received message with ``parse`` and hand its file to
        ``consumer``; True when consumed. A not-created event is deleted.
        A parse failure or a consumer exception keeps the message for
        redelivery after the visibility timeout when
        ``keepMessageForConsumerError`` is set (DLQ debugging), else
        deletes it. A consumer that returns False has already routed the
        message (visibility retry or delete). Each client passes its own
        module's ``parse_s3_event``, looked up per call, so a wrapper
        installed on that module attribute (the span tracer's) sees every
        parse."""
        try:
            meta = parse(msg.body, message_id=msg.receipt_handle)
        except S3EventNotCreated:
            self.metrics.incr("discarded_messages")
            self.delete_messages([msg.receipt_handle])
            return False
        except S3EventParseError:
            self.metrics.incr("parse_failed_messages")
        else:
            self.metrics.incr("parsed_messages")
            on_fetch_thread = _on_async_fetch_thread()
            try:
                ok = consumer(meta)
            except Exception:
                self.metrics.incr("consume_failed_messages")
                if on_fetch_thread:
                    self.metrics.incr("fetch_thread_consume_failed_messages")
            else:
                if ok:
                    self.metrics.incr("consumed_messages")
                    if on_fetch_thread:
                        self.metrics.incr("fetch_thread_consumed_messages")
                return ok
        if self._keep_for_consumer_error:
            self.set_message_visibility(msg.receipt_handle, self._visibility_timeout)
        else:
            self.delete_messages([msg.receipt_handle])
        return False

    @abstractmethod
    def fetch(self, consumer: ConsumerCallback, wait_timeout_seconds: float, max_files: Optional[int]) -> int:
        """Drain the queue, calling ``consumer`` per valid new file, until
        empty / timeout / max_files consumed. Returns number consumed.
        (reference asyncFetch, AsyncSqsClientImpl.scala:61-155 — the
        reference runs this async with up to 200 concurrent receives; the
        Python impls use a thread pool bounded by sqs.maxConcurrency.)"""

    @abstractmethod
    def delete_messages(self, receipt_handles: list[str]) -> int:
        """Ack/delete; batches of 10 with per-entry fallback in the SQS impl
        (AsyncSqsClientImpl.scala:238-319). Returns count deleted."""

    @abstractmethod
    def set_message_visibility(self, receipt_handle: str, visibility_timeout_seconds: int) -> None:
        """Make a message redeliverable later (AsyncSqsClientImpl.scala:442-464)."""

    def close(self) -> None:  # pragma: no cover - trivial default
        pass
