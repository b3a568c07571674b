"""Local file-backed queue — the AWS-free stand-in for SQS in every test.

A queue is a directory; each message is one JSON file containing an S3
event-notification body (the exact shape the reference parses,
AsyncSqsClientSuite.scala:50-85). Visibility is modeled with an
``.inflight-<deadline_ms>`` suffix; deletion removes the file. This gives
the same at-least-once + redelivery semantics SQS provides, so the
exactly-once admission tests exercise the real code paths.

Queue URL format: ``local://<directory>`` or a bare directory path.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from spark_streaming_sql_s3_connector_spark.queueing.base import (
    ConsumerCallback,
    QueueClient,
    QueueMessage,
    timed,
)
from spark_streaming_sql_s3_connector_spark.queueing.events import (
    make_s3_event_body,
    parse_s3_event,
)


def queue_dir_from_url(queue_url: str) -> str:
    return queue_url[len("local://"):] if queue_url.startswith("local://") else queue_url


class LocalFileQueueClient(QueueClient):
    def __init__(
        self,
        queue_url: str,
        visibility_timeout_seconds: int = 60,
        keep_message_for_consumer_error: bool = False,
    ):
        super().__init__(visibility_timeout_seconds, keep_message_for_consumer_error)
        self._dir = queue_dir_from_url(queue_url)
        os.makedirs(self._dir, exist_ok=True)

    # -- producer side (used by tests / fixtures) --

    def send_file_event(self, path: str, timestamp_ms: Optional[int] = None,
                        event_name: str = "ObjectCreated:Put") -> str:
        ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
        return self.send_body(make_s3_event_body(path, ts, event_name))

    def send_body(self, body: str) -> str:
        msg_id = f"m{time.time_ns()}-{os.getpid()}"
        target = os.path.join(self._dir, f"{msg_id}.json")
        tmp = target + ".tmp"
        with open(tmp, "w") as f:
            f.write(body)
        os.rename(tmp, target)
        return msg_id

    # -- consumer side --

    def _list_visible(self) -> list[str]:
        now_ms = int(time.time() * 1000)
        out = []
        for name in sorted(os.listdir(self._dir)):
            full = os.path.join(self._dir, name)
            if name.endswith(".json"):
                out.append(full)
            elif ".inflight-" in name:
                # redeliver when the visibility deadline passed
                try:
                    deadline = int(name.rsplit(".inflight-", 1)[1])
                except ValueError:
                    continue
                if deadline <= now_ms:
                    visible = full.rsplit(".inflight-", 1)[0]
                    try:
                        os.rename(full, visible)
                        out.append(visible)
                    except OSError:
                        pass
        return out

    def _receive(self, max_messages: int) -> list[QueueMessage]:
        msgs: list[QueueMessage] = []
        deadline = int(time.time() * 1000) + self._visibility_timeout * 1000
        for path in self._list_visible():
            if len(msgs) >= max_messages:
                break
            inflight = f"{path}.inflight-{deadline}"
            try:
                os.rename(path, inflight)  # atomic claim
            except OSError:
                continue
            try:
                with open(inflight) as f:
                    body = f.read()
            except OSError:
                continue
            msg_id = os.path.basename(path)[: -len(".json")]
            msgs.append(QueueMessage(message_id=msg_id, receipt_handle=inflight, body=body))
        return msgs

    def fetch(self, consumer: ConsumerCallback, wait_timeout_seconds: float, max_files: Optional[int]) -> int:
        """Drain visible messages through the consumer callback.

        Stop conditions mirror the reference (AsyncSqsClientImpl.scala:132-139):
        queue empty, timeout, or max_files consumed.
        """
        with timed(self.metrics.hist("fetch_ms")):
            return self._fetch_inner(consumer, wait_timeout_seconds, max_files)

    def _fetch_inner(self, consumer: ConsumerCallback, wait_timeout_seconds: float, max_files: Optional[int]) -> int:
        consumed = 0
        end = time.monotonic() + wait_timeout_seconds
        while True:
            self.metrics.incr("fetch_rounds")
            batch = self._receive(10)
            if not batch:
                break  # local dir has no long-poll latency: empty means drained
            self.metrics.incr("received_messages", len(batch))
            for msg in batch:
                if self._handle_message(msg, consumer, parse_s3_event):
                    consumed += 1
            # stop conditions AFTER draining the received batch — every
            # received message reaches the consumer so its file lands in the
            # cache (the batch cut, not the fetch, enforces
            # maxFilesPerTrigger; reference AsyncSqsClientImpl.scala:132-139)
            if max_files is not None and consumed >= max_files:
                break
            if time.monotonic() >= end:
                break
        return consumed

    def delete_messages(self, receipt_handles: list[str]) -> int:
        with timed(self.metrics.hist("delete_ms")):
            n = 0
            for rh in receipt_handles:
                try:
                    os.unlink(rh)
                    n += 1
                except FileNotFoundError:
                    self.metrics.incr("delete_failed_messages")
            self.metrics.incr("deleted_messages", n)
            return n

    def set_message_visibility(self, receipt_handle: str, visibility_timeout_seconds: int) -> None:
        with timed(self.metrics.hist("visibility_ms")):
            new_deadline = int(time.time() * 1000) + visibility_timeout_seconds * 1000
            base = receipt_handle.rsplit(".inflight-", 1)[0]
            try:
                os.rename(receipt_handle, f"{base}.inflight-{new_deadline}")
                self.metrics.incr("visibility_changed_messages")
            except OSError:
                self.metrics.incr("visibility_change_failed_messages")

    def approximate_number_of_messages(self) -> int:
        return len([n for n in os.listdir(self._dir) if n.endswith(".json") or ".inflight-" in n])
