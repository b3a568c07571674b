"""SQS queue client (boto3, import-gated).

Production analog of the reference's AsyncSqsClientImpl
(AsyncSqsClientImpl.scala:61-484): concurrent long-poll receives bounded by
``sqs.maxConcurrency`` (reference hard cap 200), receive batches of 10 (SQS
cap, scala:484), batched deletes of 10 with per-entry fallback
(scala:238-319), visibility extension for retry-later (scala:442-464).
The default client is boto3's (imported at construction; ImportError with
a hint when it is missing). The drain loop is this class's own; the
per-message parse → consume → keep-or-delete handling is
``QueueClient._handle_message``, shared with LocalFileQueueClient. Tests
drive the class through the injected ``sqs_client``
(tests/test_sqs_client.py, tests/test_sqs_stateful.py).
"""

from __future__ import annotations

import concurrent.futures
import time
from typing import Optional

from spark_streaming_sql_s3_connector_spark.queueing.base import (
    ConsumerCallback,
    QueueClient,
    QueueMessage,
    timed,
)
from spark_streaming_sql_s3_connector_spark.queueing.events import parse_s3_event

MAX_SQS_BATCH_SIZE = 10  # SQS hard cap (AsyncSqsClientImpl.scala:484)
MAX_POOL_SIZE = 200  # reference hard cap (AsyncSqsClientImpl.scala:483)


class SqsQueueClient(QueueClient):
    def __init__(
        self,
        queue_url: str,
        region: str,
        long_poll_wait_seconds: int = 10,
        visibility_timeout_seconds: int = 60,
        max_retries: int = 10,
        max_concurrency: int = 50,
        keep_message_for_consumer_error: bool = False,
        sqs_client=None,
    ):
        """``sqs_client`` injects a pre-built (or mock) client — the test
        seam, mirroring the reference's mocked SqsAsyncClient suite
        (AsyncSqsClientSuite.scala:39-884). Default: boto3 with adaptive
        retry, the default-credentials chain covering the reference's
        retrying provider (ConnectorAwsCredentialsProvider.scala:35-67)."""
        super().__init__(visibility_timeout_seconds, keep_message_for_consumer_error)
        if sqs_client is None:
            try:
                import boto3
                from botocore.config import Config
            except ImportError as e:  # pragma: no cover - boto3 absent in test env
                raise ImportError(
                    "boto3 is required for queueType=SQS; use queueType=local for AWS-free runs"
                ) from e
            sqs_client = boto3.client(
                "sqs",
                region_name=region,
                config=Config(retries={"max_attempts": max_retries, "mode": "adaptive"}),
            )
        self._sqs = sqs_client
        self._queue_url = queue_url
        self._long_poll = long_poll_wait_seconds
        self._pool = concurrent.futures.ThreadPoolExecutor(
            max_workers=min(max_concurrency, MAX_POOL_SIZE), thread_name_prefix="sqs-fetch"
        )

    def _receive_once(self) -> list[QueueMessage]:
        try:
            resp = self._sqs.receive_message(
                QueueUrl=self._queue_url,
                MaxNumberOfMessages=MAX_SQS_BATCH_SIZE,
                WaitTimeSeconds=self._long_poll,
                VisibilityTimeout=self._visibility_timeout,
            )
        except Exception:
            # a failed receive round is an observable condition, not a batch
            # failure: count it and let the drain loop decide to stop/retry
            self.metrics.incr("receive_failed_messages")
            return []
        return [
            QueueMessage(m["MessageId"], m["ReceiptHandle"], m["Body"])
            for m in resp.get("Messages", [])
        ]

    def fetch(self, consumer: ConsumerCallback, wait_timeout_seconds: float, max_files: Optional[int]) -> int:
        """Concurrent drain: fan out receives on the pool until the queue is
        empty, the timeout elapses, or max_files messages were consumed —
        the reference's stop conditions (AsyncSqsClientImpl.scala:132-139)."""
        with timed(self.metrics.hist("fetch_ms")):
            return self._fetch_inner(consumer, wait_timeout_seconds, max_files)

    def _fetch_inner(self, consumer: ConsumerCallback, wait_timeout_seconds: float, max_files: Optional[int]) -> int:
        consumed = 0
        end = time.monotonic() + wait_timeout_seconds
        while time.monotonic() < end:
            self.metrics.incr("fetch_rounds")
            want = 4 if max_files is None else max(1, min(4, (max_files - consumed + 9) // 10))
            futures = [self._pool.submit(self._receive_once) for _ in range(want)]
            batches = [f.result() for f in concurrent.futures.as_completed(futures)]
            msgs = [m for b in batches for m in b]
            if not msgs:
                break
            self.metrics.incr("received_messages", len(msgs))
            for msg in msgs:
                if self._handle_message(msg, consumer, parse_s3_event):
                    consumed += 1
            # stop AFTER the received batch is fully consumed into the cache
            if max_files is not None and consumed >= max_files:
                break
        return consumed

    def delete_messages(self, receipt_handles: list[str]) -> int:
        """Batch-delete in slides of 10; failed entries retried singly
        (AsyncSqsClientImpl.scala:238-319)."""
        with timed(self.metrics.hist("delete_ms")):
            return self._delete_inner(receipt_handles)

    def _delete_inner(self, receipt_handles: list[str]) -> int:
        deleted = 0
        for i in range(0, len(receipt_handles), MAX_SQS_BATCH_SIZE):
            chunk = receipt_handles[i : i + MAX_SQS_BATCH_SIZE]
            entries = [{"Id": str(j), "ReceiptHandle": rh} for j, rh in enumerate(chunk)]
            try:
                resp = self._sqs.delete_message_batch(QueueUrl=self._queue_url, Entries=entries)
                deleted += len(resp.get("Successful", []))
                for failed in resp.get("Failed", []):
                    rh = chunk[int(failed["Id"])]
                    try:
                        self._sqs.delete_message(QueueUrl=self._queue_url, ReceiptHandle=rh)
                        deleted += 1
                    except Exception:
                        self.metrics.incr("delete_failed_messages")
            except Exception:
                self.metrics.incr("delete_failed_messages", len(chunk))
        self.metrics.incr("deleted_messages", deleted)
        return deleted

    def set_message_visibility(self, receipt_handle: str, visibility_timeout_seconds: int) -> None:
        with timed(self.metrics.hist("visibility_ms")):
            self._set_visibility_inner(receipt_handle, visibility_timeout_seconds)

    def _set_visibility_inner(self, receipt_handle: str, visibility_timeout_seconds: int) -> None:
        try:
            self._sqs.change_message_visibility(
                QueueUrl=self._queue_url,
                ReceiptHandle=receipt_handle,
                VisibilityTimeout=visibility_timeout_seconds,
            )
            self.metrics.incr("visibility_changed_messages")
        except Exception:
            self.metrics.incr("visibility_change_failed_messages")

    def close(self) -> None:
        self._pool.shutdown(wait=False)
