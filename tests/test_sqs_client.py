"""Mocked-SQS client suite — port of the reference's AsyncSqsClientSuite
scenarios (AsyncSqsClientSuite.scala:39-884) with a fake boto3 client:
receive/parse paths, consumer-error visibility vs delete, and the
batch-delete partial-failure matrix (table-driven, as the reference's
forAll(Table(...)) checks)."""

from __future__ import annotations

import json

import pytest

from spark_streaming_sql_s3_connector_spark.queueing.sqs import (
    MAX_SQS_BATCH_SIZE,
    SqsQueueClient,
)

CREATED = json.dumps(
    {
        "Records": [
            {
                "eventTime": "2023-02-14T22:53:31.748Z",
                "eventName": "ObjectCreated:Put",
                "s3": {
                    "bucket": {"name": "b"},
                    "object": {"key": "k%3D1/file.csv", "size": 1},
                },
            }
        ]
    }
)
REMOVED = CREATED.replace("ObjectCreated:Put", "ObjectRemoved:Delete")
BAD = '{"Records":"bad message"}'


class FakeSqs:
    """Minimal boto3-sqs double: queue of message dicts, call recording,
    programmable delete_message_batch failures."""

    def __init__(self, bodies, fail_delete_ids=(), fail_single_delete=False):
        self.pending = [
            {"MessageId": f"m{i}", "ReceiptHandle": f"rh{i}", "Body": b}
            for i, b in enumerate(bodies)
        ]
        self.deleted: list[str] = []
        self.single_deleted: list[str] = []
        self.visibility_changes: list[tuple[str, int]] = []
        self.fail_delete_ids = set(fail_delete_ids)
        self.fail_single_delete = fail_single_delete

    def receive_message(self, **kw):
        take = min(kw.get("MaxNumberOfMessages", 10), len(self.pending))
        out, self.pending = self.pending[:take], self.pending[take:]
        return {"Messages": out}

    def delete_message_batch(self, QueueUrl, Entries):
        ok, failed = [], []
        for e in Entries:
            if e["ReceiptHandle"] in self.fail_delete_ids:
                failed.append({"Id": e["Id"]})
            else:
                self.deleted.append(e["ReceiptHandle"])
                ok.append({"Id": e["Id"]})
        return {"Successful": ok, "Failed": failed}

    def delete_message(self, QueueUrl, ReceiptHandle):
        if self.fail_single_delete:
            raise RuntimeError("single delete failed")
        self.single_deleted.append(ReceiptHandle)

    def change_message_visibility(self, QueueUrl, ReceiptHandle, VisibilityTimeout):
        self.visibility_changes.append((ReceiptHandle, VisibilityTimeout))


def _client(fake, **kw):
    return SqsQueueClient("q", "us-east-1", long_poll_wait_seconds=0, sqs_client=fake, **kw)


def test_fetch_consumes_created_discards_removed_and_bad():
    fake = FakeSqs([CREATED, REMOVED, BAD])
    c = _client(fake)
    seen = []
    n = c.fetch(lambda meta: seen.append(meta) or True, wait_timeout_seconds=2, max_files=None)
    assert n == 1
    assert seen[0].file_path == "s3a://b/k=1/file.csv"
    # removed + bad are deleted (keepMessageForConsumerError default False)
    assert set(fake.deleted) == {"rh1", "rh2"}
    assert c.metrics.discarded_messages == 1
    assert c.metrics.parse_failed_messages == 1
    c.close()


def test_consumer_exception_deletes_by_default_visibility_when_kept():
    def boom(meta):
        raise RuntimeError("consumer failed")

    fake = FakeSqs([CREATED])
    c = _client(fake)
    assert c.fetch(boom, wait_timeout_seconds=2, max_files=None) == 0
    assert fake.deleted == ["rh0"] and fake.visibility_changes == []
    c.close()

    fake2 = FakeSqs([CREATED])
    c2 = _client(fake2, keep_message_for_consumer_error=True)
    assert c2.fetch(boom, wait_timeout_seconds=2, max_files=None) == 0
    assert fake2.deleted == [] and fake2.visibility_changes == [("rh0", 60)]
    c2.close()


def test_fetch_stops_at_max_files():
    fake = FakeSqs([CREATED] * 25)
    c = _client(fake)
    n = c.fetch(lambda meta: True, wait_timeout_seconds=5, max_files=10)
    assert n >= 10  # stop condition applies after a received batch drains
    assert len(fake.pending) < 25
    c.close()


# batch-delete partial-failure matrix, table-driven like the reference's
# forAll(Table(...)) check (AsyncSqsClientSuite.scala:742)
@pytest.mark.parametrize(
    "n_msgs,fail_ids,fail_single,expect_deleted,expect_failed_metric",
    [
        (25, (), False, 25, 0),  # three slides of <=10, all succeed
        (10, ("rh3", "rh7"), False, 10, 0),  # failures retried singly, succeed
        (10, ("rh3",), True, 9, 1),  # single retry also fails -> metric
        (0, (), False, 0, 0),  # empty ack is a no-op
    ],
)
def test_batch_delete_matrix(n_msgs, fail_ids, fail_single, expect_deleted, expect_failed_metric):
    fake = FakeSqs([], fail_delete_ids=fail_ids, fail_single_delete=fail_single)
    c = _client(fake)
    handles = [f"rh{i}" for i in range(n_msgs)]
    deleted = c.delete_messages(handles)
    assert deleted == expect_deleted
    assert c.metrics.delete_failed_messages == expect_failed_metric
    # slides never exceed the SQS cap
    assert all(
        len(handles[i : i + MAX_SQS_BATCH_SIZE]) <= 10
        for i in range(0, len(handles), MAX_SQS_BATCH_SIZE)
    )
    c.close()


def test_url_decoded_keys_and_timestamps():
    fake = FakeSqs([CREATED])
    c = _client(fake)
    got = []
    c.fetch(lambda m: got.append(m) or True, wait_timeout_seconds=2, max_files=None)
    assert got[0].timestamp_ms == 1676415211748  # ISO8601 -> epoch ms
    assert "%3D" not in got[0].file_path  # URL-decoded key
    c.close()


def test_metrics_full_reference_parity():
    """Every one of the reference's 14 AsyncClientMetrics counters exists,
    is wired, and serializes under the reference's registry key
    (AsyncClientMetrics.scala:22-38, AsyncSqsClientMetricsImpl.scala:25-77,
    including the reference's misspelled parseMassageCounter key)."""
    from spark_streaming_sql_s3_connector_spark.queueing.base import REFERENCE_COUNTER_NAMES

    assert len(REFERENCE_COUNTER_NAMES) == 14

    class FlakySqs(FakeSqs):
        def __init__(self, bodies):
            super().__init__(bodies)
            self.receive_fails = 1

        def receive_message(self, **kw):
            if self.receive_fails:
                self.receive_fails -= 1
                raise RuntimeError("receive throttled")
            return super().receive_message(**kw)

        def change_message_visibility(self, **kw):
            raise RuntimeError("visibility api down")

    fake = FlakySqs([CREATED, REMOVED, BAD, CREATED])
    c = _client(fake, keep_message_for_consumer_error=True)
    calls = {"n": 0}

    def consumer(meta):
        calls["n"] += 1
        if calls["n"] == 2:  # second valid message: consumer blows up
            raise RuntimeError("consumer failed")
        return True

    c.fetch(consumer, wait_timeout_seconds=3, max_files=None)
    m = c.metrics
    assert m.receive_failed_messages == 1
    assert m.received_messages == 4
    assert m.parsed_messages == 2  # the two CREATED bodies
    assert m.parse_failed_messages == 1  # BAD
    assert m.discarded_messages == 1  # REMOVED
    assert m.consumed_messages == 1
    assert m.consume_failed_messages == 1
    assert m.visibility_change_failed_messages >= 1  # visibility api down
    # trigger-synchronous fetch: no fetch-thread activity
    assert m.fetch_thread_consumed_messages == 0
    assert m.fetch_thread_uncaught_exceptions == 0

    blob = json.loads(m.json())
    assert set(blob) == set(REFERENCE_COUNTER_NAMES.values())
    assert blob["AsyncSqsClient.parseMassageCounter"] == 2  # bug-for-bug key
    c.close()


def test_fetch_thread_counters_split_background_consumption():
    # consumption driven from the async continuation thread lands in the
    # fetchThread* counters (reference fetchThreadConsumeMessageCounter)
    import threading

    fake = FakeSqs([CREATED])
    c = _client(fake)
    t = threading.Thread(
        target=lambda: c.fetch(lambda m: True, 2, None),
        name="s3conn-async-fetch-test",
    )
    t.start()
    t.join()
    assert c.metrics.consumed_messages == 1
    assert c.metrics.fetch_thread_consumed_messages == 1
    c.close()


def test_cross_account_cross_region_queue():
    """Port of S3ConnectorSourceCrossAccountItSuite.scala:54-83: a full
    queue URL belonging to another account, in a region different from the
    bucket's, must be passed through verbatim on every SQS call."""

    class RecordingSqs(FakeSqs):
        def __init__(self, bodies):
            super().__init__(bodies)
            self.urls: list[str] = []

        def receive_message(self, **kw):
            self.urls.append(kw["QueueUrl"])
            return super().receive_message(**kw)

        def delete_message_batch(self, QueueUrl, Entries):
            self.urls.append(QueueUrl)
            return super().delete_message_batch(QueueUrl, Entries)

    url = "https://sqs.us-west-2.amazonaws.com/999999999999/cross-account-queue"
    fake = RecordingSqs([CREATED])
    c = SqsQueueClient(url, "us-west-2", long_poll_wait_seconds=0, sqs_client=fake)
    got = []
    n = c.fetch(lambda m: got.append(m) or True, wait_timeout_seconds=2, max_files=None)
    assert n == 1 and got[0].file_path == "s3a://b/k=1/file.csv"
    c.delete_messages(["rh9"])
    assert all(u == url for u in fake.urls) and len(fake.urls) >= 2
    c.close()


@pytest.mark.parametrize("keep", [False, True])
@pytest.mark.parametrize("failure", ["parse", "consumer"])
def test_local_and_sqs_clients_share_the_keep_or_delete_rule(tmp_path, failure, keep):
    """The same failing message through both queue clients: a parse
    failure or a consumer exception ends in the same counters and the
    same disposition — kept for redelivery with keepMessageForConsumerError,
    deleted without it."""
    from spark_streaming_sql_s3_connector_spark.queueing.local import (
        LocalFileQueueClient,
    )

    body = BAD if failure == "parse" else CREATED

    def consumer(meta):
        raise RuntimeError("consumer failed")

    fake = FakeSqs([body])
    sqs = _client(fake, keep_message_for_consumer_error=keep)
    assert sqs.fetch(consumer, wait_timeout_seconds=1, max_files=None) == 0
    sqs_disposition = (
        "kept" if fake.visibility_changes else "deleted" if fake.deleted else "none"
    )

    local = LocalFileQueueClient(
        f"local://{tmp_path}", keep_message_for_consumer_error=keep
    )
    local.send_body(body)
    assert local.fetch(consumer, wait_timeout_seconds=1, max_files=None) == 0
    left = list(tmp_path.iterdir())
    local_disposition = (
        "kept" if any(".inflight-" in p.name for p in left)
        else "deleted" if not left else "none"
    )

    assert local_disposition == sqs_disposition == ("kept" if keep else "deleted")
    counters = sqs.metrics.as_dict()
    assert counters == local.metrics.as_dict()
    assert counters["received_messages"] == 1
    assert counters["parse_failed_messages"] == (failure == "parse")
    assert counters["consume_failed_messages"] == (failure == "consumer")
    assert counters["visibility_changed_messages"] == keep
    assert counters["deleted_messages"] == (not keep)
