"""Latency histograms on the metrics plane (queueing/base.py
LatencyHistogram) — the timing-distribution counterpart of the 14-counter
parity (reference AsyncSqsClientMetricsImpl.scala:25-77 /
RocksDB.scala:334-381 record get/put/commit timers; the rebuild records
queue fetch/delete/visibility and log add/compact/commit)."""

import os
import time

from spark_streaming_sql_s3_connector_spark.models import FileEntry
from spark_streaming_sql_s3_connector_spark.queueing.base import LatencyHistogram, timed
from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient
from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog


def test_histogram_percentiles_exact():
    h = LatencyHistogram()
    for v in range(1, 101):  # 1..100
        h.observe(float(v))
    s = h.snapshot()
    assert s["count"] == 100
    assert s["min"] == 1.0 and s["max"] == 100.0
    assert s["mean"] == 50.5
    assert s["p50"] == 50.0
    assert s["p95"] == 95.0
    assert s["p99"] == 99.0
    assert h.percentile(50) == 50.0


def test_histogram_empty_and_window_bound():
    h = LatencyHistogram(capacity=10)
    assert h.snapshot() == {
        "count": 0, "min": 0.0, "max": 0.0, "mean": 0.0,
        "p50": 0.0, "p95": 0.0, "p99": 0.0,
    }
    for v in range(100):
        h.observe(float(v))
    s = h.snapshot()
    assert s["count"] == 100  # lifetime count keeps going...
    assert s["min"] == 90.0  # ...but the window holds only the last 10
    assert s["max"] == 99.0
    # mean describes the window too — never inconsistent with min/max
    assert s["min"] <= s["mean"] <= s["max"]
    assert s["mean"] == 94.5


def test_timed_records_on_error_too():
    h = LatencyHistogram()
    try:
        with timed(h):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert h.count == 1


def test_queue_client_histograms_capture(tmp_path):
    q = LocalFileQueueClient(f"local://{tmp_path}/q")
    for i in range(5):
        q.send_file_event(f"s3://b/f{i}.parquet", int(time.time() * 1000))
    got = []
    q.fetch(lambda meta: got.append(meta) or True, wait_timeout_seconds=1, max_files=None)
    handles = [
        os.path.join(str(tmp_path / "q"), n)
        for n in os.listdir(str(tmp_path / "q"))
    ]
    q.delete_messages(handles)
    snap = q.metrics.histograms_snapshot()
    assert len(got) == 5
    assert snap["fetch_ms"]["count"] >= 1
    assert snap["delete_ms"]["count"] >= 1
    assert snap["fetch_ms"]["p99"] >= snap["fetch_ms"]["p50"] >= 0


def test_metadata_log_write_path_histograms(tmp_path):
    log = JsonMetadataLog(str(tmp_path / "log"))
    for b in range(30):
        log.add(b, [FileEntry(f"f{b}", 100, b)], timestamp=100)
    assert log.histograms["add_ms"].count == 30
    s = log.histograms["add_ms"].snapshot()
    assert s["max"] >= s["p95"] >= s["p50"] >= s["min"] >= 0


def test_streaming_e2e_captures_distributions(spark, tmp_path, sf_dir):
    """End-to-end: drive the connector stream and assert the admission
    controller's queue client captured fetch/commit timing."""
    from pyspark.sql import functions as F

    from spark_streaming_sql_s3_connector_spark.options import S3ConnectorSourceOptions
    from spark_streaming_sql_s3_connector_spark.plans.io import load_table
    from spark_streaming_sql_s3_connector_spark.sources.admission import AdmissionController

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "files")
    ev.limit(200).repartition(2).write.parquet(out)
    files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    q = LocalFileQueueClient(f"local://{tmp_path}/queue")
    for f in files:
        q.send_file_event(f, int(time.time() * 1000))
    opts = S3ConnectorSourceOptions.parse(
        {
            "spark.s3conn.fileFormat": "parquet",
            "spark.s3conn.queueUrl": f"local://{tmp_path}/queue",
            "spark.s3conn.queueType": "local",
            "spark.s3conn.queueFetchWaitTimeoutSeconds": "1",
        }
    )
    ctl = AdmissionController(opts, str(tmp_path / "meta"), queue_client=q)
    end = ctl.fetch_max_offset()
    assert end >= 0
    ctl.commit(end)
    ctl.close()
    snap = q.metrics.histograms_snapshot()
    assert snap["fetch_ms"]["count"] >= 1
    assert snap["commit_ms"]["count"] == 1
    assert ctl.metadata_log.histograms["add_ms"].count >= 1
