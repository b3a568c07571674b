"""Batch replay (reprocess) through the REAL stream source — the port of
the reference's largest IT scenario (S3ConnectorSourceItSuite.scala:
460-636): dry-run lists and aborts, in-action re-delivers logged batches
under NEW batch ids with no queue consumption, the lock file guards
double-runs, and the sink sees every replayed row again."""

import os
import time

import pytest
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.plans.io import load_table
from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient
from spark_streaming_sql_s3_connector_spark.sources.datasource import register


def _stream(spark, tmp_path, schema, extra=None):
    r = (
        spark.readStream.format("s3-connector")
        .schema(schema)
        .option("spark.s3conn.fileFormat", "parquet")
        .option("spark.s3conn.queueUrl", f"local://{tmp_path}/queue")
        .option("spark.s3conn.queueType", "local")
        .option("spark.s3conn.queueFetchWaitTimeoutSeconds", "1")
        .option("spark.s3conn.metadataPath", str(tmp_path / "meta"))
    )
    for k, v in (extra or {}).items():
        r = r.option(k, v)
    return r.load()


def test_reprocess_stream_end_to_end(spark, tmp_path, sf_dir):
    register(spark)
    ev = load_table(spark, sf_dir, "events").limit(300)
    data_dir = str(tmp_path / "files")
    ev.repartition(3).write.parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".parquet")
    )
    q = LocalFileQueueClient(f"local://{tmp_path}/queue")
    for f in files:
        q.send_file_event(f, int(time.time() * 1000))

    # phase 1: normal ingest
    s1 = _stream(spark, tmp_path, ev.schema)
    q1 = (
        s1.groupBy().agg(F.count("*").alias("cnt"))
        .writeStream.format("memory")
        .queryName("rp1")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    q1.processAllAvailable()
    n1 = spark.sql("SELECT cnt FROM rp1").collect()[0].cnt
    q1.stop()
    assert n1 == 300

    re_opts = {
        "spark.s3conn.reprocessStartBatchId": "0",
        "spark.s3conn.reprocessEndBatchId": "0",
    }

    # phase 2: dry-run lists the batch's files and aborts. The source is
    # built inside the Python data-source worker, so the exception
    # surfaces through the query, not at .start()
    qd = (
        _stream(spark, tmp_path, ev.schema, re_opts)
        .writeStream.format("memory")
        .queryName("rp_dry")
        .option("checkpointLocation", str(tmp_path / "ck_dry"))
        .start()
    )
    with pytest.raises(Exception) as ei:
        qd.processAllAvailable()
    assert "ReprocessDryRunComplete" in str(ei.value) and "3 files" in str(ei.value)
    qd.stop()

    # phase 3: in-action replay — fresh checkpoint, same metadataPath;
    # all 300 rows re-delivered without any new queue messages
    s2 = _stream(
        spark, tmp_path, ev.schema, {**re_opts, "spark.s3conn.reprocessDryRun": "false"}
    )
    q2 = (
        s2.groupBy().agg(F.count("*").alias("cnt"))
        .writeStream.format("memory")
        .queryName("rp2")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q2.processAllAvailable()
    n2 = spark.sql("SELECT cnt FROM rp2").collect()[0].cnt
    q2.stop()
    assert n2 == 300

    # replay appended a NEW batch id (reference asserts id growth)
    from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog

    log = JsonMetadataLog(str(tmp_path / "meta" / "s3conn-log"))
    assert log.get_latest_batch_id() >= 1

    # phase 4: lock file blocks a concurrent second replay
    q3 = (
        _stream(
            spark, tmp_path, ev.schema, {**re_opts, "spark.s3conn.reprocessDryRun": "false"}
        )
        .writeStream.format("memory")
        .queryName("rp3")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    with pytest.raises(Exception) as ei:
        q3.processAllAvailable()
    assert "ReprocessLockExists" in str(ei.value)
    q3.stop()
