"""Ingest scale evidence: does per-trigger cost stay O(files-per-trigger)?

The bench's many-small-files harness runs ONE file-count point (1,000
files, one trigger). This tool runs the same A/B (s3-connector
queue-driven vs stock listing-driven file stream) at 1,000 and 10,000
files — SAME total bytes — with maxFilesPerTrigger=1000, so the 10×
point processes 10 consecutive triggers against a growing admission
history / metadata log / seen-file index. Two claims under test:

1. total ingest: the connector stays faster than the listing source at
   both points (the no-LIST design thesis);
2. per-trigger wall for the CONNECTOR is flat across the 10 triggers of
   the 10× point — admission, metadata-log append (one batch file
   per add, ≤ MAX_BATCH_TO_REMOVE_PER_ADD batches GC'd per add,
   state/metadata_log.py ``_clean_log``), and seen-file checks are
   O(files-per-trigger), not O(history). The listing source's
   per-trigger cost grows with directory size instead (it re-LISTs).

Run: python tools/ingest_scale.py  → one JSON line per point + a
per-trigger breakdown. Results recorded in SCALING.md (r8).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

TOTAL_ROWS = 200_000
PER_TRIGGER = 1000


def _write_files(data_dir: str, n_files: int) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows_per = TOTAL_ROWS // n_files
    os.makedirs(data_dir)
    for i in range(n_files):
        base = i * rows_per
        t = pa.table(
            {
                "id": pa.array(range(base, base + rows_per), type=pa.int64()),
                "v": pa.array(
                    [((base + j) % 97) / 7.0 for j in range(rows_per)],
                    type=pa.float64(),
                ),
            }
        )
        pq.write_table(t, os.path.join(data_dir, f"part-{i:06d}.parquet"))
    return sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )


def _trigger_durations(query) -> list[float]:
    out = []
    for p in query.recentProgress:
        if p and p.get("numInputRows", 0) > 0:
            out.append(round(p["durationMs"]["triggerExecution"] / 1000.0, 3))
    return out


def run_point(spark, n_files: int) -> dict:
    from pyspark.sql import functions as F

    from spark_streaming_sql_s3_connector_spark.queueing.local import (
        LocalFileQueueClient,
    )

    work = tempfile.mkdtemp(prefix=f"ingest-scale-{n_files}-")
    out: dict = {"n_files": n_files, "total_rows": TOTAL_ROWS}
    try:
        files = _write_files(os.path.join(work, "files"), n_files)
        schema = "id BIGINT, v DOUBLE"

        qdir = os.path.join(work, "queue")
        q = LocalFileQueueClient(f"local://{qdir}")
        stream = (
            spark.readStream.format("s3-connector")
            .schema(schema)
            .option("spark.s3conn.fileFormat", "parquet")
            .option("spark.s3conn.queueUrl", f"local://{qdir}")
            .option("spark.s3conn.queueType", "local")
            .option("spark.s3conn.queueFetchWaitTimeoutSeconds", "1")
            .option("spark.s3conn.maxFilesPerTrigger", str(PER_TRIGGER))
            .option("spark.s3conn.metadataPath", os.path.join(work, "meta"))
            .load()
        )
        query = (
            stream.agg(F.count("*").alias("cnt"), F.sum("id").alias("sid"))
            .writeStream.format("memory")
            .queryName(f"scale_conn_{n_files}")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "ckpt1"))
            .start()
        )
        try:
            query.processAllAvailable()
            now = int(time.time() * 1000)
            for f in files:
                q.send_file_event(f, now)
            t0 = time.time()
            query.processAllAvailable()
            out["connector_sec"] = round(time.time() - t0, 3)
            out["connector_triggers"] = _trigger_durations(query)
            n1 = (
                spark.sql(f"SELECT SUM(cnt) c FROM scale_conn_{n_files}")
                .collect()[0]
                .c
            )
        finally:
            query.stop()

        watch = os.path.join(work, "watched")
        os.makedirs(watch)
        stream2 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(PER_TRIGGER))
            .parquet(watch)
        )
        query2 = (
            stream2.agg(F.count("*").alias("cnt"), F.sum("id").alias("sid"))
            .writeStream.format("memory")
            .queryName(f"scale_fss_{n_files}")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(work, "ckpt2"))
            .start()
        )
        try:
            query2.processAllAvailable()
            for f in files:
                os.rename(f, os.path.join(watch, os.path.basename(f)))
            t0 = time.time()
            query2.processAllAvailable()
            out["file_source_sec"] = round(time.time() - t0, 3)
            out["file_source_triggers"] = _trigger_durations(query2)
            n2 = (
                spark.sql(f"SELECT SUM(cnt) c FROM scale_fss_{n_files}")
                .collect()[0]
                .c
            )
        finally:
            query2.stop()
        out["row_mismatch"] = int(abs((n1 or 0) - (n2 or 0)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ingest-scale")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults

    apply_engine_defaults(spark)  # discovery threshold, zip-free worker daemon
    from spark_streaming_sql_s3_connector_spark.sources.datasource import register

    register(spark)
    # worker warmup (same rationale as bench.py)
    warmdir = tempfile.mkdtemp(prefix="ingest-scale-warm-")
    try:
        wfiles = _write_files(os.path.join(warmdir, "f"), 8)
        (
            spark.read.format("s3-connector")
            .schema("id BIGINT, v DOUBLE")
            .option("spark.s3conn.fileFormat", "parquet")
            .option("spark.s3conn.queueUrl", "warmup")
            .option("spark.s3conn.queueType", "local")
            .option("paths", ",".join(wfiles))
            .load()
            .count()
        )
    finally:
        shutil.rmtree(warmdir, ignore_errors=True)

    for n_files in (1000, 10_000):
        print(json.dumps(run_point(spark, n_files)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
