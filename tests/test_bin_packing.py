"""Small-file partition planning in the connector: many tiny files
coalesce into one read task per core (each Python task has a fixed
start-up cost), bytes beyond maxBytesPerPartition or files beyond
_MAX_FILES_PER_TASK per core open more tasks, big
files keep one task each and an un-stat-able path is planned at size 0
into an ordinary bin."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_streaming_sql_s3_connector_spark.sources.datasource import (
    _MAX_FILES_PER_TASK,
    _pack_file_slices,
)


@pytest.fixture()
def four_cores(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 4)


def _tiny_files(tmp_path, n):
    files = []
    for i in range(n):
        p = tmp_path / f"t{i}.bin"
        p.write_bytes(b"x" * 1000)
        files.append((str(p), i))
    return files


def test_pack_small_files_coalesces(tmp_path, four_cores):
    for n_files, n_bins in [
        (500, 4),  # one bin per core
        (3, 3),  # never more bins than files
        (1000, 8),  # past cores x _MAX_FILES_PER_TASK files, bins grow
    ]:
        (tmp_path / str(n_files)).mkdir()
        files = _tiny_files(tmp_path / str(n_files), n_files)
        bins = _pack_file_slices(files, 128 * 1024 * 1024)
        assert bins is not None
        # every file lands exactly once, in balanced bins
        assert sorted(f for b in bins for f in b) == sorted(files)
        assert len(bins) == n_bins
        sizes = [len(b) for b in bins]
        assert max(sizes) - min(sizes) <= 1
        assert max(sizes) <= _MAX_FILES_PER_TASK


def test_pack_splits_by_bytes_past_the_cap(tmp_path, four_cores):
    cap = 64 * 1024
    files = []
    for i, size in enumerate([100 * 1024] + [(3 + k % 20) * 1024 for k in range(200)]):
        p = tmp_path / f"m{i}.bin"
        p.write_bytes(b"x" * size)
        files.append((str(p), i))
    total = sum(os.path.getsize(p) for p, _ in files)
    assert total > 4 * cap
    bins = _pack_file_slices(files, cap)
    assert len(bins) >= math.ceil(total / cap)
    assert sorted(f for b in bins for f in b) == sorted(files)
    for b in bins:
        if sum(os.path.getsize(p) for p, _ in b) > cap:
            assert len(b) == 1 and os.path.getsize(b[0][0]) > cap


def test_pack_respects_max_bytes(tmp_path):
    # two files that each exceed half the cap can't share a bin
    big = tmp_path / "big.bin"
    big.write_bytes(b"x" * (6 * 1024 * 1024))
    files = [(str(big), 0), (str(big), 1), (str(big), 2)]
    bins = _pack_file_slices(files, 8 * 1024 * 1024)
    assert bins is not None and len(bins) == 3


def test_pack_unstatable_returns_none(tmp_path, monkeypatch):
    # an in-memory object store behind the log_fs seam: the same
    # not-found branch as a real bucket, without credential lookups
    from pyarrow.fs import _MockFileSystem

    import spark_streaming_sql_s3_connector_spark.state.log_fs as log_fs

    mock = _MockFileSystem()
    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", lambda uri: (mock, uri.split("://", 1)[1]))
    p = tmp_path / "real.bin"
    p.write_bytes(b"x")
    files = [(str(p), 0), ("s3://bucket/missing", 1)]
    bins = _pack_file_slices(files, 1 << 27)
    # the missing object is planned (at size 0), in exactly one bin
    assert sorted(f for b in bins for f in b) == sorted(files)
    assert sum(("s3://bucket/missing", 1) in b for b in bins) == 1


def test_pack_one_missing_file_keeps_the_bin_count(tmp_path, four_cores):
    # one deleted file in a 500-file trigger must not turn the trigger
    # into 500 one-file tasks: it reads as zero rows, so it packs at size 0
    files = _tiny_files(tmp_path, 500)
    os.remove(files[123][0])
    bins = _pack_file_slices(files, 128 * 1024 * 1024)
    assert len(bins) == 4
    assert sorted(f for b in bins for f in b) == sorted(files)


def test_streaming_many_small_files_few_partitions(spark, tmp_path):
    """End-to-end: 64 tiny files through the streaming source produce
    far fewer than 64 tasks and exactly the right rows."""
    import time

    from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient
    from spark_streaming_sql_s3_connector_spark.sources.datasource import register

    register(spark)
    data = tmp_path / "data"
    data.mkdir()
    qdir = str(tmp_path / "q")
    q = LocalFileQueueClient(f"local://{qdir}")
    for i in range(64):
        p = str(data / f"p{i}.parquet")
        pq.write_table(pa.table({"id": pa.array([i], type=pa.int64())}), p)
        q.send_file_event(p, int(time.time() * 1000))
    stream = (
        spark.readStream.format("s3-connector")
        .schema("id BIGINT")
        .option("spark.s3conn.fileFormat", "parquet")
        .option("spark.s3conn.queueUrl", f"local://{qdir}")
        .option("spark.s3conn.queueType", "local")
        .option("spark.s3conn.queueFetchWaitTimeoutSeconds", "1")
        .option("spark.s3conn.maxFilesPerTrigger", "-1")
        .option("spark.s3conn.metadataPath", str(tmp_path / "meta"))
        .load()
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("binpack_sink")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        got = sorted(r.id for r in spark.sql("SELECT id FROM binpack_sink").collect())
        assert got == list(range(64))
        # (task-count assertion lives in test_streaming_planner_packs —
        # progress events don't expose partition counts)
    finally:
        query.stop()


def test_batch_reader_packs_small_files(tmp_path, four_cores):
    from spark_streaming_sql_s3_connector_spark.sources.datasource import (
        S3ConnectorBatchReader,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    paths = []
    for i in range(128):
        p = str(tmp_path / f"b{i}.parquet")
        pq.write_table(pa.table({"id": pa.array([i], type=pa.int64())}), p)
        paths.append(p)
    reader = S3ConnectorBatchReader(
        StructType([StructField("id", LongType())]),
        {
            "spark.s3conn.fileFormat": "parquet",
            "spark.s3conn.queueUrl": "unused",
            "spark.s3conn.queueType": "local",
            "paths": ",".join(paths),
        },
    )
    parts = reader.partitions()
    assert len(parts) == 4  # one read task per core
    all_files = sorted(f[0] for part in parts for f in part.files)
    assert all_files == sorted(paths)
    # rows survive the packed read
    n = sum(1 for part in parts for rb in reader.read(part) for _ in range(rb.num_rows))
    assert n == 128


def test_batch_reader_reads_a_gc_trimmed_log(tmp_path):
    """A batch read over metadataPath plans the files of the RETAINED
    batches: once bounded GC has removed batch 0 (every stream older than
    maxFileAge) the log starts at batch 1, which is not a hole."""
    from spark_streaming_sql_s3_connector_spark.models import FileEntry
    from spark_streaming_sql_s3_connector_spark.sources.datasource import (
        S3ConnectorBatchReader,
    )
    from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog
    from pyspark.sql.types import LongType, StructField, StructType

    paths = []
    for i in range(3):
        p = str(tmp_path / f"g{i}.parquet")
        pq.write_table(pa.table({"id": pa.array([i], type=pa.int64())}), p)
        paths.append(p)
    horizon = [0]
    log = JsonMetadataLog(str(tmp_path / "meta" / "s3conn-log"), lambda: horizon[0])
    for bid, ts in enumerate([90, 500, 600]):
        horizon[0] = 400 if bid == 2 else 0
        assert log.add(bid, [FileEntry(paths[bid], ts, bid)], timestamp=ts)
    assert log.get(0) is None and log.get(1) is not None  # batch 0 GC'd
    reader = S3ConnectorBatchReader(
        StructType([StructField("id", LongType())]),
        {
            "spark.s3conn.fileFormat": "parquet",
            "spark.s3conn.queueUrl": "unused",
            "spark.s3conn.queueType": "local",
            "spark.s3conn.metadataPath": str(tmp_path / "meta"),
        },
    )
    parts = reader.partitions()
    assert sorted(f[0] for part in parts for f in part.files) == paths[1:]
    ids = sorted(v for part in parts for rb in reader.read(part) for v in rb.column(0).to_pylist())
    assert ids == [1, 2]


def test_streaming_planner_packs(tmp_path, four_cores):
    """Planner-level check: the streaming reader's partitions() output
    for 64 queued tiny files is one partition per core."""
    import time

    from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient
    from spark_streaming_sql_s3_connector_spark.sources.datasource import (
        S3ConnectorStreamReader,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    data = tmp_path / "d"
    data.mkdir()
    qdir = str(tmp_path / "q")
    q = LocalFileQueueClient(f"local://{qdir}")
    for i in range(64):
        p = str(data / f"s{i}.parquet")
        pq.write_table(pa.table({"id": pa.array([i], type=pa.int64())}), p)
        q.send_file_event(p, int(time.time() * 1000))
    reader = S3ConnectorStreamReader(
        StructType([StructField("id", LongType())]),
        {
            "spark.s3conn.fileFormat": "parquet",
            "spark.s3conn.queueUrl": f"local://{qdir}",
            "spark.s3conn.queueType": "local",
            "spark.s3conn.queueFetchWaitTimeoutSeconds": "1",
            "spark.s3conn.maxFilesPerTrigger": "-1",
            "spark.s3conn.metadataPath": str(tmp_path / "meta"),
        },
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        n_files = sum(len(p.files) for p in parts)
        assert n_files == 64
        assert len(parts) == 4  # one read task per core
    finally:
        reader.stop()
