"""Incremental sequence packing laws (streaming/packing_state.py).

- Incremental manifest over N range-ordered batches == pack_concat on
  the union corpus (exact row equality — offsets, seq ids, everything).
- Replaying a batch converges (overwrite-by-batch-dir + cursor reads
  exclude the in-flight batch).
- Compaction mid-stream preserves the manifest and later batches keep
  extending it; the cursor base folds to ≤ num_shards rows.
- The law holds through the real connector source with one file per
  trigger and a duplicate redelivery.
"""

import json
import os

from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.packing import pack_concat
from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
    compact_pack_state,
    pack_batch_incremental,
    read_packed_manifest,
    streaming_pack,
)

CAP = 50
SHARDS = 4


def _rows():
    # variable lengths incl. empty text (0 tokens) and boundary
    # straddlers; ids dense so range batches partition them in order
    out = []
    for i in range(30):
        text = "" if i == 7 else ("tok " * (3 + (i * 11) % 40)).strip()
        out.append((i, text))
    return out


def _batches(spark, rows, n=3):
    per = (len(rows) + n - 1) // n
    return [
        spark.createDataFrame(rows[k * per : (k + 1) * per], "doc_id bigint, text string")
        for k in range(n)
    ]


def _want(spark, rows):
    union = spark.createDataFrame(rows, "doc_id bigint, text string")
    return sorted(
        tuple(r)
        for r in pack_concat(
            union, "doc_id", CAP, text_col="text", num_shards=SHARDS
        ).collect()
    )


def _got(spark, pdir):
    return sorted(tuple(r) for r in read_packed_manifest(spark, pdir).collect())


def test_incremental_equals_batch_pack(spark, tmp_path):
    pdir = str(tmp_path / "pack")
    rows = _rows()
    for i, b in enumerate(_batches(spark, rows)):
        pack_batch_incremental(
            b, i, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
        )
    assert _got(spark, pdir) == _want(spark, rows)


def test_replay_converges(spark, tmp_path):
    pdir = str(tmp_path / "pack")
    rows = _rows()
    bs = _batches(spark, rows)
    for i, b in enumerate(bs):
        pack_batch_incremental(
            b, i, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
        )
    pack_batch_incremental(  # replay batch 1
        bs[1], 1, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
    )
    assert _got(spark, pdir) == _want(spark, rows)


def test_compaction_preserves_and_continues(spark, tmp_path):
    pdir = str(tmp_path / "pack")
    rows = _rows()
    bs = _batches(spark, rows)
    pack_batch_incremental(
        bs[0], 0, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
    )
    pack_batch_incremental(
        bs[1], 1, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
    )
    compact_pack_state(spark, pdir)
    assert not os.path.isdir(os.path.join(pdir, "pack", "_deltas", "batch=0"))
    cursors = os.path.join(pdir, "pack", "base", "v=1", "plane=cursors")
    assert spark.read.parquet(cursors).count() <= SHARDS
    pack_batch_incremental(
        bs[2], 2, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
    )
    assert _got(spark, pdir) == _want(spark, rows)


def test_streaming_pack_through_connector(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.queueing.local import (
        LocalFileQueueClient,
    )
    from spark_streaming_sql_s3_connector_spark.sources.datasource import register

    register(spark)
    rows = _rows()
    data = tmp_path / "data"
    os.makedirs(data)
    paths = []
    for f in range(3):
        chunk = rows[f * 10 : (f + 1) * 10]
        p = str(data / f"docs_{f}.json")
        with open(p, "w") as fh:
            for doc_id, text in chunk:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        paths.append(p)
    client = LocalFileQueueClient(f"local://{tmp_path}/queue")
    for p in paths:
        client.send_file_event(p, 1_700_000_000_000)
    client.send_file_event(paths[0], 1_700_000_000_000)  # redelivery
    stream = (
        spark.readStream.format("s3-connector")
        .schema("doc_id bigint, text string")
        .option("spark.s3conn.fileFormat", "json")
        .option("spark.s3conn.queueUrl", f"local://{tmp_path}/queue")
        .option("spark.s3conn.queueType", "local")
        .option("spark.s3conn.queueFetchWaitTimeoutSeconds", "1")
        .option("spark.s3conn.metadataPath", str(tmp_path / "meta"))
        .option("spark.s3conn.maxFilesPerTrigger", "1")
        .load()
    )
    pdir = str(tmp_path / "pack")
    q = streaming_pack(
        stream, pdir, str(tmp_path / "ckpt"), "doc_id", CAP,
        text_col="text", num_shards=SHARDS,
    )
    deadline = 120
    import time

    start = time.time()
    while time.time() - start < deadline:
        try:
            if _got(spark, pdir) == _want(spark, rows):
                break
        except Exception:
            pass
        time.sleep(1)
    q.stop()
    q.awaitTermination(30)
    assert _got(spark, pdir) == _want(spark, rows)


def test_zero_survivor_batch_keeps_state_readable(spark, tmp_path):
    """A micro-batch where every doc was screened out writes a
    _SUCCESS-only pack dir; the persisted manifest schema (ADVICE r10)
    must keep reads and compaction working."""
    pdir = str(tmp_path / "pack")
    rows = _rows()
    bs = _batches(spark, rows)
    pack_batch_incremental(
        bs[0], 0, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
    )
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    pack_batch_incremental(
        empty, 1, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
    )
    for i, b in enumerate(bs[1:], start=2):
        pack_batch_incremental(
            b, i, pdir, "doc_id", CAP, text_col="text", num_shards=SHARDS
        )
    assert _got(spark, pdir) == _want(spark, rows)
    compact_pack_state(spark, pdir)  # the _PACK fold must survive too
    assert _got(spark, pdir) == _want(spark, rows)
