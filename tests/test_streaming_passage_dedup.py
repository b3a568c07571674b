"""Streaming keep-first passage dedup laws
(streaming/passage_dedup.py).

- Incremental over doc-id-range-ordered batches == the batch
  `passage_dedup_keep_first` on the union corpus (exact text equality
  per doc).
- Replaying a batch converges (idempotent state).
- A leftover ``_bloom/`` dir (the shard bitmaps older versions kept
  beside the index) changes NOTHING: nothing reads it.
- Compaction preserves outputs and replays keep working.
"""

import os

from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.dedup import (
    passage_dedup_keep_first,
)
from spark_streaming_sql_s3_connector_spark.streaming.passage_dedup import (
    compact_index,
    process_batch,
    read_deduped_docs,
)
from tests.test_streaming_exact_dedup import forge_stale_bloom, stale_bloom_files

K = 5


def _mk_batches(spark):
    shared = "the quick brown fox jumps over the lazy dog"
    b0 = spark.createDataFrame(
        [
            (0, f"{shared} alpha beta"),
            (1, "one two three four five six seven"),
            (2, "unique short"),
        ],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [
            (10, f"prefix words {shared} suffix words here"),  # dup passage
            (11, "one two three four five six seven"),         # exact copy of 1
            (12, "totally fresh content with enough tokens"),
        ],
        "doc_id bigint, text string",
    )
    b2 = spark.createDataFrame(
        [
            (20, "totally fresh content with enough tokens and more"),  # dup span
            (21, ""),                                                   # blank
            (22, "tail doc no repeats at all honest"),
        ],
        "doc_id bigint, text string",
    )
    return [b0, b1, b2]


def _union(spark, batches):
    u = batches[0]
    for b in batches[1:]:
        u = u.unionByName(b)
    return u


def _batch_expected(spark, batches):
    return {
        r.doc_id: (r.deduped_text, r.n_kept_tokens)
        for r in passage_dedup_keep_first(
            _union(spark, batches), "text", "doc_id", k=K
        ).collect()
    }


def _streamed(spark, idx):
    return {
        r.doc_id: (r.deduped_text, r.n_kept_tokens)
        for r in read_deduped_docs(spark, idx).collect()
    }


def test_incremental_equals_batch(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    for i, b in enumerate(batches):
        process_batch(b, i, idx, k=K)
    cols = read_deduped_docs(spark, idx).columns
    assert cols == ["doc_id", "deduped_text", "n_kept_tokens"]
    assert _streamed(spark, idx) == _batch_expected(spark, batches)


def test_replay_converges(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    process_batch(batches[0], 0, idx, k=K)
    process_batch(batches[1], 1, idx, k=K)
    before = _streamed(spark, idx)
    process_batch(batches[1], 1, idx, k=K)  # replay
    assert _streamed(spark, idx) == before
    process_batch(batches[2], 2, idx, k=K)
    assert _streamed(spark, idx) == _batch_expected(spark, batches)


def test_bloom_is_acceleration_only(spark, tmp_path):
    """A stale ``_bloom/`` dir planted before every batch is ignored:
    the ``_docs`` rows equal a clean index's (and the batch operator's)
    and the planted files stay as they were."""
    clean, stale = str(tmp_path / "clean"), str(tmp_path / "stale")
    batches = _mk_batches(spark)
    for i, b in enumerate(batches):
        process_batch(b, i, clean, k=K)
        planted = forge_stale_bloom(stale)
        process_batch(b, i, stale, k=K)
        assert stale_bloom_files(stale) == planted
    assert not os.path.exists(os.path.join(clean, "_bloom"))
    a = sorted(tuple(r) for r in read_deduped_docs(spark, clean).collect())
    b = sorted(tuple(r) for r in read_deduped_docs(spark, stale).collect())
    assert a == b
    assert _streamed(spark, stale) == _batch_expected(spark, batches)


def test_compaction_preserves_and_continues(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    process_batch(batches[0], 0, idx, k=K)
    process_batch(batches[1], 1, idx, k=K)
    # default upto: folds strictly below the newest delta (replay-safe)
    v = compact_index(spark, idx)
    assert v == 0
    assert os.path.isdir(os.path.join(idx, "_new", "batch=1"))
    process_batch(batches[2], 2, idx, k=K)
    assert _streamed(spark, idx) == _batch_expected(spark, batches)
    # clean-stop fold of everything, then outputs still read identically
    assert compact_index(spark, idx, upto_batch=3) == 2
    assert _streamed(spark, idx) == _batch_expected(spark, batches)


def test_streaming_passage_dedup_through_connector(spark, tmp_path):
    """The composition law: drive streaming_passage_dedup from
    format("s3-connector") with range-ordered files, re-deliver a
    duplicate event (connector exactly-once on top of the
    overwrite-by-batch replay law), and the per-doc outputs equal the
    batch operator on the union corpus."""
    import glob
    import time

    from spark_streaming_sql_s3_connector_spark.queueing.local import (
        LocalFileQueueClient,
    )
    from spark_streaming_sql_s3_connector_spark.sources.datasource import register
    from spark_streaming_sql_s3_connector_spark.streaming.passage_dedup import (
        streaming_passage_dedup,
    )

    register(spark)
    batches = _mk_batches(spark)
    files = []
    for i, b in enumerate(batches):
        d = str(tmp_path / f"docs_{i}.dir")
        b.coalesce(1).write.parquet(d)
        files.append(glob.glob(d + "/part-*.parquet")[0])
    queue = LocalFileQueueClient(f"local://{tmp_path}/queue")
    for p in files:
        queue.send_file_event(p, int(time.time() * 1000))
    reader = (
        spark.readStream.format("s3-connector")
        .schema("doc_id bigint, text string")
        .option("spark.s3conn.fileFormat", "parquet")
        .option("spark.s3conn.queueUrl", f"local://{tmp_path}/queue")
        .option("spark.s3conn.queueType", "local")
        .option("spark.s3conn.queueFetchWaitTimeoutSeconds", "1")
        .option("spark.s3conn.metadataPath", str(tmp_path / "meta"))
        .option("spark.s3conn.maxFilesPerTrigger", "1")
    )
    idx = str(tmp_path / "idx")
    q = streaming_passage_dedup(
        reader.load(), idx, str(tmp_path / "ckpt"), k=K,
    )
    try:
        q.processAllAvailable()
        # duplicate event re-delivery: connector must drop it
        queue.send_file_event(files[0], int(time.time() * 1000))
        q.processAllAvailable()
    finally:
        q.stop()
    assert _streamed(spark, idx) == _batch_expected(spark, batches)
