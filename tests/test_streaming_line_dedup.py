"""Streaming keep-first line dedup (streaming/line_dedup.py): the
incremental result must equal the batch operator on the union, replay
must converge, and a leftover ``_bloom/`` dir (the shard bitmaps older
versions kept beside the index) must change nothing."""

import os

from spark_streaming_sql_s3_connector_spark.operators.web import (
    dedup_lines_keep_first,
)
from spark_streaming_sql_s3_connector_spark.streaming.line_dedup import (
    process_batch,
    read_deduped_docs,
)
from tests.test_streaming_exact_dedup import forge_stale_bloom, stale_bloom_files


def _mk_batches(spark):
    """Range-ordered batches (ids ascend across batches) so incremental
    keep-first coincides with the batch operator's (doc, pos) order."""
    b0 = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha"),   # in-doc repeat drops
            (2, "beta\ngamma"),          # beta seen in doc 1
            (3, None),                   # null text passes through empty
        ],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [
            (10, "gamma\ndelta"),        # gamma historical -> drops
            (11, "  beta  \nepsilon"),   # trims, beta historical
        ],
        "doc_id bigint, text string",
    )
    b2 = spark.createDataFrame(
        [(20, "alpha\nbeta\ngamma\ndelta\nepsilon")],  # fully historical
        "doc_id bigint, text string",
    )
    return [b0, b1, b2]


def _union(batches):
    u = batches[0]
    for b in batches[1:]:
        u = u.unionByName(b)
    return u


def test_incremental_equals_batch_keep_first(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    for i, b in enumerate(batches):
        process_batch(b, i, idx)
    docs = read_deduped_docs(spark, idx)
    assert docs.columns == ["doc_id", "deduped_text", "n_kept_lines"]
    got = {r.doc_id: (r.deduped_text, r.n_kept_lines) for r in docs.collect()}
    want = {
        r.doc_id: (r.deduped_text, r.n_kept_lines)
        for r in dedup_lines_keep_first(
            _union(batches), "text", "doc_id"
        ).collect()
    }
    assert got == want
    assert got[1] == ("alpha\nbeta", 2)
    assert got[3] == ("", 0)      # null text → empty passthrough row
    assert got[20] == ("", 0)     # fully-deduped doc still emits a row


def test_replay_converges(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    for i, b in enumerate(batches):
        process_batch(b, i, idx)
    before = sorted(
        (r.doc_id, r.deduped_text)
        for r in read_deduped_docs(spark, idx).collect()
    )
    process_batch(batches[1], 1, idx)  # replay
    after = sorted(
        (r.doc_id, r.deduped_text)
        for r in read_deduped_docs(spark, idx).collect()
    )
    assert before == after


def test_bloom_is_acceleration_only(spark, tmp_path):
    """A stale ``_bloom/`` dir planted before every batch is ignored:
    the ``_docs`` rows equal a clean index's and the planted files
    stay as they were."""
    clean, stale = str(tmp_path / "clean"), str(tmp_path / "stale")
    for i, b in enumerate(_mk_batches(spark)):
        process_batch(b, i, clean)
        planted = forge_stale_bloom(stale)
        process_batch(b, i, stale)
        assert stale_bloom_files(stale) == planted
    assert not os.path.exists(os.path.join(clean, "_bloom"))
    a = sorted(tuple(r) for r in read_deduped_docs(spark, clean).collect())
    b = sorted(tuple(r) for r in read_deduped_docs(spark, stale).collect())
    assert a == b


def test_compaction_preserves_and_continues(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.line_dedup import (
        compact_index,
    )

    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    process_batch(batches[0], 0, idx)
    process_batch(batches[1], 1, idx)
    # default derives the safe guard: the newest delta (batch 1 — the
    # only one a restart could replay) is NOT folded
    assert compact_index(spark, idx) == 0
    # dedup continues against the compacted base: batch 2 is fully
    # historical and must come back empty
    process_batch(batches[2], 2, idx)
    got = {
        r.doc_id: (r.deduped_text, r.n_kept_lines)
        for r in read_deduped_docs(spark, idx).collect()
    }
    want = {
        r.doc_id: (r.deduped_text, r.n_kept_lines)
        for r in dedup_lines_keep_first(
            _union(batches), "text", "doc_id"
        ).collect()
    }
    assert got == want
    # explicit upto_batch after a clean stop folds everything
    assert compact_index(spark, idx, upto_batch=3) == 2
    assert compact_index(spark, idx) is None
