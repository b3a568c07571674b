"""Streaming exact-dedup laws.

- Incremental result over N batches == batch `dedup_exact` keepers on
  the union corpus (exact set equality of keeper ids).
- Replaying a batch converges (idempotent state).
- A leftover ``_bloom/`` dir (the shard bitmaps older versions kept
  beside the index) changes NOTHING in the results: nothing reads it.
- Cross-batch duplicates are flagged `vs_history`, within-batch ones
  `within_batch`; NULL-text rows pass through as new.
- Compaction preserves the unique set and replays keep working on the
  compacted base.
"""

import json
import os

from spark_streaming_sql_s3_connector_spark.operators.bloom import bloom_params
from spark_streaming_sql_s3_connector_spark.operators.dedup import dedup_exact
from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
    compact_index,
    process_batch,
    read_dup_ids,
    read_unique_ids,
)


def _mk_batches(spark):
    # batch 0: ids 0-9 unique texts, with 11/12 duplicating 1/2 in-batch
    b0 = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(10)]
        + [(11, "text number 1"), (12, "text number 2")],
        "doc_id bigint, text string",
    )
    # batch 1: 20-24 new, 25 duplicates batch-0's text 3, 26 dups text 4
    b1 = spark.createDataFrame(
        [(20 + i, f"fresh text {i}") for i in range(5)]
        + [(25, "text number 3"), (26, "text number 4")],
        "doc_id bigint, text string",
    )
    # batch 2: one new, one dup of batch-1 text, one dup of batch-0 text
    b2 = spark.createDataFrame(
        [(30, "brand new"), (31, "fresh text 0"), (32, "text number 0")],
        "doc_id bigint, text string",
    )
    return [b0, b1, b2]


def _union(spark, batches):
    u = batches[0]
    for b in batches[1:]:
        u = u.unionByName(b)
    return u


def test_incremental_equals_batch_dedup(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    for i, b in enumerate(batches):
        process_batch(b, i, idx)
    got = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    want = sorted(
        r.keeper_id
        for r in dedup_exact(_union(spark, batches), "text", "doc_id").collect()
    )
    assert got == want


def test_replay_converges(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    for i, b in enumerate(batches):
        process_batch(b, i, idx)
    before = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    process_batch(batches[1], 1, idx)  # replay
    after = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    assert before == after
    dups = read_dup_ids(spark, idx)
    assert dups.count() == dups.dropDuplicates(["doc_id"]).count()


def forge_stale_bloom(idx):
    """Plant the ``_bloom/`` dir older versions of the screens kept
    beside an index: 64 all-zero shard bitmaps, sized for their default
    10⁶-key geometry, and the ``_geometry.json`` naming that geometry.
    A screen that still read them would call every key new. Returns the
    planted files' bytes by name."""
    m, k = bloom_params(1_000_000 // 64 + 1, 0.01)
    root = os.path.join(idx, "_bloom")
    os.makedirs(root, exist_ok=True)
    for s in range(64):
        with open(os.path.join(root, f"shard={s}.bin"), "wb") as f:
            f.write(bytes((m + 7) // 8))
    with open(os.path.join(root, "_geometry.json"), "w") as f:
        json.dump({"m": m, "k": k}, f)
    return stale_bloom_files(idx)


def stale_bloom_files(idx):
    root = os.path.join(idx, "_bloom")
    out = {}
    for e in sorted(os.listdir(root)):
        with open(os.path.join(root, e), "rb") as f:
            out[e] = f.read()
    return out


def test_bloom_is_acceleration_only(spark, tmp_path):
    """A leftover ``_bloom/`` dir is ignored: an index that finds one
    before every batch gives the same unique ids and dup verdicts as a
    clean index, and the planted files stay as they were."""
    clean = str(tmp_path / "clean")
    stale = str(tmp_path / "stale")
    for i, b in enumerate(_mk_batches(spark)):
        process_batch(b, i, clean)
        planted = forge_stale_bloom(stale)
        process_batch(b, i, stale)
        assert stale_bloom_files(stale) == planted
    assert not os.path.exists(os.path.join(clean, "_bloom"))
    for read in (read_unique_ids, read_dup_ids):
        a = sorted(tuple(r) for r in read(spark, clean).collect())
        b = sorted(tuple(r) for r in read(spark, stale).collect())
        assert a == b


def test_bitmap_loss_mid_stream_rebuilds_not_resets(spark, tmp_path):
    """A stale side file appearing mid-stream must not change a verdict:
    all-zero bitmaps planted after batch 0 would call every key new, so
    a screen that read them would let batch 2's duplicate of a batch-0
    text through as unique."""
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    process_batch(batches[0], 0, idx)
    forge_stale_bloom(idx)
    process_batch(batches[1], 1, idx)
    # batch 2's id 32 duplicates batch-0's "text number 0"
    process_batch(batches[2], 2, idx)
    got = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    want = sorted(
        r.keeper_id
        for r in dedup_exact(_union(spark, batches), "text", "doc_id").collect()
    )
    assert got == want
    assert 32 not in got  # the cross-batch duplicate was caught


def test_dup_kinds_and_nulls(spark, tmp_path):
    idx = str(tmp_path / "idx")
    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, None)], "doc_id bigint, text string"
    )
    b1 = spark.createDataFrame(
        [(10, "alpha"), (11, "beta"), (12, None)], "doc_id bigint, text string"
    )
    process_batch(b0, 0, idx)
    process_batch(b1, 1, idx)
    dups = {r.doc_id: r.dup_kind for r in read_dup_ids(spark, idx).collect()}
    assert dups == {2: "within_batch", 10: "vs_history"}
    uniq = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    assert uniq == [1, 3, 11, 12]  # nulls always pass through


def test_compaction_preserves_and_continues(spark, tmp_path):
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    process_batch(batches[0], 0, idx)
    process_batch(batches[1], 1, idx)
    before = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    v = compact_index(spark, idx)
    assert v == 1
    assert sorted(r.doc_id for r in read_unique_ids(spark, idx).collect()) == before
    # dedup continues to work against the compacted base
    process_batch(batches[2], 2, idx)
    got = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    want = sorted(
        r.keeper_id
        for r in dedup_exact(_union(spark, batches), "text", "doc_id").collect()
    )
    assert got == want
    # batch-2 delta folds into v2; with nothing pending the next call
    # is a no-op
    assert compact_index(spark, idx) == 2
    assert compact_index(spark, idx) is None
    assert sorted(r.doc_id for r in read_unique_ids(spark, idx).collect()) == want

def test_compaction_upto_batch_keeps_replay_verdicts(spark, tmp_path):
    """The ADVICE-flagged race: batch 1 crashed mid-commit and awaits
    replay while maintenance compacts. With upto_batch=1 the compactor
    folds only batch 0, so the replay still excludes batch 1's own keys
    and re-derives IDENTICAL dup verdicts. (An unbounded compact would
    fold batch 1's keys into the base and skew its verdicts to
    vs_history.)"""
    idx = str(tmp_path / "idx")
    batches = _mk_batches(spark)
    process_batch(batches[0], 0, idx)
    process_batch(batches[1], 1, idx)
    verdicts_before = {
        r.doc_id: r.dup_kind for r in read_dup_ids(spark, idx).collect()
    }
    # maintenance runs while batch 1 is (conceptually) uncommitted
    v = compact_index(spark, idx, upto_batch=1)
    assert v == 0  # only batch 0 folded; batch 1's delta untouched
    assert os.path.isdir(os.path.join(idx, "_new", "batch=1"))
    process_batch(batches[1], 1, idx)  # replay
    verdicts_after = {
        r.doc_id: r.dup_kind for r in read_dup_ids(spark, idx).collect()
    }
    assert verdicts_after == verdicts_before
    uniq = sorted(r.doc_id for r in read_unique_ids(spark, idx).collect())
    want = sorted(
        r.keeper_id
        for r in dedup_exact(
            _union(spark, batches[:2]), "text", "doc_id"
        ).collect()
    )
    assert uniq == want
