"""Streaming near-dup index (streaming/dedup_index.py): incremental
candidates must equal the batch operator's candidates on the union
corpus; replay and compaction must not change results."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.dedup import (
    minhash_near_dup_pairs,
)
from spark_streaming_sql_s3_connector_spark.streaming import dedup_index as DI


@pytest.fixture(scope="module")
def docs(spark):
    import importlib

    io_mod = importlib.import_module("spark_streaming_sql_s3_connector_spark.plans.io")
    return (
        io_mod.load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .persist()
    )


def _land(df, data_dir, name):
    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, os.path.join(data_dir, f"{name}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def _run(spark, data, index, ckpt):
    stream = spark.readStream.schema("doc_id long, text string").parquet(data)
    q = DI.streaming_near_dup_candidates(stream, index, ckpt)
    q.processAllAvailable()
    q.stop()


def test_incremental_equals_batch_on_union_corpus(spark, tmp_path, docs):
    data, index, ckpt = (str(tmp_path / d) for d in ("data", "index", "ckpt"))
    os.makedirs(data)

    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    _land(first, data, "b0")
    _run(spark, data, index, ckpt)
    _land(second, data, "b1")
    _run(spark, data, index, ckpt)

    got = _pairs(DI.read_candidate_pairs(spark, index))
    expect = _pairs(
        minhash_near_dup_pairs(docs, "text", "doc_id", verify=False)
    )
    assert got == expect
    assert len(got) > 0  # the sf0.001 corpus has seeded near-dups

    # compaction folds the band deltas without changing the answer
    assert DI.compact_index(spark, index) is not None
    assert DI._band_delta_ids(index) == []
    assert _pairs(DI.read_candidate_pairs(spark, index)) == expect


def test_replayed_batch_converges(spark, tmp_path, docs):
    data, index, ckpt = (str(tmp_path / d) for d in ("data", "index", "ckpt"))
    os.makedirs(data)
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    _land(first, data, "b0")
    _run(spark, data, index, ckpt)
    _land(second, data, "b1")
    _run(spark, data, index, ckpt)
    before = _pairs(DI.read_candidate_pairs(spark, index))

    # crash-replay of batch 1: the exact foreachBatch body, same batch id
    DI.process_batch(second, 1, index)
    assert _pairs(DI.read_candidate_pairs(spark, index)) == before

    # and of batch 0 — its matches dir must not resurrect cross-batch
    # pairs it never saw (the index read excludes batches >= its own id)
    DI.process_batch(first, 0, index)
    assert _pairs(DI.read_candidate_pairs(spark, index)) == before


def test_cross_batch_duplicates_found_incrementally(spark, tmp_path):
    """A doc arriving in batch 1 that duplicates a batch-0 doc must be
    caught by the index join alone (no within-batch collision)."""
    data, index, ckpt = (str(tmp_path / d) for d in ("data", "index", "ckpt"))
    os.makedirs(data)
    text = "the quick brown fox jumps over the lazy dog again and again"
    a = spark.createDataFrame([(1, text), (2, "completely different content here")], "doc_id long, text string")
    b = spark.createDataFrame([(3, text)], "doc_id long, text string")
    _land(a, data, "b0")
    _run(spark, data, index, ckpt)
    _land(b, data, "b1")
    _run(spark, data, index, ckpt)
    got = _pairs(DI.read_candidate_pairs(spark, index))
    assert (1, 3) in got
    assert all(p in {(1, 3)} for p in got)


def test_compact_upto_batch_never_folds_inflight_delta(spark, tmp_path, docs):
    """ADVICE r10: vacuum beside a live band stream must not bake a
    possibly half-written newest delta into the base. upto_batch is
    STRICTLY-BELOW (the exact_dedup horizon semantics): deltas at or
    above it stay live, keep answering, and fold later."""
    data, index, ckpt = (str(tmp_path / d) for d in ("data", "index", "ckpt"))
    os.makedirs(data)
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    _land(first, data, "b0")
    _run(spark, data, index, ckpt)
    _land(second, data, "b1")
    _run(spark, data, index, ckpt)
    ids = DI._band_delta_ids(index)
    assert len(ids) == 2
    newest = max(ids)

    expect = _pairs(minhash_near_dup_pairs(docs, "text", "doc_id", verify=False))
    assert DI.compact_index(spark, index, upto_batch=newest) is not None
    # the newest delta survived the fold and the answer is unchanged
    assert DI._band_delta_ids(index) == [newest]
    assert _pairs(DI.read_candidate_pairs(spark, index)) == expect
    # a later full fold picks it up
    assert DI.compact_index(spark, index) is not None
    assert DI._band_delta_ids(index) == []
    assert _pairs(DI.read_candidate_pairs(spark, index)) == expect


def test_compact_refuses_empty_band_fold(spark, tmp_path):
    """Forgetting every indexed doc and compacting would write an
    empty base that schema inference cannot read back — the compactor
    must refuse with a descriptive error (ADVICE r10), leaving the
    marker-filtered state readable."""
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        delete_docs_from_screen,
    )

    index = str(tmp_path / "index")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    DI.process_batch(b0, 0, index)
    delete_docs_from_screen(b0, 1, index)
    with pytest.raises(ValueError, match="empty"):
        DI.compact_index(spark, index)
    # state still readable and still admits fresh docs
    b2 = spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id bigint, text string"
    )
    DI.process_batch(b2, 2, index)
    pairs = {(r.id_a, r.id_b) for r in DI.read_candidate_pairs(spark, index).collect()}
    assert (1, 10) not in pairs


def _to_shard_layout(spark, path):
    """Rewrite a band dir as older writers laid it out: one
    ``_shard=<n>/`` dir per hash bucket of the band hash."""
    tmp = path + ".sharded"
    (
        spark.read.parquet(path)
        .withColumn("_shard", F.pmod(F.col("band_hash"), F.lit(64)).cast("int"))
        .repartition("_shard")
        .write.partitionBy("_shard")
        .parquet(tmp)
    )
    shutil.rmtree(path)
    os.rename(tmp, path)


def _shard_dirs(root):
    return glob.glob(os.path.join(root, "**", "_shard=*"), recursive=True)


def test_shard_layout_screens_identically_then_folds_flat(spark, tmp_path):
    """A band index whose base and delta carry the ``_shard=<n>/`` dirs
    older writers made finds the same candidates as the same index
    written flat — for a trigger screened against it and after a fold
    — and that fold writes the flat layout."""
    text = "the quick brown fox jumps over the lazy dog again and again {}"
    batches = [
        spark.createDataFrame(
            [(b * 10 + i, text.format(i)) for i in range(3)],
            "doc_id bigint, text string",
        )
        for b in range(3)
    ]
    flat, sharded = str(tmp_path / "flat"), str(tmp_path / "sharded")
    DI.process_batch(batches[0], 0, flat)
    assert DI.compact_index(spark, flat) == 0
    DI.process_batch(batches[1], 1, flat)
    shutil.copytree(flat, sharded)
    _to_shard_layout(spark, os.path.join(sharded, "base", "v=0"))
    _to_shard_layout(spark, DI._bands_dir(sharded, 1))
    assert len(_shard_dirs(sharded)) > 2
    for index in (flat, sharded):
        for _ in range(2):  # the second run is a replay: it converges
            DI.process_batch(batches[2], 2, index)
    want = _pairs(DI.read_candidate_pairs(spark, flat))
    assert (0, 20) in want and (10, 20) in want
    assert _pairs(DI.read_candidate_pairs(spark, sharded)) == want
    assert DI.compact_index(spark, sharded) == 2
    assert _shard_dirs(sharded) == []
    for index in (flat, sharded):
        DI.process_batch(batches[0].withColumn("doc_id", F.col("doc_id") + 100), 3, index)
    assert _pairs(DI.read_candidate_pairs(spark, sharded)) == _pairs(
        DI.read_candidate_pairs(spark, flat)
    )
