"""Crash leftovers are collected by the next fold, on every plane layout.

A fold that crashed between its pointer flip and its GC leaves an older
``base/v=<n>`` behind, and a replayed batch can rewrite a delta at or
below the pointer. Both are dead to readers; the next fold must delete
them. Each test builds a tiny state through the plane's own writers and
compactor, forges one orphan base and one straggler delta (plus a
straggler marker where the layout has markers), lands one new delta and
folds — then exactly one base remains, no delta or marker sits at or
below the new pointer, and reads are unchanged by the forgery.
"""

import os

from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming import (
    curation,
    exact_dedup as ed,
    packing_state as ps,
    rollup as R,
    state_io,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    PLANE,
    tagged,
)


def _forge(frame, plane_root, delta_root, older, *partition_by):
    """An orphan base and a straggler delta, both at ``older`` (at or
    below the current pointer), holding rows that would change any read
    that saw them — written ``partition_by`` the layout's columns."""
    for path in (
        os.path.join(plane_root, "base", f"v={older}"),
        os.path.join(delta_root, f"batch={older}"),
    ):
        w = frame.write.mode("overwrite")
        (w.partitionBy(*partition_by) if partition_by else w).parquet(path)


def _assert_collected(plane_root, *batch_roots):
    ptr = state_io.read_pointer(plane_root)
    assert os.listdir(os.path.join(plane_root, "base")) == [f"v={ptr}"]
    for root in batch_roots:
        ids = state_io.list_batch_ids(root)
        assert all(i > ptr for i in ids), (root, ids, ptr)
    return ptr


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rollup_fold_collects_crash_leftovers(spark, tmp_path):
    import datetime as dt

    sink = str(tmp_path / "sink")
    t0 = dt.datetime(2024, 1, 1)

    def land(batch_id, values):
        df = spark.createDataFrame(
            [(t0 + dt.timedelta(minutes=7 * v), "click", float(v)) for v in values],
            "ts timestamp, event_type string, value double",
        )
        delta = (
            df.withColumn("bucket", R.time_bucket(F.col("ts"), 3600))
            .groupBy("bucket", "event_type")
            .agg(*[fn(F.col("value")).alias(n) for n, fn in R._PARTIALS])
        )
        delta.write.mode("overwrite").parquet(R._delta_dir(sink, batch_id))
        return delta

    land(0, range(10))
    land(1, range(5, 20))
    assert R.compact_rollup(spark, sink) == 1
    garbage = land(2, range(100, 103))
    want = _rows(R.read_rollup(spark, sink))
    _forge(garbage, sink, os.path.join(sink, "_deltas"), 0)
    assert R.compact_rollup(spark, sink) == 2
    assert _assert_collected(sink, os.path.join(sink, "_deltas")) == 2
    assert _rows(R.read_rollup(spark, sink)) == want


def test_key_screen_fold_collects_crash_leftovers(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, f"doc {i % 6}") for i in range(12)], "doc_id bigint, text string"
    )
    ed.process_batch(docs, 0, idx)
    ed.delete_docs_from_screen(docs.where("doc_id = 1"), 1, idx)
    assert ed.compact_index(spark, idx, upto_batch=2) == 1
    ed.process_batch(
        spark.createDataFrame(
            [(20, "doc 1"), (21, "fresh")], "doc_id bigint, text string"
        ),
        2,
        idx,
    )
    want = _rows(ed.read_unique_ids(spark, idx))
    want_dups = _rows(ed.read_dup_ids(spark, idx))
    # a straggler delta carrying both sides and a straggler marker that
    # would kill a live id if either were read
    straggler = tagged({
        "new": spark.createDataFrame(
            [(99, "k", 0)], "_id bigint, key string, _shard int"
        ),
        "dups": spark.createDataFrame(
            [(98, "k", "within_batch")], "_id bigint, key string, dup_kind string"
        ),
    })
    _forge(straggler, idx, os.path.join(idx, "_new"), 0, PLANE, "_shard")
    spark.createDataFrame([(0, 9)], "_id bigint, t bigint").write.mode(
        "overwrite"
    ).parquet(os.path.join(idx, "_deleted", "batch=0"))
    assert ed.compact_index(spark, idx, upto_batch=3) == 2
    _assert_collected(idx, os.path.join(idx, "_new"), os.path.join(idx, "_deleted"))
    assert _rows(ed.read_unique_ids(spark, idx)) == want
    assert _rows(ed.read_dup_ids(spark, idx)) == want_dups


def test_packing_fold_collects_crash_leftovers(spark, tmp_path):
    pdir = str(tmp_path / "pack")
    docs = spark.createDataFrame(
        [(i, "tok " * (i % 5 + 1)) for i in range(30)], "doc_id bigint, text string"
    )

    def pack(lo, hi, batch_id):
        ps.pack_batch_incremental(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            batch_id, pdir, "doc_id", 8, text_col="text", num_shards=2,
        )

    pack(0, 10, 0)
    pack(10, 20, 1)
    ps.compact_pack_state(spark, pdir)
    pack(20, 30, 2)
    want = _rows(ps.read_packed_manifest(spark, pdir))
    want_cursors = _cursors(spark, pdir)
    # the straggler is batch 2's delta: both sides, plane= level included
    root = os.path.join(pdir, "pack")
    _forge(spark.read.parquet(ps._delta_dir(root, 2)), root,
           os.path.join(root, "_deltas"), 0, PLANE)
    ps.compact_pack_state(spark, pdir, upto_batch=2)
    assert _assert_collected(root, os.path.join(root, "_deltas")) == 2
    assert _rows(ps.read_packed_manifest(spark, pdir)) == want
    assert _cursors(spark, pdir) == want_cursors


def _cursors(spark, pdir):
    """The per-shard token totals the next packed batch starts from."""
    return _rows(ps._cursor_base(spark, pdir, None))


def test_meta_plane_fold_collects_crash_leftovers(spark, tmp_path):
    pipeline = str(tmp_path / "pipe")
    root = os.path.join(pipeline, "_meta")

    def land(batch_id, ids):
        df = spark.createDataFrame(
            [(i, "en" if i % 2 else "de") for i in ids], "doc_id bigint, lang string"
        )
        df.write.mode("overwrite").parquet(curation._meta_dir(pipeline, batch_id))
        return df

    land(0, range(5))
    land(1, range(5, 10))
    curation.compact_curation_outputs(spark, pipeline, upto_batch=2)
    garbage = land(2, range(10, 15))
    want = _rows(curation._read_concat_plane(spark, root))
    _forge(garbage, root, root, 0)
    curation.compact_curation_outputs(spark, pipeline, upto_batch=3)
    assert _assert_collected(root, root) == 2
    assert _rows(curation._read_concat_plane(spark, root)) == want
