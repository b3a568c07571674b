"""Combined-delta laws: the exact screen and the incremental packer
each write ONE partitioned batch dir per trigger.

- exact_dedup: ``_new/batch=<id>`` carries ``plane=new`` index rows and
  ``plane=dups`` verdicts; compaction folds verdicts into the versioned
  base before it GCs a delta, so verdicts survive folds while the
  screen's listing stays bounded (the vacuum law).
- packing_state: ``pack/_deltas/batch=<id>`` carries ``plane=pack``
  manifest rows and ``plane=cursors`` totals; both fold on one horizon.
- Both read states written before the sides were combined (flat dirs,
  separate ``_dups``/``cursors`` roots) unmigrated, and keep serving
  after a mixed-layout fold. The exact screen also reads deltas and
  bases written with 64 ``_shard=<n>/`` hash-bucket dirs, and its next
  fold writes them flat.
"""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.dedup import dedup_exact
from spark_streaming_sql_s3_connector_spark.operators.packing import pack_concat
from spark_streaming_sql_s3_connector_spark.streaming import (
    exact_dedup as ed,
    packing_state as ps,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import PLANE


def _batches(spark):
    b0 = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(10)]
        + [(11, "text number 1"), (12, "text number 2")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(20 + i, f"fresh text {i}") for i in range(5)]
        + [(25, "text number 3"), (26, "text number 4")],
        "doc_id bigint, text string",
    )
    return [b0, b1]


def _dups(spark, idx):
    return {r.doc_id: r.dup_kind for r in ed.read_dup_ids(spark, idx).collect()}


def _shard(key):
    """The hash bucket older writers partitioned key-index rows by."""
    return F.pmod(F.xxhash64(key), F.lit(64)).cast("int")


def _shard_dirs(root):
    return glob.glob(os.path.join(root, "**", "_shard=*"), recursive=True)


def _to_shard_layout(spark, path):
    """Rewrite a combined exact-screen dir as older writers laid it out:
    ``plane=new/_shard=<n>/`` index rows and ``plane=dups/_shard=<null>/``
    verdicts."""
    tmp = path + ".sharded"
    (
        spark.read.schema(ed._DELTA_SCHEMA)
        .parquet(path)
        .withColumn("_shard", F.when(F.col(PLANE) == "new", _shard(F.col("key"))))
        .repartition(PLANE, "_shard")
        .write.partitionBy(PLANE, "_shard")
        .parquet(tmp)
    )
    shutil.rmtree(path)
    os.rename(tmp, path)


def test_full_fold_preserves_verdicts_and_bounds_listing(spark, tmp_path):
    """The r15 behavior change vs the old two-root layout: a FULL fold
    GCs every delta dir (bounded listing — previously the _dups root
    grew one dir per batch forever) while read_dup_ids still serves
    every verdict (they ride the base's dup plane)."""
    idx = str(tmp_path / "idx")
    bs = _batches(spark)
    for i, b in enumerate(bs):
        ed.process_batch(b, i, idx)
    assert not os.path.exists(os.path.join(idx, "_dups"))  # one root
    before = _dups(spark, idx)
    assert before == {
        11: "within_batch", 12: "within_batch",
        25: "vs_history", 26: "vs_history",
    }
    assert ed.compact_index(spark, idx, upto_batch=2) == 1
    assert os.listdir(os.path.join(idx, "_new")) == []  # whole dirs GC'd
    assert _dups(spark, idx) == before
    # verdicts keep accumulating across a SECOND fold
    b2 = spark.createDataFrame(
        [(40, "post fold"), (41, "fresh text 0")], "doc_id bigint, text string"
    )
    ed.process_batch(b2, 2, idx)
    assert ed.compact_index(spark, idx, upto_batch=3) == 2
    assert _dups(spark, idx) == {**before, 41: "vs_history"}
    got = sorted(r.doc_id for r in ed.read_unique_ids(spark, idx).collect())
    union = bs[0].unionByName(bs[1]).unionByName(b2)
    want = sorted(
        r.keeper_id for r in dedup_exact(union, "text", "doc_id").collect()
    )
    assert got == want


def test_legacy_flat_state_reads_and_folds_unmigrated(spark, tmp_path):
    """A pre-r15 on-disk state: flat ``_new/batch=<id>`` (no plane
    level) plus a legacy ``_dups`` root. The new reader must keep every
    index row (plane reads NULL → index side), union the legacy
    verdicts in, and fold without touching the legacy root."""
    idx = str(tmp_path / "idx")
    bs = _batches(spark)
    # forge the pre-r15 batch-0 layout by hand
    keyed = ed._keyed(bs[0], "text", "doc_id").where(F.col("key").isNotNull())
    keepers = keyed.groupBy("key").agg(F.min("_id").alias("_id"))
    (
        keepers.select("_id", "key", _shard(F.col("key")).alias("_shard"))
        .repartition("_shard")
        .write.mode("overwrite")
        .partitionBy("_shard")
        .parquet(ed._new_dir(idx, 0))
    )
    spark.createDataFrame(
        [(11, "k11", "within_batch"), (12, "k12", "within_batch")],
        "_id bigint, key string, dup_kind string",
    ).write.mode("overwrite").parquet(ed._dups_dir(idx, 0))
    # continue under the new writer
    ed.process_batch(bs[1], 1, idx)
    uniq = sorted(r.doc_id for r in ed.read_unique_ids(spark, idx).collect())
    assert uniq == sorted(list(range(10)) + list(range(20, 25)))
    want_dups = {
        11: "within_batch", 12: "within_batch",
        25: "vs_history", 26: "vs_history",
    }
    assert _dups(spark, idx) == want_dups
    # mixed-layout fold: legacy _dups root untouched, everything serves,
    # and the base is written flat
    assert ed.compact_index(spark, idx, upto_batch=2) == 1
    assert _dups(spark, idx) == want_dups
    assert sorted(r.doc_id for r in ed.read_unique_ids(spark, idx).collect()) == uniq
    assert os.path.isdir(os.path.join(idx, "_dups", "batch=0"))
    assert _shard_dirs(idx) == []


def test_shard_layout_screens_identically_then_folds_flat(spark, tmp_path):
    """An exact index whose base and delta carry the ``_shard=<n>/``
    dirs older writers made gives the same verdicts and unique ids as
    the same index written flat — for a trigger screened against it and
    after a fold — and that fold writes the flat layout."""
    bs = _batches(spark)
    b2 = spark.createDataFrame(
        [(40, "post fold"), (41, "fresh text 0"), (42, "text number 5")],
        "doc_id bigint, text string",
    )
    flat, sharded = str(tmp_path / "flat"), str(tmp_path / "sharded")
    ed.process_batch(bs[0], 0, flat)
    assert ed.compact_index(spark, flat, upto_batch=1) == 0
    ed.process_batch(bs[1], 1, flat)
    shutil.copytree(flat, sharded)
    _to_shard_layout(spark, os.path.join(sharded, "base", "v=0"))
    _to_shard_layout(spark, ed._new_dir(sharded, 1))
    assert len(_shard_dirs(sharded)) > 2
    for idx in (flat, sharded):
        for _ in range(2):  # the second run is a replay: it converges
            ed.process_batch(b2, 2, idx)
        # forget a doc that sits in the base
        ed.delete_docs_from_screen(bs[0].where("doc_id = 3"), 3, idx)

    def screened(idx):
        return (
            _dups(spark, idx),
            sorted(r.doc_id for r in ed.read_unique_ids(spark, idx).collect()),
        )

    want = screened(flat)
    assert want[0] == {
        11: "within_batch", 12: "within_batch",
        25: "vs_history", 26: "vs_history",
        41: "vs_history", 42: "vs_history",
    }
    assert 3 not in want[1] and 40 in want[1]
    assert screened(sharded) == want
    assert ed.compact_index(spark, sharded, upto_batch=4) == 3
    assert _shard_dirs(sharded) == []
    assert screened(sharded) == want
    # the forgotten text is admitted again, by both layouts
    again = spark.createDataFrame([(50, "text number 3")], "doc_id bigint, text string")
    for idx in (flat, sharded):
        ed.process_batch(again, 4, idx)
    assert 50 in screened(flat)[1]
    assert screened(sharded) == screened(flat)


def test_key_screen_delta_is_one_file_per_task_and_side(spark, tmp_path):
    """A screen delta is at most one parquet file per write task and
    ``plane=`` side, so no more than ``spark.sql.shuffle.partitions``
    files per side, however many partitions the batch arrived in."""
    from spark_streaming_sql_s3_connector_spark.streaming import line_dedup

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def files(path):
        return len(glob.glob(os.path.join(path, "*.parquet")))

    # the second trigger screens against history: its even docs repeat
    # the first trigger's texts, its odd ones are new
    for b in range(2):
        rows = spark.createDataFrame(
            [
                (1000 * b + i, f"line {i % 40}\nshared\ntext {i % 25 + 100 * b * (i % 2)}")
                for i in range(400)
            ],
            "doc_id bigint, text string",
        ).repartition(3 * cap)
        ed.process_batch(rows, b, str(tmp_path / "exact"))
        delta = ed._new_dir(str(tmp_path / "exact"), b)
        assert sorted(glob.glob(os.path.join(delta, "plane=*"))) == [
            os.path.join(delta, "plane=dups"), os.path.join(delta, "plane=new"),
        ]
        for side in ("plane=dups", "plane=new"):
            assert 1 <= files(os.path.join(delta, side)) <= cap
        line_dedup.process_batch(rows, b, str(tmp_path / "line"))
        assert 1 <= files(ed._new_dir(str(tmp_path / "line"), b)) <= cap


def _pack_docs(spark, n=30):
    rows = [
        (i, f"some text {'x ' * (i % 7)}", "en" if i % 2 else "de", float(i))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, qscore double"
    )


def test_pack_combined_delta_equals_batch_and_folds_whole_dirs(spark, tmp_path):
    pdir = str(tmp_path / "pack")
    docs = _pack_docs(spark)
    for b, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30)]):
        ps.pack_batch_incremental(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            b, pdir, "doc_id", 16, text_col="text", num_shards=4,
            keep_cols=("lang", "qscore"),
        )
    want = sorted(
        tuple(r)
        for r in pack_concat(
            docs, "doc_id", 16, text_col="text", num_shards=4,
            keep_cols=("lang", "qscore"),
        ).collect()
    )
    assert sorted(
        tuple(r) for r in ps.read_packed_manifest(spark, pdir).collect()
    ) == want
    # the combined dir carries both planes
    d2 = ps._delta_dir(os.path.join(pdir, "pack"), 2)
    assert {"plane=pack", "plane=cursors"} <= set(os.listdir(d2))
    # batch reader (the gated plane) sees manifest rows only
    g2 = ps.read_manifest_batch(spark, pdir, 2)
    assert sorted(r.doc_id for r in g2.collect()) == list(range(20, 30))
    assert "plane" not in g2.columns and "toks" not in g2.columns
    # fold consumes shared dirs whole; cursors continue correctly after
    ps.compact_pack_state(spark, pdir, upto_batch=1)
    left = [
        e
        for e in os.listdir(os.path.join(pdir, "pack", "_deltas"))
        if e.startswith("batch=")
    ]
    assert left == ["batch=2"]
    more = spark.createDataFrame(
        [(40 + i, "tail text x x", "en", 1.0) for i in range(5)],
        "doc_id bigint, text string, lang string, qscore double",
    )
    ps.pack_batch_incremental(
        more, 3, pdir, "doc_id", 16, text_col="text", num_shards=4,
        keep_cols=("lang", "qscore"),
    )
    want2 = sorted(
        tuple(r)
        for r in pack_concat(
            docs.unionByName(more), "doc_id", 16, text_col="text",
            num_shards=4, keep_cols=("lang", "qscore"),
        ).collect()
    )
    assert sorted(
        tuple(r) for r in ps.read_packed_manifest(spark, pdir).collect()
    ) == want2


def test_pack_legacy_split_delta_state_continues(spark, tmp_path):
    """A pre-r15 pack state (flat manifest delta + separate cursor
    delta dir) continued under the combined writer: reads never double-
    count, the shifted offsets keep the batch law, and a fold converges
    both layouts into one base."""
    pdir = str(tmp_path / "pack")
    docs = _pack_docs(spark, 20)
    legacy = pack_concat(
        docs.where(F.col("doc_id") < 10), "doc_id", 16, text_col="text",
        num_shards=4, keep_cols=("lang", "qscore"),
    )
    ps._write_manifest_schema_once(pdir, legacy.schema)
    legacy.write.mode("overwrite").parquet(
        ps._delta_dir(os.path.join(pdir, "pack"), 0)
    )
    (
        legacy.groupBy("shard").agg(F.sum("n_tokens").alias("toks")).coalesce(1)
        .write.mode("overwrite")
        .parquet(ps._delta_dir(os.path.join(pdir, "cursors"), 0))
    )
    ps.pack_batch_incremental(
        docs.where(F.col("doc_id") >= 10), 1, pdir, "doc_id", 16,
        text_col="text", num_shards=4, keep_cols=("lang", "qscore"),
    )
    want = sorted(
        tuple(r)
        for r in pack_concat(
            docs, "doc_id", 16, text_col="text", num_shards=4,
            keep_cols=("lang", "qscore"),
        ).collect()
    )
    assert sorted(
        tuple(r) for r in ps.read_packed_manifest(spark, pdir).collect()
    ) == want
    ps.compact_pack_state(spark, pdir)
    assert sorted(
        tuple(r) for r in ps.read_packed_manifest(spark, pdir).collect()
    ) == want


def test_pack_schema_guard_fails_fast_on_mismatched_state(spark, tmp_path):
    """ADVICE r14 (medium): continuing a pack state whose persisted
    manifest schema names different columns must raise, not silently
    drop the extra columns at the next fold."""
    pdir = str(tmp_path / "pack")
    docs = _pack_docs(spark, 10)
    ps.pack_batch_incremental(
        docs, 0, pdir, "doc_id", 16, text_col="text", num_shards=4,
        keep_cols=("lang", "qscore"),
    )
    with pytest.raises(ValueError, match="persisted manifest columns"):
        ps.pack_batch_incremental(
            docs, 1, pdir, "doc_id", 16, text_col="text", num_shards=4
        )


def test_pack_keep_cols_validation(spark):
    """ADVICE r14 (low): keep_cols colliding with generated manifest
    columns (or the layout tags) are rejected up front."""
    docs = _pack_docs(spark, 5)
    with pytest.raises(ValueError, match="collide"):
        pack_concat(
            docs.withColumn("shard", F.lit(1)), "doc_id", 16,
            text_col="text", keep_cols=("shard",),
        )
    with pytest.raises(ValueError, match="plane"):
        ps.pack_batch_incremental(
            docs.withColumn("plane", F.lit("x")), 0, "/tmp/unused-pack-dir",
            "doc_id", 16, text_col="text", keep_cols=("plane",),
        )


def test_zero_row_combined_delta_reads_empty(spark, tmp_path):
    pdir = str(tmp_path / "pack")
    docs = _pack_docs(spark, 5)
    ps.pack_batch_incremental(
        docs.where(F.col("doc_id") < 0), 0, pdir, "doc_id", 16,
        text_col="text", num_shards=4,
    )
    assert ps.read_manifest_batch(spark, pdir, 0).count() == 0
