"""Streaming EXACT dedup against everything seen before.

`streaming/dedup_index.py` answers the incremental NEAR-dup question;
this module answers the exact one: as documents stream in, which have
*literally* (after normalization) been seen in any earlier batch? The
per-batch recipe:

1. key every row: ``md5(normalized_text)`` (128-bit — collision-free at
   any realistic corpus size);
2. within-batch dedup: keep the min-id row per key;
3. screen the keepers against the persisted key index with one exact
   join: the keepers' keys are broadcast into a semi-join over the
   live history frames;
4. write the batch's delta in one write: ``_new/batch=<id>`` holds the
   new keys under ``plane=new`` and the duplicate verdicts under
   ``plane=dups``, at most one parquet file per write task and side.

:func:`compact_index` folds both sides into the base, so a full fold
leaves no delta dir behind and :func:`read_dup_ids` still serves every
verdict. A delta or base with no ``plane=`` level is all index rows:
the line and passage screens write their ``_new`` deltas that way, and
so did exact indexes written before the sides were combined, whose
verdicts sit in a ``_dups/batch=<id>`` root that is read while it
exists. A delta or base written with ``_shard=<n>/`` hash-bucket dirs
reads the same: the readers project the extra partition column away,
and the next fold writes the flat layout. The index is the only state:
there is no probabilistic side file. An older index may still hold a
``_bloom/`` dir of shard bitmaps; nothing reads it.

Replay safety mirrors `dedup_index` / `rollup`: the write overwrites
its own ``batch=<id>`` directory and history reads exclude the
in-flight batch id, so a replayed batch converges to identical state.

One compaction caveat: if ``compact_index`` folds the delta of a batch
that is still awaiting replay, the replay can no longer exclude that
batch's own keys from the (compacted) history, so its rewritten dup
VERDICTS skew to ``vs_history`` — unique-id output is unaffected.
Compact with ``upto_batch=<last committed batch id + 1>`` when a stream
may be down mid-batch (see :func:`compact_index`).

Scale shape: index rows are (id, key) — 40 B/doc, not the corpus. The
per-trigger join broadcasts the batch's keepers and scans the live
history once, shuffling nothing of it. There is no history pruning: a
hash-bucket layout would let a trigger skip the buckets none of its
keys hash into, but a batch of k keys leaves only 64·(63/64)^k of 64
buckets untouched, so past a few hundred keys it skipped nothing and
cost one listing job and ~64 files per delta. The trade-off: a trigger
of fewer than about 300 keys now scans all of a large base instead of
part of it.

NULL text rows pass through as new and are never indexed (a NULL equals
nothing — the same convention as the batch anti-join operators).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming import state_io
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    PLANE,
    DeltaPlane,
    declare,
    side,
    tagged,
    union_all,
)

from spark_streaming_sql_s3_connector_spark.operators.dedup import normalized_text


def _plane(index_dir: str) -> DeltaPlane:
    """The key index: ``_new`` deltas, ``_deleted`` forget markers."""
    return DeltaPlane(
        index_dir,
        deltas="_new",
        markers=os.path.join(index_dir, "_deleted"),
        schema=_DELTA_SCHEMA,
        marker_schema=_MARKER_SCHEMA,
    )


def _new_dir(index_dir: str, batch_id: int) -> str:
    return _plane(index_dir).delta_path(batch_id)


def _dups_dir(index_dir: str, batch_id: int) -> str:
    """A verdict dir of the separate ``_dups`` root older indexes have."""
    return os.path.join(index_dir, "_dups", f"batch={batch_id}")


# explicit schema: a batch with zero new keys writes a delta dir holding
# only _SUCCESS, and schema INFERENCE on such a dir throws — a fixed
# schema reads it as an empty frame instead
_DELTA_SCHEMA = f"_id bigint, key string, dup_kind string, {PLANE} string"
_MARKER_SCHEMA = "_id bigint, t bigint"


def _index_rows(frame: DataFrame) -> DataFrame:
    return side(frame, "new", ("_id", "key"), primary=True)


def _dup_rows(frame: DataFrame) -> DataFrame:
    return side(frame, "dups", ("_id", "key", "dup_kind"))


def _write_sides(sides: DataFrame, path: str) -> None:
    """One write of a delta or base whose rows carry their :data:`PLANE`
    side: each write task leaves at most one parquet file per side."""
    sides.write.mode("overwrite").partitionBy(PLANE).parquet(path)


def delete_docs_from_screen(
    docs: DataFrame, batch_id: int, index_dir: str, id_col: str = "doc_id"
) -> None:
    """FORGET a set of documents from a persisted screening index (this
    module's exact-key index, or line/passage/minhash-band indexes that
    share the layout): write an id-keyed delete marker under
    ``_deleted/batch=<batch_id>``. A marker at batch t kills index rows
    INSERTED strictly before t — insert order is derivable from the dir
    layout itself (a delta dir IS its batch id; a compacted base ranks
    as its fold horizon), so no row schema changes. A later re-ingest
    of the same content lands in a delta dir above t and screens again.

    This is the ``forget`` half of the delete-policy split (retention:
    the state forgets, a legitimate re-crawl is admitted as new). The
    ``takedown`` half — suppress the content forever — is the index's
    default behavior and deliberately writes nothing here.

    Overwrites its own batch dir — replay-convergent. Preconditions
    match the serving-state deletes (`term_stats`/`ann_index`): one
    monotonic batch-id sequence shared by inserts and deletes."""
    (
        docs.select(F.col(id_col).cast("bigint").alias("_id"))
        .distinct()
        .withColumn("t", F.lit(int(batch_id)).cast("bigint"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_plane(index_dir).marker_path(batch_id))
    )


def _apply_screen_markers(
    ranked: list[tuple[int, DataFrame]], marks: Optional[DataFrame]
) -> list[DataFrame]:
    """Anti-join forget markers onto index frames with insert-order
    semantics at dir granularity: a frame inserted at batch b loses the
    ids of markers with t > b. The base frame ranks as b = pointer —
    exact, because every base row was inserted at or below the fold
    horizon and every LIVE marker sits strictly above it. The marker
    set is the forget sliver — broadcast."""
    if marks is None:
        return [f for _, f in ranked]
    out = []
    for b, f in ranked:
        m = marks.where(F.col("t") > F.lit(int(b))).select("_id")
        out.append(f.join(F.broadcast(m), "_id", "left_anti"))
    return out


def _screen_frames(
    spark: SparkSession,
    plane: DeltaPlane,
    before_batch: Optional[int] = None,
    rows=lambda f: f,
) -> list[DataFrame]:
    """A screening plane's live index frames (``rows`` of each dir)
    with its forget markers applied. ``before_batch`` excludes the
    in-flight batch's own (possibly half-written) delta and the markers
    its original run could not have seen, keeping replay
    deterministic."""
    return _apply_screen_markers(
        [(b, rows(f)) for b, f in plane.frames(spark, plane.live(before_batch))],
        plane.marker_frame(spark, plane.live_markers(before_batch)),
    )


def _index_frames(
    spark: SparkSession, index_dir: str, before_batch: Optional[int] = None
) -> list[DataFrame]:
    return _screen_frames(spark, _plane(index_dir), before_batch, _index_rows)


def _keyed(batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
    key = F.md5(F.encode(normalized_text(F.col(text_col)), "UTF-8"))
    return batch.select(F.col(id_col).alias("_id"), key.alias("key"))


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the incremental exact dedup (see module doc).
    Overwrites ``batch=<id>``-keyed outputs — replay converges."""
    spark = batch.sparkSession
    declare(index_dir, "key_screen")

    from pyspark.sql import Window

    keyed = _keyed(batch, text_col, id_col)
    # within-batch keeper per key (min id) in ONE window shuffle of the
    # narrow (_id, key) frame — the agg+join form shuffled keyed twice
    # (group agg, then the keyed×agg equi-join) to derive the same two
    # row sets. A key's duplicate population here is whole-document
    # copies (bounded), so concentrating a key on one partition carries
    # none of the hot-LINE skew that keeps the line screen on its
    # min-struct agg. A NULL key is its own keeper: it never equi-joins,
    # so it passes through as new and can never produce a false verdict
    # later. `marked` is cached because the history join's broadcast
    # side and the delta write both read it.
    keeper = F.when(F.col("key").isNull(), F.col("_id")).otherwise(
        F.min("_id").over(Window.partitionBy("key"))
    )
    marked = keyed.withColumn("_keeper", keeper).persist()
    kind = F.when(F.col("_id") != F.col("_keeper"), F.lit("within_batch"))
    verdicts = marked
    try:
        frames = _index_frames(spark, index_dir, before_batch=batch_id)
        if frames:
            keepers = marked.where(F.col("_id") == F.col("_keeper")).select("key")
            matched = (
                union_all(frames)
                .join(F.broadcast(keepers), "key", "left_semi")
                .select("key", F.lit(True).alias("_hist"))
                .distinct()
            )
            verdicts = marked.join(F.broadcast(matched), "key", "left")
            kind = kind.when(F.col("_hist"), F.lit("vs_history"))
        verdicts = verdicts.select("_id", "key", kind.alias("dup_kind"))
        # a batch written by an older writer may have left verdicts in
        # the separate _dups root; its replay's verdicts replace them
        state_io.remove_tree(_dups_dir(index_dir, batch_id))
        _write_sides(
            verdicts.withColumn(
                PLANE,
                F.when(F.col("dup_kind").isNull(), F.lit("new")).otherwise(
                    F.lit("dups")
                ),
            ),
            _new_dir(index_dir, batch_id),
        )
    finally:
        marked.unpersist()


def read_unique_ids(spark: SparkSession, index_dir: str) -> DataFrame:
    """Ids of first-seen rows across all processed batches."""
    frames = _index_frames(spark, index_dir)
    if not frames:
        raise FileNotFoundError(f"no exact-dedup index under {index_dir}")
    return union_all(frames).select(F.col("_id").alias("doc_id"), "key")


def read_new_keys(spark: SparkSession, index_dir: str, batch_id: int) -> DataFrame:
    """The index rows batch ``batch_id`` added: its first-seen ids."""
    return _index_rows(
        _plane(index_dir).reader(spark).parquet(_new_dir(index_dir, batch_id))
    )


def read_dup_ids(spark: SparkSession, index_dir: str) -> DataFrame:
    """Every duplicate verdict: the dups side of the live base and
    deltas, plus an older index's ``_dups`` root while it exists."""
    plane = _plane(index_dir)
    frames = [_dup_rows(f) for _, f in plane.frames(spark, plane.live())]
    legacy = os.path.join(index_dir, "_dups")
    if state_io.list_batch_ids(legacy):
        frames.append(spark.read.parquet(os.path.join(legacy, "batch=*")))
    if not frames:
        raise FileNotFoundError(f"no exact-dedup index under {index_dir}")
    return union_all(
        [f.select(F.col("_id").alias("doc_id"), "key", "dup_kind") for f in frames]
    )


def compact_index(
    spark: SparkSession, index_dir: str, upto_batch: Optional[int] = None
) -> Optional[int]:
    """Fold _new deltas into a versioned base (the `delta_plane` write
    → flip → GC contract), written flat whatever layout the folded
    dirs had.

    ``upto_batch``: fold only deltas with id STRICTLY below it. Pass the
    stream's last committed batch id + 1 (or the checkpoint's pending
    batch id) when compacting while the stream may be down mid-batch:
    if a crashed batch N's delta were folded into the base, its replay
    could no longer exclude its own keys via ``before_batch=N`` and the
    rewritten batch-N verdicts would mark N's first-seen rows as
    ``vs_history`` (unique-id output stays correct either way — only
    the dup-verdict labels skew). With ``upto_batch=None`` every delta
    folds; that is safe only when no batch is awaiting replay.

    The dup verdicts fold into the base verbatim, beside the index
    rows. Forget markers (:func:`delete_docs_from_screen`) in the fold
    window are applied PHYSICALLY to the index rows only —
    ``_apply_screen_markers`` anti-joins them with insert-order
    semantics, so the folded base simply lacks the forgotten rows — and
    their dirs GC'd; the pointer advances over marker-only windows too
    (marker liveness keys off it). Markers at or above ``upto_batch``
    stay live and keep filtering at read."""
    plane = _plane(index_dir)

    def write(path, live, markers):
        frames = plane.frames(spark, live)
        df = union_all(
            _apply_screen_markers(
                [(b, _index_rows(f)) for b, f in frames],
                plane.marker_frame(spark, markers),
            )
        )
        # keys are unique across deltas by construction (a key admitted
        # in batch i is history for batch j>i); min-id keeps the fold
        # deterministic anyway. NULL-key passthrough rows fold verbatim
        # — a groupBy would wrongly collapse them into one row.
        nn = (
            df.where(F.col("key").isNotNull())
            .groupBy("key")
            .agg(F.min("_id").alias("_id"))
        )
        nulls = df.where(F.col("key").isNull()).select("key", "_id").distinct()
        dups = union_all([_dup_rows(f) for _, f in frames])
        _write_sides(tagged({"new": nn.unionByName(nulls), "dups": dups}), path)

    return plane.fold(write, upto_batch)

