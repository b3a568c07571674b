"""Streaming keep-FIRST line dedup vs everything seen before.

`operators/web.dedup_lines_keep_first` answers the batch question: keep
each repeated line's first (doc, position) occurrence corpus-wide. This
module answers it INCREMENTALLY: as documents stream in, drop every
line whose (md5) key was already kept — by an earlier batch, or by an
earlier (doc, position) within this batch — and emit each document
rebuilt from its surviving lines. The line-key index persists between
triggers with the same layout and crash story as
`streaming/exact_dedup.py` (whose helpers this module reuses): flat
delta parquet under ``_new/batch=<id>``, one exact history join,
overwrite-by-batch-dir replay convergence.

Per-batch recipe:

1. explode the batch's docs into (doc, pos, line) rows (trimmed,
   blanks dropped — the same line convention as the batch operator);
2. within-batch first per key: ``min(struct(id, pos))`` — partial agg,
   no window over a skewed hot-line partition;
3. screen the firsts against the persisted key index: their keys are
   broadcast into one semi-join over the live history (exactly
   `exact_dedup`'s screen);
4. a batch row survives iff it IS the within-batch first of its key
   AND the key is not historical;
5. rebuild each doc from its surviving lines → ``_docs/batch=<id>``
   (every input doc gets a row; fully-deduped docs come back empty);
6. append the new keys under ``_new/batch=<id>``.

Law (tested): processing range-ordered batches incrementally equals the
batch operator on the union — because "first in (batch, doc, pos)
order" and "first in (doc, pos) order" coincide when batches partition
the id space in order.

Scale shape: index rows are (key, keeper id) — ~40 B per DISTINCT
line ever kept, not the corpus; each trigger shuffles only the batch's
lines once (the min-struct agg) and joins the firsts' keys against the
whole live history (no hash-bucket pruning — see `exact_dedup` for
why it skipped nothing). Text travels twice within the batch
(explode + rebuild) — the same irreducible 2× any line-level rewrite
pays.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming.concurrency import (
    run_concurrently,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    declare,
    union_all,
)
from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
    _index_frames,
    _new_dir,
)


def _docs_dir(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "_docs", f"batch={batch_id}")


def _lines(batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, pos, line, key) — trimmed non-blank lines with
    positions. NULL text explodes to nothing (the doc row itself is
    re-added at rebuild)."""
    arr = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    pos = batch.select(F.col(id_col).alias("_id"), F.posexplode(arr))
    return pos.select(
        "_id",
        "pos",
        F.col("col").alias("line"),
        F.md5(F.encode(F.col("col"), "UTF-8")).alias("key"),
    )


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    defer_writes: Optional[list] = None,
):
    """One micro-batch of the incremental keep-first line dedup.
    Overwrites its ``batch=<id>`` outputs — replay converges.

    ``defer_writes``: when a list is passed, the two batch-dir
    writes (rebuilt docs, index delta) are NOT run here — zero-arg
    thunks are appended for the CALLER to execute, typically overlapped
    with the next stage's jobs (the curation trigger runs them beside
    the exact screen, which consumes the same rows). The rebuilt-docs
    frame is returned PERSISTED together with a cleanup callable:
    ``(docs_df, cleanup)``. The caller MUST run both thunks and then
    ``cleanup()`` (also on error paths) — the screen's intermediate
    caches stay alive until then so the deferred writes don't recompute
    the whole screen. Returns None in the default self-contained mode.
    Replay semantics are unchanged: both writes still land inside the
    same trigger, before the checkpoint commit."""
    spark = batch.sparkSession
    declare(index_dir, "key_screen")

    lines = _lines(batch, text_col, id_col).persist()
    cached_matched = None  # assigned in the history branch; finally unpersists
    handed_off = False
    try:
        # within-batch first occurrence per key (partial agg, windowless)
        firsts = (
            lines.groupBy("key")
            .agg(F.min(F.struct("_id", "pos")).alias("_f"))
            .select(
                "key",
                F.col("_f._id").alias("_id"),
                F.col("_f.pos").alias("pos"),
            )
            .persist()
        )
        frames = _index_frames(spark, index_dir, before_batch=batch_id)
        if frames:
            # persisted: `matched` sits under BOTH the rebuilt-docs and
            # the index-delta writes — without the cache each write
            # re-runs the HISTORY scan, doubling the trigger's dominant IO
            matched = (
                union_all(frames)
                .join(F.broadcast(firsts.select("key")), "key", "left_semi")
                .select("key")
                .distinct()
                .persist()
            )
            cached_matched = matched
            new_firsts = firsts.join(F.broadcast(matched), "key", "left_anti")
        else:
            new_firsts = firsts

        # a line survives iff it IS the surviving first of its key
        kept = lines.join(
            new_firsts.select(
                F.col("key").alias("_k"),
                F.col("_id").alias("_fid"),
                F.col("pos").alias("_fpos"),
            ),
            (F.col("key") == F.col("_k"))
            & (F.col("_id") == F.col("_fid"))
            & (F.col("pos") == F.col("_fpos")),
        ).select("_id", "pos", "line")
        rebuilt = kept.groupBy("_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("deduped_text"),
            F.count("*").alias("n_kept_lines"),
        )
        out = (
            batch.select(F.col(id_col))
            .join(rebuilt, F.col(id_col) == F.col("_id"), "left")
            .select(
                F.col(id_col),
                F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
                F.coalesce("n_kept_lines", F.lit(0)).cast("bigint").alias(
                    "n_kept_lines"
                ),
            )
        )
        # the rebuilt-docs write and the index-delta write are
        # independent consumers of the cached firsts/matched frames
        # with no ordering contract (both overwrite batch=<id>,
        # replay-convergent; readers run between triggers), so submit
        # them concurrently — the trigger wall is job dispatch, and the
        # two jobs' fixed costs overlap (see streaming/concurrency).
        # The index delta keeps (keeper id, key) — the index-row schema
        # exact_dedup's readers use — one file per write task.
        write_docs = lambda: out.write.mode("overwrite").parquet(  # noqa: E731
            _docs_dir(index_dir, batch_id)
        )
        write_delta = lambda: new_firsts.select("_id", "key").write.mode(  # noqa: E731
            "overwrite"
        ).parquet(_new_dir(index_dir, batch_id))
        if defer_writes is None:
            run_concurrently(write_docs, write_delta)
        else:
            out = out.persist()
            defer_writes.extend([write_docs, write_delta])
        if defer_writes is not None:
            handed_off = True

            def _cleanup() -> None:
                lines.unpersist()
                firsts.unpersist()
                if cached_matched is not None:
                    cached_matched.unpersist()
                out.unpersist()

            return out, _cleanup
        return None
    finally:
        # deferred-writes mode hands cache ownership to the caller's
        # cleanup; on its own error paths (handed_off still False) the
        # usual unpersists run here
        if not handed_off:
            lines.unpersist()
            firsts.unpersist()
            if cached_matched is not None:
                cached_matched.unpersist()


def read_deduped_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, deduped_text, n_kept_lines) across all processed batches
    (the ``batch`` column partition discovery adds is dropped)."""
    return spark.read.parquet(os.path.join(index_dir, "_docs")).drop("batch")


def compact_index(spark: SparkSession, index_dir: str, upto_batch=None):
    """Fold the line-key deltas into a versioned base. The index layout
    is exactly exact_dedup's (same (_id, key) index rows, same
    ``_new``/``base``/pointer discipline), so its compactor applies
    verbatim — but the replay-guard stakes are HIGHER here than there:
    for exact_dedup, folding a not-yet-committed batch only skews
    dup-verdict labels; for line dedup, replaying batch N after its
    delta was folded makes N see its own keys as history and rewrite
    ``_docs/batch=N`` with every line dropped (empty ``deduped_text``)
    — corrupted doc OUTPUT, not just labels.

    Because Structured Streaming replays at most the LAST (uncommitted)
    batch, ``upto_batch=None`` derives the always-safe default: fold
    only deltas STRICTLY below the newest delta id. After a clean stop
    (no replay possible) pass ``upto_batch=<newest id> + 1`` to fold
    everything."""
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        _plane,
        compact_index as _compact,
    )

    if upto_batch is None:
        upto_batch = max(_plane(index_dir).delta_ids(), default=None)
    return _compact(spark, index_dir, upto_batch=upto_batch)
