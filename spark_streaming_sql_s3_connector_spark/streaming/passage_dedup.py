"""Streaming keep-FIRST passage dedup vs everything seen before.

`operators/dedup.passage_dedup_keep_first` answers the batch question:
mask every repeated whitespace k-gram's non-first occurrences and
rebuild each doc from surviving tokens. This module answers it
INCREMENTALLY: as documents stream in, a k-gram occurrence is a
duplicate iff its key was already kept — by an earlier batch, or by an
earlier (doc, start) within this batch — and each document is emitted
rebuilt with every duplicated occurrence's k token positions masked.
The gram-key index persists between triggers with the same layout and
crash story as `streaming/exact_dedup.py` (whose helpers this module
reuses verbatim): flat delta parquet under ``_new/batch=<id>``, one
exact history join, overwrite-by-batch-dir replay convergence.

Per-batch recipe:

1. explode the batch's docs into k-gram occurrences
   ``(_id, start, key=md5(gram))`` (same tokenization and
   16-byte gram rekey as the batch operator);
2. within-batch first per key: ``min(struct(id, start))`` — partial
   agg, no window over a hot gram;
3. screen the firsts against the persisted key index (their keys
   broadcast into one semi-join over the live history);
4. an occurrence is a DUP iff it is not a surviving first; dups explode
   to their k covered token positions;
5. rebuild each doc from uncovered tokens → ``_docs/batch=<id>``
   (every input doc gets a row; a doc that was an exact copy of
   earlier-seen text comes back empty);
6. append the newly-kept keys under ``_new/batch=<id>``.

Law (tested): processing doc-id-range-ordered batches incrementally
equals the batch operator on the union — "first in (batch, doc, start)
order" and "first in (doc, start) order" coincide when batches
partition the id space in order.

Scale shape: index rows are (key, keeper id) — ~40 B per DISTINCT
k-gram ever kept. That is token-scale state (the honest cost any
substring-dedup index pays — a suffix array is larger), which is
exactly why the index inherits exact_dedup's layout, screen and
compactor instead of a driver-side structure. Each trigger shuffles
the batch's grams once (min-struct partial agg) and joins the firsts'
keys against the whole live history: a batch has thousands of grams,
so hash-bucket pruning would skip nothing (see `exact_dedup`). The
covered-position explode is bounded by k × dup occurrences.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    declare,
    foreach_batch,
    union_all,
)
from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
    _index_frames,
    _new_dir,
)


def _docs_dir(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "_docs", f"batch={batch_id}")


def _tokenized(batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
    from spark_streaming_sql_s3_connector_spark.functions.text import tokenize

    return batch.select(
        F.col(id_col).alias("_id"), tokenize(F.col(text_col)).alias("_toks")
    )


def _gram_occurrences(base: DataFrame, k: int) -> DataFrame:
    """(_id, start, key) — 0-based start positions, md5 gram
    keys (the same rekey as the batch operator, so history joins ship
    16-byte keys, never gram text)."""
    gram_expr = (
        f"transform(sequence(0, size(_toks) - {k}), "
        f"i -> md5(encode(concat_ws(' ', slice(_toks, i + 1, {k})), 'UTF-8')))"
    )
    return (
        base.where(F.size("_toks") >= k)
        .select("_id", F.posexplode(F.expr(gram_expr)))
        .withColumnRenamed("pos", "start")
        .withColumnRenamed("col", "key")
    )


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> None:
    """One micro-batch of the incremental keep-first passage dedup.
    Overwrites its ``batch=<id>`` outputs — replay converges."""
    if k < 2:
        raise ValueError("k must be >= 2")
    spark = batch.sparkSession
    declare(index_dir, "key_screen")

    base = _tokenized(batch, text_col, id_col).persist()
    occ = _gram_occurrences(base, k).persist()
    firsts = (
        occ.groupBy("key")
        .agg(F.min(F.struct("_id", "start")).alias("_f"))
        .select(
            "key",
            F.col("_f._id").alias("_id"),
            F.col("_f.start").alias("start"),
        )
        .persist()
    )
    cached_matched = None  # assigned in the history branch; finally unpersists
    try:
        frames = _index_frames(spark, index_dir, before_batch=batch_id)
        if frames:
            # persisted: `matched` sits under BOTH the rebuilt-docs and
            # the index-delta writes — without the cache each write
            # re-runs the HISTORY scan
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

        # an occurrence is a dup unless it IS a surviving first
        dup_occ = occ.join(
            new_firsts.select(
                F.col("key").alias("_k"),
                F.col("_id").alias("_fid"),
                F.col("start").alias("_fstart"),
            ),
            (F.col("key") == F.col("_k"))
            & (F.col("_id") == F.col("_fid"))
            & (F.col("start") == F.col("_fstart")),
            "left_anti",
        ).select("_id", "start")
        covered = dup_occ.select(
            "_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))
            ).alias("_pos"),
        ).distinct()
        tok_pos = base.select("_id", F.posexplode("_toks").alias("_pos", "_tok"))
        kept = tok_pos.join(covered, ["_id", "_pos"], "left_anti")
        rebuilt = kept.groupBy("_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("deduped_text"),
            F.count("*").alias("n_kept_tokens"),
        )
        out = (
            batch.select(F.col(id_col))
            .join(rebuilt, F.col(id_col) == F.col("_id"), "left")
            .select(
                F.col(id_col),
                F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
                F.coalesce("n_kept_tokens", F.lit(0)).cast("bigint").alias(
                    "n_kept_tokens"
                ),
            )
        )
        out.write.mode("overwrite").parquet(_docs_dir(index_dir, batch_id))
        new_firsts.select("_id", "key").write.mode("overwrite").parquet(
            _new_dir(index_dir, batch_id)
        )
    finally:
        base.unpersist()
        occ.unpersist()
        firsts.unpersist()
        if cached_matched is not None:
            cached_matched.unpersist()


def read_deduped_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, deduped_text, n_kept_tokens) across all processed batches
    (the ``batch`` column partition discovery adds is dropped)."""
    return spark.read.parquet(os.path.join(index_dir, "_docs")).drop("batch")


def streaming_passage_dedup(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
):
    """Start the incremental keep-first passage dedup as a foreachBatch
    stream; returns the StreamingQuery."""
    return foreach_batch(
        stream, checkpoint_dir, process_batch, index_dir,
        text_col=text_col, id_col=id_col, k=k,
    ).start()


def compact_index(spark: SparkSession, index_dir: str, upto_batch=None):
    """Fold the gram-key deltas into a versioned base — exactly
    `streaming/line_dedup.compact_index`'s situation: the index layout
    is exact_dedup's, so its compactor applies verbatim, and the replay
    stakes match line dedup's (folding a not-yet-committed batch makes
    its replay see its own grams as history and rewrite
    ``_docs/batch=N`` fully masked). ``upto_batch=None`` therefore
    derives the always-safe default — fold only deltas strictly below
    the newest delta id; pass ``<newest id> + 1`` after a clean stop."""
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        _plane,
        compact_index as _compact,
    )

    if upto_batch is None:
        upto_batch = max(_plane(index_dir).delta_ids(), default=None)
    return _compact(spark, index_dir, upto_batch=upto_batch)
