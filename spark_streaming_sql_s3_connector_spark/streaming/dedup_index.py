"""Streaming near-duplicate detection against a persisted MinHash band
index — incremental corpus dedup.

Batch dedup (`operators/dedup.py:minhash_near_dup_pairs`) answers "which
documents in THIS corpus duplicate each other". A training-data ingest
needs the incremental question: as new documents stream in, which ones
near-duplicate ANYTHING seen before — without re-shingling history every
trigger. This module keeps the historical MinHash band hashes as a
persisted index and, per micro-batch:

1. computes the batch's band hashes (same Arrow-vectorized UDF as the
   batch operator — identical signatures, so incremental candidates ==
   the batch operator's candidates on the union corpus, a property the
   tests assert exactly);
2. emits candidate pairs = within-batch collisions (groupBy band bucket)
   ∪ batch×history collisions (equi-join against the index, batch side
   broadcast — history never shuffles);
3. appends the batch's bands to the index.

Exactly-once under foreachBatch replay uses the same idempotent-write
layout as `streaming/rollup.py`: every per-batch output OVERWRITES its
own `batch=<id>` directory, so a replayed batch converges instead of
duplicating; `compact_index` folds band deltas into a versioned base
behind an atomically-flipped `_latest` pointer (folded deltas become dead
garbage — GC is safe at any moment).

Scale shape: index rows are (band_idx, band_hash, doc_id) — ~20 B × bands
per document, orders of magnitude smaller than the corpus. Deltas and
the base are flat, one parquet file per write task; each trigger scans
the live index once. A batch of d documents hashes 16·d band keys, so
hash-bucket pruning would skip nothing past a few dozen documents (see
`exact_dedup`). An index written with ``_shard=<n>/`` dirs still reads:
the extra partition column is projected away, and the next fold writes
it flat. The batch side broadcasts, so the per-trigger join never
shuffles history.

Candidates, not verdicts: exact-Jaccard verification needs document text,
which the index deliberately does not store (it would duplicate the
corpus). Join candidates back to the corpus store to verify, as
`minhash_near_dup_pairs(verify=True)` does in batch.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.dedup import (
    _minhash_sig_udf,
    bucket_pairs,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    DeltaPlane,
    declare,
    foreach_batch,
    union_all,
)
from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
    _MARKER_SCHEMA,
    _apply_screen_markers,
    _screen_frames,
)


def _plane(index_dir: str) -> DeltaPlane:
    """The band index: ``_bands`` deltas plus the forget markers it
    shares with the key screens (`exact_dedup.delete_docs_from_screen`)."""
    return DeltaPlane(
        index_dir,
        deltas="_bands",
        markers=os.path.join(index_dir, "_deleted"),
        marker_schema=_MARKER_SCHEMA,
    )


def _bands_dir(index_dir: str, batch_id: int) -> str:
    return _plane(index_dir).delta_path(batch_id)


def _matches_dir(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "_matches", f"batch={batch_id}")


def _band_delta_ids(index_dir: str) -> list[int]:
    return _plane(index_dir).delta_ids()


def _band_rows(frame: DataFrame) -> DataFrame:
    return frame.select("_id", "band_idx", "band_hash")


def _index_frames(spark: SparkSession, index_dir: str, before_batch: Optional[int] = None) -> list[DataFrame]:
    """Base (if compacted) + band deltas below ``before_batch``, with
    the forget markers applied (dir-granular insert order — the key
    screens' rule, `exact_dedup._screen_frames`)."""
    return _screen_frames(spark, _plane(index_dir), before_batch, _band_rows)


def _compute_bands(batch: DataFrame, text_col: str, id_col: str, num_perm: int, bands: int, shingle_k: int) -> DataFrame:
    band_udf = _minhash_sig_udf(num_perm, shingle_k, bands=bands)
    return batch.select(
        F.col(id_col).alias("_id"), band_udf(F.col(text_col)).alias("_bh")
    ).select("_id", F.posexplode_outer("_bh").alias("band_idx", "band_hash"))


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> None:
    """One micro-batch of the incremental dedup: emit candidate pairs,
    then append this batch's bands. Every write overwrites a
    ``batch=<id>``-keyed directory — calling this twice with the same
    (batch, batch_id) converges to identical state (replay safety)."""
    declare(index_dir, "minhash_bands")
    new_bands = _compute_bands(batch, text_col, id_col, num_perm, bands, shingle_k)
    new_bands = new_bands.persist()
    try:
        # within-batch collisions: same shape as the batch operator
        within = (
            bucket_pairs(new_bands, ["band_idx", "band_hash"], F.struct(F.col("_id")))
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )
        # batch × history: one index scan, broadcast batch side
        frames = _index_frames(batch.sparkSession, index_dir, before_batch=batch_id)
        if frames:
            hist = union_all(frames)
            nb = new_bands.select(
                F.col("band_idx").alias("n_band_idx"),
                F.col("band_hash").alias("n_band_hash"),
                F.col("_id").alias("id_new"),
            )
            cross = (
                hist.join(
                    F.broadcast(nb),
                    (F.col("band_idx") == F.col("n_band_idx"))
                    & (F.col("band_hash") == F.col("n_band_hash")),
                )
                .where(F.col("_id") != F.col("id_new"))
                .select(
                    F.least("_id", "id_new").alias("id_a"),
                    F.greatest("_id", "id_new").alias("id_b"),
                )
            )
            pairs = within.unionByName(cross)
        else:
            pairs = within
        pairs.dropDuplicates(["id_a", "id_b"]).write.mode("overwrite").parquet(
            _matches_dir(index_dir, batch_id)
        )
        # append bands AFTER matches: a replay recomputes both dirs
        # idempotently; order only matters for GC-free reads
        new_bands.write.mode("overwrite").parquet(_bands_dir(index_dir, batch_id))
    finally:
        new_bands.unpersist()


def streaming_near_dup_candidates(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
):
    """Start the incremental dedup stream; returns the StreamingQuery.
    Candidate pairs land under ``_matches/batch=<id>`` (read them with
    ``read_candidate_pairs``); the band index accumulates under
    ``_bands`` + compacted ``base``."""
    return foreach_batch(
        stream, checkpoint_dir, process_batch, index_dir, text_col=text_col,
        id_col=id_col, num_perm=num_perm, bands=bands, shingle_k=shingle_k,
    ).start()


def read_candidate_pairs(spark: SparkSession, index_dir: str) -> DataFrame:
    root = os.path.join(index_dir, "_matches")
    return spark.read.parquet(os.path.join(root, "batch=*")).dropDuplicates(["id_a", "id_b"])


def compact_index(
    spark: SparkSession, index_dir: str, upto_batch: Optional[int] = None
) -> Optional[int]:
    """Fold band deltas into a versioned flat base and flip the pointer
    — the `delta_plane` write → flip → GC contract. Live forget markers
    fold physically (``_apply_screen_markers``), their dirs GC, and the
    pointer advances over marker-only windows — the
    `exact_dedup.compact_index` delete discipline.

    ``upto_batch``: fold only deltas/markers with id STRICTLY below it
    (the `exact_dedup.compact_index` horizon semantics). Pass the
    current/last-committed batch id when compacting beside a live
    stream so the in-flight batch's possibly half-written delta never
    bakes into the base; ``None`` folds everything (safe only when no
    stream is writing).

    Refuses to write an empty base (every indexed doc forgotten +
    compacted away): parquet schema inference cannot read a rows-free
    base back, so the state would become unreadable — the
    `compact_ann_index` all-tombstoned discipline. Drop the state dir
    and rebuild instead."""
    plane = _plane(index_dir)

    def write(path, live, markers):
        df = union_all(
            _apply_screen_markers(
                [(b, _band_rows(f)) for b, f in plane.frames(spark, live)],
                plane.marker_frame(spark, markers),
            )
        )
        if df.isEmpty():
            raise ValueError(
                f"refusing to compact MinHash band index {index_dir}: the fold "
                "would write an empty base (every indexed doc has been "
                "forgotten), which schema inference cannot read back — drop "
                "the state directory and rebuild instead"
            )
        df.dropDuplicates(["band_idx", "band_hash", "_id"]).write.mode(
            "overwrite"
        ).parquet(path)

    return plane.fold(write, upto_batch)
