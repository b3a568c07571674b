"""Streaming distribution-drift monitor — the live alarm that tells a
100 TB ingest "today's crawl stopped looking like the reference corpus"
BEFORE the data reaches a training run.

``operators/drift.py`` compares two materialized corpora; at ingest
time the "new" side is a stream. Value counts are mergeable, so the
stream only persists per-batch ``bucket | n`` deltas in the
``streaming/rollup.py`` idempotent layout (overwrite-by-batch-id delta
dirs, versioned base + atomic pointer, union-and-merge readers), and
drift against any baseline is computed at READ time from the merged
counts via the exact same decimal share/PSI arithmetic as the batch
operator (``drift_from_counts`` — shared code, not a reimplementation,
so streaming == batch is an identity up to count equality, which is
the law the tests pin).

Per-trigger cost: one groupBy on the monitored column (post-combine
rows = distinct values in the batch). Read cost: O(base + unfolded
deltas) count rows, reset by :func:`compact_drift_counts`. The corpus
itself never re-scans.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.drift import (
    _NULL_TOKEN,
    drift_from_counts,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    SIDECAR,
    DeltaPlane,
    declare,
    foreach_batch,
)


def _plane(sink_dir: str) -> DeltaPlane:
    """A counts or moments plane, read with the schema its first delta
    persisted (a root written before the sidecar existed reads by
    inference)."""
    return DeltaPlane(sink_dir, schema=SIDECAR)


def count_batch(batch: DataFrame, batch_id: int, sink_dir: str, col: str) -> None:
    """One micro-batch's value counts, overwritten into this batch's own
    delta dir (idempotent on replay). NULLs bucket under the same
    reserved token as the batch operator."""
    declare(sink_dir, "drift_counts")
    b = F.coalesce(F.col(col).cast("string"), F.lit(_NULL_TOKEN))
    _plane(sink_dir).write_delta(
        batch.groupBy(b.alias("bucket")).agg(F.count(F.lit(1)).alias("n")),
        batch_id,
    )


def streaming_category_counts(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    col: str,
    trigger_available_now: bool = False,
):
    """Maintain the incremental ``bucket | n`` table of ``col`` over
    everything admitted. Read with :func:`read_category_counts`; compare
    against a baseline with :func:`read_drift`. Returns the
    StreamingQuery."""
    writer = foreach_batch(stream, checkpoint_dir, count_batch, sink_dir, col)
    return (writer.trigger(availableNow=True) if trigger_available_now else writer).start()


def read_category_counts(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The merged live counts: base (if compacted) + un-folded deltas."""
    plane = _plane(sink_dir)
    live = plane.live()
    if not live:
        raise FileNotFoundError(f"no drift-count state under {sink_dir}")
    return _merge_counts(plane.read(spark, live))


def _merge_counts(allc: DataFrame) -> DataFrame:
    return allc.groupBy("bucket").agg(F.sum("n").alias("n"))


def read_drift(
    spark: SparkSession,
    sink_dir: str,
    baseline_counts: DataFrame,
    smoothing: float = 1e-6,
) -> DataFrame:
    """Drift of the LIVE ingested distribution vs a baseline
    ``bucket | n`` frame (e.g. the reference corpus's counts, or a
    previous epoch's :func:`read_category_counts`). Output schema and
    arithmetic are exactly ``operators/drift.categorical_drift``;
    ``SUM(psi_term)`` against the usual PSI thresholds is the alarm."""
    return drift_from_counts(
        baseline_counts, read_category_counts(spark, sink_dir), smoothing
    )


def compact_drift_counts(spark: SparkSession, sink_dir: str) -> Optional[int]:
    """Fold base + committed deltas into one base version (the
    `delta_plane` write → flip → GC contract). Returns the new pointer,
    or None when nothing to fold."""
    plane = _plane(sink_dir)
    return plane.fold(
        lambda path, live, _: _merge_counts(plane.read(spark, live))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


# ------------------------------------------------- embedding modality (r9)


def embedding_moment_batch(
    batch: DataFrame, batch_id: int, sink_dir: str, vec_col: str
) -> None:
    """One micro-batch's per-dim moment partials (``dim | n | s | ss``,
    exact decimal sums — `operators/drift.embedding_moments`), written
    into this batch's own delta dir (idempotent on replay). Moments are
    mergeable by plain SUM, so the stream persists d rows per trigger."""
    from spark_streaming_sql_s3_connector_spark.operators.drift import (
        embedding_moments,
    )

    declare(sink_dir, "embedding_moments")
    _plane(sink_dir).write_delta(
        embedding_moments(batch, vec_col).coalesce(1), batch_id
    )


def streaming_embedding_moments(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    vec_col: str,
    trigger_available_now: bool = False,
):
    """Maintain the incremental per-dimension moment table of an
    embedding column over everything admitted — the embedding-modality
    member of the live drift plane (an encoder swap or source-mix shift
    moves the embedding distribution long before categorical columns
    do). Read with :func:`read_embedding_moments`; compare against a
    baseline with :func:`read_embedding_drift`. Returns the
    StreamingQuery."""
    writer = foreach_batch(
        stream, checkpoint_dir, embedding_moment_batch, sink_dir, vec_col
    )
    return (writer.trigger(availableNow=True) if trigger_available_now else writer).start()


def read_embedding_moments(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The merged live per-dim moments: base (if compacted) + un-folded
    deltas, summed — decimal addition is exact and order-free, so this
    equals the batch moments over the union of admitted rows (the law
    the tests pin)."""
    plane = _plane(sink_dir)
    live = plane.live()
    if not live:
        raise FileNotFoundError(f"no embedding-moment state under {sink_dir}")
    return _merge_moments(plane.read(spark, live))


def _merge_moments(allm: DataFrame) -> DataFrame:
    return allm.groupBy("dim").agg(
        F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("ss").alias("ss")
    )


def read_embedding_drift(
    spark: SparkSession,
    sink_dir: str,
    baseline_moments: DataFrame,
) -> DataFrame:
    """Drift of the LIVE ingested embedding distribution vs a baseline
    moment table (e.g. `operators/drift.embedding_moments` of the
    reference corpus, or a previous epoch's
    :func:`read_embedding_moments`). Output schema and arithmetic are
    exactly ``operators/drift.embedding_drift`` — shared final-select
    code, so streaming == batch is an identity up to moment equality."""
    from spark_streaming_sql_s3_connector_spark.operators.drift import (
        embedding_drift_from_moments,
    )

    mo = baseline_moments.select(
        "dim",
        F.col("n").alias("_n_o"),
        F.col("s").alias("_s_o"),
        F.col("ss").alias("_ss_o"),
    )
    mn = read_embedding_moments(spark, sink_dir).select(
        "dim",
        F.col("n").alias("_n_n"),
        F.col("s").alias("_s_n"),
        F.col("ss").alias("_ss_n"),
    )
    return embedding_drift_from_moments(mo, mn)


def compact_embedding_moments(
    spark: SparkSession, sink_dir: str
) -> Optional[int]:
    """Fold base + committed deltas into one d-row base version (the
    `delta_plane` write → flip → GC contract). Returns the new pointer,
    or None when nothing to fold."""
    plane = _plane(sink_dir)
    return plane.fold(
        lambda path, live, _: _merge_moments(plane.read(spark, live))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
