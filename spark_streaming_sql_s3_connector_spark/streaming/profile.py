"""Streaming incremental dataset profile — the live data-quality
monitor for a 100 TB ingest.

``operators/profile.profile_table`` answers "what does this corpus look
like" with one batch scan. At ingest time you want the same answer
continuously — row/null counts, distincts, value ranges over EVERYTHING
admitted so far — without ever re-scanning history. Every statistic the
profile carries is mergeable, so the stream only has to persist
per-batch PARTIALS:

- counts / null counts: add
- min / max: combine in the NATIVE type (rendering to portable strings
  happens at read time — a lexicographic min over decimal strings would
  order '10.0' before '2.0')
- distinct: Datasketches HLL sketches (``hll_sketch_agg``), which union
  losslessly through any number of folds — the only way DISTINCT stays
  correct incrementally

Layout and exactly-once are the ``streaming/rollup.py`` recipe, reused
verbatim (delta dir per batch id, overwrite-on-replay ⇒ idempotent;
``base/v=<n>`` + atomic pointer; readers union base + live deltas):
each micro-batch writes ONE wide row of partials, so the delta log
grows by a few KB per trigger and ``compact_profile`` folds it to a
single base row on any schedule. State lives in the table — no
streaming state store, restart needs only the checkpoint.

At 100 TB: the per-batch profile agg is the same single-scan partial
aggregate as the batch profiler (map-side combine to one row per
partition), piggybacking on the micro-batch the pipeline already reads.
Nothing here adds a shuffle proportional to data size.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_sql_s3_connector_spark.operators.profile import _render
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    SIDECAR,
    DeltaPlane,
    declare,
    foreach_batch,
)

_SKETCHABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
    T.StringType, T.BinaryType, T.BooleanType, T.DateType,
)


def _plane(sink_dir: str) -> DeltaPlane:
    """The profile plane, read with the schema its first delta persisted
    (a root written before the sidecar existed reads by inference)."""
    return DeltaPlane(sink_dir, schema=SIDECAR)


def _partials(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """ONE wide partial row for this frame: _n_rows plus per-column
    _nn/_hll/_min/_max in native types."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        if c not in by_name:
            raise ValueError(f"column {c!r} not in stream schema")
        col, dtype = F.col(c), by_name[c]
        aggs.append(F.count(col).alias(f"_nn_{c}"))
        if isinstance(dtype, _SKETCHABLE):
            # hll_sketch_agg rejects fractional/date inputs; string-cast
            # those (injective rendering, so distinct counts agree)
            if isinstance(dtype, (T.IntegerType, T.LongType, T.StringType, T.BinaryType)):
                sk = col
            else:
                sk = col.cast("string")
            aggs.append(F.hll_sketch_agg(sk).alias(f"_hll_{c}"))
        else:
            aggs.append(F.lit(None).cast("binary").alias(f"_hll_{c}"))
        if _render(col, dtype) is None:
            aggs.append(F.lit(None).cast(dtype).alias(f"_min_{c}"))
            aggs.append(F.lit(None).cast(dtype).alias(f"_max_{c}"))
        else:
            aggs.append(F.min(col).alias(f"_min_{c}"))
            aggs.append(F.max(col).alias(f"_max_{c}"))
    return df.agg(*aggs)


def _merge_partials(frames: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Fold any number of wide partial rows into one."""
    aggs = [F.sum("_n_rows").alias("_n_rows")]
    for c in cols:
        aggs.append(F.sum(f"_nn_{c}").alias(f"_nn_{c}"))
        aggs.append(F.hll_union_agg(f"_hll_{c}", True).alias(f"_hll_{c}"))
        aggs.append(F.min(f"_min_{c}").alias(f"_min_{c}"))
        aggs.append(F.max(f"_max_{c}").alias(f"_max_{c}"))
    return frames.agg(*aggs)


def _merge_all(allp: DataFrame) -> DataFrame:
    """Fold the partial rows of every profiled column into one."""
    cols = sorted({c[4:] for c in allp.columns if c.startswith("_nn_")})
    return _merge_partials(allp, cols)


def profile_batch(
    batch: DataFrame,
    batch_id: int,
    sink_dir: str,
    columns: Optional[Sequence[str]] = None,
) -> None:
    """One micro-batch's contribution: compute the wide partial row and
    OVERWRITE this batch's own delta dir (idempotent on replay). This
    is the unit :func:`streaming_profile` schedules; drivable directly
    for foreachBatch composition or batch-by-batch testing."""
    cols = list(columns) if columns is not None else list(batch.columns)
    if not cols:
        raise ValueError("no columns to profile")
    declare(sink_dir, "profile")
    _plane(sink_dir).write_delta(_partials(batch, cols), batch_id)


def streaming_profile(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    columns: Optional[Sequence[str]] = None,
    trigger_available_now: bool = False,
):
    """Maintain the incremental profile of everything the stream has
    admitted. Read it with :func:`read_profile`; fold the delta log with
    :func:`compact_profile` (any schedule — correctness never depends on
    it). Returns the StreamingQuery.

    Law (tested): after any sequence of triggers, restarts, and replays,
    ``read_profile`` equals the batch profiler over the union of admitted
    rows on every exact field (n_rows / n_null / min / max), with
    n_distinct an HLL estimate of the exact value."""
    cols = list(columns) if columns is not None else list(stream.columns)
    if not cols:
        raise ValueError("no columns to profile")

    writer = foreach_batch(stream, checkpoint_dir, profile_batch, sink_dir, cols)
    return (writer.trigger(availableNow=True) if trigger_available_now else writer).start()


def read_profile(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The current profile, in the exact schema of
    ``operators/profile.profile_table``: one row per column —
    ``col_name | n_rows | n_null | n_distinct | min_value | max_value``
    with portable-string min/max and HLL-estimated distincts."""
    plane = _plane(sink_dir)
    live = plane.live()
    if not live:
        raise FileNotFoundError(f"no profile state under {sink_dir}")
    one = _merge_all(plane.read(spark, live))
    cols = sorted({c[4:] for c in one.columns if c.startswith("_nn_")})
    by_type = {f.name: f.dataType for f in one.schema.fields}
    entries = []
    for c in cols:
        rendered_min = _render(F.col(f"_min_{c}"), by_type[f"_min_{c}"])
        entries.append(
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("_n_rows") - F.col(f"_nn_{c}")).alias("n_null"),
                F.when(
                    F.col(f"_hll_{c}").isNull(), F.lit(0)
                )
                .otherwise(F.hll_sketch_estimate(F.col(f"_hll_{c}")))
                .cast("long")
                .alias("n_distinct"),
                (rendered_min if rendered_min is not None else F.lit(None).cast("string")).alias("min_value"),
                (
                    _render(F.col(f"_max_{c}"), by_type[f"_max_{c}"])
                    if rendered_min is not None
                    else F.lit(None).cast("string")
                ).alias("max_value"),
            )
        )
    return (
        one.select(F.col("_n_rows").alias("n_rows"), F.explode(F.array(*entries)).alias("e"))
        .select(
            F.col("e.col_name").alias("col_name"),
            F.col("n_rows"),
            F.col("e.n_null").alias("n_null"),
            F.col("e.n_distinct").alias("n_distinct"),
            F.col("e.min_value").alias("min_value"),
            F.col("e.max_value").alias("max_value"),
        )
        .orderBy("col_name")
    )


def compact_profile(spark: SparkSession, sink_dir: str) -> Optional[int]:
    """Fold base + committed deltas into one base row (the
    `delta_plane` write → flip → GC contract). Returns the new pointer,
    or None if nothing to fold."""
    plane = _plane(sink_dir)
    return plane.fold(
        lambda path, live, _: _merge_all(plane.read(spark, live))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
