"""Continuous aggregate — a hypertable-style time-bucket rollup kept
incrementally up to date by a stream, exactly-once under replay.

The pattern: raw events stream in through the connector; a dashboard
wants ``GROUP BY time_bucket, key`` over ALL history. Recomputing that
from raw data every refresh re-reads the world; a watermarked streaming
agg alone only emits finalized windows. The continuous aggregate
materializes mergeable partials (count / sum / min / max — avg derives at
read time) and folds them incrementally.

Exactly-once is the hard part: a ``foreachBatch`` that merges a batch's
delta into the rollup in place double-counts when the batch replays after
a crash between the sink write and the checkpoint commit. The layout here
makes every write idempotent instead (the same recipe as the connector's
metadata log — reference semantics `S3ConnectorSourceLog`, rebuilt in
`state/metadata_log.py`):

- ``_deltas/batch=<id>/`` — each micro-batch OVERWRITES its own delta
  directory, keyed by Spark's monotonically-replayed batch id. A replayed
  batch rewrites identical partials onto itself: converged, not doubled.
- ``base/v=<n>/`` + ``_latest`` pointer — ``compact_rollup`` folds base +
  deltas ``id <= n`` into a new base version, then atomically flips the
  pointer (tmp+rename); deltas at-or-below the pointer are dead to
  readers, so deleting them is garbage collection, safe at any moment.
- readers union ``base[_latest]`` with deltas ``id > _latest`` and merge.

Per-batch cost is O(batch); read cost is O(base + unfolded deltas), reset
by compaction — both independent of table age. State lives in the table,
not executor memory: no unbounded streaming state, restart needs only the
checkpoint dir.

At 100 TB the base is bucket-partitioned parquet: the read-side merge
prunes to the queried time range, and compaction shuffles partial rows
(a few per bucket × key), never raw events.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    DeltaPlane,
    declare,
    foreach_batch,
    union_all,
)

_PARTIALS = (
    ("_ca_cnt", lambda v: F.count(F.lit(1))),
    ("_ca_sum", lambda v: F.sum(v)),
    ("_ca_min", lambda v: F.min(v)),
    ("_ca_max", lambda v: F.max(v)),
)
_MERGE = {
    "_ca_cnt": F.sum,
    "_ca_sum": F.sum,
    "_ca_min": F.min,
    "_ca_max": F.max,
    # Datasketches HLL: binary sketches merge losslessly — the only way
    # to keep DISTINCT incrementally correct across delta folds
    "_ca_hll": F.hll_union_agg,
}


def time_bucket(col, width_seconds: int):
    """Timescale-style time_bucket: floor the timestamp to a fixed-width
    bucket start. Pure JVM arithmetic (integer division on epoch
    microseconds, exact for any integer width)."""
    us = F.unix_micros(col)
    width_us = int(width_seconds) * 1_000_000
    return F.timestamp_micros((F.floor(us / width_us) * width_us).cast("long"))


def _delta_dir(sink_dir: str, batch_id: int) -> str:
    return DeltaPlane(sink_dir).delta_path(batch_id)


def _delta_ids(sink_dir: str) -> list[int]:
    return DeltaPlane(sink_dir).delta_ids()


def _merge(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    partial_cols = [c for c in df.columns if c.startswith("_ca_")]
    return df.groupBy("bucket", *keys).agg(
        *[_MERGE[c](F.col(c)).alias(c) for c in partial_cols]
    )


def continuous_aggregate(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: Sequence[str] = ("event_type",),
    bucket_width_seconds: int = 3600,
    distinct_col: Optional[str] = None,
    trigger_available_now: bool = False,
):
    """Start the incremental rollup; returns the StreamingQuery. Query
    the materialized table with ``read_rollup``; fold the delta log down
    periodically with ``compact_rollup`` (any schedule — correctness
    never depends on it). ``distinct_col`` adds an HLL sketch partial so
    the view exposes approx-distinct of that column per bucket (sketches
    union losslessly through every delta fold). The sink declares its
    ``keys``, which ``streaming/vacuum`` folds by."""
    keys = list(keys)
    declare(sink_dir, "rollup", keys=keys)

    def _process(batch: DataFrame, batch_id: int) -> None:
        aggs = [fn(F.col(value_col)).alias(name) for name, fn in _PARTIALS]
        if distinct_col is not None:
            aggs.append(F.hll_sketch_agg(F.col(distinct_col)).alias("_ca_hll"))
        delta = (
            batch.withColumn("bucket", time_bucket(F.col(ts_col), bucket_width_seconds))
            .groupBy("bucket", *keys)
            .agg(*aggs)
        )
        # overwrite of THIS batch's own directory = idempotent on replay
        delta.write.mode("overwrite").parquet(_delta_dir(sink_dir, batch_id))

    writer = foreach_batch(stream, checkpoint_dir, _process)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _live_frames(spark: SparkSession, sink_dir: str) -> list[DataFrame]:
    return [spark.read.parquet(p) for _, p in DeltaPlane(sink_dir).live()]


def read_rollup(spark: SparkSession, sink_dir: str, keys: Sequence[str] = ("event_type",)) -> DataFrame:
    """User-facing view: one row per (bucket, keys) with
    cnt / total / vmin / vmax / vavg, merged from base + unfolded deltas."""
    frames = _live_frames(spark, sink_dir)
    if not frames:
        raise FileNotFoundError(f"no rollup data at {sink_dir}")
    merged = _merge(union_all(frames), list(keys))
    out = [
        "bucket",
        *keys,
        F.col("_ca_cnt").alias("cnt"),
        F.col("_ca_sum").alias("total"),
        F.col("_ca_min").alias("vmin"),
        F.col("_ca_max").alias("vmax"),
        (F.col("_ca_sum") / F.col("_ca_cnt")).alias("vavg"),
    ]
    if "_ca_hll" in merged.columns:
        out.append(F.hll_sketch_estimate("_ca_hll").alias("approx_distinct"))
    return merged.select(*out)


def compact_rollup(spark: SparkSession, sink_dir: str, keys: Sequence[str] = ("event_type",)) -> Optional[int]:
    """Fold base + all current deltas into a new base version and flip the
    pointer (the `delta_plane` write → flip → GC contract). Returns the
    new version (None if nothing to fold)."""

    plane = DeltaPlane(sink_dir)
    return plane.fold(
        lambda path, live, _: _merge(plane.read(spark, live), list(keys))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
