"""Incremental sequence packing — the streaming twin of
`operators/packing.pack_concat`.

`streaming/curation.finalize_curation` repacks the WHOLE survivor
corpus every call: correct, but at 100 TB a refresh pays a full-corpus
window shuffle even when one micro-batch of survivors changed. This
module packs each batch of NEW survivors alone and persists an
append-only manifest: per batch, only the batch's rows shuffle, and
the already-emitted manifest never moves.

Mechanics: concat-and-split offsets are a per-shard running token sum,
and sums are mergeable — so the only cross-batch state a trigger needs
is each shard's CURSOR (total tokens emitted so far). Per batch:

1. read the per-shard cursors = SUM over prior batches' cursor deltas
   (``num_shards`` rows per batch, broadcast-scale by construction);
2. pack the batch alone with the batch operator (same shard function,
   same within-shard id order), then SHIFT each shard's offsets by its
   cursor and recompute ``seq_first``/``seq_last`` — integer `div`,
   identical arithmetic to the batch operator and its DuckDB oracle;
3. write the batch's manifest under ``pack/batch=<id>`` and its
   per-shard token totals under ``cursors/batch=<id>`` — both
   OVERWRITE their own batch dir, so a foreachBatch replay converges
   (the `streaming/rollup.py` exactly-once recipe).

Law (tested, including through a real stream with a replayed batch):
processing doc-id-range-ordered batches incrementally equals
``pack_concat`` on the union corpus — because "order by id within
shard" over the union is exactly the concatenation of the per-batch
orders when batches partition the id space in order (the same
precondition every incremental stage in this repo documents), and the
cursor shift is the associativity of the running sum.

Sequence ids stay monotonic per shard across batches for free:
``seq_first = start_offset div capacity`` and offsets only grow.

Scale shape: per-trigger cost is one window shuffle over the BATCH
(not the corpus) plus a broadcast of ``num_shards`` cursor rows; state
reads are O(batches) tiny cursor files until :func:`compact_pack_state`
folds them to one ``num_shards``-row base. The manifest itself is
append-only data, compacted only for file-count hygiene.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_streaming_sql_s3_connector_spark.operators.packing import pack_concat
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    SIDECAR,
    DeltaPlane,
)
from spark_streaming_sql_s3_connector_spark.streaming.rollup import _delta_dir

_PACK = "pack"
_CURSORS = "cursors"

# explicit schemas: a batch with zero survivors writes _SUCCESS-only
# dirs, which schema inference rejects but a fixed schema reads empty
_CURSOR_SCHEMA = "shard int, toks bigint"


def _cursor_plane(pack_dir: str) -> DeltaPlane:
    return DeltaPlane(os.path.join(pack_dir, _CURSORS), schema=_CURSOR_SCHEMA)


def _pack_plane(pack_dir: str) -> DeltaPlane:
    # the manifest schema depends on the caller's id column, so it can't
    # be a constant like _CURSOR_SCHEMA — it is persisted ONCE at the
    # first write and every later read (manifest reads AND the fold)
    # uses it, so a zero-survivor batch's _SUCCESS-only pack dir reads
    # as empty instead of breaking schema inference
    return DeltaPlane(os.path.join(pack_dir, _PACK), schema=SIDECAR)


def _write_manifest_schema_once(pack_dir: str, schema: StructType) -> None:
    _pack_plane(pack_dir).write_schema_once(schema)


def _cursor_base(
    spark: SparkSession, pack_dir: str, before_batch: Optional[int]
) -> DataFrame:
    """Per-shard token cursors accumulated STRICTLY before
    ``before_batch``: base (if compacted) + cursor deltas, summed.
    Returns an empty frame on a fresh state."""
    plane = _cursor_plane(pack_dir)
    live = plane.live(before_batch)
    if not live:
        return spark.createDataFrame([], _CURSOR_SCHEMA)
    return _sum_cursors(plane.read(spark, live))


def _sum_cursors(cursors: DataFrame) -> DataFrame:
    return cursors.groupBy("shard").agg(F.sum("toks").alias("toks"))


def pack_batch_incremental(
    batch: DataFrame,
    batch_id: int,
    pack_dir: str,
    id_col: str,
    capacity: int,
    text_col: str | None = None,
    token_col: str | None = None,
    num_shards: int = 32,
    keep_cols: tuple[str, ...] = (),
) -> None:
    """Pack one micro-batch of new survivors into the persisted
    manifest (see module doc). Precondition: batches partition the doc
    id space in order (ids in batch N all above batch N-1's), the same
    contract every incremental dedup stage here carries — otherwise
    the incremental==batch law has no order to agree on.

    ``keep_cols``: extra batch columns carried verbatim onto the
    manifest rows (see ``pack_concat``) — the curation finalize folds
    its (lang, qscore) plane into the manifest this way, ONE delta
    write per trigger instead of two and a join-free
    ``read_curated_pack``."""
    spark = batch.sparkSession
    # persisted: `local` feeds BOTH the manifest-delta and the cursor
    # writes — without the cache the second write re-runs the pack's
    # window shuffle (the same two-writes-one-frame rule as the dedup
    # screens' matched frame)
    local = pack_concat(
        batch, id_col, capacity,
        text_col=text_col, token_col=token_col, num_shards=num_shards,
        keep_cols=keep_cols,
    ).persist()
    cursors = _cursor_base(spark, pack_dir, before_batch=batch_id)
    shifted = (
        local.join(F.broadcast(cursors), "shard", "left")
        .withColumn(
            "start_offset",
            F.col("start_offset") + F.coalesce(F.col("toks"), F.lit(0)),
        )
        .select(
            F.col(id_col),
            *keep_cols,
            "shard",
            "start_offset",
            "n_tokens",
            F.expr(f"start_offset div {int(capacity)}")
            .cast("bigint")
            .alias("seq_first"),
            F.expr(
                f"greatest(start_offset + n_tokens - 1, start_offset) "
                f"div {int(capacity)}"
            )
            .cast("bigint")
            .alias("seq_last"),
        )
    )
    try:
        # persist the manifest schema BEFORE the first delta lands so a
        # zero-survivor batch (whose dir holds only _SUCCESS) stays
        # readable
        _write_manifest_schema_once(pack_dir, shifted.schema)
        shifted.write.mode("overwrite").parquet(
            _delta_dir(os.path.join(pack_dir, _PACK), batch_id)
        )
        (
            local.groupBy("shard")
            .agg(F.sum("n_tokens").alias("toks"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(_delta_dir(os.path.join(pack_dir, _CURSORS), batch_id))
        )
    finally:
        local.unpersist()


def read_packed_manifest(spark: SparkSession, pack_dir: str) -> DataFrame:
    """The accumulated per-doc manifest across every packed batch —
    identical schema and values to ``pack_concat`` over the union of
    the batches (the law the tests pin)."""
    plane = _pack_plane(pack_dir)
    live = plane.live()
    if not live:
        raise FileNotFoundError(f"no packing state under {pack_dir}")
    return plane.read(spark, live)


def streaming_pack(
    stream: DataFrame,
    pack_dir: str,
    checkpoint_dir: str,
    id_col: str,
    capacity: int,
    text_col: str | None = None,
    token_col: str | None = None,
    num_shards: int = 32,
):
    """Maintain the incremental packing manifest off any stream (incl.
    the s3-connector source). Returns the StreamingQuery."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        pack_batch_incremental(
            batch, batch_id, pack_dir, id_col, capacity,
            text_col=text_col, token_col=token_col, num_shards=num_shards,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def compact_pack_state(
    spark: SparkSession, pack_dir: str, upto_batch: Optional[int] = None
) -> None:
    """Fold committed deltas of both state tables into ``base/v=<n>``
    behind atomic pointers (the `delta_plane` write → flip → GC
    contract). Cursors fold to ONE
    ``num_shards``-row frame (sums are mergeable); the manifest folds
    by concatenation — pure file-count hygiene, rows never change.
    ``upto_batch`` defaults to everything; pass the last COMMITTED
    batch id when compacting beside a live stream (same replay guard
    as every compactor in this package)."""
    below = None if upto_batch is None else upto_batch + 1
    cursors, pack = _cursor_plane(pack_dir), _pack_plane(pack_dir)
    cursors.fold(
        lambda path, live, _: _sum_cursors(cursors.read(spark, live))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path),
        below,
    )
    pack.fold(
        lambda path, live, _: pack.read(spark, live)
        .write.mode("overwrite")
        .parquet(path),
        below,
    )
