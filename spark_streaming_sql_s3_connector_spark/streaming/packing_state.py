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

1. read the per-shard cursors = SUM over the cursor side of the base
   and the prior batches' deltas (``num_shards`` rows per batch,
   broadcast-scale by construction);
2. pack the batch alone with the batch operator (same shard function,
   same within-shard id order), then SHIFT each shard's offsets by its
   cursor and recompute ``seq_first``/``seq_last`` — integer `div`,
   identical arithmetic to the batch operator and its DuckDB oracle;
3. write the batch's delta in one write: ``pack/_deltas/batch=<id>``
   holds the manifest rows under ``plane=pack`` and the per-shard token
   totals under ``plane=cursors``. It OVERWRITES its own batch dir, so
   a foreachBatch replay converges (the `streaming/rollup.py`
   exactly-once recipe).

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
(not the corpus) plus a broadcast of ``num_shards`` cursor rows; the
cursor reads prune to the tiny ``plane=cursors`` dirs, and
:func:`compact_pack_state` folds both sides into one base: the cursors
to ``num_shards`` rows, the manifest by concatenation (file-count
hygiene only).

A pack state written before the sides were combined keeps flat
manifest deltas (read as manifest rows) and a separate ``cursors``
plane, read while it exists; the next fold sums it into the combined
base and removes it.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructType

from spark_streaming_sql_s3_connector_spark.operators.packing import pack_concat
from spark_streaming_sql_s3_connector_spark.streaming import state_io
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    PLANE,
    SIDECAR,
    DeltaPlane,
    Entry,
    declare,
    foreach_batch,
    side,
    tagged,
    union_all,
)
from spark_streaming_sql_s3_connector_spark.streaming.rollup import _delta_dir

_PACK = "pack"
_LEGACY_CURSORS = "cursors"

# explicit schemas: a batch with zero survivors writes a _SUCCESS-only
# dir, which schema inference rejects but a fixed schema reads empty
_CURSOR_SCHEMA = "shard int, toks bigint"


def _pack_plane(pack_dir: str) -> DeltaPlane:
    # the manifest schema depends on the caller's id and keep columns,
    # so it is persisted ONCE at the first write and every read uses it
    return DeltaPlane(os.path.join(pack_dir, _PACK), schema=SIDECAR)


def _write_manifest_schema_once(pack_dir: str, schema: StructType) -> None:
    _pack_plane(pack_dir).write_schema_once(schema)


def _manifest_schema(pack_dir: str) -> Optional[StructType]:
    try:
        raw = state_io.read_text(os.path.join(pack_dir, _PACK, SIDECAR))
    except FileNotFoundError:
        return None
    return StructType.fromJson(json.loads(raw))


def _read(
    spark: SparkSession, manifest: StructType, entries: list[Entry]
) -> list[DataFrame]:
    """Each dir read with both sides' columns and the plane tag."""
    if not entries:
        return []
    schema = StructType(manifest.fields).add("toks", LongType()).add(PLANE, StringType())
    return [spark.read.schema(schema).parquet(p) for _, p in entries]


def _manifest_rows(frame: DataFrame, manifest: StructType) -> DataFrame:
    return side(frame, _PACK, manifest.fieldNames(), primary=True)


def _cursor_rows(frame: DataFrame) -> DataFrame:
    return side(frame, "cursors", ("shard", "toks"))


def _legacy_cursors(
    spark: SparkSession, pack_dir: str, below: Optional[int]
) -> tuple[Optional[DeltaPlane], list[DataFrame]]:
    """The separate ``cursors`` plane of a pack state written before the
    sides were combined, and its frames not yet folded into the pack
    base: its base until a combined base (one with a ``plane=`` level)
    took it in, and its deltas above both pointers."""
    legacy = DeltaPlane(os.path.join(pack_dir, _LEGACY_CURSORS), schema=_CURSOR_SCHEMA)
    if not state_io.is_dir(legacy.root):
        return None, []
    pack = _pack_plane(pack_dir)
    ptr = pack.pointer()
    live = [e for e in legacy.pending(below) if ptr is None or e[0] > ptr]
    old = legacy.pointer()
    combined = ptr is not None and any(
        n.startswith(PLANE + "=") for n in state_io.list_names(pack.base_path(ptr))
    )
    if old is not None and not combined:
        live.append((old, legacy.base_path(old)))
    return legacy, [f for _, f in legacy.frames(spark, live)]


def _cursor_base(
    spark: SparkSession, pack_dir: str, before_batch: Optional[int]
) -> DataFrame:
    """Per-shard token cursors accumulated STRICTLY before
    ``before_batch``: the cursor side of the base and deltas, summed.
    Returns an empty frame on a fresh state."""
    live = _pack_plane(pack_dir).live(before_batch)
    frames = _legacy_cursors(spark, pack_dir, before_batch)[1] + [
        _cursor_rows(f) for f in _read(spark, _manifest_schema(pack_dir), live)
    ]
    if not frames:
        return spark.createDataFrame([], _CURSOR_SCHEMA)
    return _sum_cursors(union_all(frames))


def _sum_cursors(cursors: DataFrame) -> DataFrame:
    return cursors.groupBy("shard").agg(F.sum("toks").alias("toks"))


def _write_sides(manifest: DataFrame, cursors: DataFrame, path: str) -> None:
    tagged({_PACK: manifest, "cursors": cursors.coalesce(1)}).write.mode(
        "overwrite"
    ).partitionBy(PLANE).parquet(path)


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
    its (lang, qscore) plane into the manifest this way, so a
    ``read_curated_pack`` is one join-free manifest read. They may not
    be named ``plane`` or ``toks``, the columns of the delta layout.
    A state whose persisted manifest columns differ from this batch's
    is refused before anything is written."""
    reserved = sorted({PLANE, "toks"} & set(keep_cols))
    if reserved:
        raise ValueError(
            f"keep_cols {reserved} collide with the pack state's layout "
            f"columns ({PLANE!r}, 'toks')"
        )
    spark = batch.sparkSession
    # persisted: the manifest and cursor sides both read `local`, and
    # without the cache the write computes the batch and its window
    # shuffle once per side (Spark does not reuse the exchange when the
    # batch is a computed frame such as the curation gate's survivors)
    local = pack_concat(
        batch, id_col, capacity,
        text_col=text_col, token_col=token_col, num_shards=num_shards,
        keep_cols=keep_cols,
    ).persist()
    try:
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
        manifest = _manifest_schema(pack_dir)
        if manifest is None:
            # persisted BEFORE the first delta lands so a zero-survivor
            # batch (whose dir holds only _SUCCESS) stays readable
            _write_manifest_schema_once(pack_dir, shifted.schema)
        elif sorted(manifest.fieldNames()) != sorted(shifted.columns):
            raise ValueError(
                f"persisted manifest columns {manifest.fieldNames()} differ "
                f"from this batch's {shifted.columns}: pack into a fresh pack_dir"
            )
        declare(pack_dir, "packing")
        # a batch an older writer wrote left its totals in the separate
        # cursors plane; this replay's totals replace them
        state_io.remove_tree(
            _delta_dir(os.path.join(pack_dir, _LEGACY_CURSORS), batch_id)
        )
        _write_sides(
            shifted,
            local.groupBy("shard").agg(F.sum("n_tokens").alias("toks")),
            _delta_dir(os.path.join(pack_dir, _PACK), batch_id),
        )
    finally:
        local.unpersist()


def read_packed_manifest(spark: SparkSession, pack_dir: str) -> DataFrame:
    """The accumulated per-doc manifest across every packed batch —
    identical schema and values to ``pack_concat`` over the union of
    the batches (the law the tests pin)."""
    live = _pack_plane(pack_dir).live()
    if not live:
        raise FileNotFoundError(f"no packing state under {pack_dir}")
    manifest = _manifest_schema(pack_dir)
    return union_all([_manifest_rows(f, manifest) for f in _read(spark, manifest, live)])


def read_manifest_batch(spark: SparkSession, pack_dir: str, batch_id: int) -> DataFrame:
    """The manifest rows batch ``batch_id`` packed."""
    manifest = _manifest_schema(pack_dir)
    path = _pack_plane(pack_dir).delta_path(batch_id)
    return _manifest_rows(_read(spark, manifest, [(batch_id, path)])[0], manifest)


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
    return foreach_batch(
        stream, checkpoint_dir, pack_batch_incremental, pack_dir, id_col,
        capacity, text_col=text_col, token_col=token_col, num_shards=num_shards,
    ).start()


def compact_pack_state(
    spark: SparkSession, pack_dir: str, upto_batch: Optional[int] = None
) -> None:
    """Fold committed deltas into ``base/v=<n>`` behind the atomic
    pointer (the `delta_plane` write → flip → GC contract), in one
    fold of both sides: the cursors sum to ONE ``num_shards``-row
    frame, the manifest folds by concatenation — pure file-count
    hygiene, rows never change. A separate ``cursors`` plane of an
    older state is summed in too, and removed once nothing of it stays
    above the new pointer.
    ``upto_batch`` defaults to everything; pass the last COMMITTED
    batch id when compacting beside a live stream (same replay guard
    as every compactor in this package)."""
    below = None if upto_batch is None else upto_batch + 1
    plane = _pack_plane(pack_dir)
    legacy = None

    def write(path, live, _):
        nonlocal legacy
        manifest = _manifest_schema(pack_dir)
        frames = _read(spark, manifest, live)
        legacy, old = _legacy_cursors(spark, pack_dir, below)
        _write_sides(
            union_all([_manifest_rows(f, manifest) for f in frames]),
            _sum_cursors(union_all([_cursor_rows(f) for f in frames] + old)),
            path,
        )

    version = plane.fold(write, below)
    if legacy is not None:
        old = legacy.pointer()
        floor = version if old is None else max(version, old)
        if all(i <= floor for i in legacy.delta_ids()):
            state_io.remove_tree(legacy.root)
