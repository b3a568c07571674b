"""THE on-disk discipline of every versioned ``streaming/`` state plane.

Every incremental state in this package (rollup / profile / drift
sinks, term stats, the dedup screens and band index, the packing
state, the curation ``_meta`` plane, the ANN lifecycle's landed
vectors) persists the same four things under one plane root:

- ``<deltas>/batch=<id>/`` — one delta per micro-batch, OVERWRITTEN on
  replay, so a replayed batch converges instead of double-counting;
- ``<markers>/batch=<t>/`` (optional) — id-keyed delete markers; a
  marker ``t`` kills rows ranked strictly below ``t``;
- ``base/v=<n>/`` + the atomic ``_latest`` pointer — the folded base,
  ranked as the pointer: every row in it landed at or below ``n``;
- ``_schema.json`` (optional) — a write-once schema sidecar, so a
  zero-row delta (a ``_SUCCESS``-only dir) never hits parquet schema
  inference.

Each state root a writer creates also names its kind once, in a
write-once ``_plane.json`` (:func:`declare`), which is all that
``streaming/vacuum`` and the pipeline delete router read to find it.

A state with more than one row kind (the exact screen's index rows and
dup verdicts, the packer's manifest and cursor totals) keeps them in the
SAME batch dir, one ``plane=<side>`` partition each (:func:`tagged`),
so a trigger lands its whole delta in one write and a fold collects
every side with the dir. :func:`side` reads one side back; a dir with
no ``plane=`` level (a state written before the sides were combined)
is all primary-side rows.

Liveness: the pointed base plus every delta and marker strictly above
the pointer. Everything at or below it is dead to every reader.

Fold contract — write → flip → GC, crash-safe at every step: the new
base is written beside the live one (an unflipped base is unread), the
pointer flip is the commit point, and GC then deletes every delta and
marker at or below the new pointer and every base version other than
it — including the leftovers of an earlier fold that crashed between
its flip and its GC. Each plane keeps only what differs: its merge
expression (the ``write`` callback), its read shape and its extras.

This is the analog of the reference's one versioned-state module
(RocksDBFileManager.scala:157-312: version files, upload, GC) and of
Structured Streaming's per-operator versioned state store.
"""

from __future__ import annotations

import functools
import json
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_streaming_sql_s3_connector_spark.streaming import state_io

# ``schema=SIDECAR``: read the plane with the schema persisted by
# ``write_schema_once`` (inference when a pre-sidecar state has none)
SIDECAR = "_schema.json"

# (rank, path): a live dir with the insert order markers kill by
Entry = tuple[int, str]

# the partition column that names a row's side in a combined batch dir
PLANE = "plane"

# a state root's kind declaration (the ``_`` keeps Spark's readers off it)
DECLARATION = "_plane.json"


def declare(root: str, kind: str, **extra) -> None:
    """Name ``root`` a state root of ``kind`` (plus ``extra`` fields,
    e.g. a rollup's merge ``keys``). Write-once: an existing
    declaration wins, so a replay or restart leaves it byte-identical,
    and a warm trigger pays one stat, not a write."""
    path = os.path.join(root, DECLARATION)
    if not state_io.exists(path):
        state_io.write_text_atomic(
            path, json.dumps({"kind": kind, **extra}, sort_keys=True),
            overwrite=False,
        )


def declaration(root: str) -> Optional[dict]:
    """``root``'s declaration, or None when it declares nothing. One
    that does not parse, or is not an object with a string ``kind``,
    still marks a root, of kind ``unreadable``: nothing maintains it,
    and nothing mistakes its subdirs for roots."""
    try:
        decl = json.loads(state_io.read_text(os.path.join(root, DECLARATION)))
    except FileNotFoundError:
        return None
    except ValueError:
        decl = None
    if not isinstance(decl, dict) or not isinstance(decl.get("kind"), str):
        return {"kind": "unreadable"}
    return decl


def union_all(frames: list[DataFrame]) -> DataFrame:
    """Left-fold ``unionByName`` over a non-empty frame list."""
    return functools.reduce(DataFrame.unionByName, frames)


def foreach_batch(stream: DataFrame, checkpoint_dir: str, process, *args, **kwargs):
    """The stream writer that calls ``process(batch, batch_id, *args,
    **kwargs)`` on every micro-batch under ``checkpoint_dir``. Every
    per-batch step here overwrites its own ``batch=<id>`` outputs, so
    the checkpoint's replay of an uncommitted batch converges."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: process(batch, batch_id, *args, **kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def tagged(sides: dict[str, DataFrame]) -> DataFrame:
    """One frame of every side's rows, tagged ``plane=<side>``; a
    column one side lacks reads NULL on the others. Write it
    ``partitionBy(PLANE, ...)``."""
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [f.withColumn(PLANE, F.lit(name)) for name, f in sides.items()],
    )


def side(frame: DataFrame, name: str, cols, primary: bool = False) -> DataFrame:
    """The ``name`` rows of a combined dir's frame (read with a schema
    that lists :data:`PLANE`), projected to ``cols``. The ``primary``
    side also owns the rows of a dir with no ``plane=`` level."""
    cond = F.col(PLANE) == name
    if primary:
        cond = cond | F.col(PLANE).isNull()
    return frame.where(cond).select(*cols)


class DeltaPlane:
    """One plane root. ``deltas`` is the delta subdir under ``root``
    ("" = ``root`` itself); ``markers`` is the FULL path of the marker
    root, or None. ``schema`` is a DDL string, :data:`SIDECAR`, or None
    (inference); ``marker_schema`` likewise a DDL string or None.
    ``seed`` names a pre-stream landing dir under ``root`` that ranks
    −1 and stays live until the first fold (the ANN bootstrap)."""

    def __init__(
        self,
        root: str,
        deltas: str = "_deltas",
        markers: Optional[str] = None,
        schema: Optional[str] = None,
        marker_schema: Optional[str] = None,
        seed: Optional[str] = None,
    ):
        self.root = root
        self.deltas_root = os.path.join(root, deltas) if deltas else root
        self.markers_root = markers
        self.schema = schema
        self.marker_schema = marker_schema
        self.seed = os.path.join(root, seed) if seed else None

    # --- layout -------------------------------------------------------------

    def delta_path(self, batch_id: int) -> str:
        return os.path.join(self.deltas_root, f"batch={batch_id}")

    def marker_path(self, batch_id: int) -> str:
        return os.path.join(self.markers_root, f"batch={batch_id}")

    def base_path(self, version: int) -> str:
        return os.path.join(self.root, "base", f"v={version}")

    def pointer(self) -> Optional[int]:
        return state_io.read_pointer(self.root)

    def delta_ids(self) -> list[int]:
        return state_io.list_batch_ids(self.deltas_root)

    def marker_ids(self) -> list[int]:
        if self.markers_root is None:
            return []
        return state_io.list_batch_ids(self.markers_root)

    # --- liveness -----------------------------------------------------------

    @staticmethod
    def _above(ids, ptr, below, path) -> list[Entry]:
        return [
            (i, path(i))
            for i in ids
            if (ptr is None or i > ptr) and (below is None or i < below)
        ]

    def _head(self, ptr: Optional[int]) -> list[Entry]:
        if ptr is not None:
            return [(ptr, self.base_path(ptr))]
        if self.seed is not None and state_io.is_dir(self.seed):
            return [(-1, self.seed)]
        return []

    def live(self, below: Optional[int] = None) -> list[Entry]:
        """The base (or seed) first, then the deltas above the pointer
        and strictly below ``below`` (None = all)."""
        ptr = self.pointer()
        return self._head(ptr) + self._above(
            self.delta_ids(), ptr, below, self.delta_path
        )

    def pending(self, below: Optional[int] = None) -> list[Entry]:
        """Only the deltas of :meth:`live` — what a fold would add."""
        return self._above(self.delta_ids(), self.pointer(), below, self.delta_path)

    def live_markers(self, below: Optional[int] = None) -> list[Entry]:
        """Marker dirs above the pointer and strictly below ``below``
        (those at or below it were applied by a fold)."""
        ids = self.marker_ids()
        if not ids:
            return []
        return self._above(ids, self.pointer(), below, self.marker_path)

    # --- reads and the schema sidecar ----------------------------------------

    def reader(self, spark: SparkSession):
        if self.schema != SIDECAR:
            return spark.read.schema(self.schema) if self.schema else spark.read
        try:
            raw = state_io.read_text(os.path.join(self.root, SIDECAR))
        except FileNotFoundError:
            return spark.read
        return spark.read.schema(StructType.fromJson(json.loads(raw)))

    def write_schema_once(self, schema: StructType) -> None:
        # exclusive create: an existing schema wins (replay/restart
        # convergent), and a warm trigger pays one stat, not a write
        path = os.path.join(self.root, SIDECAR)
        if not state_io.exists(path):
            state_io.write_text_atomic(
                path, json.dumps(schema.jsonValue()), overwrite=False
            )

    def write_delta(self, frame: DataFrame, batch_id: int) -> None:
        """Overwrite batch ``batch_id``'s delta with ``frame`` (a replay
        converges); a :data:`SIDECAR` plane persists the schema once
        first."""
        if self.schema == SIDECAR:
            self.write_schema_once(frame.schema)
        frame.write.mode("overwrite").parquet(self.delta_path(batch_id))

    def frames(
        self, spark: SparkSession, entries: list[Entry]
    ) -> list[tuple[int, DataFrame]]:
        reader = self.reader(spark)
        return [(rank, reader.parquet(p)) for rank, p in entries]

    def read(self, spark: SparkSession, entries: list[Entry]) -> DataFrame:
        """The union of ``entries`` (non-empty) read with the plane's
        schema."""
        return union_all([f for _, f in self.frames(spark, entries)])

    def marker_frame(
        self, spark: SparkSession, entries: list[Entry]
    ) -> Optional[DataFrame]:
        """The union of ``entries``' markers, or None when empty."""
        if not entries:
            return None
        reader = (
            spark.read.schema(self.marker_schema)
            if self.marker_schema
            else spark.read
        )
        return union_all([reader.parquet(p) for _, p in entries])

    # --- fold and GC ----------------------------------------------------------

    def fold(
        self,
        write: Callable[[str, list[Entry], list[Entry]], None],
        below: Optional[int] = None,
    ) -> Optional[int]:
        """Fold the live entries below ``below`` into a new base.

        ``write(path, live, markers)`` writes the new base at ``path``
        from ``live`` (base or seed first, then the pending deltas) and
        the pending ``markers``; it may raise to refuse the fold.
        Then the pointer flips and :meth:`gc` collects. Returns the new
        pointer — the newest pending delta or marker, −1 for a seed-only
        fold — or None when nothing is pending, or when only markers are
        pending and there is nothing to apply them to (they stay
        live)."""
        ptr = self.pointer()
        head = self._head(ptr)
        deltas = self._above(self.delta_ids(), ptr, below, self.delta_path)
        marks = self._above(self.marker_ids(), ptr, below, self.marker_path)
        seed_pending = ptr is None and bool(head)
        if not (deltas or marks or seed_pending):
            return None
        if not (head or deltas):
            return None  # markers with nothing to apply them to stay live
        new_v = max((i for i, _ in deltas + marks), default=-1)
        write(self.base_path(new_v), head + deltas, marks)
        state_io.write_pointer(self.root, new_v)
        self.gc(new_v)
        return new_v

    def gc(self, version: int) -> None:
        """Delete every delta and marker at or below ``version``, every
        base other than ``version``, and the seed. Call only after the
        pointer reads ``version``: everything deleted is then dead."""
        for i in self.delta_ids():
            if i <= version:
                state_io.remove_tree(self.delta_path(i))
        for t in self.marker_ids():
            if t <= version:
                state_io.remove_tree(self.marker_path(t))
        for v in state_io.list_versions(os.path.join(self.root, "base")):
            if v != version:
                state_io.remove_tree(self.base_path(v))
        if self.seed is not None:
            state_io.remove_tree(self.seed)
