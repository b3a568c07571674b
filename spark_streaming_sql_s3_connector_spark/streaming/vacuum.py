"""One maintenance entry point for EVERY persisted state plane.

The package's streaming planes all share one delta / base / pointer
layout and one write → flip → GC fold (``streaming/delta_plane.py``),
but they arrange it in seven signatures — rollup / profile /
drift-count / embedding-moment sinks (``_deltas`` + pointer), BM25
term stats (``terms``/``corpus``/``postings`` subdirs), the
incremental packing manifest (``pack``), the dedup
screening indexes (``_new`` key dirs), the MinHash band index
(``_bands``) — beside the IVF-PQ ANN index (``quantizers.json``), and
each merges its deltas its own way behind its own compactor and
replay guard. An operator running a 100 TB pipeline should not need
to know seven maintenance calls: this module walks a state root,
CLASSIFIES each plane by its on-disk signature (layout markers first,
then the delta schema for the ``_deltas`` family), and dispatches to
the right compactor with its always-safe default — the serving-plane
analog of the source metadata log's bounded self-maintenance
(reference: RocksDBS3SourceLog.scala:416-460, where one maintenance
path both folds and GCs).

Classification rules (checked in order, first match wins, matched
subtrees are not descended into):

- ``quantizers.json``            → ``operators/ann_index.compact_ann_index``
- ``_bands/``                    → ``streaming/dedup_index.compact_index``
- ``_new/``                      → ``streaming/exact_dedup.compact_index``
  with the strictly-below-newest-delta guard (the line/passage default:
  the newest delta is the only batch a restart can replay, and folding
  it would corrupt a replay's ``_docs`` rewrite)
- ``terms/`` + ``corpus/``       → ``streaming/term_stats.compact_term_stats``
- ``pack/_schema.json``, or ``pack/`` + an older state's ``cursors/``
                                 → ``streaming/packing_state.compact_pack_state``
- ``_deltas/`` with a delta schema of:
    - ``_n_rows`` + ``_nn_*``    → ``streaming/profile.compact_profile``
    - exactly ``bucket, n``      → ``streaming/drift.compact_drift_counts``
    - exactly ``dim, n, s, ss``  → ``streaming/drift.compact_embedding_moments``
    - ``bucket`` + ``_ca_*``     → ``streaming/rollup.compact_rollup`` with
      ``keys`` = the non-bucket, non-partial columns (derived from the
      schema, so rollups with any key set vacuum correctly)
  anything else is reported as ``skipped`` (never guessed at).

``upto_batch`` (optional) passes through to every compactor that takes
a fold horizon — hand it the last COMMITTED batch id when vacuuming
beside live streams, exactly as each compactor documents. Compactors
GC their own superseded versions, so after a vacuum each plane holds
ONE base version + only post-horizon deltas (the bounded-version law
the tests pin over a 10-batch lifecycle).

Returns a report (one dict per plane found: path, plane, result) so
callers can log what a maintenance cycle actually did.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

from spark_streaming_sql_s3_connector_spark.streaming import state_io
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import SIDECAR


def _delta_schema_cols(spark: SparkSession, deltas_root: str) -> Optional[set]:
    for e, isdir in sorted(state_io.list_names_info(deltas_root)):
        p = os.path.join(deltas_root, e)
        if e.startswith("batch=") and isdir:
            try:
                return set(spark.read.parquet(p).columns)
            except Exception:
                continue
    return None


def _classify_deltas(spark: SparkSession, plane_dir: str) -> Optional[str]:
    cols = _delta_schema_cols(spark, os.path.join(plane_dir, "_deltas"))
    if cols is None:
        return None
    if "_n_rows" in cols and any(c.startswith("_nn_") for c in cols):
        return "profile"
    if cols == {"bucket", "n"}:
        return "drift_counts"
    if cols == {"dim", "n", "s", "ss"}:
        return "embedding_moments"
    if "bucket" in cols and any(c.startswith("_ca_") for c in cols):
        return "rollup"
    return None


def classify_plane(spark: SparkSession, d: str) -> Optional[str]:
    """The signature classification table, exposed on its own so other
    maintenance entry points (e.g. `curation.propagate_doc_deletes_for_pipeline`)
    route by the SAME detection rules vacuum compacts by. Returns the
    plane kind ('ann_index' | 'minhash_bands' | 'key_screen' |
    'term_stats' | 'packing' | 'profile' | 'drift_counts' |
    'embedding_moments' | 'rollup' | 'unknown_deltas'), or None when
    ``d`` is not a plane root (a container to descend into)."""
    names = set(state_io.list_names(d))
    if {"index", "vectors", "drift_state"} <= names:
        # a self-refreshing ANN lifecycle root (streaming/ann_lifecycle):
        # must match BEFORE descending, so its index / vectors / moments
        # planes are maintained together with the lifecycle's own replay
        # horizons (the vectors fold in particular is not discoverable
        # from the child dirs alone). `moments` is deliberately NOT in
        # the signature — it appears only at the first streamed trigger,
        # and a bootstrapped-but-unstreamed root must classify the same
        # way (its index would otherwise be maintained standalone).
        return "ann_lifecycle"
    if "quantizers.json" in names:
        return "ann_index"
    if "_bands" in names:
        return "minhash_bands"
    if "_new" in names:
        return "key_screen"
    if "terms" in names and "corpus" in names:
        return "term_stats"
    if "pack" in names and (
        "cursors" in names or state_io.exists(os.path.join(d, "pack", SIDECAR))
    ):
        return "packing"
    if "_deltas" in names:
        return _classify_deltas(spark, d) or "unknown_deltas"
    return None


def walk_planes(spark: SparkSession, state_root: str):
    """Yield ``(path, plane_kind)`` for every recognized state plane
    under ``state_root`` — the shared walk (plane roots are never also
    containers; plane-internal dirs never nest other planes)."""
    if not state_io.is_dir(state_root):
        return
    stack = [state_root]
    while stack:
        d = stack.pop()
        kind = classify_plane(spark, d)
        if kind is not None:
            yield d, kind
            continue
        for e, isdir in sorted(state_io.list_names_info(d), reverse=True):
            p = os.path.join(d, e)
            if isdir and not e.startswith(("batch=", "v=", "_")):
                stack.append(p)


def _newest_write(plane) -> Optional[int]:
    return max(plane.delta_ids() + plane.marker_ids(), default=None)


def _vacuum_plane(
    spark: SparkSession, d: str, kind: str, upto_batch: Optional[int]
) -> dict:
    """Dispatch ONE classified plane to its compactor. The kind comes
    from :func:`classify_plane` — the single classification table both
    maintenance and delete-routing share."""
    if kind == "ann_index":
        from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
            compact_ann_index,
        )

        return {
            "path": d,
            "plane": kind,
            "result": compact_ann_index(spark, d, upto_batch=upto_batch),
        }
    if kind == "ann_lifecycle":
        from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
            compact_ann_index,
        )
        from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
            _vectors_plane,
            fold_landed_vectors,
        )
        from spark_streaming_sql_s3_connector_spark.streaming.drift import (
            compact_embedding_moments,
        )

        if upto_batch is None:
            # safe default beside a live stream: never fold the newest
            # vector landing — the only trigger a restart could replay
            # (vectors land FIRST in a trigger, so their newest id is
            # the lifecycle's newest write)
            vectors = _vectors_plane(d)
            ids = vectors.delta_ids()
            horizon = max(ids) - 1 if ids else None
            fold = fold_landed_vectors(spark, d, upto_batch=horizon) if (
                horizon is not None or vectors.pointer() is None
            ) else None
            idx = compact_ann_index(
                spark, os.path.join(d, "index"), upto_batch=max(ids) if ids else None
            )
        else:
            fold = fold_landed_vectors(spark, d, upto_batch=upto_batch)
            idx = compact_ann_index(
                spark, os.path.join(d, "index"), upto_batch=upto_batch + 1
            )
        moments = compact_embedding_moments(spark, os.path.join(d, "moments"))
        return {
            "path": d,
            "plane": kind,
            "result": {"index": idx, "vectors": fold, "moments": moments},
        }
    if kind == "minhash_bands":
        from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
            _plane,
            compact_index,
        )

        if upto_batch is None:
            # same safe default as the key screens: never fold the
            # newest delta OR forget marker — the only batch a live
            # stream could still be writing or a restart could replay
            # (a marker-only window's newest write is the marker)
            horizon = _newest_write(_plane(d))
        else:
            horizon = upto_batch
        return {
            "path": d,
            "plane": kind,
            "result": compact_index(spark, d, upto_batch=horizon),
        }
    if kind == "key_screen":
        from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
            _plane,
            compact_index,
        )

        if upto_batch is None:
            # the line/passage safe default: never fold the newest
            # delta OR forget marker — the only batch a restart could
            # replay (marker-only windows included)
            horizon = _newest_write(_plane(d))
        else:
            horizon = upto_batch
        return {
            "path": d,
            "plane": kind,
            "result": compact_index(spark, d, upto_batch=horizon),
        }
    if kind == "term_stats":
        from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
            compact_term_stats,
        )

        compact_term_stats(spark, d, upto_batch=upto_batch)
        return {"path": d, "plane": kind, "result": None}
    if kind == "packing":
        from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
            compact_pack_state,
        )

        compact_pack_state(spark, d, upto_batch=upto_batch)
        return {"path": d, "plane": kind, "result": None}
    if kind == "profile":
        from spark_streaming_sql_s3_connector_spark.streaming.profile import (
            compact_profile,
        )

        return {"path": d, "plane": kind, "result": compact_profile(spark, d)}
    if kind == "drift_counts":
        from spark_streaming_sql_s3_connector_spark.streaming.drift import (
            compact_drift_counts,
        )

        return {"path": d, "plane": kind, "result": compact_drift_counts(spark, d)}
    if kind == "embedding_moments":
        from spark_streaming_sql_s3_connector_spark.streaming.drift import (
            compact_embedding_moments,
        )

        return {
            "path": d,
            "plane": kind,
            "result": compact_embedding_moments(spark, d),
        }
    if kind == "rollup":
        from spark_streaming_sql_s3_connector_spark.streaming.rollup import (
            compact_rollup,
        )

        cols = _delta_schema_cols(spark, os.path.join(d, "_deltas"))
        keys = sorted(
            c for c in cols if c != "bucket" and not c.startswith("_ca_")
        )
        return {
            "path": d,
            "plane": kind,
            "result": compact_rollup(spark, d, keys=keys),
        }
    return {"path": d, "plane": kind, "result": "skipped"}


def vacuum(
    spark: SparkSession, state_root: str, upto_batch: Optional[int] = None
) -> list[dict]:
    """Walk ``state_root``, compact every recognized state plane with
    its safe default, GC superseded versions (each compactor's own GC),
    and return the per-plane report. See the module doc for the
    classification table and the ``upto_batch`` live-stream guard."""
    report: list[dict] = []
    if not state_io.is_dir(state_root):
        return report
    stack = [state_root]
    while stack:
        d = stack.pop()
        try:
            kind = classify_plane(spark, d)
            entry = (
                _vacuum_plane(spark, d, kind, upto_batch)
                if kind is not None
                else None
            )
        except Exception as e:  # one sick plane must not stop the sweep
            entry = {"path": d, "plane": "error", "result": f"{type(e).__name__}: {e}"}
        if entry is not None:
            report.append(entry)
            continue  # a plane root is never also a container
        for e, isdir in sorted(state_io.list_names_info(d), reverse=True):
            p = os.path.join(d, e)
            # plane-internal dirs never nest other planes
            if isdir and not e.startswith(("batch=", "v=", "_")):
                stack.append(p)
    return sorted(report, key=lambda r: r["path"])
