"""One maintenance entry point for EVERY persisted state plane.

The package's streaming planes all share one delta / base / pointer
layout and one write → flip → GC fold (``streaming/delta_plane.py``),
yet each merges its deltas its own way behind its own compactor and
replay guard. An operator running a 100 TB pipeline should not need to
know those calls: this module walks a state root and dispatches each
plane to its compactor with its always-safe default — the serving-plane
analog of the source metadata log's bounded self-maintenance
(reference: RocksDBS3SourceLog.scala:416-460, where one maintenance
path both folds and GCs).

A plane is found by its declaration, never by its files: the writer
that creates a state root writes ``<root>/_plane.json`` once
(``delta_plane.declare``), and the walk reads only that.

=====================  =========================================  ===========================
kind                   declared by                                vacuum runs
=====================  =========================================  ===========================
``ann_index``          ``ann_index.build_ann_index``, after its   ``compact_ann_index``
                       ``quantizers.json`` commits
``ann_lifecycle``      ``bootstrap_ann_lifecycle`` (last), each   the vectors fold, then the
                       lifecycle trigger and each refresh         index and moments folds
``minhash_bands``      ``dedup_index.process_batch``              ``compact_index``
``key_screen``         ``process_batch`` of the exact, line and   ``exact_dedup.compact_index``
                       passage screens
``term_stats``         ``term_stats_batch``                       ``compact_term_stats``
``packing``            ``pack_batch_incremental``                 ``compact_pack_state``
``profile``            ``profile_batch``                          ``compact_profile``
``drift_counts``       ``drift.count_batch``                      ``compact_drift_counts``
``embedding_moments``  ``drift.embedding_moment_batch``           ``compact_embedding_moments``
``rollup``             ``continuous_aggregate``, with its merge   ``compact_rollup`` by the
                       ``keys``                                   declared ``keys``
=====================  =========================================  ===========================

The screens and the band index keep their newest delta or forget
marker unfolded when no horizon is given: it is the only batch a
restart could replay, and folding it would corrupt a replay's
``_docs`` rewrite. Any other kind is reported ``skipped``.

A declared root is never also a container: the walk does not descend
into it (a lifecycle's ``index`` and ``moments`` are maintained by the
lifecycle). Below an undeclared dir the walk descends into every child
not named ``batch=*``, ``v=*`` or ``_*``.

Roots written before planes were declared have no ``_plane.json``.
There is no fallback classifier: such a root is only a container to
the walk, so vacuum and the pipeline delete router leave it alone. To
bring one back under maintenance, re-bootstrap it or write its
one-line ``_plane.json`` by hand (e.g. ``{"kind": "key_screen"}``; a
rollup's also lists its merge ``keys``). A writer that declares per
batch or per stream start also declares an old root the next time it
writes to it: the lifecycle on its next trigger or refresh, before
either writes its ``index`` or ``moments``; a standalone ANN index
only when it is rebuilt.

``upto_batch`` (optional) passes through to every compactor that takes
a fold horizon — hand it the last COMMITTED batch id when vacuuming
beside live streams, exactly as each compactor documents. Compactors
GC their own superseded versions, so after a vacuum each plane holds
ONE base version + only post-horizon deltas (the bounded-version law
the tests pin over a 10-batch lifecycle).

The declared roots are disjoint (the walk never descends into one),
so their folds share no files: vacuum runs them concurrently, at most
the session's ``defaultParallelism`` at a time, and a plane whose
compactor raises is reported as ``error`` without stopping the others.

Returns a report (one dict per plane found, sorted by path: path,
plane, result, and the fold's wall ``seconds``) so callers can log
what a maintenance cycle actually did and which plane it spent on.
"""

from __future__ import annotations

import functools
import os
import time
from typing import Optional

from pyspark.sql import SparkSession

from spark_streaming_sql_s3_connector_spark.streaming import state_io
from spark_streaming_sql_s3_connector_spark.streaming.concurrency import (
    run_concurrently,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    declaration,
)


def classify_plane(d: str) -> Optional[str]:
    """The kind ``d`` declares in its ``_plane.json`` ('ann_index' |
    'ann_lifecycle' | 'minhash_bands' | 'key_screen' | 'term_stats' |
    'packing' | 'profile' | 'drift_counts' | 'embedding_moments' |
    'rollup'; 'unreadable' when the file is not such a declaration), or
    None when ``d`` declares nothing (a container to descend into). Vacuum and
    `curation.propagate_doc_deletes_for_pipeline` both route by it."""
    decl = declaration(d)
    return None if decl is None else decl["kind"]


def walk_planes(state_root: str):
    """Yield ``(path, plane_kind)`` for every declared state root under
    ``state_root`` — the one walk vacuum and the delete router share."""
    if not state_io.is_dir(state_root):
        return
    stack = [state_root]
    while stack:
        d = stack.pop()
        kind = classify_plane(d)
        if kind is not None:
            yield d, kind
            continue
        for e, isdir in sorted(state_io.list_names_info(d), reverse=True):
            if isdir and not e.startswith(("batch=", "v=", "_")):
                stack.append(os.path.join(d, e))


def _vacuum_plane(
    spark: SparkSession, d: str, kind: str, upto_batch: Optional[int]
):
    """Compact ONE declared plane; returns its compactor's result."""
    if kind == "ann_index":
        from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
            compact_ann_index,
        )

        return compact_ann_index(spark, d, upto_batch=upto_batch)
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
        return {"index": idx, "vectors": fold, "moments": moments}
    if kind in ("minhash_bands", "key_screen"):
        if kind == "minhash_bands":
            from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
                _plane,
                compact_index,
            )
        else:
            from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
                _plane,
                compact_index,
            )

        # the screens' safe default: never fold the newest delta OR
        # forget marker — the only batch a live stream could still be
        # writing or a restart could replay (a marker-only window's
        # newest write is the marker)
        if upto_batch is None:
            plane = _plane(d)
            upto_batch = max(plane.delta_ids() + plane.marker_ids(), default=None)
        return compact_index(spark, d, upto_batch=upto_batch)
    if kind == "term_stats":
        from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
            compact_term_stats,
        )

        return compact_term_stats(spark, d, upto_batch=upto_batch)
    if kind == "packing":
        from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
            compact_pack_state,
        )

        return compact_pack_state(spark, d, upto_batch=upto_batch)
    if kind == "profile":
        from spark_streaming_sql_s3_connector_spark.streaming.profile import (
            compact_profile,
        )

        return compact_profile(spark, d)
    if kind == "drift_counts":
        from spark_streaming_sql_s3_connector_spark.streaming.drift import (
            compact_drift_counts,
        )

        return compact_drift_counts(spark, d)
    if kind == "embedding_moments":
        from spark_streaming_sql_s3_connector_spark.streaming.drift import (
            compact_embedding_moments,
        )

        return compact_embedding_moments(spark, d)
    if kind == "rollup":
        from spark_streaming_sql_s3_connector_spark.streaming.rollup import (
            compact_rollup,
        )

        return compact_rollup(spark, d, keys=declaration(d)["keys"])
    return "skipped"


def _fold(
    spark: SparkSession, d: str, kind: str, upto_batch: Optional[int]
) -> dict:
    """ONE plane's report entry, with its fold's wall seconds."""
    start = time.perf_counter()
    try:
        entry = {"plane": kind, "result": _vacuum_plane(spark, d, kind, upto_batch)}
    except Exception as e:  # one sick plane must not stop the sweep
        entry = {"plane": "error", "result": f"{type(e).__name__}: {e}"}
    return {"path": d, **entry, "seconds": time.perf_counter() - start}


def vacuum(
    spark: SparkSession, state_root: str, upto_batch: Optional[int] = None
) -> list[dict]:
    """Walk ``state_root``, compact every declared state plane with its
    safe default, GC superseded versions (each compactor's own GC), and
    return the per-plane report. See the module doc for the declaration
    table, the concurrency and the ``upto_batch`` live-stream guard."""
    report = run_concurrently(
        *[
            functools.partial(_fold, spark, d, kind, upto_batch)
            for d, kind in walk_planes(state_root)
        ],
        limit=spark.sparkContext.defaultParallelism,
    )
    return sorted(report, key=lambda r: r["path"])
