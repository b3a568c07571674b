"""Self-refreshing streaming ANN index — the composed lifecycle the r10
actuator was built for.

`operators/ann_index.streaming_ann_index` keeps a persisted IVF-PQ
index current (encode-only appends, stored quantizers) and
`refresh_ann_index_if_drifted` rebuilds the quantizers when the
embedding distribution shifts — but nothing COMPOSED them: a
long-running ingest stream would encode forever with codebooks trained
at bootstrap, silently losing recall as the distribution moved, until
an operator ran the refresh by hand (the same unwired-actuator gap
vacuum had before r11 wired it into the curation cadence).

This module is the composition, one state root, one checkpoint story
(reference analog: the source's self-maintaining metadata log,
RocksDBS3SourceLog.scala:109-153 — maintenance rides the commit
cadence, never a side channel):

- ``root/index``    — the served IVF-PQ index (codes + quantizer meta)
- ``root/vectors``  — the RAW landed vectors: the index stores only
  8-bit codes, so a retrain NEEDS the raw vectors; landing them beside
  the index makes the lifecycle self-contained instead of assuming
  some other system kept them. Layout (r12): one ``batch=<id>`` dir
  per trigger (plus ``batch=bootstrap``), FOLDED into a versioned
  ``base/v=<n>`` behind an atomic ``_latest`` pointer by
  :func:`fold_landed_vectors` — which rides the refresh (the rebuild
  reads the folded base) and the ``compact_every`` cadence, so the
  plane holds ONE base + the post-horizon deltas instead of one dir
  per trigger forever (at 10⁴ triggers/day the unbounded listing
  would sit on the hot refresh path). Raw-float RETENTION is still
  O(corpus) by design (codes cannot retrain); the optional
  ``retain_fraction`` knob ages the corpus down deterministically at
  fold time for deployments that accept a subsampled retrain/serve
  set.
- ``root/moments``  — the streaming per-dim moment state
  (`streaming/drift.embedding_moment_batch`)
- ``root/baseline`` — versioned d-row snapshot of the TRAINING-set
  moments of the CURRENT quantizers (bootstrap corpus at build; the
  landed union at each refresh)
- ``root/drift_state`` — ONE versioned dir (``v=<n>/baseline`` +
  ``v=<n>/window``) behind ONE atomic pointer: the TRAINING-set
  moments of the CURRENT quantizers (bootstrap corpus at build; old
  baseline + window at each refresh — never the full cumulative live
  frame, which would re-count pre-refresh mass on every later
  refresh), paired with the live-moment snapshot AT that refresh. The
  drift question is always windowed — "what streamed in SINCE the
  current quantizers were trained" vs "what they were trained on" —
  and moment partials are exact decimal sums, so the window is an
  exact subtraction: no re-scan, no approximation, and no torn state
  where a new baseline pairs with a stale window (single commit
  point).

Per trigger: land the batch's vectors (overwrite-by-batch-dir), every
``check_every`` batches run the drift check BEFORE the batch's moment
delta lands (decision and rebuild corpus see the same committed
prefix; the in-flight batch's moments enter the NEXT window, so a
one-batch drift burst raises the next alarm instead of being silently
absorbed), rebuild + advance the drift state only on a threshold
crossing, then write the moment delta and append — both off the
just-landed parquet, one evaluation of the trigger's source lineage.

Replay convergence: every write is batch-id-keyed and overwritten; the
refresh rebuilds from committed batches only and commits its state in
one pointer flip, so after a completed refresh a replayed trigger's
recomputed window shift is ~0 and it takes the no-op path, re-encoding
the same rows with the same (new) quantizers (tested, incl. a replayed
refresh trigger). The one crash window with a visible (benign) effect:
dying between a trigger's moment-delta write and its checkpoint commit
leaves that delta on disk, so the replayed trigger's check sees one
batch of moments whose vectors are excluded from a rebuild it fires —
a one-batch training-mass discrepancy that the next window absorbs.

Scale shape: steady-state triggers cost one batch encode + one d-row
moment delta; the drift DECISION costs three d-row reads; the rebuild
is the one full pass over the landed vectors you must pay for any
retrain, now spent exactly when the alarm says the codebooks stopped
fitting — never on a blind schedule.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming import stage_timings, state_io
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    SIDECAR,
    DeltaPlane,
    declare,
    foreach_batch,
    union_all,
)
from spark_streaming_sql_s3_connector_spark.streaming.stage_timings import (
    StageClock,
    span as _span,
)
from spark_streaming_sql_s3_connector_spark.streaming.state_io import (
    read_pointer as _read_pointer,
)

_INDEX = "index"
_VECTORS = "vectors"
_MOMENTS = "moments"
_DRIFT_STATE = "drift_state"
_BASELINE = "baseline"
_WINDOW = "window"

_MOMENT_COLS = ("dim", "n", "s", "ss")


def _timings_dir(root: str) -> str:
    return os.path.join(root, "_timings")


def read_lifecycle_timings(root: str, label=None) -> Optional[dict]:
    """Per-stage wall seconds of one lifecycle trigger (newest retained
    batch when ``label`` is None) or of the last standalone forced
    refresh (``label="refresh"``), or None if never recorded. Trigger
    keys: ``landing_write`` | ``drift_check`` (the windowed-shift
    decision; on a cadence batch includes a fired refresh's stages
    below) | ``fold`` | ``rebuild`` | ``pointer_flip`` (when a refresh
    fired) | ``moment_delta`` | ``append`` | ``compact`` (when the
    cadence fired) | ``total`` | ``batch_id`` — the same attribution
    surface the curation trigger carries (streaming/stage_timings.py),
    so a slow refresh names its stage without re-profiling."""
    return stage_timings.read_stage_timings(_timings_dir(root), label)


def _index_dir(root: str) -> str:
    return os.path.join(root, _INDEX)


def _vectors_dir(root: str) -> str:
    return os.path.join(root, _VECTORS)


def _moments_dir(root: str) -> str:
    return os.path.join(root, _MOMENTS)


def _drift_state_root(root: str) -> str:
    return os.path.join(root, _DRIFT_STATE)


def _write_drift_state(
    baseline: DataFrame, window: Optional[DataFrame], root: str, version: int
) -> None:
    """Commit baseline + window snapshots in ONE versioned dir behind
    ONE pointer flip — a crash between the parquet writes leaves the
    old version intact and readable (there is no torn state where a new
    baseline pairs with a stale window)."""
    from spark_streaming_sql_s3_connector_spark.streaming.concurrency import (
        run_concurrently,
    )

    sub_root = _drift_state_root(root)
    v_dir = os.path.join(sub_root, f"v={version}")
    # REPLAYED commit (version == the pointed version, e.g. a restarted
    # trigger re-running its cadence refresh): the input frames are lazy
    # over THIS v_dir's files (the drift probe's reused reads), and the
    # overwrite deletes those files at job start — the concurrent
    # baseline/window writes would race their own inputs
    # (FAILED_READ_FILE mid-commit, i.e. a torn pointed version).
    # Materialize the d-row frames first so every v_dir read completes
    # before any delete; fresh versions (the common path, incl. the
    # benched forced refresh) skip the extra tiny jobs.
    pinned = []
    if _read_pointer(sub_root) == version:
        baseline = baseline.localCheckpoint(eager=True)
        pinned.append(baseline)
        if window is not None:
            window = window.localCheckpoint(eager=True)
            pinned.append(window)

    def _write(df: DataFrame, name: str):
        return lambda: df.select(*_MOMENT_COLS).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(v_dir, name))

    # the two d-row snapshot writes land in DIFFERENT subdirs of the
    # not-yet-pointed v_dir and nothing reads them until the pointer
    # flips below, so they submit concurrently (r14; the trigger's
    # disjoint plane writes use the same pattern)
    writes = [_write(baseline, _BASELINE)]
    if window is not None:
        writes.append(_write(window, _WINDOW))
    try:
        run_concurrently(*writes)
        state_io.write_pointer(sub_root, version)
    finally:
        # DataFrame.unpersist() does not reach a local checkpoint's
        # blocks: release the checkpointed RDD itself
        for df in pinned:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    for v in state_io.list_versions(sub_root):
        if v != version:
            state_io.remove_tree(os.path.join(sub_root, f"v={v}"))


def _read_drift_state(
    spark: SparkSession, root: str
) -> tuple[Optional[int], Optional[DataFrame], Optional[DataFrame]]:
    """(version, baseline, window) of the committed drift state, or
    (None, None, None) before bootstrap. Inference reads, not a fixed
    schema: the d-row snapshots are never empty and the decimal
    precisions vary by write path (raw partials are decimal(38,6)/
    (38,12); merged baselines carry sum-widened types)."""
    sub_root = _drift_state_root(root)
    ptr = _read_pointer(sub_root)
    if ptr is None:
        return None, None, None
    v_dir = os.path.join(sub_root, f"v={ptr}")
    baseline = spark.read.parquet(os.path.join(v_dir, _BASELINE))
    wpath = os.path.join(v_dir, _WINDOW)
    window = spark.read.parquet(wpath) if state_io.is_dir(wpath) else None
    return int(ptr), baseline, window


_BOOTSTRAP_LABEL = "batch=bootstrap"
_VEC_DELETED = "_deleted"
_VEC_MARKER_SCHEMA = "_id bigint, t bigint"


def _vectors_plane(root: str) -> DeltaPlane:
    """The landed raw vectors: one dir per trigger directly under
    ``vectors/``, the bootstrap landing as the seed (rank −1 — older
    than every marker — until the first fold), delete markers under
    ``vectors/_deleted``, and the (id, vec) schema persisted beside the
    plane so a zero-row trigger dir never hits schema inference."""
    vdir = _vectors_dir(root)
    return DeltaPlane(
        vdir,
        deltas="",
        markers=os.path.join(vdir, _VEC_DELETED),
        schema=SIDECAR,
        marker_schema=_VEC_MARKER_SCHEMA,
        seed=_BOOTSTRAP_LABEL,
    )


def delete_vectors_from_lifecycle(
    docs: DataFrame, batch_id: int, root: str, id_col: Optional[str] = None
) -> None:
    """Remove documents' RAW vectors from the lifecycle's retrain
    corpus: write an id-keyed delete marker under
    ``vectors/_deleted/batch=<batch_id>`` (overwrite-by-batch-dir —
    replay-convergent). A marker at batch t kills vector rows LANDED
    strictly before t (dir-granular insert order, exactly the screens'
    rule in `exact_dedup.delete_docs_from_screen`), so a later
    re-ingest of the same id lands above t and serves again.

    This is the half the index tombstone cannot give: `ann_index`
    tombstones stop the CODES from serving, but the lifecycle retrains
    from the landed floats — without a vectors marker every refresh
    would re-encode the deleted ids back into the index. With it the
    rows leave :func:`read_landed_vectors` immediately and the next
    fold drops them physically. (The d-row moment aggregates keep the
    deleted rows' mass — aggregate planes are not id-addressable,
    same as the delete router documents for rollup/profile/drift.)"""
    if id_col is None:
        from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
            load_index_meta,
        )

        id_col = load_index_meta(_index_dir(root))["id_col"]
    (
        docs.select(F.col(id_col).cast("bigint").alias("_id"))
        .distinct()
        .withColumn("t", F.lit(int(batch_id)).cast("bigint"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_vectors_plane(root).marker_path(batch_id))
    )


def _apply_vector_markers(
    frames: list[tuple[int, DataFrame]],
    marks: Optional[DataFrame],
    id_col: str,
) -> list[DataFrame]:
    """Anti-join markers onto order-tagged vector frames: a frame of
    order b loses the ids of markers with t > b (marker set is the
    delete sliver — broadcast)."""
    if marks is None:
        return [f for _, f in frames]
    out = []
    for b, f in frames:
        m = marks.where(F.col("t") > F.lit(int(b))).select(
            F.col("_id").alias(id_col)
        )
        out.append(f.join(F.broadcast(m), id_col, "left_anti"))
    return out


def fold_landed_vectors(
    spark: SparkSession,
    root: str,
    upto_batch: Optional[int] = None,
    retain_fraction: Optional[float] = None,
) -> Optional[int]:
    """Fold the landed raw-vector dirs (bootstrap + integer deltas with
    id <= ``upto_batch``; None = all) into ``vectors/base/v=<n>`` behind
    an atomically-flipped pointer, then GC the folded dirs — the
    `delta_plane` fold applied to the lifecycle's retrain corpus, which
    otherwise accumulates one dir per trigger forever. Returns the new
    fold horizon (−1 for a bootstrap-only fold: batch ids start at 0,
    so the sentinel keeps every future delta live), or None when
    nothing to fold.

    Crash-safe at every step: an unflipped base is unread; after the
    flip the folded dirs are dead to every reader, so a replayed
    trigger rewriting its ``batch=<id>`` dir below the horizon is
    invisible (its rows already sit in the base verbatim). Pass the
    last COMMITTED batch id as ``upto_batch`` beside a live stream —
    the lifecycle's own call sites use ``batch_id - 1``.

    ``retain_fraction`` (optional, (0, 1]) deterministically subsamples
    the folded base by id hash — CORPUS RETENTION, not compression: the
    next rebuild retrains AND re-encodes from this plane, so dropped
    ids leave the served index at that point. For full-fidelity
    refresh leave it None; raw-float retention is then O(corpus), the
    honest price of retrainability (module doc)."""
    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        load_index_meta,
    )

    if retain_fraction is not None and not 0 < retain_fraction <= 1:
        raise ValueError("retain_fraction must be in (0, 1]")
    plane = _vectors_plane(root)
    retain = retain_fraction is not None and retain_fraction < 1

    def write(path, live, markers):
        # apply delete markers PHYSICALLY (order rule: a marker t kills
        # rows landed strictly before t; the folded base ranks as the
        # new horizon, which keeps any marker above it exact at read)
        marks = plane.marker_frame(spark, markers)
        id_col = (
            load_index_meta(_index_dir(root))["id_col"]
            if marks is not None or retain
            else None
        )
        df = union_all(
            _apply_vector_markers(plane.frames(spark, live), marks, id_col)
        )
        if retain:
            df = df.where(
                F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(1_000_000))
                < F.lit(int(retain_fraction * 1_000_000))
            )
        # fold many per-trigger dribbles into cluster-parallel files: the
        # fold is exactly the file-count compactor, so don't carry the
        # input's one-file-per-trigger layout into the base
        df.repartition(max(1, spark.sparkContext.defaultParallelism)).write.mode(
            "overwrite"
        ).parquet(path)

    new_v = plane.fold(
        write, below=None if upto_batch is None else upto_batch + 1
    )
    if new_v is None:
        return None
    # record the base size for the cadence gate (footer-only count of
    # the just-written base — no data read)
    base_rows = plane.reader(spark).parquet(plane.base_path(new_v)).count()
    state_io.write_text_atomic(
        os.path.join(plane.root, _FOLD_META),
        json.dumps({"base_rows": int(base_rows)}),
    )
    return new_v


_FOLD_META = "_fold_meta.json"


def fold_landed_vectors_if_due(
    spark: SparkSession,
    root: str,
    upto_batch: Optional[int] = None,
    growth_fraction: float = 0.5,
    max_deltas: int = 256,
) -> Optional[int]:
    """The CADENCE gate around :func:`fold_landed_vectors`: fold only
    when the pending deltas hold at least ``growth_fraction`` of the
    current base's rows (or when the delta DIR count reaches
    ``max_deltas``, the listing bound; or when nothing was ever
    folded). An unconditional cadence fold rewrites the entire
    O(corpus) raw-float base to absorb a handful of trigger landings —
    at 10⁴ triggers/day with ``compact_every=5`` that is ~2000
    full-corpus rewrite cycles a day. The geometric gate makes each
    row's total rewrite count O(log corpus): a fold fires only when it
    grows the base by a constant factor, so write amplification is
    amortized O(1) per landed row per doubling. The decision costs one
    footer-only count over the PENDING dirs (bounded by the cadence
    window), never the base."""
    plane = _vectors_plane(root)
    if plane.pointer() is None:
        return fold_landed_vectors(spark, root, upto_batch=upto_batch)
    below = None if upto_batch is None else upto_batch + 1
    pending = [p for _, p in plane.pending(below)]
    if not pending:
        return None
    if len(pending) < max_deltas:
        try:
            base_rows = int(
                json.loads(state_io.read_text(os.path.join(plane.root, _FOLD_META)))[
                    "base_rows"
                ]
            )
        except (FileNotFoundError, KeyError, ValueError):
            base_rows = None  # pre-gate state: fold once to learn the size
        if base_rows is not None and base_rows > 0:
            pending_rows = plane.reader(spark).parquet(*pending).count()
            if pending_rows < growth_fraction * base_rows:
                return None
    return fold_landed_vectors(spark, root, upto_batch=upto_batch)


def bootstrap_ann_lifecycle(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    root: str,
    n_centroids: int = 16,
    m_subspaces: int = 8,
    pq_centroids: int = 256,
    seed: int = 42,
    sample_rows: int = 100_000,
) -> dict:
    """Stand up the lifecycle root: land the bootstrap corpus's raw
    vectors, build the index, and freeze the initial drift baseline =
    the bootstrap corpus's moments (what the quantizers were trained
    on). The root is declared last, so a crashed bootstrap never
    passes for a lifecycle. Returns the index meta."""
    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        build_ann_index,
    )
    from spark_streaming_sql_s3_connector_spark.operators.drift import (
        embedding_moments,
    )

    landed = corpus.select(F.col(id_col), F.col(vec_col))
    plane = _vectors_plane(root)
    plane.write_schema_once(landed.schema)
    landed.write.mode("overwrite").parquet(plane.seed)
    meta = build_ann_index(
        corpus, vec_col, id_col, _index_dir(root),
        n_centroids=n_centroids, m_subspaces=m_subspaces,
        pq_centroids=pq_centroids, seed=seed, sample_rows=sample_rows,
    )
    _write_drift_state(embedding_moments(corpus, vec_col), None, root, 0)
    declare(root, "ann_lifecycle")
    return meta


def read_landed_vectors(
    spark: SparkSession, root: str, exclude_batch: Optional[int] = None
) -> DataFrame:
    """The landed raw-vector union (folded base — or bootstrap — plus
    live streamed deltas), optionally excluding the in-flight batch
    (refresh reads committed data only), minus live delete markers
    (:func:`delete_vectors_from_lifecycle` — so a retrain never
    resurrects a deleted id). Explicit live-path reads: a stale dir
    below the fold horizon is never opened, not merely filtered."""
    plane = _vectors_plane(root)
    skip = None if exclude_batch is None else plane.delta_path(exclude_batch)
    live = [(rank, p) for rank, p in plane.live() if p != skip]
    if not live:
        raise FileNotFoundError(f"no landed vectors under {root}")
    marks = plane.marker_frame(spark, plane.live_markers())
    if marks is None:
        return plane.reader(spark).parquet(*[p for _, p in live])
    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        load_index_meta,
    )

    id_col = load_index_meta(_index_dir(root))["id_col"]
    return union_all(_apply_vector_markers(plane.frames(spark, live), marks, id_col))


def _subtract_moments(live: DataFrame, snap: Optional[DataFrame]) -> DataFrame:
    """Exact window = live − snapshot (decimal sums subtract exactly);
    the live frame unchanged when there is no snapshot yet."""
    if snap is None:
        return live
    s = snap.select(
        "dim",
        F.col("n").alias("_n0"),
        F.col("s").alias("_s0"),
        F.col("ss").alias("_ss0"),
    )
    return (
        live.join(s, "dim", "left")
        .select(
            "dim",
            (F.col("n") - F.coalesce("_n0", F.lit(0))).alias("n"),
            (F.col("s") - F.coalesce("_s0", F.lit(0))).alias("s"),
            (F.col("ss") - F.coalesce("_ss0", F.lit(0))).alias("ss"),
        )
        .where(F.col("n") > 0)
    )


def _windowed_drift_state(
    spark: SparkSession, root: str
) -> tuple[
    Optional[float],
    Optional[DataFrame],
    Optional[DataFrame],
    Optional[DataFrame],
    Optional[int],
]:
    """(shift, live, baseline, window-snapshot, version) in one probe —
    the shift plus every frame it read, so a caller that goes on to
    commit a refresh reuses them instead of re-listing and re-inferring
    the same d-row planes (r14: the pointer-flip stage re-read all
    three). ``live`` is the RAW merged moments (pre-subtraction);
    ``shift`` is None when there is no baseline, no landed moments, or
    no post-window mass yet."""
    from spark_streaming_sql_s3_connector_spark.operators.drift import (
        embedding_drift_from_moments,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        read_embedding_moments,
    )

    ver, baseline, snap = _read_drift_state(spark, root)
    try:
        live = read_embedding_moments(spark, _moments_dir(root))
    except FileNotFoundError:
        live = None
    if baseline is None or live is None:
        return None, live, baseline, snap, ver
    window = _subtract_moments(live, snap)
    mo = baseline.select(
        "dim",
        F.col("n").alias("_n_o"),
        F.col("s").alias("_s_o"),
        F.col("ss").alias("_ss_o"),
    )
    mn = window.select(
        "dim",
        F.col("n").alias("_n_n"),
        F.col("s").alias("_s_n"),
        F.col("ss").alias("_ss_n"),
    )
    row = (
        embedding_drift_from_moments(mo, mn)
        .agg(F.max("mean_shift").alias("m"))
        .collect()[0]
    )
    shift = float(row.m) if row.m is not None else None
    return shift, live, baseline, snap, ver


def _windowed_drift_shift(spark: SparkSession, root: str) -> Optional[float]:
    """Max standardized mean shift of the moments accumulated SINCE the
    last (re)build vs the current quantizers' training-set moments —
    three d-row reads plus exact decimal subtraction, zero corpus IO.
    None when there is no baseline or no post-window mass yet."""
    return _windowed_drift_state(spark, root)[0]


def refresh_lifecycle_if_drifted(
    spark: SparkSession,
    root: str,
    threshold: float = 0.5,
    version: Optional[int] = None,
    sample_rows: int = 100_000,
    exclude_batch: Optional[int] = None,
    force: bool = False,
    clock: Optional[StageClock] = None,
) -> Optional[float]:
    """The lifecycle's drift actuator: when the WINDOWED shift crosses
    ``threshold``, rebuild the index wholesale from the landed vectors
    (same quantizer geometry and seed as the stored meta), then commit
    the new drift state in ONE pointer flip: baseline := old baseline +
    WINDOW (live − previous snapshot — the new training set's moments
    as an exact d-row merge, no corpus re-scan, no double-counting of
    pre-refresh mass on later refreshes), window snapshot := the live
    moments. Returns the observed shift when the refresh fired, else
    None (nothing touched). ``version`` defaults to the current drift
    state's version + 1 so a standalone call never collides with the
    bootstrap v=0 sentinel.

    ``force`` skips the shift gate and retrains unconditionally (the
    manual-retrain lever, and what the refresh bench key times so its
    wall tracks corpus size, not whether synthetic drift fired);
    returns the observed shift, or -1.0 when no window exists yet.

    Stage attribution (r14, the curation trigger's `StageClock`
    pattern — it found that trigger's sliver-file disease in one
    round): ``drift_check`` / ``fold`` / ``rebuild`` / ``pointer_flip``
    wall seconds accumulate into ``clock`` when the caller passes one
    (the trigger loop does, so a cadence refresh attributes inside the
    batch's ``_timings/batch=<id>`` record); a standalone call that
    actually fires persists its own stages under ``_timings/refresh``
    (see :func:`read_lifecycle_timings`)."""
    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        build_ann_index,
        load_index_meta,
    )

    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    standalone = clock is None
    if standalone:
        clock = StageClock()
    with _span(clock, "drift_check"):
        shift, live, baseline, snap, cur_v = _windowed_drift_state(spark, root)
    if not force and (shift is None or shift <= threshold):
        return None
    # A forced retrain on a bootstrapped-but-never-streamed lifecycle
    # has no drift window (no baseline and/or no landed moments yet):
    # treat it as a plain rebuild — fold + rebuild only, no moments
    # merge, drift state untouched — so the manual-retrain lever never
    # leaves the index and drift state out of sync mid-call. The probe
    # already read both planes, so the check is a None test, not IO.
    no_window = live is None or baseline is None
    meta = load_index_meta(_index_dir(root))
    declare(root, "ann_lifecycle")  # before the rebuild declares its index
    # fold the committed landings FIRST: the rebuild then reads one
    # base dir instead of a per-trigger dir population, and the plane's
    # listing stays bounded without a separate maintenance schedule. A
    # crash between fold and rebuild is benign: the drift state is
    # untouched, so the next check re-fires over the folded base.
    with _span(clock, "fold"):
        fold_landed_vectors(
            spark,
            root,
            upto_batch=(exclude_batch - 1) if exclude_batch is not None else None,
        )
    with _span(clock, "rebuild"):
        corpus = read_landed_vectors(spark, root, exclude_batch=exclude_batch)
        build_ann_index(
            corpus, meta["vec_col"], meta["id_col"], _index_dir(root),
            n_centroids=meta["n_centroids"], m_subspaces=meta["m_subspaces"],
            pq_centroids=meta["pq_centroids"], seed=meta["seed"],
            sample_rows=sample_rows,
        )
    if no_window:
        if standalone:
            stage_timings.write_stage_timings(_timings_dir(root), "refresh", clock)
        return -1.0
    with _span(clock, "pointer_flip"):
        # live/baseline/snap/cur_v reused from the drift_check probe —
        # the moments plane and drift state are untouched by fold and
        # rebuild, so the frames (lazy over the same committed files)
        # stay valid and the re-list/re-infer round trips disappear
        window = _subtract_moments(live, snap)
        # new training set = old training set + WINDOW ⇒ its moments are
        # the exact decimal sum of the two partials (mergeable by
        # construction); summing the full cumulative live frame instead
        # would re-count every pre-refresh batch on each later refresh
        merged = (
            baseline.unionByName(window)
            .groupBy("dim")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").alias("s"),
                F.sum("ss").alias("ss"),
            )
        )
        v = version if version is not None else (cur_v or 0) + 1
        _write_drift_state(merged, live, root, v)
    if standalone:
        stage_timings.write_stage_timings(_timings_dir(root), "refresh", clock)
    return shift if shift is not None else -1.0


def process_ann_lifecycle_batch(
    batch: DataFrame,
    batch_id: int,
    root: str,
    threshold: float = 0.5,
    check_every: int = 4,
    compact_every: Optional[int] = None,
    sample_rows: int = 100_000,
) -> None:
    """One trigger of the self-refreshing lifecycle (see module doc):
    land → (cadenced) drift check/refresh → moments → append with the
    current quantizers → (cadenced) compaction.

    The check runs BEFORE the batch's moment delta lands, so the drift
    DECISION and the rebuild corpus see the same committed prefix (the
    in-flight batch contributes to neither; its moments enter the NEXT
    window, so a drift burst confined to one batch still raises the
    next cadenced alarm instead of being silently absorbed). Moments
    and the append both read back the just-landed ``batch=<id>``
    parquet, so the trigger's source lineage is evaluated ONCE.

    Per-stage wall seconds persist under ``_timings/batch=<id>`` with
    the same bounded window as the curation trigger (r14 — see
    :func:`read_lifecycle_timings`); a cadence refresh that fires
    attributes its fold/rebuild/pointer_flip inside this record."""
    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        append_to_ann_index,
        compact_ann_index,
        load_index_meta,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        embedding_moment_batch,
    )

    spark = batch.sparkSession
    clock = StageClock()
    meta = load_index_meta(_index_dir(root))
    # a root bootstrapped before planes were declared: name it before
    # its index and moments declare themselves as standalone planes
    declare(root, "ann_lifecycle")
    with _span(clock, "landing_write"):
        vectors = _vectors_plane(root)
        land_dir = vectors.delta_path(batch_id)
        vectors.write_delta(
            batch.select(F.col(meta["id_col"]), F.col(meta["vec_col"])), batch_id
        )
        landed = spark.read.schema(
            batch.select(meta["id_col"], meta["vec_col"]).schema
        ).parquet(land_dir)
    if check_every and batch_id > 0 and batch_id % check_every == 0:
        refresh_lifecycle_if_drifted(
            spark, root, threshold=threshold, version=batch_id,
            sample_rows=sample_rows, exclude_batch=batch_id, clock=clock,
        )
        meta = load_index_meta(_index_dir(root))  # quantizers may be new
    with _span(clock, "moment_delta"):
        embedding_moment_batch(
            landed, batch_id, _moments_dir(root), meta["vec_col"]
        )
    with _span(clock, "append"):
        append_to_ann_index(landed, _index_dir(root), batch_id=batch_id, meta=meta)
    if compact_every and batch_id > 0 and batch_id % compact_every == 0:
        with _span(clock, "compact"):
            compact_ann_index(spark, _index_dir(root), upto_batch=batch_id)
            # bound the raw-vector plane on the same cadence; strictly
            # below the in-flight batch (its landing commits with the
            # checkpoint, not before). Geometrically gated: the O(corpus)
            # base rewrites only when the pending deltas grow it by a
            # constant factor (see fold_landed_vectors_if_due)
            fold_landed_vectors_if_due(spark, root, upto_batch=batch_id - 1)
    stage_timings.write_stage_timings(_timings_dir(root), batch_id, clock)


def streaming_ann_lifecycle(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    check_every: int = 4,
    compact_every: Optional[int] = None,
    sample_rows: int = 100_000,
):
    """Run the self-refreshing index off any stream (incl. the
    s3-connector source). The root must be bootstrapped first
    (:func:`bootstrap_ann_lifecycle`). Returns the StreamingQuery."""
    return foreach_batch(
        stream, checkpoint_dir, process_ann_lifecycle_batch, root,
        threshold=threshold, check_every=check_every,
        compact_every=compact_every, sample_rows=sample_rows,
    ).start()
