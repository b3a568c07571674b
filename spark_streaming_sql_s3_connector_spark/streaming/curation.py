"""Flagship composed pipeline: connector stream → keep-first line dedup
→ exact dedup → per-language quality gate → sequence packing, under
exactly-once.

The two halves of this repo — the S3-event connector plane (sources/,
queueing/, state/) and the LLM-curation operators (operators/,
functions/) — compose here into ONE streaming pipeline with a single
checkpoint story, the composition analog of the reference's restore
contract (S3ConnectorSourceItSuite.scala:640-724: kill the query
mid-corpus, restart on the same checkpoint, results equal the
uninterrupted run):

- per micro-batch (:func:`process_curation_batch`): corpus-global
  keep-first line dedup (``streaming/line_dedup``), then exact dedup of
  the line-deduped text vs everything seen (``streaming/exact_dedup``)
  — both incremental, screened by exact joins against their key
  indexes, overwrite-by-batch-dir replay convergent; plus a tiny
  ``(doc_id, lang)`` side table per batch for the finalization gate.
- at corpus end (:func:`finalize_curation`): join the surviving docs,
  score the DEDUPED text, keep the top fraction per language
  (``keep_top_fraction`` — rank-exact), and concat-and-split pack the
  survivors (``pack_concat``).

Law (tested, including kill/restart mid-corpus): finalize over
range-ordered streamed batches equals :func:`batch_curation` on the
union corpus — because each incremental stage's "first in (batch, doc)
order" coincides with "first in doc order" when batches partition the
id space in order, and the finalization stages are pure functions of
the (identical) surviving set.

Scale shape: the streaming stages inherit their components' stories
(line-keyed partial aggs, one exact history semi-join per screen); the
finalization is one gate shuffle on ``lang`` plus the pack's one
shard-window shuffle. Nothing in the composition adds a new scan of
the raw corpus.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.functions.text import quality_score
from spark_streaming_sql_s3_connector_spark.operators.packing import pack_concat
from spark_streaming_sql_s3_connector_spark.operators.sampling import (
    keep_top_fraction,
)
from spark_streaming_sql_s3_connector_spark.streaming import (
    exact_dedup,
    line_dedup,
    stage_timings,
    state_io,
)
from spark_streaming_sql_s3_connector_spark.streaming.concurrency import (
    run_concurrently,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    SIDECAR,
    DeltaPlane,
    foreach_batch,
)


def _timings_dir(pipeline_dir: str) -> str:
    return os.path.join(pipeline_dir, "_timings")


class _scoped_conf:
    """Set a session conf for the duration of one trigger, restoring the
    prior EFFECTIVE value on exit (including on error). Used to switch
    AQE off inside the incremental trigger: every plan there is a
    fixed-shape small-batch (partial-agg screens, broadcast history
    probes, bounded shard windows — nothing AQE can re-plan), so AQE's
    per-query-stage materialization jobs are pure dispatch overhead on
    the per-trigger latency path (measured 9.6 → 7.8 s at sf0.01).
    A key the session never set explicitly is UNSET on exit (not pinned
    to its old effective value) so a later cluster-default change still
    takes effect on shared sessions."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self._spark, self._key, self._value = spark, key, value

    def __enter__(self):
        self._old = self._spark.conf.get(self._key)
        # get(key, None) bypasses the conf registry's default: non-None
        # means the session (or submit-time --conf) set it explicitly
        self._explicit = self._spark.conf.get(self._key, None) is not None
        self._spark.conf.set(self._key, self._value)

    def __exit__(self, *exc):
        if self._explicit:
            self._spark.conf.set(self._key, self._old)
        else:
            try:
                self._spark.conf.unset(self._key)
            except Exception:
                self._spark.conf.set(self._key, self._old)
        return False


def read_trigger_timings(
    pipeline_dir: str, batch_id: Optional[int] = None
) -> Optional[dict]:
    """Per-stage wall seconds of one incremental trigger (the newest
    retained one when ``batch_id`` is None), or None if the pipeline
    has not recorded any. Keys: ``meta`` | ``monitor`` (when on) |
    ``line_screen`` | ``exact_screen`` | ``finalize_gate`` |
    ``finalize_pack`` | ``vacuum`` (when the cadence fired) |
    ``total`` | ``batch_id`` — the attribution surface for
    trigger-latency regressions, so a slow steady-state trigger names
    its stage without re-profiling. Independent stages overlap (the
    meta/monitor writes run beside the line screen, the line screen's
    plane writes beside the exact screen), so each span bounds its own
    stage but the spans' SUM may exceed ``total``."""
    return stage_timings.read_stage_timings(_timings_dir(pipeline_dir), batch_id)


def _line_index(pipeline_dir: str) -> str:
    return os.path.join(pipeline_dir, "line_index")


def _exact_index(pipeline_dir: str) -> str:
    return os.path.join(pipeline_dir, "exact_index")


def _concat_plane(root: str) -> DeltaPlane:
    """An append-only output plane (the (id, lang) ``_meta`` rows):
    deltas directly under ``root``, schema persisted once so zero-row
    batches never hit inference."""
    return DeltaPlane(root, deltas="", schema=SIDECAR)


def _meta_dir(pipeline_dir: str, batch_id: int) -> str:
    return _concat_plane(os.path.join(pipeline_dir, "_meta")).delta_path(batch_id)


def _profile_dir(pipeline_dir: str) -> str:
    return os.path.join(pipeline_dir, "monitor", "profile")


def _lang_counts_dir(pipeline_dir: str) -> str:
    return os.path.join(pipeline_dir, "monitor", "lang_counts")


def process_curation_batch(
    batch: DataFrame,
    batch_id: int,
    pipeline_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    monitor: bool = True,
    clock: Optional[stage_timings.StageClock] = None,
    handoff_docs: bool = False,
):
    """One micro-batch of the composed pipeline. Every write is keyed by
    ``batch=<id>`` and overwritten on replay — the same convergence
    argument as each component stage.

    ``handoff_docs`` (r14): when True, returns ``(docs_df, cleanup)``
    where ``docs_df`` is the line screen's rebuilt-docs frame, still
    PERSISTED — the caller can feed it to the per-batch finalize
    instead of re-reading the committed ``_docs/batch=<id>`` parquet —
    and ``cleanup()`` drops the screen's caches (the caller must call
    it, also on error paths). Default False keeps the self-contained
    behavior (returns None).

    Trigger concurrency (r14, guide §2.6): the meta/monitor plane
    writes run beside the line screen (independent consumers of the
    same batch), and the line screen's two plane writes run beside the
    exact screen — which consumes the line screen's rebuilt-docs frame
    DIRECTLY (cached, byte-identical to the committed parquet it used
    to re-read) instead of waiting for the write to land. Stage spans
    therefore run on concurrent wall windows: line_screen covers the
    screen's own jobs, exact_screen covers the overlap window with the
    line-plane writes.

    ``monitor`` (default on) additionally maintains the pipeline's
    observability plane from the SAME micro-batch, at delta-log cost
    (one wide partial row + one |langs|-row count delta per trigger,
    both batch-id-keyed ⇒ replay-convergent like everything else here):
    the incremental ADMITTED-corpus profile (``streaming/profile``) and
    the language distribution counts (``streaming/drift``) — read them
    with :func:`read_curation_profile` / :func:`read_curation_drift`
    while the stream runs to catch schema/null/range anomalies and
    distribution shift BEFORE finalization."""

    def _meta_and_monitor() -> None:
        # (doc_id, lang) side table for the finalization gate
        with stage_timings.span(clock, "meta"):
            _concat_plane(os.path.join(pipeline_dir, "_meta")).write_delta(
                batch.select(F.col(id_col), F.col(lang_col)), batch_id
            )
        if monitor:
            from spark_streaming_sql_s3_connector_spark.streaming.drift import (
                count_batch,
            )
            from spark_streaming_sql_s3_connector_spark.streaming.profile import (
                profile_batch,
            )

            with stage_timings.span(clock, "monitor"):
                profile_batch(
                    batch.select(
                        F.col(id_col),
                        F.col(lang_col),
                        F.length(F.col(text_col)).alias("_text_chars"),
                    ),
                    batch_id,
                    _profile_dir(pipeline_dir),
                )
                count_batch(batch, batch_id, _lang_counts_dir(pipeline_dir), lang_col)

    docs_df = None
    line_cleanup = None
    ok = False
    try:
        line_writes: list = []

        def _line_screen() -> None:
            nonlocal docs_df, line_cleanup
            with stage_timings.span(clock, "line_screen"):
                docs_df, line_cleanup = line_dedup.process_batch(
                    batch.select(F.col(id_col), F.col(text_col)),
                    batch_id,
                    _line_index(pipeline_dir),
                    text_col=text_col,
                    id_col=id_col,
                    defer_writes=line_writes,
                )

        # phase 1: meta (+ monitor) plane writes ∥ the line screen's jobs
        run_concurrently(_meta_and_monitor, _line_screen)
        # phase 2: line-screen plane writes ∥ the exact screen over the
        # SAME cached rebuilt-docs rows (chain semantics unchanged: the
        # frame is exactly what lands under _docs/batch=<id>)
        with stage_timings.span(clock, "exact_screen"):
            run_concurrently(
                *line_writes,
                lambda: exact_dedup.process_batch(
                    docs_df,
                    batch_id,
                    _exact_index(pipeline_dir),
                    text_col="deduped_text",
                    id_col=id_col,
                ),
            )
        ok = True
        if handoff_docs:
            return docs_df, line_cleanup
        line_cleanup()
        return None
    finally:
        if not ok and line_cleanup is not None:
            line_cleanup()


def streaming_curation(
    stream: DataFrame,
    pipeline_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    monitor: bool = True,
):
    """Run the composed pipeline as a foreachBatch stream; returns the
    StreamingQuery. Restart-safe: the checkpoint replays at most the
    last uncommitted batch, whose stage outputs all overwrite."""
    return foreach_batch(
        stream, checkpoint_dir, process_curation_batch, pipeline_dir,
        text_col=text_col, id_col=id_col, lang_col=lang_col, monitor=monitor,
    ).start()


def read_curation_profile(spark: SparkSession, pipeline_dir: str) -> DataFrame:
    """Live profile of everything the pipeline has ADMITTED (same schema
    as operators/profile.profile_table; n_distinct is an HLL
    estimate)."""
    from spark_streaming_sql_s3_connector_spark.streaming.profile import (
        read_profile,
    )

    return read_profile(spark, _profile_dir(pipeline_dir))


def read_curation_drift(
    spark: SparkSession, pipeline_dir: str, baseline_counts: DataFrame
) -> DataFrame:
    """Language-distribution drift of the admitted stream vs a baseline
    ``bucket | n`` frame (operators/drift.categorical_drift schema;
    ``SUM(psi_term)`` is the alarm)."""
    from spark_streaming_sql_s3_connector_spark.streaming.drift import read_drift

    return read_drift(spark, _lang_counts_dir(pipeline_dir), baseline_counts)


def compact_curation_state(spark: SparkSession, pipeline_dir: str) -> None:
    """Maintenance: fold both stages' delta indexes into their versioned
    bases. Uses each compactor's safe default (never folds the newest
    delta — the only batch a restart could replay; see
    line_dedup.compact_index for why that guard is stricter here than
    label-skew)."""
    line_dedup.compact_index(spark, _line_index(pipeline_dir))
    exact_dedup.compact_index(
        spark,
        _exact_index(pipeline_dir),
        upto_batch=_newest_delta(_exact_index(pipeline_dir)),
    )


def _newest_delta(index_dir: str):
    return max(exact_dedup._plane(index_dir).delta_ids(), default=None)


def finalize_curation(
    spark: SparkSession,
    pipeline_dir: str,
    id_col: str = "doc_id",
    frac: float = 0.4,
    capacity: int = 128,
    num_shards: int = 8,
    approx_gate: bool = False,
) -> DataFrame:
    """Corpus-end finalization: gate + pack the streamed survivors.
    Returns one row per packed doc: (doc_id, lang, qscore, shard,
    start_offset, n_tokens, seq_first, seq_last).

    ``approx_gate``: the default rank-exact gate sorts each language
    stratum in ONE task (partitionBy(lang) has only a handful of
    strata) — fine up to millions of docs per language, the profiled
    super-linear stage past that (SCALING.md audit). ``approx_gate=
    True`` switches to ``quantile_gate_approx``: per-group
    approx_percentile thresholds broadcast back as a map-side filter —
    no per-stratum sort, the 100 TB path. Kept fraction then tracks
    ``frac`` to sketch accuracy instead of exactly."""
    from spark_streaming_sql_s3_connector_spark.operators.sampling import (
        quantile_gate_approx,
    )

    docs = line_dedup.read_deduped_docs(spark, _line_index(pipeline_dir))
    uniq = (
        exact_dedup.read_unique_ids(spark, _exact_index(pipeline_dir))
        .select(F.col("doc_id").alias(id_col))
    )
    meta = _read_concat_plane(
        spark, os.path.join(pipeline_dir, "_meta")
    ).select(id_col, "lang")
    survivors = docs.join(uniq, id_col).join(meta, id_col)
    scored = survivors.withColumn(
        "qscore", F.round(quality_score(F.col("deduped_text")), 6)
    )
    if approx_gate:
        # collect_thresholds: |langs| driver rows, and the gate becomes
        # a literal-map filter — one evaluation of the quality score on
        # the probe side instead of the join form's pushed-isnotnull
        # re-evaluation (see quantile_gate_approx's docstring)
        gated = quantile_gate_approx(
            scored, "qscore", ["lang"], frac, collect_thresholds=True
        )
    else:
        gated = keep_top_fraction(scored, "qscore", ["lang"], frac, id_col=id_col)
    packed = pack_concat(
        gated, id_col, capacity, text_col="deduped_text", num_shards=num_shards
    )
    return (
        gated.select(id_col, "lang", "qscore")
        .join(packed, id_col)
        .orderBy(id_col)
    )


def batch_curation(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    frac: float = 0.4,
    capacity: int = 128,
    num_shards: int = 8,
) -> DataFrame:
    """The batch twin: identical semantics in one job over the full
    corpus — line dedup (keep first in (doc, pos) order), exact dedup of
    the deduped text (keep min id per normalized text), per-language
    top-fraction gate on the deduped text's quality score, pack. The
    streaming law asserts finalize == this on the union corpus."""
    from spark_streaming_sql_s3_connector_spark.operators.dedup import (
        normalized_text,
    )
    from spark_streaming_sql_s3_connector_spark.operators.web import (
        dedup_lines_keep_first,
    )

    kf = dedup_lines_keep_first(
        docs.select(F.col(id_col), F.col(lang_col), F.col(text_col)),
        text_col,
        id_col,
    )
    # exact dedup on the DEDUPED text: keeper = min id per normalized
    # text, keyed by md5 so the shuffle carries 16-byte keys, not bodies
    keepers = (
        kf.groupBy(
            F.md5(F.encode(normalized_text(F.col("deduped_text")), "UTF-8")).alias("_k")
        )
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    survivors = kf.join(keepers, id_col).select(
        id_col, F.col(lang_col).alias("lang"), "deduped_text"
    )
    scored = survivors.withColumn(
        "qscore", F.round(quality_score(F.col("deduped_text")), 6)
    )
    gated = keep_top_fraction(scored, "qscore", ["lang"], frac, id_col=id_col)
    packed = pack_concat(
        gated, id_col, capacity, text_col="deduped_text", num_shards=num_shards
    )
    return (
        gated.select(id_col, "lang", "qscore")
        .join(packed, id_col)
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# Incremental finalization (r11): per-batch gate + pack instead of a
# full-corpus repack at every refresh.
#
# `finalize_curation` is the corpus-end shape: one gate shuffle + one
# pack shuffle over the WHOLE survivor set, every call. Correct, but a
# CONTINUOUS pipeline that wants the packed corpus fresh after every
# trigger would pay a full-corpus repack per trigger — the one
# remaining full-corpus stage after r10 made the screens, stats and
# packing all incremental. The incremental finalize closes it:
#
# - the quality threshold is FROZEN at bootstrap (first finalized
#   batch): per-language `percentile_approx(1-frac)` over the
#   bootstrap survivors, persisted beside the pack state as JSON and
#   never recomputed — a moving threshold would retro-invalidate
#   already-packed sequences (a doc packed at batch 3 can't be
#   un-packed at batch 7 because the corpus got better). Frozen-gate
#   semantics are the streaming norm (compare: ANN codebooks trained
#   at build).
# - per trigger, ONLY the batch's own survivors (its line-deduped docs
#   ∩ its first-seen exact-dedup ids — both already materialized by
#   `process_curation_batch` under batch=<id> dirs) are scored, gated
#   by the frozen thresholds (a literal-map filter, no shuffle), and
#   handed to `packing_state.pack_batch_incremental` — one window
#   shuffle over the BATCH, cursors broadcast.
# - every write is batch-id-keyed + overwritten ⇒ replay converges;
#   the threshold file is written once via tmp+rename and skipped when
#   present, so a replayed bootstrap batch reuses the frozen map.
#
# Law (tested through the connector with a replayed batch):
# incremental over range-ordered batches == `finalize_curation_frozen`
# (the batch twin that gates the union survivors with the SAME frozen
# map and packs once) — gating with a fixed map is a pure per-row
# filter, and the packing half is packing_state's incremental==batch
# law over the gated subsets (which still partition the id space in
# order). Docs whose language has no frozen threshold (a stratum that
# appeared after bootstrap) are DROPPED on both sides — deterministic
# and conservative; re-bootstrap into a new pipeline dir to admit new
# strata.
# ---------------------------------------------------------------------------


def _pack_state_dir(pipeline_dir: str) -> str:
    return os.path.join(pipeline_dir, "pack_state")


def _gated_rows(spark: SparkSession, pipeline_dir: str, batch_id: int) -> DataFrame:
    """Batch ``batch_id``'s gated (id, lang, qscore) rows. The gated
    plane rides the pack manifest (``pack_batch_incremental``
    ``keep_cols`` carries lang/qscore onto the manifest rows, 1:1 with
    the gated docs), so they are the batch's manifest rows."""
    from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
        read_manifest_batch,
    )

    return read_manifest_batch(spark, _pack_state_dir(pipeline_dir), batch_id)


def _thresholds_path(pipeline_dir: str) -> str:
    return os.path.join(_pack_state_dir(pipeline_dir), "_thresholds.json")


def read_frozen_thresholds(pipeline_dir: str) -> Optional[dict]:
    """The frozen per-language quality thresholds, or None before
    bootstrap."""
    try:
        raw = state_io.read_text(_thresholds_path(pipeline_dir))
    except FileNotFoundError:
        return None
    return {k: float(v) for k, v in json.loads(raw).items()}


def freeze_quality_thresholds(
    scored: DataFrame,
    pipeline_dir: str,
    frac: float,
    lang_col: str = "lang",
    score_col: str = "qscore",
    accuracy: int = 10_000,
) -> dict:
    """Compute per-language ``percentile_approx(1-frac)`` thresholds
    over ``scored`` (the bootstrap survivors) and persist them ONCE
    (tmp+rename; an existing file wins — replay/restart convergent).
    Returns the frozen map actually in effect."""
    existing = read_frozen_thresholds(pipeline_dir)
    if existing is not None:
        return existing
    if not 0 < frac <= 1:
        raise ValueError("frac must be in (0, 1]")
    rows = (
        scored.groupBy(lang_col)
        .agg(F.percentile_approx(score_col, 1.0 - frac, accuracy).alias("_thr"))
        .collect()
    )
    thr = {
        r[0]: float(r["_thr"])
        for r in rows
        if r[0] is not None and r["_thr"] is not None
    }
    if not thr:
        # an empty bootstrap (zero survivors, or only NULL-lang /
        # NULL-score rows) must NOT freeze: a persisted {} would gate
        # every future batch to nothing forever. Defer — gate THIS
        # batch with {} (law-consistent: any batch-0 row the eventual
        # map could pass implies its language had non-NULL scores here,
        # i.e. thr would not be empty) and let a later batch bootstrap.
        return thr
    state_io.write_text_atomic(
        _thresholds_path(pipeline_dir), json.dumps(thr, sort_keys=True)
    )
    return thr


# --- the append-only (id, lang) ``_meta`` output plane (the gated rows
# ride the pack manifest since r14): folded by concatenation, so a
# long-running pipeline's dir count and reader listing cost stay bounded
# instead of growing one directory per trigger forever. Rows never
# change in a fold — pure file-count hygiene behind an atomic pointer.


def _read_concat_plane(spark: SparkSession, root: str) -> DataFrame:
    """base (if folded) + deltas above the pointer — the whole
    append-only output. ONE multi-path read: with the persisted schema
    a zero-row dir reads empty; without one (a pre-r11 state) the
    inference spans the union of paths, so a _SUCCESS-only dir beside
    populated ones still reads (the old root-read behavior)."""
    plane = _concat_plane(root)
    live = plane.live()
    if not live:
        raise FileNotFoundError(f"no state under {root}")
    return plane.reader(spark).parquet(*[p for _, p in live])


def compact_curation_outputs(
    spark: SparkSession, pipeline_dir: str, upto_batch: Optional[int] = None
) -> None:
    """File-count hygiene for the append-only per-batch output plane
    the incremental finalize maintains outside the pack state — the
    (id, lang) ``_meta`` side table. (The gated rows ride the pack
    manifest since r14, whose own compactor `compact_pack_state` folds
    them on the vacuum cadence.) Piggybacked on the same maintenance
    cadence as `vacuum()` in `process_curation_batch_incremental`."""
    # concatenation only: a replayed folded batch rewrites a delta at
    # or below the pointer, which readers ignore — and its rows already
    # sit in the base verbatim, so the state converges
    plane = _concat_plane(os.path.join(pipeline_dir, "_meta"))
    plane.fold(
        lambda path, live, _: plane.reader(spark)
        .parquet(*[p for _, p in live])
        .write.mode("overwrite")
        .parquet(path),
        upto_batch,
    )


def _batch_survivors(
    spark: SparkSession,
    pipeline_dir: str,
    batch_id: int,
    id_col: str,
    docs_df: Optional[DataFrame] = None,
) -> DataFrame:
    """THIS batch's curation survivors: its line-deduped docs ∩ its
    first-seen exact-dedup ids ∩ its (id, lang) side rows — all three
    already on disk under batch=<id> from `process_curation_batch`, so
    this is three batch-sized scans, zero history reads. ``docs_df``
    (r14) lets the in-trigger finalize pass the line screen's still-
    cached rebuilt-docs frame (byte-identical to the committed parquet)
    and skip the docs re-read; standalone callers leave it None."""
    docs = (
        docs_df
        if docs_df is not None
        else spark.read.parquet(
            line_dedup._docs_dir(_line_index(pipeline_dir), batch_id)
        )
    )
    uniq = exact_dedup.read_new_keys(
        spark, _exact_index(pipeline_dir), batch_id
    ).select(F.col("_id").alias(id_col))
    meta = spark.read.parquet(_meta_dir(pipeline_dir, batch_id)).select(
        id_col, "lang"
    )
    return (
        docs.join(F.broadcast(uniq), id_col)
        .join(F.broadcast(meta), id_col)
        .select(id_col, "lang", "deduped_text")
    )


def _score(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "qscore", F.round(quality_score(F.col("deduped_text")), 6)
    )


def _gate_frozen(scored: DataFrame, thresholds: dict) -> DataFrame:
    """Literal-map frozen gate: keep rows with qscore >= threshold of
    their language; languages absent from the map drop (see module
    section doc). No shuffle — a map-side filter."""
    if not thresholds:
        return scored.limit(0)
    items: list = []
    for lang in sorted(thresholds):
        items.extend([F.lit(lang), F.lit(thresholds[lang])])
    thr_map = F.create_map(*items)
    return scored.where(F.col("qscore") >= thr_map[F.col("lang")])


def finalize_curation_batch(
    spark: SparkSession,
    batch_id: int,
    pipeline_dir: str,
    id_col: str = "doc_id",
    frac: float = 0.4,
    capacity: int = 128,
    num_shards: int = 8,
    clock: Optional[stage_timings.StageClock] = None,
    docs_df: Optional[DataFrame] = None,
) -> None:
    """Incrementally finalize ONE committed micro-batch (call after
    `process_curation_batch` in the same trigger): freeze the quality
    thresholds if this is the bootstrap batch, gate the batch's own
    survivors with the frozen map, and extend the packed manifest via
    `packing_state.pack_batch_incremental` — whose rows CARRY the gated
    (lang, qscore) columns (``keep_cols``), so the manifest delta IS the
    gated plane (r14: one write job per trigger, join-free
    `read_curated_pack`). Per-trigger cost: three batch-sized scans +
    one batch window shuffle; the already-packed manifest never moves.
    ``docs_df`` optionally reuses the trigger's cached rebuilt-docs
    frame (see `_batch_survivors`)."""
    from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
        pack_batch_incremental,
    )

    with stage_timings.span(clock, "finalize_gate"):
        scored = _score(
            _batch_survivors(spark, pipeline_dir, batch_id, id_col, docs_df=docs_df)
        )
        thresholds = read_frozen_thresholds(pipeline_dir)
        if thresholds is None:
            thresholds = freeze_quality_thresholds(scored, pipeline_dir, frac)
        gated = _gate_frozen(scored, thresholds)
    # the gated (id, lang, qscore) rows ride the pack manifest via
    # ``keep_cols``: the packer's one delta write per trigger carries
    # them, and `read_curated_pack` is a plain manifest read (no join).
    # `gated` has a single consumer, so it is not persisted.
    with stage_timings.span(clock, "finalize_pack"):
        pack_batch_incremental(
            gated,
            batch_id,
            _pack_state_dir(pipeline_dir),
            id_col,
            capacity,
            text_col="deduped_text",
            num_shards=num_shards,
            keep_cols=("lang", "qscore"),
        )


def read_curated_pack(
    spark: SparkSession, pipeline_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """The continuously-maintained finalized corpus: one row per packed
    doc, `finalize_curation`'s exact output schema — (id, lang, qscore,
    shard, start_offset, n_tokens, seq_first, seq_last). r14: the gated
    columns ride the manifest rows themselves (``keep_cols``), so this
    is ONE plane read — the former gated×manifest equi-join is gone."""
    from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
        read_packed_manifest,
    )

    packed = read_packed_manifest(spark, _pack_state_dir(pipeline_dir))
    return packed.select(
        id_col, "lang", "qscore", "shard", "start_offset", "n_tokens",
        "seq_first", "seq_last",
    ).orderBy(id_col)


def finalize_curation_frozen(
    spark: SparkSession,
    pipeline_dir: str,
    id_col: str = "doc_id",
    capacity: int = 128,
    num_shards: int = 8,
) -> DataFrame:
    """The batch twin of the incremental finalize: gate ALL streamed
    survivors with the SAME frozen thresholds and pack once with the
    batch operator. The law asserts `read_curated_pack` equals this
    row-for-row — the composed incremental==batch guarantee."""
    thresholds = read_frozen_thresholds(pipeline_dir)
    if thresholds is None:
        raise FileNotFoundError(
            f"no frozen thresholds under {pipeline_dir} — bootstrap via "
            "finalize_curation_batch first"
        )
    docs = line_dedup.read_deduped_docs(spark, _line_index(pipeline_dir))
    uniq = exact_dedup.read_unique_ids(
        spark, _exact_index(pipeline_dir)
    ).select(F.col("doc_id").alias(id_col))
    meta = _read_concat_plane(
        spark, os.path.join(pipeline_dir, "_meta")
    ).select(id_col, "lang")
    survivors = docs.join(uniq, id_col).join(meta, id_col)
    gated = _gate_frozen(_score(survivors), thresholds)
    packed = pack_concat(
        gated, id_col, capacity, text_col="deduped_text", num_shards=num_shards
    )
    return (
        gated.select(id_col, "lang", "qscore")
        .join(packed, id_col)
        .orderBy(id_col)
    )


def process_curation_batch_incremental(
    batch: DataFrame,
    batch_id: int,
    pipeline_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    expected_total_items: int = 1_000_000,
    monitor: bool = True,
    frac: float = 0.4,
    capacity: int = 128,
    num_shards: int = 8,
    vacuum_every: Optional[int] = None,
    disable_aqe: bool = True,
) -> None:
    """The fully-incremental trigger: screens + monitors
    (`process_curation_batch`), then the per-batch finalize
    (`finalize_curation_batch`), then — every ``vacuum_every`` batches —
    a `streaming/vacuum.vacuum` sweep of the WHOLE pipeline root with
    ``upto_batch = batch_id - 1`` (the last COMMITTED batch: inclusive
    compactors fold exactly the committed window; exclusive ones stay
    one batch more conservative — both replay-safe by each plane's own
    guard). This is the reference's A23 maintenance piggyback
    (RocksDBS3SourceLog.scala:109-153) applied to every analytics
    plane: a long-running pipeline self-bounds its state versions with
    no manual compaction calls.

    Every trigger also records its per-stage wall seconds under
    ``_timings/batch=<id>`` (bounded window) — read them with
    :func:`read_trigger_timings` to attribute steady-state latency.

    ``disable_aqe`` (default on) scopes ``spark.sql.adaptive.enabled``
    to false for the trigger and restores the prior value after —
    results are AQE-independent, but the trigger's fixed-shape
    small-batch plans pay one extra scheduled job per query stage
    under AQE with nothing to re-plan (see `_scoped_conf`; ~19%
    measured at sf0.01). Set False if other queries share the session
    concurrently and must keep AQE mid-trigger.

    ``expected_total_items`` is accepted for older callers and
    ignored: the screens are exact joins against their key indexes and
    need no sizing."""
    clock = stage_timings.StageClock()
    import contextlib

    aqe_guard = (
        _scoped_conf(batch.sparkSession, "spark.sql.adaptive.enabled", "false")
        if disable_aqe
        else contextlib.nullcontext()
    )
    with aqe_guard:
        _process_curation_batch_incremental_inner(
            batch, batch_id, pipeline_dir, text_col, id_col, lang_col,
            monitor, frac, capacity, num_shards, vacuum_every, clock,
        )


def _process_curation_batch_incremental_inner(
    batch, batch_id, pipeline_dir, text_col, id_col, lang_col,
    monitor, frac, capacity, num_shards, vacuum_every, clock,
) -> None:
    docs_df, line_cleanup = process_curation_batch(
        batch,
        batch_id,
        pipeline_dir,
        text_col=text_col,
        id_col=id_col,
        lang_col=lang_col,
        monitor=monitor,
        clock=clock,
        handoff_docs=True,
    )
    try:
        # finalize consumes the line screen's cached rebuilt-docs frame
        # (byte-identical to the committed parquet) plus committed
        # batch dirs
        finalize_curation_batch(
            batch.sparkSession,
            batch_id,
            pipeline_dir,
            id_col=id_col,
            frac=frac,
            capacity=capacity,
            num_shards=num_shards,
            clock=clock,
            docs_df=docs_df,
        )
    finally:
        line_cleanup()
    if vacuum_every and batch_id > 0 and batch_id % vacuum_every == 0:
        from spark_streaming_sql_s3_connector_spark.streaming.vacuum import vacuum

        spark = batch.sparkSession
        with clock("vacuum"):
            # same cadence for the append-only ``_meta`` plane this
            # composition owns (vacuum does not walk it — it sits behind
            # an underscore, so the two folds share no files and run
            # side by side): fold all COMMITTED deltas (< batch_id,
            # strictly below)
            run_concurrently(
                lambda: vacuum(spark, pipeline_dir, upto_batch=batch_id - 1),
                lambda: compact_curation_outputs(
                    spark, pipeline_dir, upto_batch=batch_id
                ),
            )
    # per-stage wall seconds under _timings/batch=<id> (bounded window)
    stage_timings.write_stage_timings(_timings_dir(pipeline_dir), batch_id, clock)


def streaming_curation_incremental(
    stream: DataFrame,
    pipeline_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    monitor: bool = True,
    frac: float = 0.4,
    capacity: int = 128,
    num_shards: int = 8,
    vacuum_every: Optional[int] = None,
):
    """Continuous curation: every trigger leaves a complete, packed,
    serving-ready corpus under ``pipeline_dir`` (read it with
    :func:`read_curated_pack`), with self-maintenance baked into the
    cadence when ``vacuum_every`` is set. Returns the StreamingQuery."""
    return foreach_batch(
        stream, checkpoint_dir, process_curation_batch_incremental, pipeline_dir,
        text_col=text_col, id_col=id_col, lang_col=lang_col, monitor=monitor,
        frac=frac, capacity=capacity, num_shards=num_shards,
        vacuum_every=vacuum_every,
    ).start()


def propagate_doc_deletes(
    docs: DataFrame,
    batch_id: int,
    text_col: str,
    id_col: str,
    ann_index_dir: str | None = None,
    term_stats_dir: str | None = None,
    emb_docs: DataFrame | None = None,
    exact_index_dir: str | None = None,
    line_index_dir: str | None = None,
    passage_index_dir: str | None = None,
    minhash_index_dir: str | None = None,
    policy: str = "takedown",
) -> None:
    """ONE delete, EVERY persisted state (r9 serving, r10 screening):
    when curation drops documents — retention policy, takedown,
    decontamination — the drop must reach every index still serving or
    screening against them. This is the single entry point: tombstones
    the ids out of the persisted ANN index
    (`operators/ann_index.delete_from_ann_index`), writes the
    negated-stats + posting markers into the lexical state
    (`streaming/term_stats.delete_docs_from_term_stats`), and — under
    the ``forget`` policy — writes forget markers into the four
    dedup-family SCREENING indexes (exact md5 keys, line keys, passage
    gram keys, MinHash bands; `exact_dedup.delete_docs_from_screen`).
    All states share the insert-order delete semantics (a marker at
    batch t kills rows inserted before t; later re-inserts revive) and
    the overwrite-by-batch-dir replay convergence, so one monotonic
    batch-id sequence drives the whole lifecycle. Pass only the states
    the pipeline maintains; ``emb_docs`` (id + vector) defaults to
    ``docs`` when the doc frame carries the vector column.

    ``policy`` splits WHY the doc is deleted, because the screening
    states must behave oppositely per reason:

    - ``"takedown"`` (default): the CONTENT is banned (legal removal,
      contamination). Serving states delete; screening states keep
      their keys, so a re-crawl of the same content is still rejected
      as a duplicate — suppression is the point.
    - ``"forget"``: the ROW is expiring (retention, consent
      withdrawal). Serving states delete AND screening states forget
      the doc's keys, so a legitimate future re-crawl is admitted as
      new instead of silently bouncing off a ghost entry — the same
      semantics as the reference's expiry re-admission rule
      (RocksDBS3SourceLog.scala:301-305: expired files become "new"
      again), one level up.

    Laws (tested): after propagation, neither BM25-from-postings nor
    ANN serving returns a deleted id, the lexical stats equal a rebuild
    over the survivors, forget→re-ingest admits, takedown→re-ingest
    still rejects, and each screening index equals a rebuild over the
    surviving unique docs."""
    _check_policy(policy)
    for kind, d in (
        ("ann_index", ann_index_dir),
        ("term_stats", term_stats_dir),
        ("key_screen", exact_index_dir),
        ("key_screen", line_index_dir),
        ("key_screen", passage_index_dir),
        ("minhash_bands", minhash_index_dir),
    ):
        if d is not None:
            _delete_plane(
                kind, d, docs, batch_id, text_col, id_col, emb_docs, policy
            )


def _check_policy(policy: str) -> None:
    if policy not in ("takedown", "forget"):
        raise ValueError(f"policy must be 'takedown' or 'forget', got {policy!r}")


def _delete_plane(
    kind: str,
    d: str,
    docs: DataFrame,
    batch_id: int,
    text_col: str,
    id_col: str,
    emb_docs: DataFrame | None,
    policy: str,
) -> str:
    """Route one delete to the ``kind`` plane at ``d``; returns the
    action taken. Both delete entry points call it."""
    if kind in ("ann_index", "ann_lifecycle"):
        from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
            delete_from_ann_index,
        )

        ids_df = (emb_docs if emb_docs is not None else docs).select(F.col(id_col))
        if kind == "ann_index":
            delete_from_ann_index(ids_df, d, batch_id=batch_id)
            return "tombstoned"
        # a self-refreshing lifecycle needs BOTH halves: tombstone the
        # served codes AND mark the landed raw vectors — the index
        # tombstone alone is not durable, because the next drift
        # refresh retrains/re-encodes from the landed floats and would
        # resurrect the deleted ids
        from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
            delete_vectors_from_lifecycle,
        )

        delete_from_ann_index(ids_df, os.path.join(d, "index"), batch_id=batch_id)
        delete_vectors_from_lifecycle(ids_df, batch_id, d, id_col=id_col)
        return "tombstoned + vectors-marked"
    if kind == "term_stats":
        from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
            delete_docs_from_term_stats,
        )

        delete_docs_from_term_stats(docs, batch_id, d, text_col, id_col)
        return "stats-negated"
    if kind in ("key_screen", "minhash_bands"):
        if policy != "forget":
            return "kept (takedown suppresses re-crawls)"
        exact_dedup.delete_docs_from_screen(docs, batch_id, d, id_col=id_col)
        return "forgotten"
    return "skipped (not id-addressable)"


def propagate_doc_deletes_for_pipeline(
    docs: DataFrame,
    batch_id: int,
    pipeline_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_docs: DataFrame | None = None,
    policy: str = "takedown",
) -> list[dict]:
    """:func:`propagate_doc_deletes` with state DISCOVERY: a curation
    pipeline has ONE root, not six dir arguments — walk its declared
    state roots (`streaming/vacuum.walk_planes`, the walk maintenance
    compacts by) and route every id-addressable plane found to its
    delete:

    - ``ann_index``       → `operators/ann_index.delete_from_ann_index`
      (needs ``emb_docs`` or ``docs`` carrying the ids; tombstones)
    - ``ann_lifecycle``   → BOTH the index tombstone AND a raw-vector
      delete marker (`ann_lifecycle.delete_vectors_from_lifecycle`) —
      a drift refresh retrains from the landed floats, so the marker
      is what makes the delete durable across retrains
    - ``term_stats``      → `term_stats.delete_docs_from_term_stats`
    - ``key_screen``      → forget markers (``forget`` policy only —
      under ``takedown`` screens deliberately keep their keys)
    - ``minhash_bands``   → same split
    - aggregate planes (``rollup``/``profile``/``drift_counts``/
      ``embedding_moments``) and the ``packing`` manifest are NOT
      id-addressable — reported ``skipped`` (repacking after a delete
      is a finalize-level decision, not a marker write)

    A root written before planes were declared is not found, so it is
    left alone (see `streaming/vacuum`).

    Returns one dict per plane found: path, plane, action — the vacuum
    report shape. Same policy semantics, same monotonic batch-id
    contract as the explicit-args form (laws shared with
    `test_screen_deletes`)."""
    from spark_streaming_sql_s3_connector_spark.streaming.vacuum import walk_planes

    _check_policy(policy)
    report = [
        {
            "path": d,
            "plane": kind,
            "action": _delete_plane(
                kind, d, docs, batch_id, text_col, id_col, emb_docs, policy
            ),
        }
        for d, kind in walk_planes(pipeline_dir)
    ]
    return sorted(report, key=lambda r: r["path"])
