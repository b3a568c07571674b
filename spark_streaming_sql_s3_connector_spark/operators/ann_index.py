"""Persisted ANN index lifecycle: build once, serve many.

`operators/similarity.py` provides the quantizer family (IVF coarse
centroids, PQ codebooks, distributed assign/encode) and in-memory top-k
paths; every one of those query shapes re-trains and RE-ENCODES the
corpus per call, which is fine as a correctness gate but is not how
10^10 vectors are served. This module is the serving shape those
docstrings promise (similarity.py ivf_pq_topk):

- :func:`build_ann_index` — one-time (or per-refresh) job: train the
  coarse + PQ quantizers on a bounded sample, assign + encode the full
  corpus distributed, and write ``(id, pq_code)`` parquet PARTITIONED BY
  ``ivf_bucket`` under ``<index_dir>/corpus``, plus the quantizer
  artifacts as JSON under ``<index_dir>/quantizers.json``, written LAST
  and atomically via the ``state/log_fs`` layer (tmp+rename on POSIX,
  single PUT on object stores) — so ``index_dir`` may be local,
  ``s3://``, or ``hdfs://``. Cost: one corpus scan. The float vectors
  are never needed again for ranking.
- :func:`ann_index_topk` — the per-query path: load the (tiny) quantizer
  JSON, pick the ``n_probe`` buckets nearest the query ON THE DRIVER,
  and scan ONLY those buckets' files (``ivf_bucket`` is a partition
  column, so Spark prunes at the FILE level — a query touches
  n_probe/n_centroids of the index, ~8-32 B per candidate) with the
  broadcast ADC lookup table. No training, no encode, no vector reads.

At 100 TB: the index build is a linear batch job you run once per corpus
refresh; serving reads ``n_probe`` partition directories of compressed
codes. With n_centroids=1024 and n_probe=8, a top-k over 10^10 vectors
scans ~10^8 codes ≈ 1-2 GB spread over the cluster — interactive.

- :func:`ann_index_topk_batch` (r8) — the batch retrieval shape: top-k
  for a whole query SET in one job (one pruned union scan, per-row ADC
  against only that bucket's probers, bounded per-partition partial
  top-k, one window reduce).
- :func:`ann_index_range` (r8) — radius retrieval: every indexed vector
  above an ADC threshold, a plain filter over the pruned scan (no k
  truncation — the "find ALL near-dups" primitive).
- :func:`dedup_against_ann_index` / :func:`streaming_semantic_dedup`
  (r8) — the online SemDeDup screen: new batches checked against the
  index's codes (never re-reading history as floats), survivors
  appended so later batches dedup against them; replay-isolated via the
  ``upto_batch`` horizon partition filter.
- :func:`compact_ann_index` (r8) — folds the ``batch=<id>`` dirs that
  :func:`streaming_ann_index` accumulates (one per trigger per touched
  bucket) into a versioned base behind an atomically-flipped pointer;
  readers filter to live batch labels, so crashed folds and replays of
  folded batches are invisible (partition-pruned, zero IO) until GC'd.

Laws (tested): ``ann_index_topk`` equals the in-memory
``similarity.ivf_pq_topk`` given the same artifacts; the scan's plan
prunes to exactly the probed partitions; recall vs brute clears the same
floor as the train-per-call paths — and survives append drift; batch
serving equals the single-query path per query; compaction preserves
serving exactly while collapsing the dir population.
"""

from __future__ import annotations

import json
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.similarity import (
    _fit_ivf_centroids,
    _fit_pq_books,
    brute_force_topk,
    collect_training_sample,
    ivf_assign,
    pq_encode,
    pq_topk,
)
from spark_streaming_sql_s3_connector_spark.state.log_fs import filesystem_for
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    declare,
    foreach_batch,
)

_META_NAME = "quantizers.json"
_CORPUS_NAME = "corpus"
# v2 (r7): coded rows live under corpus/batch=<label>/ivf_bucket=<b> —
# the batch level makes appends REPLAY-CONVERGENT (a foreachBatch
# retry overwrites its own batch dir instead of double-appending).
# v1 indexes (corpus/ivf_bucket=<b>, no batch level) still load and
# serve; they just can't take appends (mixed partition depths would
# break discovery), which append_to_ann_index rejects loudly.
_FORMAT_VERSION = 2
_BASE_BATCH = "base"
# r8: compaction folds committed integer batch dirs into a fresh base
# labeled "base-<upto>"; the pointer JSON below names the live base and
# the fold horizon, and every reader filters the corpus to LIVE batch
# labels — so stale dirs (crashed folds, replays of folded batches)
# are invisible until GC'd. All base labels start with this prefix,
# which is why append_to_ann_index reserves the whole prefix.
_COMPACTION_NAME = "compaction.json"
# r9: id-keyed delete markers (curation deletes documents — exact dedup
# and span decontamination drop whole docs — and a grow-only index would
# keep serving their dead ids). Tombstones live under
# tombstones/batch=<int> with the SAME overwrite-by-batch-dir replay
# discipline as appends; ORDER is the batch id: a tombstone in batch t
# kills rows appended in batches < t (base/fold/non-integer rows count
# as order -1, i.e. any tombstone kills them), so an id deleted in
# batch 5 and re-inserted in batch 9 serves again — the
# delete-then-reinsert semantics every LSM index uses. Serving filters
# to LIVE tombstones (t >= the compaction pointer's fold horizon:
# a replayed dir below it is partition-pruned, zero IO, exactly like
# stale corpus batches); compaction applies every tombstone below the
# new horizon to the folded base and GCs its dir.
_TOMBSTONES_NAME = "tombstones"


def corpus_path(index_dir: str) -> str:
    # the ORIGINAL (possibly URI) path: this is what Spark's reader and
    # writer receive, so scheme handling is Spark/Hadoop's (note s3a://
    # on the Spark side vs s3:// on the pyarrow meta side — pass the
    # scheme your cluster's Hadoop connector expects)
    return index_dir.rstrip("/") + "/" + _CORPUS_NAME


def _batch_path(index_dir: str, label: str) -> str:
    return corpus_path(index_dir) + f"/batch={label}"


def index_exists(index_dir: str) -> bool:
    """True iff a completed build is present (the meta JSON is written
    LAST, after the corpus parquet commit, so its presence implies a
    complete index). ``index_dir`` may be local or any
    ``filesystem_for`` scheme (s3://, hdfs://, …)."""
    fs, root = filesystem_for(index_dir)
    return fs.exists(fs.join(root, _META_NAME))


def _read_compaction_pointer(index_dir: str) -> dict:
    """The compaction pointer: which base label is live and below which
    integer batch id every batch dir is folded (hence stale). Absent ⇒
    the build's own base, nothing folded — i.e. a pre-compaction v2
    index reads exactly as before."""
    fs, root = filesystem_for(index_dir)
    try:
        return json.loads(fs.read_text(fs.join(root, _COMPACTION_NAME)))
    except FileNotFoundError:
        return {"base": _BASE_BATCH, "upto": 0}


def _live_batch_filter(pointer: dict):
    """Boolean Column over the ``batch`` partition column selecting LIVE
    dirs: the pointer's base, every integer batch at/above the fold
    horizon, and every non-integer append label. Stale base versions
    (crashed or superseded folds) and folded/replayed integer batches
    are excluded. References only the partition column, so Spark
    evaluates it during partition pruning — stale dirs cost zero IO."""
    base, upto = pointer["base"], int(pointer["upto"])
    is_int = F.col("batch").rlike("^[0-9]+$")
    return F.when(
        F.col("batch").startswith(_BASE_BATCH), F.col("batch") == base
    ).otherwise(~is_int | (F.col("batch").cast("long") >= upto))


def _tombstones_path(index_dir: str) -> str:
    return index_dir.rstrip("/") + "/" + _TOMBSTONES_NAME


def _tombstone_labels(index_dir: str) -> list[int]:
    """Integer batch labels of tombstone dirs present on disk (no
    liveness filtering; unparsable names tolerated and skipped — a
    stray operator-made dir must not wedge every serve)."""
    fs, root = filesystem_for(index_dir)
    try:
        entries = fs.listdir(fs.join(root, _TOMBSTONES_NAME))
    except FileNotFoundError:
        return []
    out = []
    for e in entries:
        name = e.rstrip("/").rsplit("/", 1)[-1]
        if name.startswith("batch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return out


def _row_order() -> F.Column:
    """A corpus row's position in the append order, from its ``batch``
    partition label: integer appends keep their id; base/fold and
    non-integer rows are -1 (older than every tombstone — base rows
    predate any delete; folded rows had every sub-horizon tombstone
    applied physically, and a retained tombstone t >= horizon correctly
    outranks them)."""
    is_int = F.col("batch").rlike("^[0-9]+$")
    return F.when(is_int, F.col("batch").cast("long")).otherwise(F.lit(-1))


def read_index_corpus(
    spark: SparkSession,
    index_dir: str,
    meta: Optional[dict] = None,
    upto_batch: Optional[int] = None,
) -> DataFrame:
    """The LIVE coded corpus of a persisted index — the one reader every
    serve/maintenance path shares. v2 layouts filter to live batch
    labels via the compaction pointer (a partition filter, so stale
    dirs are pruned before IO) and anti-join live tombstones (broadcast
    — the delete set is a sliver of the corpus between compactions;
    indexes that never saw a delete skip this with one metadata call);
    v1 flat layouts have no batch column and read whole.
    ``upto_batch`` bounds the TOMBSTONES a replaying trigger may see
    (t < upto_batch), mirroring :func:`_horizon_filter` on the corpus
    side — pass it wherever that filter is applied."""
    if meta is None:
        meta = load_index_meta(index_dir)
    df = spark.read.parquet(corpus_path(index_dir))
    if meta.get("format_version") == _FORMAT_VERSION:
        ptr = _read_compaction_pointer(index_dir)
        df = df.where(_live_batch_filter(ptr))
        if _tombstone_labels(index_dir):
            tombs = spark.read.parquet(_tombstones_path(index_dir)).where(
                F.col("batch").cast("long") >= int(ptr["upto"])
            )
            if upto_batch is not None:
                tombs = tombs.where(F.col("batch").cast("long") < int(upto_batch))
            tombs = tombs.select(
                F.col("id").alias("_dead_id"),
                F.col("batch").cast("long").alias("_dead_t"),
            )
            df = df.join(
                F.broadcast(tombs),
                (df["id"] == tombs["_dead_id"]) & (_row_order() < tombs["_dead_t"]),
                "left_anti",
            )
    return df


def load_index_meta(index_dir: str) -> dict:
    fs, root = filesystem_for(index_dir)
    meta = json.loads(fs.read_text(fs.join(root, _META_NAME)))
    if meta.get("format_version") not in (1, _FORMAT_VERSION):
        raise ValueError(
            f"ANN index at {index_dir} has format_version "
            f"{meta.get('format_version')}, expected 1 or {_FORMAT_VERSION}"
        )
    return meta


def build_ann_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    index_dir: str,
    n_centroids: int = 16,
    m_subspaces: int = 8,
    pq_centroids: int = 256,
    seed: int = 42,
    sample_rows: int = 100_000,
) -> dict:
    """Build the persisted IVF-PQ index for ``df`` under ``index_dir``.

    One corpus scan: quantizers train on a bounded single-scan sample
    (the faiss recipe — see ivf_centroids/pq_train), then the full
    corpus is assigned + encoded DISTRIBUTED and written as
    ``(id, pq_code)`` parquet partitioned by ``ivf_bucket``. The meta
    JSON (centroids + codebooks + column names) is written last via
    tmp+rename, so a crashed build never looks complete, and a first
    build declares the root an ``ann_index`` plane only after it. A
    rebuild removes the meta first while the declaration stays, so
    until the new meta commits a vacuum reports the plane as an error
    and a delete routed to it raises; neither drops state. Returns the
    meta dict."""
    # ONE shared sample scan for both quantizer fits (r14, guide §2.4):
    # the coarse centroids and the PQ codebooks train on the SAME
    # bounded head-quota sample, and each fit applies its own seeded
    # trim/normalization — byte-identical models to the former
    # two-scan form, one fewer full collect job per build
    X = collect_training_sample(df, vec_col, sample_rows=sample_rows)
    centroids = _fit_ivf_centroids(
        X, n_centroids=n_centroids, seed=seed, sample_rows=sample_rows
    )
    codebooks = _fit_pq_books(
        X,
        m_subspaces=m_subspaces,
        n_centroids=pq_centroids,
        seed=seed,
        sample_rows=sample_rows,
    )
    encoded = pq_encode(ivf_assign(df, vec_col, centroids), vec_col, codebooks)
    # a REBUILD replaces the index wholesale: stale appended batch dirs
    # hold codes from the OLD quantizers and must not survive under the
    # new meta (meta is removed first so a crash mid-wipe leaves an
    # index that reads as incomplete, never as silently mixed). All
    # state-plane file ops go through the log FS layer so index_dir may
    # live on an object store.
    fs, root = filesystem_for(index_dir)
    fs.delete(fs.join(root, _META_NAME))
    fs.delete(fs.join(root, _COMPACTION_NAME))
    fs.delete_dir(fs.join(root, _CORPUS_NAME))
    (
        encoded.select(
            F.col(id_col).alias("id"), F.col("pq_code"), F.col("ivf_bucket")
        )
        # cluster by bucket before the partitioned write: one file per
        # bucket, not tasks x buckets slivers — a n_probe-pruned serve
        # then opens n_probe files, not n_probe x upstream-tasks (the
        # r13 delta-sliver lesson; big buckets stay splittable by
        # parquet row groups)
        .repartition("ivf_bucket")
        .write.mode("overwrite")
        .partitionBy("ivf_bucket")
        .parquet(_batch_path(index_dir, _BASE_BATCH))
    )
    meta = {
        "format_version": _FORMAT_VERSION,
        "vec_col": vec_col,
        "id_col": id_col,
        "n_centroids": len(centroids),
        "m_subspaces": len(codebooks),
        "pq_centroids": len(codebooks[0]),
        "seed": seed,
        "centroids": centroids,
        "codebooks": codebooks,
    }
    fs.mkdirs(root)
    fs.write_atomic(fs.join(root, _META_NAME), json.dumps(meta), overwrite=True)
    declare(index_dir, "ann_index")
    return meta


def append_to_ann_index(
    df: DataFrame,
    index_dir: str,
    batch_id: int | str = 0,
    meta: Optional[dict] = None,
) -> None:
    """Grow a persisted index with new vectors WITHOUT retraining: the
    stored quantizers assign + encode the new batch (distributed) and
    the coded rows land under ``corpus/batch=<batch_id>`` — an
    OVERWRITE of that batch's own directory, so a foreachBatch replay
    of the same batch converges instead of double-appending (the same
    overwrite-by-batch-dir discipline as the streaming dedup indexes).
    Quantizers are trained once on a representative sample and reused;
    periodic full rebuilds (when drift accumulates) are just
    build_ann_index again.

    Laws (tested): serve-after-append == in-memory ivf_pq_topk over the
    UNION corpus with the same artifacts (appending is encode-only),
    and re-appending the same batch changes nothing."""
    if meta is None:
        meta = load_index_meta(index_dir)
    if meta.get("format_version") != _FORMAT_VERSION:
        raise ValueError(
            f"append requires a format_version-{_FORMAT_VERSION} index "
            f"(batch-keyed layout); rebuild {index_dir} with "
            "build_ann_index to upgrade"
        )
    label = str(batch_id)
    if label.startswith(_BASE_BATCH):
        raise ValueError(
            f"batch_id prefix {_BASE_BATCH!r} is reserved for the build and "
            "compaction base versions"
        )
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    encoded = pq_encode(
        ivf_assign(df, vec_col, meta["centroids"]), vec_col, meta["codebooks"]
    )
    (
        encoded.select(
            F.col(id_col).alias("id"), F.col("pq_code"), F.col("ivf_bucket")
        )
        # clustered append delta — see build_ann_index
        .repartition("ivf_bucket")
        .write.mode("overwrite")
        .partitionBy("ivf_bucket")
        .parquet(_batch_path(index_dir, label))
    )


def delete_from_ann_index(
    ids: DataFrame,
    index_dir: str,
    batch_id: int,
    meta: Optional[dict] = None,
) -> None:
    """Tombstone ids out of a persisted index — the delete half of the
    curation lifecycle (exact dedup and span decontamination DROP
    documents; a grow-only index would keep serving their dead ids as
    neighbors). Writes the distinct id set under
    ``tombstones/batch=<batch_id>`` — an OVERWRITE of that batch's own
    dir, so a foreachBatch replay converges exactly like appends.

    ``batch_id`` is the tombstone's position in the shared append
    order: it kills rows appended in batches STRICTLY below it (and
    base/fold rows), so a later re-insert of the same id serves again
    (LSM delete-then-reinsert semantics). Use the same monotonic batch
    id sequence as the appends; same-batch appends survive their own
    batch's deletes.

    Laws (tested): serve/dedup never return a tombstoned id, pre- AND
    post-compaction; replay of a folded delete converges; re-insert
    after delete serves again."""
    if meta is None:
        meta = load_index_meta(index_dir)
    if meta.get("format_version") != _FORMAT_VERSION:
        raise ValueError(
            f"deletes require a format_version-{_FORMAT_VERSION} index "
            f"(batch-keyed layout); rebuild {index_dir} with "
            "build_ann_index to upgrade"
        )
    label = str(batch_id)
    if not label.isdigit():
        raise ValueError(
            "tombstone batch_id must be a non-negative integer — ordering "
            f"against appends is by batch id (got {batch_id!r})"
        )
    id_col = meta["id_col"]
    src = ids.select(F.col(id_col).alias("id")) if id_col in ids.columns else ids.select(F.col("id"))
    (
        src.distinct()
        .coalesce(1)  # a delete batch is tiny; one file per dir
        .write.mode("overwrite")
        .parquet(_tombstones_path(index_dir) + f"/batch={label}")
    )


def _corpus_batch_labels(index_dir: str) -> list[str]:
    """Batch labels present under corpus/ (directory names, not live
    filtering) — via the log FS layer so the index may live on an
    object store."""
    fs, root = filesystem_for(index_dir)
    try:
        entries = fs.listdir(fs.join(root, _CORPUS_NAME))
    except FileNotFoundError:
        return []
    out = []
    for e in entries:
        name = e.rstrip("/").rsplit("/", 1)[-1]
        if name.startswith("batch="):
            out.append(name.split("=", 1)[1])
    return out


def compact_ann_index(
    spark: SparkSession, index_dir: str, upto_batch: Optional[int] = None
) -> Optional[int]:
    """Fold committed ``batch=<int>`` append dirs (and the current base)
    into one fresh base version — the small-file compactor for
    :func:`streaming_ann_index`, which otherwise accumulates one dir per
    trigger per touched bucket (same wall `streaming/exact_dedup.py`'s
    ``compact_index`` solves for the dedup indexes).

    Protocol: read the LIVE corpus restricted to the fold set, write it
    to ``corpus/batch=base-<upto>`` partitioned by ``ivf_bucket``, then
    atomically flip the compaction pointer, then GC stale dirs. Readers
    filter by the pointer, so a crash at ANY step leaves a servable
    index: an unflipped half-written base is not live; un-GC'd stale
    dirs are not live (and are partition-pruned, zero IO). Re-running
    compaction finishes the GC.

    ``upto_batch``: fold only integer batches STRICTLY below it — pass
    the stream's last committed batch id (NOT +1: the in-flight batch's
    dir may exist before its checkpoint commit) when compacting beside a
    live/crashed stream. Unlike exact_dedup there is no verdict skew to
    trade away here: a REPLAY of an already-folded batch just rewrites a
    dir below the fold horizon, which every reader filters out and the
    next compaction GCs — serving is identical either way (law-tested).
    With ``upto_batch=None`` every integer batch folds. Non-integer
    append labels never fold (they carry no replay ordering); rebuild to
    absorb them. Returns the new fold horizon, or None if nothing to do.

    Edge (guarded): compacting an index whose EVERY row is tombstoned
    raises ValueError instead of writing an empty base (which would make
    every subsequent read fail parquet schema inference with an opaque
    error). An index curated down to nothing should be dropped/rebuilt,
    not compacted.

    GC discipline (same as the dedup-index compactors): stale dirs are
    deleted immediately after the pointer flip, so a query planned
    against the OLD pointer that is still mid-scan can hit a vanished
    file — run compaction from the maintenance path (e.g.
    ``compact_every``) rather than concurrently with long-running
    serves, or set ``spark.sql.files.ignoreMissingFiles`` on serving
    sessions.
    """
    meta = load_index_meta(index_dir)
    if meta.get("format_version") != _FORMAT_VERSION:
        raise ValueError(
            f"compaction requires a format_version-{_FORMAT_VERSION} index; "
            f"rebuild {index_dir} with build_ann_index to upgrade"
        )
    ptr = _read_compaction_pointer(index_dir)
    base, upto = ptr["base"], int(ptr["upto"])
    labels = _corpus_batch_labels(index_dir)
    fold_ids = sorted(
        int(l)
        for l in labels
        if l.isdigit()
        and int(l) >= upto
        and (upto_batch is None or int(l) < upto_batch)
    )
    tomb_ids = sorted(
        t
        for t in _tombstone_labels(index_dir)
        if t >= upto and (upto_batch is None or t < upto_batch)
    )
    fs, root = filesystem_for(index_dir)

    def _gc(live_base: str, horizon: int) -> None:
        for l in _corpus_batch_labels(index_dir):
            stale = (l.startswith(_BASE_BATCH) and l != live_base) or (
                l.isdigit() and int(l) < horizon
            )
            if stale:
                fs.delete_dir(fs.join(root, _CORPUS_NAME, f"batch={l}"))
        # applied tombstones (below the fold horizon) are physically
        # reflected in the live base — their dirs go too; serving
        # already ignores them via the t >= horizon liveness filter,
        # so this GC is also crash-safe hygiene, not correctness
        for t in _tombstone_labels(index_dir):
            if t < horizon:
                fs.delete_dir(fs.join(root, _TOMBSTONES_NAME, f"batch={t}"))

    if not fold_ids and not tomb_ids:
        _gc(base, upto)  # finish any interrupted prior GC
        return None
    new_upto = max(fold_ids + tomb_ids) + 1
    new_base = f"{_BASE_BATCH}-{new_upto}"
    # upto_batch=new_upto bounds the anti-join to exactly the committed
    # tombstones being folded — every row read keeps its REAL batch
    # order here, so a tombstone never outranks a later re-insert
    fold = read_index_corpus(spark, index_dir, meta, upto_batch=new_upto).where(
        (F.col("batch") == base)
        | (F.col("batch").rlike("^[0-9]+$") & (F.col("batch").cast("long") < new_upto))
    )
    if fold.limit(1).count() == 0:
        # every row in the fold window is tombstoned: writing the empty
        # base would leave an index whose next read fails parquet schema
        # inference with an opaque error — fail loudly here instead
        raise ValueError(
            f"compact_ann_index: the fold of {index_dir} is empty (every "
            "indexed row is tombstoned); drop and rebuild the index with "
            "build_ann_index instead of compacting it down to nothing"
        )
    (
        fold.select("id", "pq_code", "ivf_bucket")
        # clustered fold — see build_ann_index
        .repartition("ivf_bucket")
        .write.mode("overwrite")
        .partitionBy("ivf_bucket")
        .parquet(_batch_path(index_dir, new_base))
    )
    fs.write_atomic(
        fs.join(root, _COMPACTION_NAME),
        json.dumps({"base": new_base, "upto": new_upto}),
        overwrite=True,
    )
    _gc(new_base, new_upto)
    return new_upto


def streaming_ann_index(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_every: Optional[int] = None,
):
    """Keep a persisted ANN index current as vectors stream in: each
    micro-batch encodes with the STORED quantizers (no training on the
    hot path) and overwrites its own ``batch=<id>`` dir — restart-safe
    by the append law above. The index must already exist
    (``build_ann_index`` on a representative bootstrap corpus); serving
    via :func:`ann_index_topk` sees each batch as soon as its write
    commits. ``compact_every=N`` folds batch dirs into the base every N
    triggers with ``upto_batch=<current batch id>`` — only batches whose
    checkpoint commit precedes the current one fold, so a crash/replay
    stays convergent (see :func:`compact_ann_index`). Returns the
    StreamingQuery."""
    meta = load_index_meta(index_dir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        append_to_ann_index(batch, index_dir, batch_id=batch_id, meta=meta)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_ann_index(batch.sparkSession, index_dir, upto_batch=batch_id)

    return foreach_batch(stream, checkpoint_dir, _process).start()


def refresh_ann_index_if_drifted(
    corpus: DataFrame,
    index_dir: str,
    moments_dir: str,
    baseline_moments: DataFrame,
    threshold: float = 0.5,
    n_centroids: Optional[int] = None,
    m_subspaces: Optional[int] = None,
    pq_centroids: Optional[int] = None,
    seed: Optional[int] = None,
    sample_rows: int = 100_000,
) -> Optional[float]:
    """Compose the drift plane with the index lifecycle (r9 verdict
    task #5): `append_to_ann_index` trains quantizers once and encodes
    forever, so a drifted embedding distribution — encoder swap, source
    mix shift — silently degrades the stored codebooks' recall while
    the index keeps answering. This is the actuator the monitoring
    plane was missing: read the live standardized mean shift from the
    persisted moment state (`streaming/drift.read_embedding_drift` vs
    ``baseline_moments``), and when the MAX over dimensions crosses
    ``threshold``, rebuild the index wholesale over ``corpus`` (the
    current survivor set) with freshly-trained quantizers —
    :func:`build_ann_index`'s rebuild semantics: meta removed first,
    stale batch dirs and tombstones wiped, so a crash mid-refresh reads
    as incomplete, never as a silent old/new code mix.

    Quantizer geometry defaults to the STORED meta (same
    n_centroids/m_subspaces/pq_centroids/seed), overridable per call.

    Returns the observed max mean shift when the refresh fired, or
    None for the no-op path (drift under threshold: NOTHING is touched
    — meta, base, appends, tombstones and compaction pointer all keep
    their bytes, law-tested).

    Scale shape: the decision costs a d-row state read (zero corpus
    IO); the rebuild is the one full corpus scan + encode you already
    pay for any retrain, now spent exactly when the alarm says the old
    codebooks stopped fitting — instead of on a blind schedule. Law
    (tested): planted drift → refresh fires → recall recovers vs the
    stale-quantizer twin; no drift → no-op."""
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        read_embedding_drift,
    )

    if threshold < 0:
        raise ValueError("threshold must be >= 0")
    spark = corpus.sparkSession
    meta = load_index_meta(index_dir)
    row = (
        read_embedding_drift(spark, moments_dir, baseline_moments)
        .agg(F.max("mean_shift").alias("m"))
        .collect()[0]
    )
    shift = float(row.m) if row.m is not None else 0.0
    if shift <= threshold:
        return None
    build_ann_index(
        corpus,
        meta["vec_col"],
        meta["id_col"],
        index_dir,
        n_centroids=n_centroids if n_centroids is not None else meta["n_centroids"],
        m_subspaces=m_subspaces if m_subspaces is not None else meta["m_subspaces"],
        pq_centroids=pq_centroids if pq_centroids is not None else meta["pq_centroids"],
        seed=seed if seed is not None else meta["seed"],
        sample_rows=sample_rows,
    )
    return shift


def _horizon_filter(upto_batch: int):
    """Partition filter keeping only batch dirs a replaying trigger is
    allowed to see: base versions (bootstrap / folds — see the
    compaction caveat in :func:`streaming_semantic_dedup`), non-integer
    appends, and integer batches STRICTLY below ``upto_batch``."""
    is_int = F.col("batch").rlike("^[0-9]+$")
    return (
        F.col("batch").startswith(_BASE_BATCH)
        | ~is_int
        | (F.col("batch").cast("long") < int(upto_batch))
    )


def ann_index_topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries,
    k: int = 10,
    n_probe: int = 4,
    meta: Optional[dict] = None,
    upto_batch: Optional[int] = None,
    id_filter: Optional[DataFrame] = None,
) -> DataFrame:
    """Top-k for EVERY query in ``queries`` in ONE job — the batch
    retrieval shape (SemDeDup-style curation, eval-set contamination
    lookups, retrieval-augmented filtering score whole query SETS, not
    one vector at a time). ``queries``: a bounded collection of
    ``(query_id, vector)`` pairs or a small DataFrame with those two
    columns (collected to the driver — fine for the ≤10⁴-query batches
    this shape exists for; per query the driver holds an m×pq_centroids
    ADC table, 32 KB at m=16, so 10⁴ queries broadcast ~320 MB is the
    practical ceiling — chunk above that).

    Scale shape, vs looping :func:`ann_index_topk` Q times:
    - ONE pruned scan of the UNION of all queries' probed buckets
      (partition-pruned ``isin``), instead of Q scans with Q query
      startups;
    - each corpus row is ADC-scored against ONLY the queries probing
      its bucket (bucket→queries map rides the broadcast) — per-row
      work is queries-per-bucket × m table lookups, and bucket
      locality keeps queries-per-bucket ≪ Q for spread-out query sets;
    - executors emit at most Q·k candidate rows PER PARTITION (exact
      partial top-k by the total order inside the Arrow scorer), and a
      final per-query window reduces those to the global top-k — the
      only shuffle, bounded by partitions × Q · k, never corpus-sized.

    Law (tested): per query, the score list equals the single-query
    :func:`ann_index_topk` path exactly (same buckets, same ADC
    arithmetic); ids agree wherever scores are untied."""
    import numpy as np
    import pandas as pd

    if meta is None:
        meta = load_index_meta(index_dir)
    if isinstance(queries, DataFrame):
        pairs = [(r[0], list(r[1])) for r in queries.collect()]
    else:
        pairs = [(q, list(v)) for q, v in queries]
    if not pairs:
        raise ValueError("queries must be non-empty")
    codebooks = np.asarray(meta["codebooks"], dtype=np.float64)  # m×c×dsub
    m, _c, dsub = codebooks.shape
    qids = [str(q) for q, _ in pairs]
    if len(set(qids)) != len(qids):
        raise ValueError("query_id values must be unique (as strings)")
    tables = np.empty((len(pairs), m, codebooks.shape[1]), dtype=np.float64)
    bucket_to_q: dict[int, list[int]] = {}
    for qi, (_qid, vec) in enumerate(pairs):
        v = np.asarray([float(x) for x in vec], dtype=np.float64)
        v = v / max(float(np.linalg.norm(v)), 1e-300)
        for mm in range(m):
            tables[qi, mm] = codebooks[mm] @ v[mm * dsub : (mm + 1) * dsub]
        for b in _probe_buckets(meta["centroids"], vec, n_probe):
            bucket_to_q.setdefault(int(b), []).append(qi)
    probes = sorted(bucket_to_q)
    corpus = read_index_corpus(
        spark, index_dir, meta, upto_batch=upto_batch
    ).where(F.col("ivf_bucket").isin(probes))
    if upto_batch is not None:
        if meta.get("format_version") != _FORMAT_VERSION:
            raise ValueError("upto_batch requires a batch-keyed (v2) index")
        corpus = corpus.where(_horizon_filter(upto_batch))
    # shared-filter semantics: one allowed-id set constrains EVERY query
    # in the batch (per-query filters = per-query calls)
    corpus = _apply_id_filter(corpus, id_filter)
    bc = spark.sparkContext.broadcast((tables, bucket_to_q, qids))
    kk = int(k)

    def scorer(batches):
        tables_, b2q, qids_ = bc.value
        scores_acc: list[list] = [[] for _ in qids_]
        ids_acc: list[list] = [[] for _ in qids_]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.asarray(
                [np.asarray(x, dtype=np.int64) for x in pdf["pq_code"]]
            )
            ids = pdf["id"].to_numpy(np.int64)
            buckets = pdf["ivf_bucket"].to_numpy()
            for b in np.unique(buckets):
                qis = b2q.get(int(b))
                if not qis:
                    continue
                mask = buckets == b
                cb, ib = codes[mask], ids[mask]
                for qi in qis:
                    t = tables_[qi]
                    s = np.zeros(len(cb), dtype=np.float64)
                    for mm in range(t.shape[0]):
                        s += t[mm][cb[:, mm]]
                    scores_acc[qi].append(s)
                    ids_acc[qi].append(ib)
        out_q, out_i, out_s = [], [], []
        for qi, chunks in enumerate(scores_acc):
            if not chunks:
                continue
            s = np.concatenate(chunks)
            i = np.concatenate(ids_acc[qi])
            # exact partial top-k by the TOTAL order (score desc, id
            # asc) — the same order the final window uses, so boundary
            # ties can never drop a global winner at the partition cut
            order = np.lexsort((i, -s))[:kk]
            out_q.extend([qids_[qi]] * len(order))
            out_i.extend(i[order].tolist())
            out_s.extend(s[order].tolist())
        yield pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_i, "adc_score": out_s}
        )

    from pyspark.sql import Window

    partial = corpus.mapInPandas(
        scorer, "query_id string, neighbor_id bigint, adc_score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= kk)
        .drop("_rn")
    )


def ann_index_range(
    spark: SparkSession,
    index_dir: str,
    query_vec: Sequence[float],
    threshold: float,
    n_probe: int = 4,
    meta: Optional[dict] = None,
) -> DataFrame:
    """RANGE search from the persisted index: every indexed vector whose
    ADC score (≈ cosine) against the query clears ``threshold`` —
    radius-style retrieval, the primitive behind "find ALL near-dups of
    this document" (top-k truncates exactly when a duplicate cluster is
    larger than k). Same serving shape as :func:`ann_index_topk`
    (driver-side probe pick → file-pruned partition scan → broadcast
    ADC) but the reduction is a plain FILTER — no window, no
    TakeOrdered, no bound on result size beyond the threshold itself.
    Result rows: ``neighbor_id | adc_score``. Law (tested): every
    :func:`ann_index_topk` row at/above the threshold appears here with
    the identical score."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    if not -1.0 <= threshold <= 1.0:
        raise ValueError("threshold must be in [-1, 1] (cosine scale)")
    if meta is None:
        meta = load_index_meta(index_dir)
    probes = _probe_buckets(meta["centroids"], query_vec, n_probe)
    corpus = read_index_corpus(spark, index_dir, meta).where(
        F.col("ivf_bucket").isin(probes)
    )
    codebooks = np.asarray(meta["codebooks"], dtype=np.float64)
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-300)
    dsub = codebooks.shape[2]
    tables = [
        codebooks[m] @ q[m * dsub : (m + 1) * dsub]
        for m in range(codebooks.shape[0])
    ]

    import pandas as pd

    def compute(codes):
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        C = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
        s = np.zeros(len(C), dtype=np.float64)
        for m, t in enumerate(tables):
            s += t[C[:, m]]
        return pd.Series(s)

    score = pandas_udf(compute, "double")
    return (
        corpus.select(
            F.col("id").alias("neighbor_id"),
            score(F.col("pq_code")).alias("adc_score"),
        )
        .where(F.col("adc_score") >= F.lit(float(threshold)))
        .orderBy(F.desc("adc_score"), F.asc("neighbor_id"))
    )


def dedup_against_ann_index(
    df: DataFrame,
    index_dir: str,
    threshold: float,
    id_col: Optional[str] = None,
    vec_col: Optional[str] = None,
    n_probe: int = 4,
    meta: Optional[dict] = None,
    max_batch_rows: int = 10_000,
    upto_batch: Optional[int] = None,
) -> DataFrame:
    """Semantic-dedup a NEW batch against the PERSISTED index — the
    online SemDeDup screen: each incoming vector is flagged if its best
    ADC score (≈ cosine; quantizers train on L2-normalized rows) against
    any indexed vector clears ``threshold``. History is never re-read as
    floats and never re-encoded — the whole comparison runs over the
    index's PQ codes via :func:`ann_index_topk_batch` (ONE pruned union
    scan of the probed buckets, partial top-1 per partition, one
    bounded window reduce).

    Returns ``id_col | match_id | adc_score`` — one row per flagged
    incoming vector with its best historical match. Anti-join the
    result against the batch to keep the novel rows.

    Scale shape: ``df`` is a micro-batch/delta (bounded; enforced at
    ``max_batch_rows`` because per-query ADC tables broadcast from the
    driver — the ceiling :func:`ann_index_topk_batch` documents). The
    INDEX side is unbounded: 10¹⁰ coded vectors serve this screen at
    n_probe/n_centroids of their file population per call. Chunk the
    caller's frame above the ceiling. Approximation is one-sided:
    flagged rows really do have a high-ADC match; recall is bounded by
    probe coverage (raise ``n_probe`` to trade scan width for recall).

    Intra-batch near-dups are NOT flagged here (neither row is in the
    index yet) — run the batch-local pair generators first, or rely on
    the next batch seeing this batch's appends in the streaming
    composition (:func:`streaming_semantic_dedup`)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if meta is None:
        meta = load_index_meta(index_dir)
    id_col = id_col or meta["id_col"]
    vec_col = vec_col or meta["vec_col"]
    rows = df.select(F.col(id_col), F.col(vec_col)).limit(max_batch_rows + 1).collect()
    if len(rows) > max_batch_rows:
        raise ValueError(
            f"dedup_against_ann_index: batch exceeds max_batch_rows="
            f"{max_batch_rows} (per-query ADC tables broadcast from the "
            "driver); chunk the input or raise the bound explicitly"
        )
    if not rows:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], f"{id_col} bigint, match_id bigint, adc_score double"
        )
    spark = df.sparkSession
    hits = ann_index_topk_batch(
        spark,
        index_dir,
        [(r[0], list(r[1])) for r in rows],
        k=1,
        n_probe=n_probe,
        meta=meta,
        upto_batch=upto_batch,
    )
    return hits.where(F.col("adc_score") >= F.lit(float(threshold))).select(
        F.col("query_id").cast("long").alias(id_col),
        F.col("neighbor_id").alias("match_id"),
        F.col("adc_score"),
    )


def streaming_semantic_dedup(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    threshold: float,
    n_probe: int = 4,
    compact_every: Optional[int] = None,
):
    """Streaming SemDeDup against ever-growing history: per micro-batch,
    (1) screen the batch against the persisted index
    (:func:`dedup_against_ann_index`), (2) write the SURVIVORS (novel
    vectors) to ``out_dir/batch=<id>`` (overwrite-by-batch-dir ⇒
    replay-convergent, same discipline as every persisted index here),
    (3) append the survivors' codes to the index so the NEXT batch
    dedups against them. The index must already exist (bootstrap with
    :func:`build_ann_index`). ``compact_every`` folds index batch dirs
    as in :func:`streaming_ann_index`.

    Exactly-once law (tested): a replay of batch N re-screens against
    an index that already contains N's own survivors (and possibly
    later batches). The screen therefore (a) reads the index only up to
    the batch horizon (``upto_batch=batch_id`` — integer batch dirs ≥ N
    are partition-filtered out) and (b) drops matches whose match_id is
    in the CURRENT batch — so the replayed verdicts equal the
    original's and the overwrite-by-batch-dir writes converge.
    Compaction caveat (same trade as ``exact_dedup.compact_index``): a
    fold executed BETWEEN crash and replay absorbs batches ≥ N into a
    base dir the horizon filter cannot split, so schedule
    ``compact_every`` folds only from the live stream (they use the
    committed horizon) and avoid out-of-band folds while a replay is
    pending."""
    meta = load_index_meta(index_dir)
    id_col, vec_col = meta["id_col"], meta["vec_col"]

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            batch_ids = batch.select(F.col(id_col).alias("match_id"))
            flagged = dedup_against_ann_index(
                batch,
                index_dir,
                threshold,
                n_probe=n_probe,
                meta=meta,
                upto_batch=batch_id,
            ).join(F.broadcast(batch_ids), on="match_id", how="left_anti")
            survivors = batch.join(
                F.broadcast(flagged.select(id_col)), on=id_col, how="left_anti"
            )
            (
                survivors.write.mode("overwrite").parquet(
                    out_dir.rstrip("/") + f"/batch={batch_id}"
                )
            )
            append_to_ann_index(survivors, index_dir, batch_id=batch_id, meta=meta)
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                compact_ann_index(spark, index_dir, upto_batch=batch_id)
        finally:
            batch.unpersist()

    return foreach_batch(stream, checkpoint_dir, _process).start()


def read_semantic_dedup_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """All surviving (novel) rows written by
    :func:`streaming_semantic_dedup` across batches."""
    return spark.read.parquet(out_dir)


def _apply_id_filter(corpus: DataFrame, id_filter: Optional[DataFrame]) -> DataFrame:
    """Vector-DB metadata filtering, PRE-filter semantics: semi-join the
    bucket-pruned candidates against the allowed-id set BEFORE scoring,
    so the k survivors are the true top-k OF THE ALLOWED SET — a
    post-filtered global top-k under-returns exactly when the filter is
    selective, the case filtered search exists for. The filter is cast
    to the INDEX's id type (analyzer coercion on a mixed-type equi-join
    would cast both sides to double, corrupting large int ids);
    Catalyst/AQE picks the join strategy."""
    if id_filter is None:
        return corpus
    if len(id_filter.columns) != 1:
        raise ValueError(
            "id_filter must have exactly one column (the allowed ids)"
        )
    id_type = dict(corpus.dtypes)["id"]
    allowed = id_filter.select(
        F.col(id_filter.columns[0]).cast(id_type).alias("id")
    )
    return corpus.join(allowed, "id", "left_semi")


def _probe_buckets(centroids: list[list[float]], query_vec: Sequence[float], n_probe: int) -> list[int]:
    q = [float(x) for x in query_vec]
    dists = [
        (sum((a - b) * (a - b) for a, b in zip(q, c)), i)
        for i, c in enumerate(centroids)
    ]
    return [i for _, i in sorted(dists)[:n_probe]]


def ann_index_topk(
    spark: SparkSession,
    index_dir: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    meta: Optional[dict] = None,
    id_filter: Optional[DataFrame] = None,
) -> DataFrame:
    """Serve top-k from a persisted index: NO training, NO encoding, NO
    vector reads. The driver picks the ``n_probe`` nearest coarse
    buckets (n_centroids tiny dot products), and the scan reads only
    those buckets' parquet files — ``ivf_bucket`` is a partition column,
    so the ``isin`` filter is a PartitionFilter and pruning happens at
    file granularity before any IO. Rows are ranked by the broadcast
    ADC lookup table (same scoring as ``similarity.pq_topk``);
    TakeOrderedAndProject merges per-partition top-k.

    ``id_filter`` (one-column DataFrame of ids, any column name) makes
    the search FILTERED — vector-DB metadata filtering: candidates are
    semi-joined against the id set BEFORE scoring, so the k survivors
    are the true top-k OF THE ALLOWED SET, not a post-filtered (and
    possibly short) slice of the global top-k. PRE-filter semantics
    chosen deliberately: post-filtering under-returns exactly when the
    filter is selective — the case filtered search exists for. Derive
    the id set from any predicate on your metadata table
    (``meta_df.where(...).select("id")``); Catalyst/AQE picks the join
    strategy (broadcast for small sets, shuffle for huge ones — the
    candidate side is already bucket-pruned)."""
    if meta is None:
        meta = load_index_meta(index_dir)
    probes = _probe_buckets(meta["centroids"], query_vec, n_probe)
    corpus = read_index_corpus(spark, index_dir, meta).where(
        F.col("ivf_bucket").isin(probes)
    )
    corpus = _apply_id_filter(corpus, id_filter)
    return pq_topk(
        corpus,
        vec_col="",  # unused: ranking is lookup-only over pre-encoded codes
        id_col="id",
        query_vec=query_vec,
        k=k,
        codebooks=meta["codebooks"],
        code_col="pq_code",
    )


def ann_index_topk_refined(
    spark: SparkSession,
    index_dir: str,
    source_df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    overfetch: int = 4,
    meta: Optional[dict] = None,
    id_filter: Optional[DataFrame] = None,
) -> DataFrame:
    """ADC over-fetch + exact refine — the faiss ``IndexRefineFlat`` /
    DiskANN serving recipe: serve top-``k*overfetch`` candidates from
    the persisted code-only index (bucket-pruned, no vector reads),
    then re-rank ONLY those candidates with their true vectors and cut
    to ``k``. PQ quantization error perturbs ADC *ranks* even when the
    candidate *set* is right; the refine step removes the rank noise,
    so the result order is exact-cosine over the captured set and the
    only approximation left is candidate recall (tunable via
    ``n_probe``/``overfetch``).

    The candidate id list is ``k*overfetch`` rows — driver-bounded by
    construction — and the vector fetch is an ``isin`` filter on
    ``source_df`` (parquet row-group stats pruning; at cluster scale,
    an id-keyed vector store lookup). Output schema matches
    ``similarity.brute_force_topk`` (``neighbor_id | cosine``), so the
    two are drop-in twins: with every bucket probed and
    ``k*overfetch >= |corpus|`` the refined serve IS brute force
    (law-tested)."""
    if overfetch < 1:
        raise ValueError("overfetch must be >= 1")
    cands = ann_index_topk(
        spark,
        index_dir,
        query_vec,
        k=k * overfetch,
        n_probe=n_probe,
        meta=meta,
        id_filter=id_filter,
    )
    cand_ids = [r.neighbor_id for r in cands.collect()]  # k*overfetch rows
    return brute_force_topk(
        source_df.where(F.col(id_col).isin(cand_ids)),
        vec_col,
        id_col,
        query_vec,
        k=k,
    )
