"""Streaming EXACT dedup against everything seen before, bloom-accelerated.

`streaming/dedup_index.py` answers the incremental NEAR-dup question;
this module answers the exact one: as documents stream in, which have
*literally* (after normalization) been seen in any earlier batch? The
per-batch recipe:

1. key every row: ``md5(normalized_text)`` (128-bit — collision-free at
   any realistic corpus size), plus a hash shard for index pruning;
2. within-batch dedup: keep the min-id row per key;
3. screen the keepers against the persisted key index, accelerated by a
   persisted Bloom bitmap: bloom-NEGATIVE keepers are guaranteed new
   and skip the join entirely; only bloom-positive keepers anti-join
   the (shard-pruned, still tiny) history index;
4. append the new keys under ``_new/batch=<id>``, the duplicate verdicts
   under ``_dups/batch=<id>``;
5. OR the batch's bits into the touched shards' bitmaps (atomic
   tmp+rename per shard).

The bitmap is SHARDED (r7): one file per key shard
(``_bloom/shard=<s>.bin``), each sized for expected/_N_SHARDS keys —
so ``expected_total_items`` can honestly be 10⁹ without a multi-GB
driver/broadcast object; a trigger loads and updates only the shards
its candidates hash into. A pre-r7 monolithic ``bitmap.bin`` is still
probed until the first update migrates it (one full-index scan →
64 shard files, legacy deleted).

**The bloom is pure acceleration, never a correctness input.** Every
bloom-positive goes through the exact anti-join, and a missing/corrupt/
stale bitmap just routes ALL keepers through that join — the result is
identical either way (tests delete the bitmap mid-stream and assert
equality). This is the property that makes the bitmap safe to keep as a
lazily-updated side file rather than transactional state.

Replay safety mirrors `dedup_index` / `rollup`: every write overwrites
its own ``batch=<id>`` directory, history reads exclude the in-flight
batch id, and the bitmap update is an idempotent OR — so a replayed
batch converges to identical state. The bitmap geometry (m, k) is fixed
at index creation (``expected_total_items``) because incremental ORs
require a stable bit layout; an undersized bitmap degrades fpp (more
rows take the join path), never correctness.

One compaction caveat: if ``compact_index`` folds the delta of a batch
that is still awaiting replay, the replay can no longer exclude that
batch's own keys from the (compacted) history, so its rewritten dup
VERDICTS skew to ``vs_history`` — unique-id output is unaffected.
Compact with ``upto_batch=<last committed batch id + 1>`` when a stream
may be down mid-batch (see :func:`compact_index`).

Scale shape: index rows are (id, key) — 40 B/doc, not the corpus. The
per-trigger join broadcasts the batch's bloom-positive slice and prunes
history shards by the batch's shard set, so a steady-state trigger
touches a few shards of a small table and shuffles nothing.

NULL text rows pass through as new and are never indexed (a NULL equals
nothing — the same convention as the batch anti-join operators).
"""

from __future__ import annotations

import os
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming import state_io
from spark_streaming_sql_s3_connector_spark.streaming.concurrency import (
    run_concurrently,
)
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    DeltaPlane,
    union_all,
)

from spark_streaming_sql_s3_connector_spark.operators.bloom import (
    BloomFilter,
    bloom_params,
    might_contain_column,
)
from spark_streaming_sql_s3_connector_spark.operators.dedup import normalized_text

_N_SHARDS = 64
_BLOOM_SEED = 0x5eed


def _plane(index_dir: str) -> DeltaPlane:
    """The key index: ``_new`` deltas, ``_deleted`` forget markers."""
    return DeltaPlane(
        index_dir,
        deltas="_new",
        markers=os.path.join(index_dir, "_deleted"),
        schema=_INDEX_SCHEMA,
        marker_schema=_MARKER_SCHEMA,
    )


def _new_dir(index_dir: str, batch_id: int) -> str:
    return _plane(index_dir).delta_path(batch_id)


def _dups_dir(index_dir: str, batch_id: int) -> str:
    return os.path.join(index_dir, "_dups", f"batch={batch_id}")


def _legacy_bitmap_path(index_dir: str) -> str:
    """Pre-r7 monolithic bitmap — read-compatible; migrated to the
    sharded layout on the first post-upgrade batch."""
    return os.path.join(index_dir, "_bloom", "bitmap.bin")


def _shard_bitmap_path(index_dir: str, shard: int) -> str:
    return os.path.join(index_dir, "_bloom", f"shard={shard}.bin")


# explicit schema: a batch with zero new keys writes a delta dir holding
# only _SUCCESS, and schema INFERENCE on such a dir throws — a fixed
# schema reads it as an empty frame instead
_INDEX_SCHEMA = "_id bigint, key string, _shard int"
_MARKER_SCHEMA = "_id bigint, t bigint"


def delete_docs_from_screen(
    docs: DataFrame, batch_id: int, index_dir: str, id_col: str = "doc_id"
) -> None:
    """FORGET a set of documents from a persisted screening index (this
    module's exact-key index, or line/passage/minhash-band indexes that
    share the layout): write an id-keyed delete marker under
    ``_deleted/batch=<batch_id>``. A marker at batch t kills index rows
    INSERTED strictly before t — insert order is derivable from the dir
    layout itself (a delta dir IS its batch id; a compacted base ranks
    as its fold horizon), so no row schema changes. A later re-ingest
    of the same content lands in a delta dir above t and screens again.

    This is the ``forget`` half of the delete-policy split (retention:
    the state forgets, a legitimate re-crawl is admitted as new). The
    ``takedown`` half — suppress the content forever — is the index's
    default behavior and deliberately writes nothing here.

    Bloom bitmaps are NOT touched here: extra bits are superset-safe —
    a forgotten key still probes bloom-positive, routes to the exact
    history join, finds no row, and is admitted as new (law-tested).
    The bloom's only dangerous direction is missing bits for present
    keys, which deletion never causes. The FPP the stale bits cost is
    reclaimed at the next :func:`compact_index`, which rebuilds the
    dirty shards' bitmaps from the surviving keys.

    Overwrites its own batch dir — replay-convergent. Preconditions
    match the serving-state deletes (`term_stats`/`ann_index`): one
    monotonic batch-id sequence shared by inserts and deletes."""
    (
        docs.select(F.col(id_col).cast("bigint").alias("_id"))
        .distinct()
        .withColumn("t", F.lit(int(batch_id)).cast("bigint"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_plane(index_dir).marker_path(batch_id))
    )


def _apply_screen_markers(
    tagged: list[tuple[int, DataFrame]], marks: Optional[DataFrame]
) -> list[DataFrame]:
    """Anti-join forget markers onto index frames with insert-order
    semantics at dir granularity: a frame inserted at batch b loses the
    ids of markers with t > b. The base frame ranks as b = pointer —
    exact, because every base row was inserted at or below the fold
    horizon and every LIVE marker sits strictly above it. The marker
    set is the forget sliver — broadcast."""
    if marks is None:
        return [f for _, f in tagged]
    out = []
    for b, f in tagged:
        m = marks.where(F.col("t") > F.lit(int(b))).select("_id")
        out.append(f.join(F.broadcast(m), "_id", "left_anti"))
    return out


def _screen_frames(
    spark: SparkSession, plane: DeltaPlane, before_batch: Optional[int] = None
) -> list[DataFrame]:
    """A screening plane's live index frames with its forget markers
    applied. ``before_batch`` excludes the in-flight batch's own
    (possibly half-written) delta and the markers its original run
    could not have seen, keeping replay deterministic."""
    return _apply_screen_markers(
        plane.frames(spark, plane.live(before_batch)),
        plane.marker_frame(spark, plane.live_markers(before_batch)),
    )


def _index_frames(
    spark: SparkSession, index_dir: str, before_batch: Optional[int] = None
) -> list[DataFrame]:
    return _screen_frames(spark, _plane(index_dir), before_batch)


def _shard_params(expected_total_items: int, fpp: float) -> tuple[int, int]:
    """Per-shard bloom geometry: keys hash uniformly across _N_SHARDS,
    so each shard's bitmap is sized for expected/_N_SHARDS keys. The
    point of sharding: at 10⁹-10¹⁰ distinct keys the honest monolithic
    bitmap is gigabytes — unbroadcastable exactly when acceleration
    matters. Per-shard files mean the driver loads/updates ONLY the
    shards a batch's candidates touch (steady-state triggers touch few)
    and never materializes the whole key space's bits at once."""
    import math as _math

    return bloom_params(max(64, _math.ceil(expected_total_items / _N_SHARDS)), fpp)


def _load_legacy_bitmap(index_dir: str, m_bits: int, k: int) -> Optional[BloomFilter]:
    try:
        raw = state_io.read_bytes(_legacy_bitmap_path(index_dir))
    except FileNotFoundError:
        return None
    if len(raw) != (m_bits + 7) // 8:
        return None  # geometry drift (e.g. config change) → ignore, stay exact
    return BloomFilter(m_bits, k, _BLOOM_SEED, np.frombuffer(raw, dtype=np.uint8))


def _any_shard_bitmap(index_dir: str) -> bool:
    root = os.path.join(index_dir, "_bloom")
    return any(e.startswith("shard=") for e in state_io.list_names(root))


def _load_shard_blooms(
    index_dir: str, sm_bits: int, sk: int, shards: list[int]
) -> dict[int, BloomFilter]:
    """Per-shard bitmaps for exactly the probed shards. A missing or
    geometry-drifted file simply isn't in the dict — its rows probe as
    maybe=True and take the exact join (correctness never depends on a
    bitmap existing)."""
    n_bytes = (sm_bits + 7) // 8
    out: dict[int, BloomFilter] = {}
    for s in shards:
        try:
            raw = state_io.read_bytes(_shard_bitmap_path(index_dir, s))
        except FileNotFoundError:
            continue
        if len(raw) != n_bytes:
            continue
        out[s] = BloomFilter(sm_bits, sk, _BLOOM_SEED, np.frombuffer(raw, dtype=np.uint8))
    return out


def _write_shard_bitmap(index_dir: str, shard: int, bits: np.ndarray) -> None:
    state_io.write_bytes_atomic(_shard_bitmap_path(index_dir, shard), bits.tobytes())


def _geometry_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_bloom", "_geometry.json")


def _read_bloom_geometry(index_dir: str) -> Optional[tuple[int, int]]:
    """(m_bits, k) the live bitmaps were written with, or None for a
    pre-r11 state that never recorded it."""
    import json as _json

    try:
        g = _json.loads(state_io.read_text(_geometry_path(index_dir)))
        return int(g["m"]), int(g["k"])
    except (FileNotFoundError, KeyError, ValueError):
        return None


def _write_bloom_geometry(index_dir: str, sm_bits: int, sk: int) -> None:
    """Record the bitmap geometry beside the shard files so maintenance
    (compaction's dirty-shard rebuild) can rewrite bitmaps without being
    handed ``expected_total_items``/``fpp`` again. Overwritten on every
    update — process_batch's geometry is authoritative."""
    import json as _json

    state_io.write_text_atomic(
        _geometry_path(index_dir), _json.dumps({"m": int(sm_bits), "k": int(sk)})
    )


def _shard_partials(df: DataFrame, sm_bits: int, sk: int) -> list:
    """Collected per-shard partial bitmaps of ``df``'s (key, _shard)
    rows: the hashed frame (20 B/row) is repartitioned BY SHARD first,
    so each shard's keys land in exactly one task and the driver
    receives ONE partial per shard touched — collect traffic is
    shards-touched × per-shard bytes, not tasks × per-shard bytes
    (without the repartition a wide batch at 10⁹-key sizing would ship
    every task's copy of every touched shard's bitmap). Returned as the
    raw collected rows so tests can pin the traffic bound directly."""
    from spark_streaming_sql_s3_connector_spark.operators.bloom import _hash_pair

    # any partition count keeps the one-partial-per-shard bound (hash
    # partitioning sends a shard's rows to exactly one partition);
    # capping at the session's parallelism just avoids paying 64 tiny
    # tasks on a small local run while a big cluster still gets all 64
    n_parts = min(_N_SHARDS, max(1, df.sparkSession.sparkContext.defaultParallelism))
    hashed = (
        df.where(F.col("key").isNotNull())
        .select(*_hash_pair("key", _BLOOM_SEED), F.col("_shard"))
        .repartition(n_parts, "_shard")
    )
    n_bytes = (sm_bits + 7) // 8

    def bitmapper(batches):
        acc: dict[int, np.ndarray] = {}
        mask = np.int64(sm_bits - 1)
        for pdf in batches:
            if not len(pdf):
                continue
            h1 = pdf["_h1"].to_numpy(np.int64)
            h2 = pdf["_h2"].to_numpy(np.int64)
            sh = pdf["_shard"].to_numpy()
            for s in np.unique(sh):
                m = sh == s
                bits = acc.setdefault(int(s), np.zeros(n_bytes, dtype=np.uint8))
                a = h1[m] & mask
                b = h2[m] & mask
                for i in range(sk):
                    idx = (a + np.int64(i) * b) & mask
                    np.bitwise_or.at(
                        bits,
                        idx >> np.int64(3),
                        (np.uint8(1) << (idx & np.int64(7)).astype(np.uint8)),
                    )
        for s, bits in acc.items():
            yield pd.DataFrame({"_s": [s], "bits": [bits.tobytes()]})

    return hashed.mapInPandas(bitmapper, "_s int, bits binary").collect()


def _shard_bits(df: DataFrame, sm_bits: int, sk: int) -> dict[int, np.ndarray]:
    """Per-shard bloom bitmaps of ``df``'s (key, _shard) rows in ONE
    distributed pass: executors hash and set bits into per-shard partial
    bitmaps (co-located per shard — see :func:`_shard_partials`), the
    driver ORs partials by shard. Driver memory AND collect traffic are
    bounded by shards-touched × per-shard bytes — never the full key
    space, never tasks× duplicates."""
    out: dict[int, np.ndarray] = {}
    for row in _shard_partials(df, sm_bits, sk):
        arr = np.frombuffer(row.bits, dtype=np.uint8)
        if row._s in out:
            out[row._s] = out[row._s] | arr
        else:
            out[row._s] = arr.copy()
    return out


def _might_contain_sharded(
    df: DataFrame,
    key_col: str,
    shard_col: str,
    blooms: dict[int, BloomFilter],
    sm_bits: int,
    sk: int,
):
    """Boolean Column probing each row against ITS shard's bitmap.
    Rows of shards with no loaded bitmap are maybe=True (routed to the
    exact join — the no-false-negative invariant never rests on a file
    existing). NULL keys are False (a NULL is never a duplicate)."""
    from spark_streaming_sql_s3_connector_spark.operators.bloom import _hash_pair

    sc = df.sparkSession.sparkContext
    packed = {s: b.bits for s, b in blooms.items()}
    bc = sc.broadcast(packed)

    @F.pandas_udf("boolean")
    def _mc(h1s: pd.Series, h2s: pd.Series, shards: pd.Series) -> pd.Series:
        bitmaps = bc.value
        h1 = h1s.to_numpy(np.int64)
        h2 = h2s.to_numpy(np.int64)
        sh = shards.to_numpy()
        out = np.ones(len(h1), dtype=bool)  # default: maybe
        for s in np.unique(sh):
            bits = bitmaps.get(int(s))
            if bits is None:
                continue
            m = sh == s
            probe = BloomFilter(sm_bits, sk, _BLOOM_SEED, bits)
            out[m] = probe.might_contain_np(h1[m], h2[m])
        return pd.Series(out)

    h1, h2 = _hash_pair(key_col, _BLOOM_SEED)
    return F.when(F.col(key_col).isNull(), F.lit(False)).otherwise(
        _mc(h1, h2, F.col(shard_col))
    )


def _batch_probe_column(
    index_dir: str,
    keyed: DataFrame,
    sm_bits: int,
    sk: int,
    expected_total_items: int,
    fpp: float,
    shard_list: Optional[list] = None,
):
    """The bloom-screen Column for one batch's candidate rows, or None
    when no bitmap exists (all rows then take the exact join). Sharded
    layout preferred — ONLY the shards this batch's keys hash into are
    read/broadcast; a pre-r7 monolithic bitmap still probes until the
    first update migrates it to shards. Callers that already know the
    batch's touched shards pass ``shard_list`` and skip the collect."""
    if _any_shard_bitmap(index_dir):
        if shard_list is None:
            shard_list = [
                r["_shard"] for r in keyed.select("_shard").distinct().collect()
            ]
        blooms = _load_shard_blooms(index_dir, sm_bits, sk, shard_list)
        if not blooms:
            return None
        return _might_contain_sharded(keyed, "key", "_shard", blooms, sm_bits, sk)
    legacy = _load_legacy_bitmap(index_dir, *bloom_params(expected_total_items, fpp))
    if legacy is None:
        return None
    return might_contain_column(keyed, "key", legacy)


def _update_shard_bitmaps(
    spark: SparkSession,
    index_dir: str,
    keyed: DataFrame,
    sm_bits: int,
    sk: int,
) -> None:
    """OR the batch's keys into the touched shards' bitmaps. Per shard,
    if the existing file is missing or geometry-drifted the shard is
    REBUILT from the key index (which already includes this batch's
    delta) — writing batch-only bits over a lost shard would turn every
    pre-loss key bloom-NEGATIVE, the one way to break the
    no-false-negative guarantee. All rebuilds happen in ONE scan pruned
    to the affected shards. A pre-r7 monolithic ``bitmap.bin`` triggers
    a one-time full rebuild into the sharded layout, then is deleted."""
    _apply_shard_bits(spark, index_dir, _shard_bits(keyed, sm_bits, sk), sm_bits, sk)


def _apply_shard_bits(
    spark: SparkSession,
    index_dir: str,
    batch_bits: dict[int, np.ndarray],
    sm_bits: int,
    sk: int,
) -> None:
    """Merge pre-computed per-shard batch bitmaps into ``index_dir``'s
    on-disk shards — the IO/rebuild half of `_update_shard_bitmaps`,
    split out so a fused caller (ONE partials job covering several
    screens' key sets) can apply each screen's bits without re-running
    a per-screen Spark job."""
    if not batch_bits:
        return
    _write_bloom_geometry(index_dir, sm_bits, sk)
    legacy = state_io.exists(_legacy_bitmap_path(index_dir))
    need_rebuild: list[int] = []
    current: dict[int, np.ndarray] = {}
    n_bytes = (sm_bits + 7) // 8
    for s in batch_bits:
        try:
            raw = state_io.read_bytes(_shard_bitmap_path(index_dir, s))
        except FileNotFoundError:
            raw = None
        if raw is not None and len(raw) == n_bytes:
            current[s] = np.frombuffer(raw, dtype=np.uint8)
        else:
            need_rebuild.append(s)
    rebuilt: dict[int, np.ndarray] = {}
    rebuild_shards = sorted(set(need_rebuild) | (set(range(_N_SHARDS)) if legacy else set()))
    if rebuild_shards:
        frames = _index_frames(spark, index_dir)
        if frames:
            rebuilt = _shard_bits(
                union_all(frames).where(F.col("_shard").isin(rebuild_shards)),
                sm_bits,
                sk,
            )
    zeros = np.zeros(n_bytes, dtype=np.uint8)
    for s in sorted(set(batch_bits) | set(rebuilt)):
        base = current.get(s, rebuilt.get(s, zeros))
        add = batch_bits.get(s)
        merged = base if add is None else (base | add)
        if s in rebuilt and s in current:
            merged = merged | rebuilt[s]
        _write_shard_bitmap(index_dir, s, merged)
    if legacy:
        state_io.remove_file(_legacy_bitmap_path(index_dir))


class DeferredBitmapUpdate:
    """One screen's pending bloom-bitmap OR, queued by ``process_batch``
    when the caller wants to fuse several screens' partials collects
    into ONE Spark job (`flush_bitmap_updates`). Holds the persisted
    (key, _shard) frame — the flush unpersists it."""

    def __init__(
        self,
        index_dir: str,
        keyed: DataFrame,
        sm_bits: int,
        sk: int,
        parents: Optional[list] = None,
    ):
        self.index_dir = index_dir
        self.keyed = keyed
        self.sm_bits = sm_bits
        self.sk = sk
        # the PERSISTED frames `keyed` selects from — unpersisting the
        # select itself is a no-op, the cache lives on the parent
        self.parents = parents or []


def flush_bitmap_updates(spark: SparkSession, deferred: list) -> None:
    """Apply every queued `DeferredBitmapUpdate` with ONE distributed
    partials job: the screens' (key, _shard) frames union with a plane
    tag, executors build per-(plane, shard) partial bitmaps co-located
    by repartition, and the driver ORs + writes each plane's shards via
    `_apply_shard_bits` (which keeps the rebuild-safe merge semantics).
    Per-plane geometry rides in the task closure (a dict of a few
    ints), so screens sized differently still fuse. Collect traffic stays shards-touched ×
    per-shard bytes per plane — identical to running the updates
    separately; only the job count drops."""
    from spark_streaming_sql_s3_connector_spark.operators.bloom import _hash_pair

    deferred = [d for d in deferred if d is not None]
    if not deferred:
        return
    try:
        if len(deferred) == 1:
            d = deferred[0]
            _apply_shard_bits(
                spark, d.index_dir, _shard_bits(d.keyed, d.sm_bits, d.sk),
                d.sm_bits, d.sk,
            )
            return
        tagged = union_all([
            d.keyed.where(F.col("key").isNotNull()).select(
                F.lit(i).alias("_plane"),
                *_hash_pair("key", _BLOOM_SEED),
                F.col("_shard"),
            )
            for i, d in enumerate(deferred)
        ])
        geoms = {i: (d.sm_bits, d.sk) for i, d in enumerate(deferred)}
        n_parts = min(
            _N_SHARDS, max(1, spark.sparkContext.defaultParallelism)
        )
        hashed = tagged.repartition(n_parts, "_plane", "_shard")

        def bitmapper(batches):
            acc: dict[tuple[int, int], np.ndarray] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                pl = pdf["_plane"].to_numpy()
                h1 = pdf["_h1"].to_numpy(np.int64)
                h2 = pdf["_h2"].to_numpy(np.int64)
                sh = pdf["_shard"].to_numpy()
                for p in np.unique(pl):
                    sm_bits, sk = geoms[int(p)]
                    mask = np.int64(sm_bits - 1)
                    n_bytes = (sm_bits + 7) // 8
                    pm = pl == p
                    for s in np.unique(sh[pm]):
                        m = pm & (sh == s)
                        bits = acc.setdefault(
                            (int(p), int(s)), np.zeros(n_bytes, dtype=np.uint8)
                        )
                        a = h1[m] & mask
                        b = h2[m] & mask
                        for i in range(sk):
                            idx = (a + np.int64(i) * b) & mask
                            np.bitwise_or.at(
                                bits,
                                idx >> np.int64(3),
                                (np.uint8(1) << (idx & np.int64(7)).astype(np.uint8)),
                            )
            for (p, s), bits in acc.items():
                yield pd.DataFrame(
                    {"_p": [p], "_s": [s], "bits": [bits.tobytes()]}
                )

        # drain the collect plane-by-plane: sort rows by plane tag,
        # apply a plane's shard bits the moment its run ends, then drop
        # them — peak driver footprint is the collected rows plus ONE
        # plane's accumulated map, not every plane's at once (planes
        # with no touched shards need no apply: empty map is a no-op)
        rows = hashed.mapInPandas(
            bitmapper, "_p int, _s int, bits binary"
        ).collect()
        rows.sort(key=lambda r: r._p)
        shard_map: dict[int, np.ndarray] = {}
        cur_p: Optional[int] = None
        for j in range(len(rows)):
            row, rows[j] = rows[j], None
            if cur_p is not None and row._p != cur_p:
                d = deferred[cur_p]
                _apply_shard_bits(spark, d.index_dir, shard_map, d.sm_bits, d.sk)
                shard_map = {}
            cur_p = row._p
            arr = np.frombuffer(row.bits, dtype=np.uint8)
            if row._s in shard_map:
                shard_map[row._s] = shard_map[row._s] | arr
            else:
                shard_map[row._s] = arr.copy()
        if cur_p is not None:
            d = deferred[cur_p]
            _apply_shard_bits(spark, d.index_dir, shard_map, d.sm_bits, d.sk)
    finally:
        for d in deferred:
            for p in d.parents:
                try:
                    p.unpersist()
                except Exception:
                    pass


def _keyed(batch: DataFrame, text_col: str, id_col: str) -> DataFrame:
    key = F.md5(F.encode(normalized_text(F.col(text_col)), "UTF-8"))
    return batch.select(
        F.col(id_col).alias("_id"),
        key.alias("key"),
        F.pmod(F.xxhash64(key), F.lit(_N_SHARDS)).cast("int").alias("_shard"),
    )


def process_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    expected_total_items: int = 1_000_000,
    fpp: float = 0.01,
    defer_bitmaps: Optional[list] = None,
) -> None:
    """One micro-batch of the incremental exact dedup (see module doc).
    Overwrites ``batch=<id>``-keyed outputs — replay converges.

    ``defer_bitmaps``: when a list is passed, the bloom-bitmap OR is
    NOT run here — a `DeferredBitmapUpdate` is appended instead, and
    the caller fuses every queued screen's partials into one job via
    :func:`flush_bitmap_updates` (the keepers frame stays persisted
    until that flush). Correctness is unchanged: the bitmap is advisory
    (no-false-negative probe falls back to the exact join), and within
    one trigger the flush still lands before the trigger commits."""
    spark = batch.sparkSession
    sm_bits, sk = _shard_params(expected_total_items, fpp)

    from pyspark.sql import Window

    flagged = None  # assigned in the bloom branch; finally unpersists it
    cached_matched = None  # assigned in the history branch; finally unpersists
    keyed = _keyed(batch, text_col, id_col)
    null_rows = keyed.where(F.col("key").isNull())
    keyed = keyed.where(F.col("key").isNotNull())

    # within-batch keeper per key (min id) in ONE window shuffle of the
    # narrow (_id, key, _shard) frame — the agg+join form shuffled keyed
    # twice (group agg, then the keyed×agg equi-join) to derive the same
    # two row sets (r14, guide §2.4). A key's duplicate population here
    # is whole-document copies (bounded), so concentrating a key on one
    # partition carries none of the hot-LINE skew that keeps the line
    # screen on its min-struct agg. `marked` is cached because keepers
    # feeds the probe/screen/delta and internal_dups feeds the dups
    # write — both are cheap filters over the one shuffled frame.
    marked = keyed.withColumn(
        "_keeper", F.min("_id").over(Window.partitionBy("key"))
    ).persist()
    keepers = marked.where(F.col("_id") == F.col("_keeper")).select(
        "_id", "key", "_shard"
    )
    internal_dups = marked.where(F.col("_id") != F.col("_keeper")).select(
        "_id", "key", F.lit("within_batch").alias("dup_kind")
    )

    try:
        frames = _index_frames(spark, index_dir, before_batch=batch_id)
        if frames:
            hist = union_all(frames)
            # ONE shard-list collect per screen (was two: the probe's
            # internal distinct + a cand distinct): the batch's full
            # shard set prunes history just as correctly — a history
            # row whose shard no batch key hashes into can never match
            # a candidate key — at worst reading a few more _shard
            # partitions than the bloom-positive subset would
            shards = [
                r["_shard"] for r in keepers.select("_shard").distinct().collect()
            ]
            probe = _batch_probe_column(
                index_dir, keepers, sm_bits, sk, expected_total_items, fpp,
                shard_list=shards,
            )
            if probe is not None:
                flagged = keepers.withColumn("_maybe", probe).persist()
                negatives = flagged.where(~F.col("_maybe")).drop("_maybe")
                cand = flagged.where(F.col("_maybe")).drop("_maybe")
            else:
                flagged = None
                negatives = keepers.limit(0)
                cand = keepers
            hist = hist.where(F.col("_shard").isin(shards))
            # persisted: `matched` feeds BOTH the dups and the new-rows
            # writes — without the cache each write re-runs the pruned
            # HISTORY scan, doubling the trigger's dominant IO
            matched = (
                hist.join(F.broadcast(cand.select("key")), "key", "left_semi")
                .select("key")
                .distinct()
                .persist()
            )
            cached_matched = matched
            hist_dups = cand.join(F.broadcast(matched), "key", "left_semi").select(
                "_id", "key", F.lit("vs_history").alias("dup_kind")
            )
            new_from_cand = cand.join(F.broadcast(matched), "key", "left_anti")
            new_rows = negatives.unionByName(new_from_cand)
            dups = internal_dups.unionByName(hist_dups)
        else:
            flagged = None
            new_rows = keepers
            dups = internal_dups

        new_rows = new_rows.unionByName(
            null_rows.select("_id", "key", "_shard")
        )
        # NULL-key rows stay in _new as passthrough outputs — a NULL key
        # never equi-joins, so they can never produce a false duplicate
        # verdict later. The dups and _new writes are independent
        # consumers of the cached matched/flagged frames and replay
        # rewrites both idempotently (write order was never observable:
        # readers run between triggers, the checkpoint commit is the
        # atomicity boundary), so submit them concurrently — their
        # fixed per-job costs overlap (r14, streaming/concurrency).
        # cluster by shard BEFORE the partitioned write: without it every
        # upstream task writes a sliver into every shard dir (~tasks ×
        # shards tiny files per delta — measured ~1,100/delta at sf0.1),
        # and each later trigger's history scan pays that many footer
        # reads; clustered, a delta is one file per shard (the same
        # discipline the base fold already applies)
        run_concurrently(
            lambda: dups.write.mode("overwrite").parquet(
                _dups_dir(index_dir, batch_id)
            ),
            lambda: new_rows.repartition("_shard")
            .write.mode("overwrite")
            .partitionBy("_shard")
            .parquet(_new_dir(index_dir, batch_id)),
        )

        # bitmap update: OR in ALL batch keys (supersets of the new ones
        # are harmless and make the update idempotent under replay);
        # touches only the shards this batch's keys hash into
        if defer_bitmaps is None:
            _update_shard_bitmaps(
                spark, index_dir, keepers.select("key", "_shard"), sm_bits, sk
            )
        else:
            defer_bitmaps.append(
                DeferredBitmapUpdate(
                    index_dir,
                    keepers.select("key", "_shard"),
                    sm_bits,
                    sk,
                    parents=[marked],
                )
            )
    finally:
        # deferred mode keeps `marked` cached for the fused flush (the
        # deferred frame is a select off it); flush_bitmap_updates
        # unpersists the parent, and unpersisting it here would force
        # the flush to recompute the batch window
        if defer_bitmaps is None:
            marked.unpersist()
        if flagged is not None:
            flagged.unpersist()
        if cached_matched is not None:
            cached_matched.unpersist()


def streaming_exact_dedup(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    expected_total_items: int = 1_000_000,
    fpp: float = 0.01,
):
    """Start the incremental exact-dedup stream; returns the
    StreamingQuery. New (first-seen) keys accumulate under ``_new``;
    duplicate verdicts land under ``_dups/batch=<id>``."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch,
            batch_id,
            index_dir,
            text_col=text_col,
            id_col=id_col,
            expected_total_items=expected_total_items,
            fpp=fpp,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_unique_ids(spark: SparkSession, index_dir: str) -> DataFrame:
    """Ids of first-seen rows across all processed batches."""
    frames = _index_frames(spark, index_dir)
    if not frames:
        raise FileNotFoundError(f"no exact-dedup index under {index_dir}")
    return union_all(frames).select(F.col("_id").alias("doc_id"), "key")


def read_dup_ids(spark: SparkSession, index_dir: str) -> DataFrame:
    root = os.path.join(index_dir, "_dups")
    return spark.read.parquet(os.path.join(root, "batch=*")).select(
        F.col("_id").alias("doc_id"), "key", "dup_kind"
    )


def compact_index(
    spark: SparkSession, index_dir: str, upto_batch: Optional[int] = None
) -> Optional[int]:
    """Fold _new deltas into a versioned shard-partitioned base (the
    `delta_plane` write → flip → GC contract; the dirty-shard bitmap
    rebuild below runs between the flip and GC).

    ``upto_batch``: fold only deltas with id STRICTLY below it. Pass the
    stream's last committed batch id + 1 (or the checkpoint's pending
    batch id) when compacting while the stream may be down mid-batch:
    if a crashed batch N's delta were folded into the base, its replay
    could no longer exclude its own keys via ``before_batch=N`` and the
    rewritten ``_dups/batch=N`` verdicts would mark N's first-seen rows
    as ``vs_history`` (unique-id output stays correct either way — only
    the dup-verdict labels skew). With ``upto_batch=None`` every delta
    folds; that is safe only when no batch is awaiting replay.

    Forget markers (:func:`delete_docs_from_screen`) in the fold window
    are applied PHYSICALLY — ``_apply_screen_markers`` anti-joins them
    with insert-order semantics, so the folded base simply lacks the
    forgotten rows — and their dirs GC'd; the pointer advances over
    marker-only windows too (marker liveness keys off it). Markers at
    or above ``upto_batch`` stay live and keep filtering at read.

    Bloom hygiene (r11): shard bitmaps only ever GAIN bits between
    compactions (forget leaves them untouched — superset-safe), so
    under retention churn FPP would ratchet up monotonically until
    every probe routed to the exact join. When a fold applies markers,
    the DIRTY shards — those that actually lost a row — get their
    bitmaps REBUILT from the folded base's surviving keys (one
    partition-pruned scan of the base just written), restoring the
    fresh-build FPP; clean shards keep their bytes. A pre-r11 state
    with no recorded bitmap geometry deletes the dirty shards' files
    instead — a missing bitmap routes rows to the exact join and the
    next batch's updater rebuilds it with the live geometry (the
    existing self-heal path). Either way correctness never moves; only
    the acceleration is restored."""
    plane = _plane(index_dir)
    dirty_shards: list[int] = []

    def write(path, live, markers):
        tagged = plane.frames(spark, live)
        marks = plane.marker_frame(spark, markers)
        if marks is not None:
            # shards that lose at least one row to an applied marker, by
            # the same insert-order rule the fold applies (marker t kills
            # rows inserted strictly before t)
            killed = union_all([
                f.join(
                    F.broadcast(marks.where(F.col("t") > F.lit(int(b))).select("_id")),
                    "_id",
                    "left_semi",
                ).select("_shard")
                for b, f in tagged
            ])
            dirty_shards.extend(sorted(
                r["_shard"]
                for r in killed.distinct().collect()
                if r["_shard"] is not None
            ))
        df = union_all(_apply_screen_markers(tagged, marks))
        # keys are unique across deltas by construction (a key admitted
        # in batch i is history for batch j>i); min-id keeps the fold
        # deterministic anyway. NULL-key passthrough rows fold verbatim
        # — a groupBy would wrongly collapse them into one row.
        nn = (
            df.where(F.col("key").isNotNull())
            .groupBy("key", "_shard")
            .agg(F.min("_id").alias("_id"))
        )
        nulls = df.where(F.col("key").isNull()).select("key", "_shard", "_id").distinct()
        (
            nn.unionByName(nulls)
            .repartition("_shard")
            .sortWithinPartitions("key")
            .write.mode("overwrite")
            .partitionBy("_shard")
            .parquet(path)
        )

    def rebuild(new_v):
        if dirty_shards:
            _rebuild_dirty_bitmaps(spark, index_dir, new_v, dirty_shards)

    return plane.fold(write, upto_batch, on_flip=rebuild)


def _rebuild_dirty_bitmaps(
    spark: SparkSession, index_dir: str, base_v: int, dirty_shards: list[int]
) -> None:
    """Rewrite the bitmaps of shards that lost keys in the fold from
    the just-written base's surviving rows (partition-pruned scan), or
    delete them when the geometry was never recorded (see
    :func:`compact_index`). Shards with no bitmap file need nothing —
    they already take the exact-join path."""
    present = [
        s for s in dirty_shards if state_io.exists(_shard_bitmap_path(index_dir, s))
    ]
    if not present:
        return
    geom = _read_bloom_geometry(index_dir)
    if geom is None:
        for s in present:
            state_io.remove_file(_shard_bitmap_path(index_dir, s))
        return
    sm_bits, sk = geom
    survivors = (
        spark.read.schema(_INDEX_SCHEMA)
        .parquet(_plane(index_dir).base_path(base_v))
        .where(F.col("_shard").isin(present))
    )
    rebuilt = _shard_bits(survivors, sm_bits, sk)
    zeros = np.zeros((sm_bits + 7) // 8, dtype=np.uint8)
    for s in present:
        # a shard whose every key was forgotten rebuilds to all-zero —
        # writing it is what bounds the FPP ratchet
        _write_shard_bitmap(index_dir, s, rebuilt.get(s, zeros))
