"""Self-refreshing streaming ANN lifecycle (streaming/ann_lifecycle.py):
no drift → byte-stable no-op checks; planted drift → the cadenced check
fires, the index retrains from the landed vectors, recall on the
drifted slice recovers vs a stale (never-refreshed) twin, the baseline
window resets so the alarm does NOT re-fire, and a replayed refresh
trigger converges."""

import json
import os
import random

from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
    ann_index_topk,
    load_index_meta,
)
from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
    _index_dir,
    _read_pointer,
    _windowed_drift_shift,
    bootstrap_ann_lifecycle,
    process_ann_lifecycle_batch,
    read_landed_vectors,
)

DIM = 8
GEOM = dict(n_centroids=6, m_subspaces=4, pq_centroids=64, seed=3)


def _old_rows(n=200, start=0, seed=7):
    rng = random.Random(seed)
    return [
        (start + i, [rng.gauss(0, 0.5) for _ in range(DIM)]) for i in range(n)
    ]


def _new_rows(n=60, start=1000, seed=11):
    # a mode far outside every bootstrap cluster, wide enough for PQ
    # cells to discriminate within it
    rng = random.Random(seed)
    return [
        (start + i, [8.0 + rng.gauss(0, 2.0) for _ in range(DIM)])
        for i in range(n)
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _meta_bytes(root):
    return json.dumps(load_index_meta(_index_dir(root)), sort_keys=True)


def test_lifecycle_refreshes_on_drift_and_converges(spark, tmp_path):
    root = str(tmp_path / "life")
    stale = str(tmp_path / "stale")
    boot = _old_rows()
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", root, **GEOM)
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", stale, **GEOM)

    # phase 1: same-distribution batches — the cadenced check must no-op
    all_rows = list(boot)
    for b in range(1, 5):
        batch = _old_rows(n=30, start=200 + b * 100, seed=b)
        all_rows += batch
        meta_before = _meta_bytes(root)
        process_ann_lifecycle_batch(
            _df(spark, batch), b, root, threshold=0.5, check_every=4
        )
        process_ann_lifecycle_batch(
            _df(spark, batch), b, stale, threshold=0.5, check_every=0
        )
        assert _meta_bytes(root) == meta_before  # quantizers untouched
    assert _read_pointer(os.path.join(root, "drift_state")) == 0

    # phase 2: drifted batches — the batch-8 check must fire
    for b in range(5, 9):
        batch = _new_rows(n=40, start=1000 + b * 100, seed=b)
        all_rows += batch
        process_ann_lifecycle_batch(
            _df(spark, batch), b, root, threshold=0.5, check_every=4
        )
        process_ann_lifecycle_batch(
            _df(spark, batch), b, stale, threshold=0.5, check_every=0
        )
    assert _read_pointer(os.path.join(root, "drift_state")) == 8  # refresh fired
    assert _meta_bytes(root) != _meta_bytes(stale)

    # no double-count: the merged baseline is EXACTLY bootstrap +
    # window (batches 1..7 — batch 8's moments land after its check),
    # not bootstrap + the full cumulative live frame
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _read_drift_state,
    )

    _, baseline, _ = _read_drift_state(spark, root)
    assert {int(r["n"]) for r in baseline.collect()} == {200 + 4 * 30 + 3 * 40}

    # the recovery law, measured as ADC-score FIDELITY on the drifted
    # slice (|adc − exact cosine|, mean over 6 drifted queries × every
    # captured drifted row): this is directly what retraining fixes —
    # stale codebooks never saw the new mode's coordinate scale, so
    # their ADC collapses — and unlike top-k overlap it is smooth, not
    # hostage to the seeded kmeans++'s partition-order luck. (Absolute
    # serving recall floors live in test_ann_index over the same
    # geometry.)
    import numpy as np

    union = _df(spark, all_rows)
    queries = [r[1] for r in _new_rows()[:6]]
    vecs = {r[0]: np.array(r[1]) for r in all_rows}

    def _drifted_adc_mae(r):
        maes = []
        for q in queries:
            qn = np.array(q) / np.linalg.norm(q)
            rows = ann_index_topk(
                spark, _index_dir(r), q, k=300, n_probe=6
            ).collect()
            errs = [
                abs(
                    float(row.adc_score)
                    - float(qn @ (vecs[row.neighbor_id] / np.linalg.norm(vecs[row.neighbor_id])))
                )
                for row in rows
                if row.neighbor_id >= 1000  # the drifted slice
            ]
            assert errs  # the drifted mode must be captured at all
            maes.append(sum(errs) / len(errs))
        return sum(maes) / len(maes)

    fresh_mae, stale_mae = _drifted_adc_mae(root), _drifted_adc_mae(stale)
    assert fresh_mae <= 0.85 * stale_mae, (fresh_mae, stale_mae)
    q = queries[0]  # the convergence probe below needs one query

    # batch 8's own drifted moments landed AFTER its check (by design:
    # decision and rebuild see the same committed prefix), so they are
    # the PENDING window for the next check — the alarm correctly stays
    # armed rather than silently absorbing an untrained-on batch
    pending = _windowed_drift_shift(spark, root)
    assert pending is not None and pending > 0.5

    # replayed refresh trigger converges: the check re-fires (the
    # crashed attempt's moment delta is on disk), the rebuild re-runs
    # over the SAME committed corpus with the same seed, and the
    # served answers are unchanged
    before = sorted(
        tuple(r)
        for r in ann_index_topk(spark, _index_dir(root), q, k=10, n_probe=3).collect()
    )
    replay = _new_rows(n=40, start=1000 + 8 * 100, seed=8)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    pinned_before = persistent().size()
    process_ann_lifecycle_batch(
        _df(spark, replay), 8, root, threshold=0.5, check_every=4
    )
    assert _read_pointer(os.path.join(root, "drift_state")) == 8
    # the replayed commit's checkpointed baseline/window are released
    assert persistent().size() == pinned_before
    after = sorted(
        tuple(r)
        for r in ann_index_topk(spark, _index_dir(root), q, k=10, n_probe=3).collect()
    )
    assert after == before
    assert read_landed_vectors(spark, root).count() == len(all_rows)

    # the window reset law: the replay's re-fire absorbed the straggler
    # window, so with nothing new since the retrain the alarm is quiet
    # and the standalone actuator is a no-op
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        refresh_lifecycle_if_drifted,
    )

    quiet = _windowed_drift_shift(spark, root)
    assert quiet is None or quiet <= 0.5
    assert refresh_lifecycle_if_drifted(spark, root, threshold=0.5) is None


def test_streaming_lifecycle_through_stream(spark, tmp_path):
    """The composed flow off a real stream: bootstrap, stream drifted
    files one per trigger, and assert the cadenced refresh fired and
    the landed/vector/index planes agree."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        streaming_ann_lifecycle,
    )

    root = str(tmp_path / "life")
    data = tmp_path / "data"
    os.makedirs(data)
    boot = _old_rows()
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", root, **GEOM)
    rows = []
    for f in range(4):
        chunk = _new_rows(n=30, start=2000 + f * 100, seed=20 + f)
        rows += chunk
        _df(spark, chunk).coalesce(1).write.mode("overwrite").parquet(
            str(data / f"b{f}.parquet")
        )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(data / "b*.parquet"))
    )
    q = streaming_ann_lifecycle(
        stream, root, str(tmp_path / "ckpt"), threshold=0.5, check_every=2
    )
    q.processAllAvailable()
    q.stop()
    # at least one cadenced check fired on the drifted stream
    assert _read_pointer(os.path.join(root, "drift_state")) not in (None, 0)
    assert read_landed_vectors(spark, root).count() == len(boot) + len(rows)
    got = {
        r.neighbor_id
        for r in ann_index_topk(
            spark, _index_dir(root), _new_rows()[0][1], k=10, n_probe=3
        ).collect()
    }
    assert got  # the refreshed index serves the drifted mode


def test_vectors_plane_stays_bounded_over_long_run(spark, tmp_path):
    """r12: the raw-vector landing plane folds on the compact cadence —
    a 20-trigger run holds ONE base + at most a cadence-window of
    deltas (pre-r12 this was 21 dirs and growing), the bootstrap dir is
    GC'd at the first fold, and the landed union is byte-identical to
    the never-folded twin."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _vectors_dir,
        fold_landed_vectors,
    )
    from spark_streaming_sql_s3_connector_spark.streaming import state_io

    root = str(tmp_path / "life")
    boot = _old_rows(n=80)
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", root, **GEOM)
    expected = {r[0] for r in boot}
    for b in range(1, 21):
        batch = _old_rows(n=10, start=5000 + b * 100, seed=b)
        expected |= {r[0] for r in batch}
        process_ann_lifecycle_batch(
            _df(spark, batch), b, root, threshold=0.5, check_every=0,
            compact_every=5,
        )
    vdir = _vectors_dir(root)
    names = os.listdir(vdir)
    delta_dirs = [n for n in names if n.startswith("batch=")]
    # the geometric gate folds at b=5 (nothing folded yet) and at b=15
    # (pending 100 rows >= 0.5 x 120-row base); the b=10 and b=20
    # cadences SKIP (pending too small to justify rewriting the base) —
    # dir count stays bounded by the growth window, base rewrites are
    # amortized O(log corpus) per row
    assert "batch=bootstrap" not in names
    assert len(delta_dirs) <= 6
    assert state_io.read_pointer(vdir) == 14
    assert len(os.listdir(os.path.join(vdir, "base"))) == 1  # superseded GC'd
    got = {
        r["vec_id"] for r in read_landed_vectors(spark, root).collect()
    }
    assert got == expected
    # idempotence: nothing pending below the horizon → fold is a no-op
    assert fold_landed_vectors(spark, root, upto_batch=14) is None


def test_refresh_recovers_after_fold(spark, tmp_path):
    """The planted-drift refresh law survives the fold: vectors folded
    into the base retrain the quantizers exactly like per-trigger dirs
    did (the refresh itself folds first, so this is the shape every
    steady-state refresh now runs)."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _vectors_dir,
        refresh_lifecycle_if_drifted,
    )
    from spark_streaming_sql_s3_connector_spark.streaming import state_io

    root = str(tmp_path / "life")
    boot = _old_rows()
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", root, **GEOM)
    all_rows = list(boot)
    for b in range(1, 5):
        batch = _new_rows(n=50, start=1000 + b * 200, seed=b)
        all_rows += batch
        process_ann_lifecycle_batch(
            _df(spark, batch), b, root, threshold=0.5, check_every=0
        )
    meta_before = _meta_bytes(root)
    shift = refresh_lifecycle_if_drifted(spark, root, threshold=0.5)
    assert shift is not None and shift > 0.5
    assert _meta_bytes(root) != meta_before
    # the refresh folded everything it retrained on
    assert state_io.read_pointer(_vectors_dir(root)) == 4
    assert read_landed_vectors(spark, root).count() == len(all_rows)
    # the refreshed index serves the drifted mode from the folded base
    got = {
        r.neighbor_id
        for r in ann_index_topk(
            spark, _index_dir(root), _new_rows()[0][1], k=10, n_probe=3
        ).collect()
    }
    assert any(i >= 1000 for i in got)


def test_fold_retention_knob(spark, tmp_path):
    """retain_fraction subsamples the folded corpus deterministically
    by id hash — same ids survive a re-fold (replay-convergent), and
    the knob is corpus retention: the base genuinely shrinks."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        fold_landed_vectors,
    )

    root = str(tmp_path / "life")
    bootstrap_ann_lifecycle(
        _df(spark, _old_rows(n=300)), "embedding", "vec_id", root, **GEOM
    )
    v = fold_landed_vectors(spark, root, retain_fraction=0.5)
    assert v == -1  # bootstrap-only fold: every future delta stays live
    kept = sorted(r["vec_id"] for r in read_landed_vectors(spark, root).collect())
    assert 0 < len(kept) < 300
    # deterministic: a fresh twin folds to the same surviving set
    root2 = str(tmp_path / "life2")
    bootstrap_ann_lifecycle(
        _df(spark, _old_rows(n=300)), "embedding", "vec_id", root2, **GEOM
    )
    fold_landed_vectors(spark, root2, retain_fraction=0.5)
    kept2 = sorted(r["vec_id"] for r in read_landed_vectors(spark, root2).collect())
    assert kept2 == kept


def test_vacuum_maintains_lifecycle_root(spark, tmp_path):
    """The unified vacuum recognizes a lifecycle root and maintains all
    three growing planes together: index batches folded, vector
    landings folded (newest kept live — the replay guard), moment
    deltas folded."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _vectors_dir,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.vacuum import vacuum
    from spark_streaming_sql_s3_connector_spark.streaming import state_io

    root = str(tmp_path / "state" / "life")
    boot = _old_rows(n=80)
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", root, **GEOM)
    expected = {r[0] for r in boot}
    for b in range(1, 5):
        batch = _old_rows(n=10, start=5000 + b * 100, seed=b)
        expected |= {r[0] for r in batch}
        process_ann_lifecycle_batch(
            _df(spark, batch), b, root, threshold=0.5, check_every=0
        )
    report = vacuum(spark, str(tmp_path / "state"))
    assert [r["plane"] for r in report] == ["ann_lifecycle"]
    assert report[0]["result"]["vectors"] == 3  # newest landing stays live
    vdir = _vectors_dir(root)
    assert state_io.read_pointer(vdir) == 3
    assert [n for n in os.listdir(vdir) if n.startswith("batch=")] == ["batch=4"]
    assert {
        r["vec_id"] for r in read_landed_vectors(spark, root).collect()
    } == expected
    # serving still works off the maintained root
    got = ann_index_topk(spark, _index_dir(root), _old_rows()[0][1], k=5, n_probe=3)
    assert got.count() > 0


def test_lifecycle_classifies_before_first_trigger(spark, tmp_path):
    """A bootstrapped-but-unstreamed root (no moments/ yet — that dir
    appears at the first trigger) must classify 'ann_lifecycle', not
    fall apart into a standalone ann_index (r12 review finding)."""
    from spark_streaming_sql_s3_connector_spark.streaming.vacuum import (
        classify_plane,
        walk_planes,
    )

    root = str(tmp_path / "life")
    bootstrap_ann_lifecycle(
        _df(spark, _old_rows(n=60)), "embedding", "vec_id", root, **GEOM
    )
    assert "moments" not in os.listdir(root)
    assert classify_plane(root) == "ann_lifecycle"
    assert dict(walk_planes(str(tmp_path))) == {root: "ann_lifecycle"}


def test_undeclared_lifecycle_is_declared_before_its_children(spark, tmp_path):
    """A lifecycle bootstrapped before planes were declared has no
    ``_plane.json`` anywhere. Its next trigger, or its next refresh,
    declares the root before the moments and index inside it declare
    themselves, so the walk never finds them as standalone planes (a
    standalone ``ann_index`` delete would skip the raw-vector marker
    and a refresh would resurrect the deleted ids)."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        refresh_lifecycle_if_drifted,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
        DECLARATION,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.vacuum import (
        walk_planes,
    )

    def undeclare():
        for d, _, names in os.walk(root):
            if DECLARATION in names:
                os.remove(os.path.join(d, DECLARATION))
        assert dict(walk_planes(str(tmp_path))) == {}

    root = str(tmp_path / "life")
    bootstrap_ann_lifecycle(
        _df(spark, _old_rows(n=60)), "embedding", "vec_id", root, **GEOM
    )
    undeclare()
    process_ann_lifecycle_batch(
        _df(spark, _old_rows(n=20, start=5000, seed=9)), 1, root,
        threshold=0.5, check_every=0,
    )
    assert dict(walk_planes(str(tmp_path))) == {root: "ann_lifecycle"}
    undeclare()
    assert refresh_lifecycle_if_drifted(spark, root, force=True) is not None
    assert dict(walk_planes(str(tmp_path))) == {root: "ann_lifecycle"}


def test_delete_survives_refresh(spark, tmp_path):
    """The durable-delete law: deleting docs from a lifecycle kills
    their raw vectors too, so a later drift REFRESH (which retrains and
    re-encodes from the landed floats) does not resurrect them — while
    a re-landed id after the marker serves again (delete-then-reinsert,
    the screens' rule)."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        delete_vectors_from_lifecycle,
        fold_landed_vectors,
        refresh_lifecycle_if_drifted,
    )
    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        delete_from_ann_index,
    )

    root = str(tmp_path / "life")
    boot = _old_rows()
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", root, **GEOM)
    # stream drifted batches so a refresh will fire
    for b in range(1, 4):
        process_ann_lifecycle_batch(
            _df(spark, _new_rows(n=50, start=1000 + b * 200, seed=b)),
            b, root, threshold=0.5, check_every=0,
        )
    # delete two drifted ids (both halves, as the router does)
    victims = [1201, 1202]
    vdf = spark.createDataFrame([(v,) for v in victims], "vec_id long")
    delete_from_ann_index(vdf, _index_dir(root), batch_id=4)
    delete_vectors_from_lifecycle(vdf, 4, root)
    landed = {r["vec_id"] for r in read_landed_vectors(spark, root).collect()}
    assert not (set(victims) & landed)  # markers filter reads immediately
    # the refresh retrains from the landed vectors — victims must stay out
    shift = refresh_lifecycle_if_drifted(spark, root, threshold=0.5)
    assert shift is not None
    got = {
        r.neighbor_id
        for r in ann_index_topk(
            spark, _index_dir(root), _new_rows()[0][1], k=300, n_probe=6
        ).collect()
    }
    assert not (set(victims) & got), "refresh resurrected deleted ids"
    # re-landed id after the marker serves again
    re_row = [(victims[0], [8.0 + 0.01 * i for i in range(DIM)])]
    process_ann_lifecycle_batch(
        _df(spark, re_row), 5, root, threshold=0.5, check_every=0
    )
    landed2 = {r["vec_id"] for r in read_landed_vectors(spark, root).collect()}
    assert victims[0] in landed2 and victims[1] not in landed2
    # fold applies markers physically and GCs them
    v = fold_landed_vectors(spark, root, upto_batch=5)
    assert v == 5
    assert os.listdir(os.path.join(root, "vectors")).count("_deleted") == 0 or \
        os.listdir(os.path.join(root, "vectors", "_deleted")) == []
    landed3 = {r["vec_id"] for r in read_landed_vectors(spark, root).collect()}
    assert landed3 == landed2


def test_pipeline_delete_router_handles_lifecycle(spark, tmp_path):
    """propagate_doc_deletes_for_pipeline on a root containing a
    lifecycle routes BOTH halves (r12 review finding: the lifecycle
    classification made the router skip the index tombstone)."""
    from spark_streaming_sql_s3_connector_spark.streaming.curation import (
        propagate_doc_deletes_for_pipeline,
    )

    root = str(tmp_path / "state" / "life")
    boot = _old_rows(n=80)
    bootstrap_ann_lifecycle(_df(spark, boot), "embedding", "vec_id", root, **GEOM)
    process_ann_lifecycle_batch(
        _df(spark, _old_rows(n=20, start=5000, seed=9)), 1, root,
        threshold=0.5, check_every=0,
    )
    victim = 5003
    docs = spark.createDataFrame([(victim, "x")], "vec_id long, text string")
    report = propagate_doc_deletes_for_pipeline(
        docs, 2, str(tmp_path / "state"), id_col="vec_id"
    )
    assert [(r["plane"], r["action"]) for r in report] == [
        ("ann_lifecycle", "tombstoned + vectors-marked")
    ]
    # tombstone half: the id no longer serves
    got = {
        r.neighbor_id
        for r in ann_index_topk(
            spark, _index_dir(root), _old_rows()[0][1], k=300, n_probe=6
        ).collect()
    }
    assert victim not in got
    # marker half: the raw vector is out of the retrain corpus
    landed = {r["vec_id"] for r in read_landed_vectors(spark, root).collect()}
    assert victim not in landed


def test_cadence_fold_is_geometrically_gated(spark, tmp_path):
    """r12 review finding: an unconditional cadence fold rewrites the
    O(corpus) raw-float base per compact window. fold_landed_vectors_if_due
    folds only when pending rows reach growth_fraction of the base (or
    the dir-count bound), so the base version advances geometrically,
    not per cadence."""
    from spark_streaming_sql_s3_connector_spark.streaming import state_io
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _vectors_dir,
        fold_landed_vectors_if_due,
    )

    root = str(tmp_path / "life")
    bootstrap_ann_lifecycle(
        _df(spark, _old_rows(n=400)), "embedding", "vec_id", root, **GEOM
    )
    vdir = _vectors_dir(root)
    # first gated call: nothing folded yet → folds the bootstrap
    assert fold_landed_vectors_if_due(spark, root) == -1
    # land two small deltas (10 rows each vs a 400-row base): the gate
    # must SKIP (pending ≪ growth_fraction × base)
    for b in (1, 2):
        process_ann_lifecycle_batch(
            _df(spark, _old_rows(n=10, start=9000 + b * 100, seed=b)),
            b, root, threshold=0.5, check_every=0,
        )
    assert fold_landed_vectors_if_due(spark, root, upto_batch=2) is None
    assert state_io.read_pointer(vdir) == -1  # base untouched
    # a large delta (300 rows ≥ 0.5 × 420) trips the gate
    process_ann_lifecycle_batch(
        _df(spark, _old_rows(n=300, start=20000, seed=7)),
        3, root, threshold=0.5, check_every=0,
    )
    assert fold_landed_vectors_if_due(spark, root, upto_batch=3) == 3
    assert state_io.read_pointer(vdir) == 3
    # the dir-count bound forces a fold regardless of row growth
    for b in (4, 5):
        process_ann_lifecycle_batch(
            _df(spark, _old_rows(n=5, start=30000 + b * 10, seed=b)),
            b, root, threshold=0.5, check_every=0,
        )
    assert fold_landed_vectors_if_due(spark, root, upto_batch=5, max_deltas=2) == 5
    # rows are never lost across gated folds
    n = read_landed_vectors(spark, root).count()
    assert n == 400 + 10 + 10 + 300 + 5 + 5


def test_forced_refresh_on_unstreamed_root_is_plain_rebuild(spark, tmp_path):
    """r14 (advisor): force=True on a bootstrapped-but-never-streamed
    root has no drift window (no moments/ yet). The manual-retrain
    lever must degrade to a plain rebuild — index rewritten, drift
    state UNTOUCHED, return -1.0 — instead of crashing after the
    rebuild and leaving index and drift state out of sync."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _read_drift_state,
        refresh_lifecycle_if_drifted,
    )

    root = str(tmp_path / "life")
    bootstrap_ann_lifecycle(
        _df(spark, _old_rows(n=80)), "embedding", "vec_id", root, **GEOM
    )
    v_before, baseline_before, snap_before = _read_drift_state(spark, root)
    assert refresh_lifecycle_if_drifted(spark, root, force=True) == -1.0
    # drift state untouched: same version, same baseline, still no snap
    v_after, baseline_after, snap_after = _read_drift_state(spark, root)
    assert v_after == v_before
    assert snap_after is None and snap_before is None
    b0 = {r.dim: (r.n, r.s, r.ss) for r in baseline_before.collect()}
    b1 = {r.dim: (r.n, r.s, r.ss) for r in baseline_after.collect()}
    assert b1 == b0
    # the rebuilt index still serves
    q = _old_rows(n=1)[0][1]
    hits = ann_index_topk(spark, _index_dir(root), q, k=5).collect()
    assert len(hits) == 5
    # and a later streamed trigger + forced refresh takes the normal
    # path (window now exists, shift is a real float, state advances)
    process_ann_lifecycle_batch(
        _df(spark, _old_rows(n=40, start=5000, seed=13)),
        1, root, threshold=10.0, check_every=0,
    )
    shift = refresh_lifecycle_if_drifted(spark, root, force=True)
    assert shift is not None and shift >= 0.0
    v2, _, snap2 = _read_drift_state(spark, root)
    assert v2 == v_before + 1 and snap2 is not None


def test_lifecycle_stage_timings_persist_and_age(spark, tmp_path):
    """r14: every lifecycle trigger persists per-stage wall seconds
    under `_timings/batch=<id>` (same bounded-window discipline as the
    curation trigger); a cadence refresh attributes fold/rebuild inside
    the trigger's record; a standalone forced refresh writes
    `_timings/refresh`. Spans fit inside the recorded total."""
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        read_lifecycle_timings,
        refresh_lifecycle_if_drifted,
    )

    root = str(tmp_path / "life")
    bootstrap_ann_lifecycle(
        _df(spark, _old_rows(n=120)), "embedding", "vec_id", root, **GEOM
    )
    for b in (1, 2):
        process_ann_lifecycle_batch(
            _df(spark, _old_rows(n=30, start=1000 * b, seed=b)),
            b, root, threshold=100.0, check_every=2,
        )
    t1 = read_lifecycle_timings(root, 1)
    assert t1 is not None and t1["batch_id"] == 1
    assert {"landing_write", "moment_delta", "append", "total"} <= set(t1)
    assert "rebuild" not in t1  # no cadence refresh on batch 1
    spans = sum(v for k, v in t1.items() if k not in ("total", "batch_id"))
    assert spans <= t1["total"] + 0.05
    # batch 2 ran the cadenced drift check (threshold too high to fire:
    # check recorded, no rebuild)
    t2 = read_lifecycle_timings(root)  # newest
    assert t2["batch_id"] == 2 and "drift_check" in t2 and "rebuild" not in t2
    # a forced standalone refresh persists its own attribution
    assert refresh_lifecycle_if_drifted(spark, root, force=True) is not None
    tr = read_lifecycle_timings(root, "refresh")
    assert tr is not None
    assert {"drift_check", "fold", "rebuild", "pointer_flip", "total"} <= set(tr)
    # a cadence batch where the refresh FIRES records the nested stages
    process_ann_lifecycle_batch(
        _df(spark, _new_rows(n=60, start=9000)), 3, root,
        threshold=100.0, check_every=2,
    )
    process_ann_lifecycle_batch(
        _df(spark, _new_rows(n=60, start=9500, seed=23)), 4, root,
        threshold=0.0, check_every=2,
    )
    t4 = read_lifecycle_timings(root, 4)
    assert {"drift_check", "fold", "rebuild", "pointer_flip"} <= set(t4)
    # retention: the plane ages beyond the keep window
    from spark_streaming_sql_s3_connector_spark.streaming import stage_timings
    from spark_streaming_sql_s3_connector_spark.streaming import state_io
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        _timings_dir,
    )

    process_ann_lifecycle_batch(
        _df(spark, _old_rows(n=5, start=50000)),
        4 + stage_timings.KEEP, root, threshold=100.0, check_every=0,
    )
    ids = state_io.list_batch_ids(_timings_dir(root))
    assert 4 not in ids and (4 + stage_timings.KEEP) in ids
