"""Unified state vacuum (streaming/vacuum.py): ONE call walks a state
root, finds every persisted plane by its declared kind, and
runs the right compactor with its safe default — and after a 10-batch
lifecycle with interleaved vacuums each plane holds ONE base version
with bounded live deltas, while every reader still serves exactly what
it served before maintenance."""

import os

from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming.vacuum import vacuum


def _base_versions(plane_dir, sub=""):
    root = os.path.join(plane_dir, sub, "base") if sub else os.path.join(plane_dir, "base")
    if not os.path.isdir(root):
        return []
    return sorted(e for e in os.listdir(root) if e.startswith("v="))


def test_vacuum_compacts_every_plane_and_bounds_versions(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        ann_index_topk,
        append_to_ann_index,
        build_ann_index,
    )
    from spark_streaming_sql_s3_connector_spark.operators.packing import (
        pack_concat,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
        process_batch as band_batch,
        read_candidate_pairs,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import declare
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        count_batch,
        embedding_moment_batch,
        read_category_counts,
        read_embedding_moments,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        process_batch as exact_batch,
        read_unique_ids,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
        pack_batch_incremental,
        read_packed_manifest,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.profile import (
        profile_batch,
        read_profile,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.rollup import (
        _PARTIALS,
        _delta_dir,
        read_rollup,
        time_bucket,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
        bm25_search_postings,
        term_stats_batch,
    )

    root = tmp_path / "state"
    n_batches = 10
    all_rows = []
    for b in range(n_batches):
        rows = [
            (
                b * 10 + i,
                f"spark stream doc {b * 10 + i} common words",
                1_700_000_000 + b * 7200 + i,
                ["click", "view"][i % 2],
                float(i),
            )
            for i in range(10)
        ]
        all_rows.extend(rows)
        batch = spark.createDataFrame(
            rows, "doc_id bigint, text string, ts_s bigint, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        # rollup plane: the continuous_aggregate per-batch delta shape
        delta = (
            batch.withColumn("bucket", time_bucket(F.col("ts"), 3600))
            .groupBy("bucket", "event_type")
            .agg(*[fn(F.col("value")).alias(n) for n, fn in _PARTIALS])
        )
        delta.write.mode("overwrite").parquet(_delta_dir(str(root / "rollup"), b))
        declare(str(root / "rollup"), "rollup", keys=["event_type"])
        profile_batch(batch.select("doc_id", "event_type"), b, str(root / "profile"))
        count_batch(batch, b, str(root / "drift_counts"), "event_type")
        emb = batch.select(
            "doc_id", F.array(F.col("value"), F.col("value") + 1).alias("v")
        )
        embedding_moment_batch(emb, b, str(root / "moments"), "v")
        term_stats_batch(
            batch, b, str(root / "ts"), "text", "doc_id", with_postings=True
        )
        exact_batch(batch, b, str(root / "screen"))
        band_batch(batch, b, str(root / "bands"))
        pack_batch_incremental(
            batch, b, str(root / "pack"), "doc_id", 16,
            text_col="text", num_shards=4,
        )
        if b == 0:
            build_ann_index(
                emb, "v", "doc_id", str(root / "ann"),
                n_centroids=2, m_subspaces=2, pq_centroids=4, seed=1,
            )
        else:
            append_to_ann_index(emb, str(root / "ann"), batch_id=b)
        if b % 3 == 2:
            vacuum(spark, str(root))  # interleaved maintenance

    report = vacuum(spark, str(root))
    planes = {r["plane"] for r in report}
    assert planes >= {
        "rollup", "profile", "drift_counts", "embedding_moments",
        "term_stats", "key_screen", "minhash_bands", "packing", "ann_index",
    }
    assert "error" not in planes and "unknown_deltas" not in planes

    # bounded versions: one base per rollup-family plane, deltas GC'd
    for plane, sub in (
        ("rollup", ""), ("profile", ""), ("drift_counts", ""), ("moments", ""),
        ("ts", "terms"), ("ts", "corpus"), ("ts", "postings"),
        ("pack", "pack"),
    ):
        assert len(_base_versions(str(root / plane), sub)) == 1, (plane, sub)
    # the packer's cursor totals ride its pack deltas: no second plane
    assert not os.path.exists(str(root / "pack" / "cursors"))
    # screens keep at most the newest (replayable) delta live
    screen_deltas = os.listdir(str(root / "screen" / "_new"))
    assert len(screen_deltas) <= 1
    assert len(_base_versions(str(root / "screen"))) == 1
    # the band plane now shares that horizon (ADVICE r10): the newest,
    # possibly in-flight delta is never folded beside a live stream
    band_deltas = [
        e for e in os.listdir(str(root / "bands" / "_bands"))
        if e.startswith("batch=")
    ]
    assert len(band_deltas) <= 1
    assert len(_base_versions(str(root / "bands"))) == 1

    # readers still serve the full lifecycle's truth
    union = spark.createDataFrame(
        all_rows,
        "doc_id bigint, text string, ts_s bigint, event_type string, value double",
    )
    got_counts = {
        r.bucket: r.n
        for r in read_category_counts(spark, str(root / "drift_counts")).collect()
    }
    assert got_counts == {"click": 50, "view": 50}
    roll = read_rollup(spark, str(root / "rollup")).agg(F.sum("cnt")).collect()[0][0]
    assert roll == len(all_rows)
    prof = {r.col_name: r.n_rows for r in read_profile(spark, str(root / "profile")).collect()}
    assert prof["doc_id"] == len(all_rows)
    mom = read_embedding_moments(spark, str(root / "moments")).collect()
    assert {int(r.dim) for r in mom} == {0, 1} and all(int(r.n) == 100 for r in mom)
    assert read_unique_ids(spark, str(root / "screen")).count() == len(all_rows)
    assert read_candidate_pairs(spark, str(root / "bands")).count() >= 0
    want_pack = sorted(
        tuple(r)
        for r in pack_concat(union, "doc_id", 16, text_col="text", num_shards=4).collect()
    )
    got_pack = sorted(
        tuple(r) for r in read_packed_manifest(spark, str(root / "pack")).collect()
    )
    assert got_pack == want_pack
    hits = bm25_search_postings(
        spark, ["spark"], str(root / "ts"), id_col="doc_id", top_k=5
    )
    assert hits.count() == 5
    assert ann_index_topk(spark, str(root / "ann"), [3.0, 4.0], k=3, n_probe=2).count() == 3

    # idempotent: a second sweep finds nothing to fold and no errors
    again = vacuum(spark, str(root))
    assert all(r["plane"] != "error" for r in again)


def _tiny_planes(spark, root, batches):
    """A profile, a drift-counts and an embedding-moments root fed
    ``batches`` triggers of ten rows each."""
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        count_batch,
        embedding_moment_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.profile import (
        profile_batch,
    )

    for b in batches:
        batch = spark.createDataFrame(
            [(b * 10 + i, ["click", "view"][i % 2], float(i)) for i in range(10)],
            "doc_id bigint, event_type string, value double",
        )
        profile_batch(batch.select("doc_id", "event_type"), b, str(root / "profile"))
        count_batch(batch, b, str(root / "drift_counts"), "event_type")
        embedding_moment_batch(
            batch.select(F.array("value", "value").alias("v")), b,
            str(root / "moments"), "v",
        )


def _tiny_reads(spark, root):
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        read_category_counts,
        read_embedding_moments,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.profile import (
        read_profile,
    )

    return (
        sorted(tuple(r) for r in read_profile(spark, str(root / "profile")).collect()),
        sorted(tuple(r) for r in read_category_counts(spark, str(root / "drift_counts")).collect()),
        sorted(tuple(r) for r in read_embedding_moments(spark, str(root / "moments")).collect()),
    )


def test_tiny_plane_sidecar_is_written_once_and_replay_keeps_it(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import SIDECAR

    root = tmp_path / "state"
    _tiny_planes(spark, root, [0])
    sidecars = {}
    for plane in ("profile", "drift_counts", "moments"):
        with open(root / plane / SIDECAR, "rb") as f:
            sidecars[plane] = f.read()
    _tiny_planes(spark, root, [1, 0])  # a new trigger, then a replay
    for plane, raw in sidecars.items():
        with open(root / plane / SIDECAR, "rb") as f:
            assert f.read() == raw, plane
    assert _tiny_reads(spark, root)[1] == [("click", 10), ("view", 10)]


def test_tiny_planes_without_sidecar_read_and_fold(spark, tmp_path):
    """Roots written before the schema sidecar existed have none: they
    still read, and fold, by schema inference."""
    from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import SIDECAR

    with_sidecar, without = tmp_path / "with", tmp_path / "without"
    for root in (with_sidecar, without):
        _tiny_planes(spark, root, [0, 1, 2])
    for plane in ("profile", "drift_counts", "moments"):
        os.remove(without / plane / SIDECAR)
    want = _tiny_reads(spark, with_sidecar)
    assert _tiny_reads(spark, without) == want
    report = vacuum(spark, str(without))
    assert [(r["plane"], r["result"]) for r in report] == [
        ("drift_counts", 2), ("embedding_moments", 2), ("profile", 2),
    ]
    assert _tiny_reads(spark, without) == want


def test_concurrent_vacuum_isolates_a_failing_plane(spark, tmp_path, monkeypatch):
    """The folds run concurrently; one plane's compactor raising still
    leaves every other plane folded and reported, in path order, each
    with its fold's seconds."""
    from spark_streaming_sql_s3_connector_spark.streaming import profile

    root = tmp_path / "state"
    _tiny_planes(spark, root, [0, 1])
    want = _tiny_reads(spark, root)

    def broken(spark, sink_dir):
        raise RuntimeError("disk on fire")

    monkeypatch.setattr(profile, "compact_profile", broken)
    report = vacuum(spark, str(root))
    assert [(os.path.basename(r["path"]), r["plane"], r["result"]) for r in report] == [
        ("drift_counts", "drift_counts", 1),
        ("moments", "embedding_moments", 1),
        ("profile", "error", "RuntimeError: disk on fire"),
    ]
    assert all(r["seconds"] >= 0 for r in report)
    assert len(_base_versions(str(root / "drift_counts"))) == 1
    assert len(_base_versions(str(root / "moments"))) == 1
    assert _base_versions(str(root / "profile")) == []
    assert _tiny_reads(spark, root) == want
