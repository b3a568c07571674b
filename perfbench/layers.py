"""The traced run and its per-layer metrics.

Under ``format("s3-connector")`` Spark calls the reader's driver methods
in its ``python_streaming_source_runner`` process and ``read`` in Python
workers, where wrappers installed here never run. So the traced run of a
stream workload takes the ``spark.*`` split from progress and the event
log, then replays the same inputs in-process through the admission
controller and the stream reader with spans on. The orchestrator runs in
this process, so its workload is traced directly. Either way the part
that runs under spans also runs once without them, and the difference is
reported as ``trace.overhead_pct``.
"""

from __future__ import annotations

import os

import eventlog
import spans
import workloads

CURATION_STAGES = (
    "meta",
    "monitor",
    "line_screen",
    "exact_screen",
    "bitmap_flush",
    "finalize_gate",
    "finalize_pack",
    "vacuum",
)


def traced_run(wl, ctx, setup_s: float, root: str):
    rec = spans.Recorder()
    res = workloads.Result()
    progress_split = {}
    if not isinstance(wl, workloads.StreamWorkload):
        wl.measure(res, setup_s, tag="m")
        spans.install_orchestrator_spans(rec)
        try:
            traced = workloads.Result()
            wl.measure(traced, setup_s, rec=rec, tag="b")
        finally:
            rec.uninstall()
        # one trigger each side: the difference carries the trigger's own
        # run-to-run spread; trace.span_cost_pct bounds the wrappers' share
        traced_wall = traced.metrics["trigger_p50_s"]
        overhead = (traced_wall / res.metrics["trigger_p50_s"] - 1) * 100.0
        jobs_filter = lambda j: j["group"] == f"{wl.name}-m" and j["batch"] is not None  # noqa: E731
    else:
        wl.measure(res, setup_s)
        # untraced, traced, untraced: the mean of the outer two cancels
        # a linear drift (page cache, JIT) across the three replays
        before = wl.replay(None)
        spans.install_connector_spans(rec)
        try:
            traced_wall = wl.replay(rec)
        finally:
            rec.uninstall()
        untraced = (before + wl.replay(None)) / 2
        overhead = (traced_wall - untraced) / untraced * 100.0
        ids = set(res.query_ids)
        jobs_filter = lambda j: j["query"] in ids and j["batch"] is not None  # noqa: E731
        progress_split = {
            "spark.latest_offset_s": sum(t["duration_ms"].get("latestOffset", 0) for t in res.triggers) / 1000.0,
            "spark.add_batch_s": sum(t["duration_ms"].get("addBatch", 0) for t in res.triggers) / 1000.0,
            "spark.commit_s": sum(
                t["duration_ms"].get("walCommit", 0) + t["duration_ms"].get("commitOffsets", 0)
                for t in res.triggers
            )
            / 1000.0,
        }
    triggers = len(res.triggers)
    ctx.stop_session()
    jobs = [j for j in eventlog.parse(ctx.work.path("eventlog")) if jobs_filter(j)]
    out = {"spark.latest_offset_s": 0.0, "spark.add_batch_s": 0.0, "spark.commit_s": 0.0}
    out.update(progress_split)
    out["spark.triggers"] = triggers
    out.update(eventlog.summarize(jobs, triggers))
    out.update(span_metrics(rec))
    out.update({"generator.late_p99_s": 0.0, "generator.queue_depth_max": 0})
    out.update(res.layers)
    out["trace.overhead_pct"] = overhead
    out["trace.span_cost_pct"] = spans.span_cost_s() * len(rec.spans) / traced_wall * 100.0
    out["trace.spans"] = len(rec.spans)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    rec.write(os.path.join(out_dir, f"spans-{wl.name}-seed{ctx.seed}.jsonl"))
    return res, out


def span_metrics(rec: spans.Recorder) -> dict[str, float]:
    c = rec.counts
    verdicts = {k.split(".", 1)[1]: v for k, v in c.items() if k.startswith("validator.")}
    calls = sum(verdicts.values())
    rounds = c["queue.fetch_rounds"]
    parts = c["datasource.partitions"]
    m = {
        "queueing.fetch_s": rec.total("queueing.fetch"),
        "queueing.fetch_rounds": rounds,
        "queueing.received": c["queue.received_messages"],
        "queueing.msgs_per_round": c["queue.received_messages"] / rounds if rounds else 0.0,
        "queueing.delete_s": rec.total("queueing.delete"),
        "queueing.deleted": c["queue.deleted_messages"],
        "queueing.visibility_changes": c["queue.visibility_changed_messages"],
        "queueing.parse_s": rec.total("queueing.parse"),
        "queueing.failed_ops": c["queue.failed_ops"],
        "state.validator.calls": calls,
        "state.validator.admit_ratio": verdicts.get("OK", 0) / calls if calls else 0.0,
        "state.validator.rejected.cache_dup": verdicts.get("EXIST_IN_CACHE_PROCESSED", 0)
        + verdicts.get("EXIST_IN_CACHE_NOT_PROCESSED", 0),
        "state.validator.rejected.log_dup": verdicts.get("PERSISTED_IN_METADATA_LOG", 0),
        "state.validator.rejected.expired": verdicts.get("FILE_EXPIRED", 0),
        "state.validator.rejected.glob": verdicts.get("PATTERN_NOT_MATCH", 0),
        "state.metadata_log.add_s": rec.total("state.metadata_log.add"),
        "state.metadata_log.adds": rec.calls("state.metadata_log.add"),
        "state.metadata_log.recover_s": rec.total("state.metadata_log.recover"),
        "state.metadata_log.get_range_s": rec.total("state.metadata_log.get_range"),
        "state.metadata_log.disk_bytes": c["metadata_log_bytes"],
        "state.metadata_log.disk_files": c["metadata_log_files"],
        "state.file_cache.purge_s": rec.total("state.file_cache.purge"),
        "state.file_cache.peak_size": c["file_cache.peak_size"],
        "sources.admission.fetch_max_offset_self_s": rec.self_time("sources.admission.fetch_max_offset"),
        "sources.admission.commit_s": rec.total("sources.admission.commit"),
        "sources.admission.get_batch_files_s": rec.total("sources.admission.get_batch_files"),
        "sources.datasource.partitions_s": rec.total("sources.datasource.partitions"),
        "sources.datasource.partitions": parts,
        "sources.datasource.files_per_partition": c["datasource.files"] / parts if parts else 0.0,
        "sources.file_read.read_s": rec.total("sources.file_read.read"),
        "sources.file_read.rows": c["file_read.rows"],
        "sources.file_read.bytes_in_bytes": c["file_read.bytes_in"],
        "sources.file_read.record_batches": c["file_read.record_batches"],
        "streaming.orchestrator.run_once_s": rec.total("streaming.orchestrator.run_once"),
        "streaming.orchestrator.run_once_self_s": rec.self_time("streaming.orchestrator.run_once"),
        "streaming.orchestrator.process_s": rec.total("streaming.orchestrator.process"),
        "streaming.orchestrator.batches": rec.calls("streaming.orchestrator.process"),
        "streaming.curation.trigger_s": rec.total("streaming.curation.trigger"),
        "streaming.curation.state_bytes": c["curation.state_bytes"],
        "streaming.curation.state_files": c["curation.state_files"],
    }
    for stage in CURATION_STAGES:
        m[f"streaming.curation.stage.{stage}_s"] = c[f"curation.stage.{stage}"]
    return m
