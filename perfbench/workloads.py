"""The benchmark's workloads.

Each workload sets up (timed as ``setup_s``), runs its load, checks its
outputs, and returns a :class:`Result`. Sizes and the reasons behind them
are in ``README.md`` next to this file.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

import gen
import harness
from harness import data_triggers, median, percentile, progress_of

# backlog_restart
BACKLOG_FILES = 3000
BACKLOG_ROWS = 200
BACKLOG_MAX_FILES = 500
DUP_SHARE = 0.10
# trickle_latency (open loop; at least TRICKLE_MIN_FILES per run)
TRICKLE_RATE = 50.0
TRICKLE_ROWS = 1000
TRICKLE_MIN_FILES = 1000
# large_files_scan: 16 CSV files of 150k rows, 4x the 600k-row sf0.1 lineitem
SCAN_FILES = 16
SCAN_ROWS = 150_000
# curation_stream: a 40-document bootstrap file, then the measured files;
# warm triggers are dispatch-bound (about 29 jobs), so few large files
CURATION_BOOTSTRAP_DOCS = 40
CURATION_DOCS = 3000
CURATION_FILES = 1
CURATION_VACUUM_EVERY = 1
CURATION_EXPECTED_ITEMS = 100_000
SETUP_STARTS = 2
# orchestrator restart probes per run (median reported)
ORCHESTRATOR_RESTARTS = 40
RESTART_SETTLE_S = 1.0


class Result:
    def __init__(self) -> None:
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        # Spark-side detail the traced run reports: data triggers from
        # progress, and the ids of the queries or job groups measured
        self.triggers: list[dict] = []
        self.query_ids: list[str] = []


def queue_options(d: str, fmt: str, max_files: int) -> dict:
    return {
        "spark.s3conn.fileFormat": fmt,
        "spark.s3conn.queueUrl": f"local://{d}/queue",
        "spark.s3conn.queueType": "local",
        "spark.s3conn.queueFetchWaitTimeoutSeconds": "1",
        "spark.s3conn.metadataPath": os.path.join(d, "meta"),
        "spark.s3conn.maxFilesPerTrigger": str(max_files),
    }


def announce(queue, paths: list[str], when: dict) -> None:
    """Send one ObjectCreated event per path, stamped with the send time,
    and remember the first send time of each path."""
    for p in paths:
        now = time.time()
        queue.send_file_event(p, int(now * 1000))
        when.setdefault(p, now)


def logged_entries(meta_dir: str) -> list:
    """Every entry of the connector's metadata log, in batch order."""
    from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog

    log = JsonMetadataLog(os.path.join(meta_dir, "s3conn-log"))
    latest = log.get_latest_batch_id()
    return [] if latest is None else log.get_range(0, latest)


def local_path(logged: str) -> str:
    return logged[len("file://"):] if logged.startswith("file://") else logged


def dir_usage(root: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def count_queue(rec, metrics) -> None:
    """Fold one queue client's counters into the recorder."""
    for k in ("fetch_rounds", "received_messages", "deleted_messages", "visibility_changed_messages"):
        rec.count(f"queue.{k}", getattr(metrics, k))
    failed = (v for k, v in metrics.as_dict().items() if "_failed_" in k or k.endswith("_exceptions"))
    rec.count("queue.failed_ops", sum(failed))


def count_disk(rec, name: str, root: str) -> None:
    size, files = dir_usage(root)
    rec.counts[f"{name}_bytes"] = size
    rec.counts[f"{name}_files"] = files


def warm_python_workers(spark, work: harness.Work) -> None:
    """One tiny batch read through the connector: starts the Python
    worker daemon and the data-source planner processes."""
    tiny = work.path("warm", "tiny.parquet")
    gen.small_files(os.path.dirname(tiny), 1, 2, 0)
    opts = queue_options(work.path("warm", "q"), "parquet", 1)
    opts["paths"] = os.path.join(os.path.dirname(tiny), "part-000000.parquet")
    spark.read.format("s3-connector").schema(gen.SMALL_SCHEMA).options(**opts).load().collect()


def wait_drained(query, queue, timeout_s: float = 120.0) -> None:
    """processAllAvailable can return on a trigger that started before the
    last announcement; repeat until the queue holds no message."""
    deadline = time.monotonic() + timeout_s
    query.processAllAvailable()
    while queue.approximate_number_of_messages() and time.monotonic() < deadline:
        time.sleep(0.05)
        query.processAllAvailable()
    query.processAllAvailable()


def latencies(triggers: list[dict], entries: list, sent: dict) -> list[float]:
    """Per file: from its send time to the end of the trigger whose offset
    range holds the file's batch."""
    end_of = {}
    for t in triggers:
        for b in range(t["first_batch"], t["last_batch"] + 1):
            end_of[b] = t["end"]
    out = []
    for e in entries:
        p = local_path(e.path)
        if p in sent and e.batch_id in end_of:
            out.append(end_of[e.batch_id] - sent[p])
    return out


def e2e(res: Result, setup_s: float, work: list[tuple], lat: list[float], restart_s: float) -> None:
    """The end-to-end metrics from per-trigger (files, rows, seconds) of
    the triggers that carried data: rates are totals over the summed
    trigger time."""
    busy = sum(s for _, _, s in work)
    res.metrics.update(
        {
            "setup_s": setup_s,
            "files_per_s": sum(f for f, _, _ in work) / busy,
            "rows_per_s": sum(r for _, r, _ in work) / busy,
            "trigger_p50_s": median([s for _, _, s in work]),
            "latency_p50_s": percentile(lat, 50),
            "latency_p99_s": percentile(lat, 99),
            "restart_s": restart_s,
            "peak_rss_mb": harness.peak_rss_mb(os.getpid()),
        }
    )


def trigger_work(triggers: list[dict], entries: list) -> list[tuple]:
    """(files, rows, seconds) per data trigger, files counted from the
    metadata log batches in the trigger's offset range."""
    per_batch: dict[int, int] = {}
    for e in entries:
        per_batch[e.batch_id] = per_batch.get(e.batch_id, 0) + 1
    return [
        (
            sum(per_batch.get(b, 0) for b in range(t["first_batch"], t["last_batch"] + 1)),
            t["rows"],
            t["duration_ms"]["triggerExecution"] / 1000.0,
        )
        for t in triggers
    ]


# ---------------------------------------------------------------------------
# workloads on format("s3-connector")


class StreamWorkload:
    """A workload on ``format("s3-connector")``. Set-up: session, source
    registration, Python-worker warm-up, then the median of several first
    stream starts on an empty queue up to the first empty trigger."""

    schema = gen.SMALL_SCHEMA

    def __init__(self, ctx):
        self.ctx = ctx
        self.generated: list[str] = []
        self._phases = None

    def options(self, d: str) -> dict:
        """Source options with queue and metadata path under ``d``."""
        return queue_options(d, "parquet", BACKLOG_MAX_FILES)

    def start(self, d: str):
        """Start this workload's query on queue and checkpoint under ``d``."""
        raise NotImplementedError

    def replay_phases(self) -> list[list[str]]:
        """The measured inputs, as the announcement phases of a replay."""
        return [self.generated]

    def parquet_sink_query(self, d: str):
        reader = self.ctx.spark.readStream.format("s3-connector").schema(self.schema)
        return (
            reader.options(**self.options(d))
            .load()
            .writeStream.format("parquet")
            .option("path", os.path.join(d, "out"))
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )

    def restart(self, d: str) -> float:
        """Seconds from starting a query on an existing checkpoint to its
        first empty trigger; the query is left running."""
        t = time.perf_counter()
        self.query = self.start(d)
        self.query.processAllAvailable()
        return time.perf_counter() - t

    def sink_check(self, d: str, paths: list[str], expected: dict) -> set:
        """Announced files wrong in the metadata log or the parquet sink."""
        from pyspark.sql import functions as F

        import checks

        sink = {
            r["file_id"]: (r["n"], r["s"])
            for r in self.ctx.spark.read.parquet(os.path.join(d, "out"))
            .groupBy("file_id")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        entries = logged_entries(os.path.join(d, "meta"))
        bad = checks.log_exactly_once([local_path(e.path) for e in entries], set(paths))
        wrong = checks.sink_per_file(expected, sink)
        return bad | {paths[i] if 0 <= i < len(paths) else f"file_id={i}" for i in wrong}

    def replay(self, rec) -> float:
        """The same inputs driven in-process through the stream reader's
        driver and executor calls, in the order Spark makes them:
        latestOffset, partitions, read, commit; a fresh reader on the same
        metadata path for each later phase (a restart). Returns its wall
        seconds. The inputs are announced at once, phase by phase."""
        from pyspark.sql.types import _parse_datatype_string

        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient
        from spark_streaming_sql_s3_connector_spark.sources.datasource import S3ConnectorStreamReader

        if self._phases is None:
            self._phases = self.replay_phases()
        phases = self._phases
        d = self.ctx.work.path(f"replay{time.monotonic_ns()}", "")
        opts = self.options(d)
        schema = _parse_datatype_string(self.schema)
        queue = LocalFileQueueClient(f"local://{d}/queue")
        parts = batches = rows = 0
        read: list[str] = []
        queues = []
        t0 = time.perf_counter()
        for batch in phases:
            reader = S3ConnectorStreamReader(schema, dict(opts))
            start = reader.initialOffset()
            announce(queue, batch, {})
            while True:
                if rec is not None:
                    rec.new_trace()
                end = reader.latestOffset()
                if end == start:
                    break
                for part in reader.partitions(start, end):
                    parts += 1
                    read += [f[0] for f in part.files]
                    for rb in reader.read(part):
                        batches += 1
                        rows += rb.num_rows
                reader.commit(end)
                start = end
            queues.append(reader._controller().queue_client.metrics)
            reader.stop()
        wall = time.perf_counter() - t0
        if rec is not None:
            rec.count("datasource.partitions", parts)
            rec.count("datasource.files", len(read))
            rec.count("file_read.bytes_in", sum(os.path.getsize(local_path(p)) for p in read))
            rec.count("file_read.record_batches", batches)
            rec.count("file_read.rows", rows)
            for m in queues:
                count_queue(rec, m)
            count_disk(rec, "metadata_log", os.path.join(d, "meta", "s3conn-log"))
        shutil.rmtree(d, ignore_errors=True)
        return wall

    def setup(self) -> float:
        from spark_streaming_sql_s3_connector_spark.sources.datasource import register

        ctx = self.ctx
        t0 = time.perf_counter()
        ctx.start_session()
        register(ctx.spark)
        harness.log("session up")
        warm_python_workers(ctx.spark, ctx.work)
        harness.log("python workers warm")
        base = time.perf_counter() - t0
        starts = []
        for i in range(SETUP_STARTS):
            d = ctx.work.path(f"setup{i}", "")
            t = time.perf_counter()
            q = self.start(d)
            q.processAllAvailable()
            starts.append(time.perf_counter() - t)
            q.stop()
            harness.log(f"stream start {i}: {starts[-1]:.2f} s")
        return base + median(starts)


class BacklogRestart(StreamWorkload):
    """Closed loop: a backlog announced at once in two halves, the query
    restarted on the same checkpoint in between, with first-half events
    redelivered after the restart."""

    name = "backlog_restart"

    def start(self, d: str):
        return self.parquet_sink_query(d)

    def inputs(self, it: int):
        d = self.ctx.work.path(f"it{it}", "")
        seed = self.ctx.seed * 1000 + it
        paths, expected = gen.small_files(os.path.join(d, "data"), BACKLOG_FILES, BACKLOG_ROWS, seed)
        rng = random.Random(seed)
        half = BACKLOG_FILES // 2
        phase2 = paths[half:] + [paths[i] for i in rng.sample(range(half), int(BACKLOG_FILES * DUP_SHARE))]
        rng.shuffle(phase2)
        return d, paths, expected, paths[:half], phase2

    def measure(self, res: Result, setup_s: float) -> None:
        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

        ctx = self.ctx
        work, lat, restarts = [], [], []
        t_begin = time.perf_counter()
        it = 0
        while it == 0 or time.perf_counter() - t_begin < ctx.seconds:
            d, paths, expected, phase1, phase2 = self.inputs(it)
            queue = LocalFileQueueClient(f"local://{d}/queue")
            sent: dict = {}
            prog = []
            # each half waits in the queue before its query starts, so
            # triggers carry maxFilesPerTrigger files; between the halves
            # a query restarted on the checkpoint runs to its first empty
            # trigger
            harness.log(f"iteration {it}: inputs written")
            for i, phase in enumerate((phase1, phase2)):
                if i:
                    restarts.append(self.restart(d))
                    self.query.stop()
                announce(queue, phase, sent)
                q = self.start(d)
                wait_drained(q, queue)
                prog += progress_of(q)
                res.query_ids.append(str(q.id))
                q.stop()
                harness.log(f"iteration {it}: phase {i + 1} drained")
            triggers = data_triggers(prog)
            entries = logged_entries(os.path.join(d, "meta"))
            lat += latencies(triggers, entries, sent)
            work += trigger_work(triggers, entries)
            harness.log(f"iteration {it}: triggers (files, seconds) {[(f, round(s, 2)) for f, _, s in work]}")
            bad = self.sink_check(d, paths, expected)
            res.attempted += len(paths)
            res.failed += len(bad) + queue.approximate_number_of_messages()
            res.triggers += triggers
            shutil.rmtree(d, ignore_errors=True)
            it += 1
        e2e(res, setup_s, work, lat, median(restarts))

    def replay_phases(self) -> list[list[str]]:
        _, _, _, phase1, phase2 = self.inputs(0)
        return [phase1, phase2]


class TrickleLatency(StreamWorkload):
    """Open loop: a separate generator process writes files and announces
    them on a Poisson schedule; each file's latency runs from its due time
    to the end of the trigger that committed it."""

    name = "trickle_latency"

    def start(self, d: str):
        return self.parquet_sink_query(d)

    def measure(self, res: Result, setup_s: float) -> None:
        import json
        import subprocess
        import sys

        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

        ctx = self.ctx
        d = ctx.work.path("trickle", "")
        queue = LocalFileQueueClient(f"local://{d}/queue")
        q = self.start(d)
        q.processAllAvailable()
        seconds = max(ctx.seconds, TRICKLE_MIN_FILES / TRICKLE_RATE)
        manifest = os.path.join(d, "manifest.json")
        args = [f"local://{d}/queue", os.path.join(d, "data"), TRICKLE_RATE, seconds, TRICKLE_ROWS,
                ctx.seed, time.time() + 0.5, manifest]
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "trickle", *map(str, args)]
        )
        depth = []
        try:
            while proc.poll() is None:
                depth.append(queue.approximate_number_of_messages())
                time.sleep(0.25)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        wait_drained(q, queue)
        prog = progress_of(q)
        res.query_ids.append(str(q.id))
        q.stop()
        restart = self.restart(d)
        self.query.stop()

        with open(manifest) as f:
            sent = json.load(f)
        paths = self.generated = [p for p, _, _, _ in sent]
        expected = {i: (TRICKLE_ROWS, vsum) for i, (_, _, _, vsum) in enumerate(sent)}
        triggers = data_triggers(prog)
        entries = logged_entries(os.path.join(d, "meta"))
        lat = latencies(triggers, entries, {p: due for p, due, _, _ in sent})
        bad = self.sink_check(d, paths, expected)
        # a growing backlog: the last quarter of files waits far longer
        quarter = max(1, len(lat) // 4)
        if median(lat[-quarter:]) > 2 * median(lat[:quarter]) + 1.0:
            bad |= set(paths)
        res.attempted += len(paths)
        res.failed += len(bad) + proc.returncode + queue.approximate_number_of_messages()
        res.triggers += triggers
        res.layers["generator.late_p99_s"] = percentile([s - due for _, due, s, _ in sent], 99)
        res.layers["generator.queue_depth_max"] = max(depth, default=0)
        e2e(res, setup_s, trigger_work(triggers, entries), lat, restart)


class LargeFilesScan(StreamWorkload):
    """Closed loop, one trigger: wide header CSV files under Hive-style
    partition directories, aggregated into a memory sink and checked
    against a duckdb oracle over the same files."""

    name = "large_files_scan"
    schema = gen.LINEITEM_SCHEMA

    def data_dir(self) -> str:
        return self.ctx.work.path("scan", "data", "")

    def options(self, d: str) -> dict:
        opts = queue_options(d, "csv", SCAN_FILES)
        opts.update(
            {"header": "true", "spark.s3conn.partitionColumns": "l_shipyear", "basePath": self.data_dir()}
        )
        return opts

    def start(self, d: str):
        from pyspark.sql import functions as F

        df = self.ctx.spark.readStream.format("s3-connector").schema(self.schema)
        agg = (
            df.options(**self.options(d))
            .load()
            .groupBy("l_shipyear", "l_returnflag")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents"),
            )
        )
        return (
            agg.writeStream.format("memory")
            .queryName("scan_" + os.path.basename(os.path.normpath(d)))
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .start()
        )


    def measure(self, res: Result, setup_s: float) -> None:
        import duckdb

        import checks

        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

        ctx = self.ctx
        d = ctx.work.path("scan", "")
        paths = self.generated = gen.lineitem_csvs(self.data_dir(), SCAN_FILES, SCAN_ROWS, ctx.seed)
        queue = LocalFileQueueClient(f"local://{d}/queue")
        q = self.start(d)
        q.processAllAvailable()
        sent: dict = {}
        announce(queue, paths, sent)
        wait_drained(q, queue)
        prog = progress_of(q)
        got = [tuple(r) for r in ctx.spark.sql(f"SELECT * FROM {q.name}").collect()]
        res.query_ids.append(str(q.id))
        q.stop()
        restart = self.restart(d)
        self.query.stop()

        want = duckdb.sql(
            "SELECT l_shipyear, l_returnflag, count(*), "
            "sum(round(l_extendedprice * 100)::BIGINT) "
            f"FROM read_csv_auto('{self.data_dir()}*/*.csv', hive_partitioning = true) "
            "GROUP BY ALL"
        ).fetchall()
        triggers = data_triggers(prog)
        entries = logged_entries(os.path.join(d, "meta"))
        bad = checks.log_exactly_once([local_path(e.path) for e in entries], set(paths))
        years = {r[0] for r in checks.rows_equal(got, [tuple(r) for r in want], key=lambda r: r)}
        bad |= {p for p in paths if any(f"l_shipyear={y}" in p for y in years)}
        res.attempted += len(paths)
        res.failed += len(bad) + queue.approximate_number_of_messages()
        res.triggers += triggers
        e2e(res, setup_s, trigger_work(triggers, entries), latencies(triggers, entries, sent), restart)


# ---------------------------------------------------------------------------
# curation_stream


class CurationStream:
    """Closed loop through the JVM-read ``MicroBatchOrchestrator``: a
    bootstrap file (timed as set-up: it freezes the quality thresholds and
    pays the curation stages' first-use costs), then range-ordered
    document files, one per trigger, into the incremental curation
    trigger, plus one redelivered event."""

    name = "curation_stream"

    def __init__(self, ctx):
        self.ctx = ctx

    def options(self, d: str) -> dict:
        return queue_options(d, "json", 1)

    def orchestrator(self, d: str):
        from spark_streaming_sql_s3_connector_spark.streaming.orchestrator import MicroBatchOrchestrator

        return MicroBatchOrchestrator(self.ctx.spark, self.options(d), os.path.join(d, "meta"))

    def process_for(self, pipeline: str, rec=None):
        from spark_streaming_sql_s3_connector_spark.streaming.curation import (
            process_curation_batch_incremental,
        )

        def process(df, batch_id):
            def run():
                process_curation_batch_incremental(
                    df,
                    batch_id,
                    pipeline,
                    expected_total_items=CURATION_EXPECTED_ITEMS,
                    vacuum_every=CURATION_VACUUM_EVERY,
                )

            if rec is None:
                return run()
            with rec.span("streaming.orchestrator.process"), rec.span("streaming.curation.trigger"):
                run()

        return process

    def corpus(self, d: str) -> tuple[list, list[str], list[str]]:
        """The documents, the bootstrap file and the measured files, split
        by ``doc_id`` range in announcement order."""
        docs = gen.documents(CURATION_BOOTSTRAP_DOCS + CURATION_DOCS, self.ctx.seed)
        boot = gen.document_files(os.path.join(d, "boot"), docs[:CURATION_BOOTSTRAP_DOCS], 1)
        files = gen.document_files(os.path.join(d, "docs"), docs[CURATION_BOOTSTRAP_DOCS:], CURATION_FILES)
        return docs, boot, files

    def bootstrap(self, tag: str) -> None:
        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

        d = self.ctx.work.path(tag, "")
        _, boot, _ = self.corpus(d)
        announce(LocalFileQueueClient(f"local://{d}/queue"), boot, {})
        orch = self.orchestrator(d)
        orch.run_once(gen.DOC_SCHEMA, self.process_for(os.path.join(d, "pipeline")))
        orch.close()

    def restart_probe(self, d: str, path: str, i: int) -> float:
        """Seconds for an orchestrator restarted on a copy of the metadata
        path under ``d`` to recover the log, admit ``path`` and plan its
        JVM read, up to the hand-off to a callback that does nothing."""
        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

        probe = self.ctx.work.path(f"probe{i}", "")
        shutil.copytree(os.path.join(d, "meta"), os.path.join(probe, "meta"))
        announce(LocalFileQueueClient(f"local://{probe}/queue"), [path], {})
        t = time.perf_counter()
        orch = self.orchestrator(probe)
        orch.run_once(gen.DOC_SCHEMA, lambda df, batch_id: None)
        elapsed = time.perf_counter() - t
        orch.close()
        shutil.rmtree(probe)
        return elapsed

    def setup(self) -> float:
        """Session and the bootstrap trigger, then the median of several
        first empty triggers of an orchestrator on a fresh metadata path."""
        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

        ctx = self.ctx
        t0 = time.perf_counter()
        ctx.start_session()
        self.bootstrap("m")
        base = time.perf_counter() - t0
        starts = []
        for i in range(SETUP_STARTS):
            d = ctx.work.path(f"setup{i}", "")
            LocalFileQueueClient(f"local://{d}/queue")
            t = time.perf_counter()
            orch = self.orchestrator(d)
            orch.run_once(gen.DOC_SCHEMA, self.process_for(os.path.join(d, "pipeline")))
            orch.close()
            starts.append(time.perf_counter() - t)
        return base + median(starts)

    def measure(self, res: Result, setup_s: float, rec=None, tag: str = "m") -> None:
        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient
        from spark_streaming_sql_s3_connector_spark.streaming.curation import (
            finalize_curation_frozen,
            read_curated_pack,
            read_trigger_timings,
        )

        import checks

        ctx = self.ctx
        spark = ctx.spark
        d = ctx.work.path(tag, "")
        if not os.path.isdir(os.path.join(d, "pipeline")):
            with rec.paused() if rec is not None else contextlib.nullcontext():
                self.bootstrap(tag)
        pipeline = os.path.join(d, "pipeline")
        docs, boot, files = self.corpus(d)
        queue = LocalFileQueueClient(f"local://{d}/queue")
        # restarts once the JVM's cleanup after the bootstrap trigger has
        # settled
        time.sleep(RESTART_SETTLE_S)
        with rec.paused() if rec is not None else contextlib.nullcontext():
            restarts = [self.restart_probe(d, files[0], i) for i in range(ORCHESTRATOR_RESTARTS)]
        sent: dict = {}
        announce(queue, files, sent)
        orch = self.orchestrator(d)
        process = self.process_for(pipeline, rec)
        work, ended = [], {}
        per_file = -(-CURATION_DOCS // CURATION_FILES)
        k = 0
        while True:
            spark.sparkContext.setJobGroup(f"{self.name}-{tag}:trigger={k}", "perfbench")
            if rec is not None:
                rec.new_trace()
            t = time.perf_counter()
            b = orch.run_once(gen.DOC_SCHEMA, process)
            el = time.perf_counter() - t
            if b is None:
                break
            work.append((1, per_file, el))
            res.triggers.append({"duration_ms": {"triggerExecution": el * 1000.0}})
            ended[b] = time.time()
            if k == 0:
                announce(queue, files[:1], {})  # redelivery of a committed file
            k += 1
        spark.sparkContext.setJobGroup("perfbench", "perfbench")
        queue_metrics = orch.controller.queue_client.metrics
        orch.close()
        # the log read-back is not part of the traced triggers
        with rec.paused() if rec is not None else contextlib.nullcontext():
            entries = logged_entries(os.path.join(d, "meta"))

        lat = [ended[e.batch_id] - sent[local_path(e.path)] for e in entries if e.batch_id in ended]
        bad = checks.log_exactly_once([local_path(e.path) for e in entries], set(boot + files))
        pack = [tuple(r) for r in read_curated_pack(spark, pipeline).collect()]
        frozen = [tuple(r) for r in finalize_curation_frozen(spark, pipeline).collect()]
        for doc_id in checks.rows_equal(pack, frozen):
            i = doc_id - CURATION_BOOTSTRAP_DOCS
            bad.add(boot[0] if i < 0 else files[i // per_file])
        if not pack:
            bad |= set(files)
        res.attempted += len(boot + files)
        res.failed += len(bad) + queue.approximate_number_of_messages()
        res.query_ids.append(f"{self.name}-{tag}")
        e2e(res, setup_s, work, lat, median(restarts))
        if rec is not None:
            stages: dict[str, float] = {}
            for b in ended:
                for name, v in (read_trigger_timings(pipeline, b) or {}).items():
                    if name not in ("batch_id", "total"):
                        stages[name] = stages.get(name, 0.0) + v
            rec.counts.update({f"curation.stage.{k}": v for k, v in stages.items()})
            count_disk(rec, "curation.state", pipeline)
            count_disk(rec, "metadata_log", os.path.join(d, "meta", "s3conn-log"))
            count_queue(rec, queue_metrics)


WORKLOADS = {w.name: w for w in (BacklogRestart, TrickleLatency, LargeFilesScan, CurationStream)}
