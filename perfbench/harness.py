"""Process plumbing shared by the workloads: the checkout root, the work
directory, the Spark session, memory, percentiles and trigger progress.

Everything the benchmark writes lives under ``<root>/.perfbench_work``
(removed at exit) or ``<root>/.perfbench_out`` (span files), so a run
reads and writes only inside its checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from datetime import datetime

PKG = "spark_streaming_sql_s3_connector_spark"
_T0 = time.monotonic()
CORES = 4  # the system under test runs as local[4]


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the process began."""
    print(f"perfbench [{time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def require_program(root: str) -> None:
    """Refuse to run without the program's sources in the checkout: the
    benchmark measures the tree it sits in, never an installed copy."""
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ not found under {root}; nothing to measure", file=sys.stderr)
        raise SystemExit(2)


def prepare_env(root: str, work: str) -> None:
    """Route every temp file into the work dir and make the package
    importable here and in the Python workers Spark starts. Must run
    before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def build_session(work: str, event_log: bool):
    from pyspark.sql import SparkSession

    from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the default keeps 100 progress events; latency mapping needs all
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    )
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_engine_defaults(spark)
    return spark


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and every live descendant (the JVM, the
    streaming source runner and the Python workers), in MiB."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total_kb = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; ``q`` in [0, 100]."""
    data = sorted(values)
    idx = min(len(data) - 1, max(0, -(-len(data) * q // 100) - 1))
    return data[int(idx)]


def median(values: list[float]) -> float:
    return statistics.median(values)


def epoch_s(iso: str) -> float:
    """Progress timestamps are UTC ISO-8601 with millisecond precision."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def log_offset(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def data_triggers(progress: list[dict]) -> list[dict]:
    """Triggers that moved the source offset, each with its wall window
    (start and end, epoch seconds) and its offset range (start, end]."""
    out = []
    for p in progress:
        src = p["sources"][0]
        start, end = log_offset(src.get("startOffset")), log_offset(src.get("endOffset"))
        if end <= start:
            continue
        t0 = epoch_s(p["timestamp"])
        out.append(
            {
                "start": t0,
                "end": t0 + p["durationMs"]["triggerExecution"] / 1000.0,
                "first_batch": start + 1,
                "last_batch": end,
                "rows": p["numInputRows"],
                "duration_ms": p["durationMs"],
            }
        )
    return out


class Work:
    """The per-run directory tree; removed on close."""

    def __init__(self, root: str, workload: str, seed: int):
        self.dir = os.path.join(root, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
