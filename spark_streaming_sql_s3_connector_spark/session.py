"""Engine-owned session configuration.

The analytics state planes this package maintains have layout choices
baked in — most visibly the ANN index's corpus, partitioned by
``ivf_bucket`` under one ``batch=<label>`` dir per append
(``operators/ann_index.py``), so a plane read can list hundreds of
leaf dirs. Those layouts interact with session confs that Spark
defaults for a *generic* deployment:

- ``spark.sql.sources.parallelPartitionDiscovery.threshold`` defaults
  to 32, so every read of a plane with more leaf dirs than that
  launches a distributed "listing leaf files" job. Event-log analysis
  once measured FIVE such jobs inside one curation trigger, each
  listing tiny directories — on an object store that is a fleet of
  LIST round trips per trigger; on a local/fast filesystem the
  driver-side listing is strictly cheaper. The engine therefore raises
  the threshold (default 1024, env-overridable via
  ``SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD`` for deployments whose
  WIDE user tables want the distributed listing back).

:func:`apply_engine_defaults` is the one documented call a deployment
makes on the session it hands to the streaming pipelines; without it a
session reverts to 32 and re-pays the listing jobs. The in-repo
harnesses (bench.py, perfbench, tests/conftest.py and every
session-building script under tools/) all route through it.

The same call installs the zip-free Python worker daemon when the
workers can import it (see :mod:`~spark_streaming_sql_s3_connector_spark.worker_daemon`).
"""

from __future__ import annotations

import os
import subprocess

WORKER_DAEMON = "spark_streaming_sql_s3_connector_spark.worker_daemon"


def apply_engine_defaults(spark) -> None:
    """Set the session confs the engine's own state-plane layouts
    assume and install the zip-free worker daemon (see module doc).
    Idempotent; call once per session, before the first state-plane
    read or Python task. Env overrides win so a deployment can re-tune
    without code changes, and a daemon module the user set is kept."""
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        os.environ.get("SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD", "1024"),
    )
    sc = spark.sparkContext
    # the live SparkConf, which is SparkEnv's only in local mode; a
    # cluster's executors read the conf when they launch (README)
    conf = sc._conf
    if (
        sc.master.split("[")[0] == "local"
        and not conf.contains("spark.python.daemon.module")
        and _workers_import_daemon(sc)
    ):
        conf.set("spark.python.daemon.module", WORKER_DAEMON)


def _workers_import_daemon(sc) -> bool:
    """Whether a local Python worker can import the daemon module when
    Spark starts it: with the worker's interpreter, the PYTHONPATH it
    inherits (the executor environment's, then the JVM's) and the JVM's
    working directory. A package that reaches the workers only through
    ``addPyFile`` or a local-mode ``--py-files`` does not count: pyspark
    puts those on ``sys.path`` inside each task, after the daemon has
    started."""
    system = sc._jvm.java.lang.System
    path = [sc.environment.get("PYTHONPATH"), system.getenv("PYTHONPATH")]
    env = {**os.environ, **sc.environment}
    env["PYTHONPATH"] = os.pathsep.join(p for p in path if p)
    probe = (
        "import importlib.util, sys\n"
        f"sys.exit(importlib.util.find_spec({WORKER_DAEMON!r}) is None)"
    )
    try:
        done = subprocess.run(
            [sc.pythonExec, "-c", probe],
            env=env,
            cwd=system.getProperty("user.dir"),
            capture_output=True,
            timeout=60,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return done.returncode == 0
