"""The package's Python worker daemon (``worker_daemon``) and its install
through ``session.apply_engine_defaults``.

The guard cases build a fake Spark layout in ``tmp_path``: an installed
pyspark (and py4j) directory, the ``pyspark.zip`` / py4j zip / spark-core
jar Spark puts on a worker's path, and a user archive such as a
``--py-files`` zip, which must survive the rewrite.
"""

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from spark_streaming_sql_s3_connector_spark import worker_daemon
from spark_streaming_sql_s3_connector_spark.session import (
    WORKER_DAEMON,
    apply_engine_defaults,
)

_KEY = "spark.python.daemon.module"


def _zip(path, members):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as archive:
        for name, text in members.items():
            archive.writestr(name, text)
    return str(path)


def _layout(tmp_path, zipped="4.1.2", py4j=True, pyspark_zip=True):
    """A worker ``sys.path``: Spark's three entries, a user zip and a
    site dir holding pyspark 4.1.2 (and py4j unless ``py4j=False``)."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text('__version__: str = "4.1.2"\n')
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    spark = [
        _zip(tmp_path / "lib" / "pyspark.zip",
             {"pyspark/version.py": f'__version__: str = "{zipped}"\n'}),
        _zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    if not pyspark_zip:
        spark = spark[1:]
    user = _zip(tmp_path / "deps" / "user_deps.zip", {"user_mod.py": ""})
    return spark, user, str(site)


def test_plain_path_drops_only_spark_entries(tmp_path):
    spark, user, site = _layout(tmp_path)
    assert worker_daemon._plain_path([*spark, user, site]) == [user, site]


@pytest.mark.parametrize(
    "layout",
    [
        {"zipped": "3.5.0"},  # the JVM ships another pyspark than the installed one
        {"py4j": False},  # py4j only in its zip
        {"pyspark_zip": False},  # nothing to drop
    ],
    ids=["zipped-version-differs", "no-installed-py4j", "no-pyspark-zip"],
)
def test_plain_path_guard_keeps_path(tmp_path, layout):
    spark, user, site = _layout(tmp_path, **layout)
    assert worker_daemon._plain_path([*spark, user, site]) is None


@pytest.mark.parametrize("zipped", ["4.1.2", "3.5.0"])
def test_use_plain_path_rewrites_path_and_importer_cache(tmp_path, monkeypatch, zipped):
    spark, user, site = _layout(tmp_path, zipped=zipped)
    path = [*spark, user, site]
    monkeypatch.setattr(sys, "path", list(path))
    # the importers the daemon's own import made for Spark's entries
    monkeypatch.setattr(
        sys, "path_importer_cache", {p: zipimport.zipimporter(p) for p in spark}
    )
    worker_daemon._use_plain_path()
    if zipped == "4.1.2":
        assert sys.path == [user, site]
        assert not set(spark) & set(sys.path_importer_cache)
    else:
        assert sys.path == path
        assert set(spark) <= set(sys.path_importer_cache)


def test_engine_defaults_install_daemon_unless_user_set(spark):
    conf = spark.sparkContext._conf
    before = conf.get(_KEY, None)
    try:
        conf._jconf.remove(_KEY)
        apply_engine_defaults(spark)
        assert conf.get(_KEY) == WORKER_DAEMON
        conf.set(_KEY, "user_daemon")
        apply_engine_defaults(spark)
        assert conf.get(_KEY) == "user_daemon"
    finally:
        if before is None:
            conf._jconf.remove(_KEY)
        else:
            conf.set(_KEY, before)


def test_worker_imports_installed_pyspark_and_user_zip(spark, tmp_path):
    """A Python worker started after apply_engine_defaults (conftest) has
    no pyspark.zip on its path, and a user zip on its PYTHONPATH (here
    through the executor environment) still imports."""

    def probe(_):  # nested: pickled by value, workers cannot import tests/
        import sys

        import pyspark
        import s3conn_user_probe

        yield pyspark.__file__, s3conn_user_probe.VALUE, list(sys.path)

    user = _zip(tmp_path / "user_deps.zip", {"s3conn_user_probe.py": "VALUE = 42\n"})
    env = spark.sparkContext.environment
    before = env.get("PYTHONPATH")
    env["PYTHONPATH"] = user
    try:
        rows = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    finally:
        if before is None:
            del env["PYTHONPATH"]
        else:
            env["PYTHONPATH"] = before
    [(pyspark_file, value, path)] = rows
    assert "pyspark.zip" not in pyspark_file
    assert value == 42
    assert user in path
    assert not [p for p in path if worker_daemon._is_spark_entry(p)]


def test_engine_defaults_skip_daemon_for_package_shipped_per_task(tmp_path):
    """A session whose workers get the package only through ``addPyFile``
    (``plans.io.ensure_package_shipped``) keeps Spark's own daemon: the
    archive reaches a worker's path inside each task, after the daemon
    has started, so ours could not be imported. Python tasks still run."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})  # the driver imports the package, workers do not
from pyspark.sql import SparkSession
from spark_streaming_sql_s3_connector_spark.plans.io import ensure_package_shipped
from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "512m").getOrCreate())
ensure_package_shipped(spark)
apply_engine_defaults(spark)
print("DAEMON=" + str(spark.sparkContext._conf.get({_KEY!r}, None)))
def probe(_):
    import spark_streaming_sql_s3_connector_spark as pkg
    yield pkg.__name__
print("ROWS=" + ",".join(spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # every temp dir the driver could leave the shipped zip in
    env["TMPDIR"] = str(tmp_path)
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "spark-local")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "DAEMON=None" in proc.stdout
    assert "ROWS=spark_streaming_sql_s3_connector_spark" in proc.stdout
    # the shipped zip does not outlive the driver
    assert list(tmp_path.rglob("s3conn-pkg-*.zip")) == []
