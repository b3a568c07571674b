import os
import sys

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(TESTS_DIR)
sys.path.insert(0, REPO_ROOT)
# Python data source workers are separate processes: they import the package
# by name, so the repo root must be on their PYTHONPATH too.
os.environ["PYTHONPATH"] = REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from spark_streaming_sql_s3_connector_spark.session import (
        apply_engine_defaults,
    )

    spark = (
        SparkSession.builder.master("local[*]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .appName("spark-streaming-sql-s3-connector-tests")
        # r15 (suite-runtime fix, guide §1.2 config-last): every test
        # runs row counts in the tens-to-thousands, where 32-partition
        # shuffles and AQE's per-query-stage materialization jobs are
        # pure dispatch overhead — the suite outgrew the driver's
        # pytest budget (VERIFY_r14 tests_ok:false, tail cut at ~65%).
        # 4 shuffle partitions + AQE off measured ~2x on the full
        # suite with zero behavior change. A test that depends on AQE
        # must set spark.sql.adaptive.enabled=true itself and restore
        # it afterwards, as the skew-join test in test_joins does.
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    # the engine-owned confs (discovery threshold for the state-plane
    # layouts, the zip-free worker daemon) — the same call a deployment
    # makes, before the first Python task
    apply_engine_defaults(spark)
    yield spark
    spark.stop()


@pytest.fixture()
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
