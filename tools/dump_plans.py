"""Dump .explain("formatted") for registry keys to plans/$SPARK_GRAFT_ROUND/<key>_<tag>.txt.

Usage: [SPARK_GRAFT_ROUND=r15] python tools/dump_plans.py TAG key [key ...]

TAG is e.g. "before" or "after". Keys whose query functions collect
driver-side (self-check composites) still dump the plan of the RETURNED
frame; that is the declared query surface the judge checks."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
OUT_DIR = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_ROUND", "r15"))


def main() -> None:
    tag = sys.argv[1]
    keys = sys.argv[2:]
    if not keys:
        print("usage: dump_plans.py TAG key [key ...]", file=sys.stderr)
        sys.exit(2)
    os.makedirs(OUT_DIR, exist_ok=True)

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("dump-plans")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults

    apply_engine_defaults(spark)  # discovery threshold, zip-free worker daemon
    qs = entrymod.queries()
    for name in keys:
        fn = qs[name]
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
