"""In-run profile of the many-small-files ingest pair (r8 verdict task #2).

The r8 bench moved the connector's many-small-files point 2.41× round-over-
round while its listing-source comparator moved only 1.21×, shrinking the
connector's advantage 4.5×→2.27×. Same discipline that closed
`dedup_cluster_docs` in r8 (SCALING.md "in-run profile" section): ONE
session, bench warmup, 3 reps round-robin of the ingest pair interleaved
with two constant-work anchors. In-run ratios are the signal; the absolute
walls carry ±40% session drift (BASELINE.md §3).

Usage: python tools/profile_smallfiles.py
Prints a markdown table + verdict line to paste into SCALING.md.
"""

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as benchmod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("PROFILE_REPS", "3"))


def main():
    import time

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("smallfiles-profile")
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

    from spark_streaming_sql_s3_connector_spark.plans.io import (
        ensure_package_shipped,
        load_table,
    )
    from spark_streaming_sql_s3_connector_spark.sources.datasource import register

    # same warmup ladder as bench.main(): JVM scan, Python-source worker
    # pool, one composite shuffle+UDF pipeline
    load_table(spark, SF_DIR, "lineitem").count()
    ensure_package_shipped(spark)
    register(spark)
    nation_schema = load_table(spark, SF_DIR, "nation").schema
    (
        spark.read.format("s3-connector")
        .schema(nation_schema)
        .option("spark.s3conn.fileFormat", "parquet")
        .option("spark.s3conn.queueUrl", "warmup")
        .option("spark.s3conn.queueType", "local")
        .option("paths", os.path.join(SF_DIR, "nation.parquet"))
        .load()
        .count()
    )
    queries = entrymod.queries()

    def run_key(name):
        t0 = time.time()
        queries[name](spark, SF_DIR).collect()
        return time.time() - t0

    # absorb first-query one-time cost before the timed loop
    run_key("b6_agg")

    rows = {k: [] for k in ("b4_projection", "b6_agg", "conn", "fss")}
    for rep in range(REPS):
        rows["b4_projection"].append(run_key("b4_projection"))
        pair = benchmod.bench_many_small_files(spark)
        rows["conn"].append(pair["ingest_many_small_files_connector"])
        rows["fss"].append(pair["ingest_many_small_files_file_source"])
        rows["b6_agg"].append(run_key("b6_agg"))

    med = {k: statistics.median(v) for k, v in rows.items()}
    print()
    print("| key | reps (s) | median |")
    print("|---|---|---|")
    label = {
        "b4_projection": "`b4_projection` (constant-work anchor)",
        "b6_agg": "`b6_agg`",
        "conn": "many-small-files connector",
        "fss": "many-small-files file source (listing)",
    }
    for k in ("b4_projection", "b6_agg", "conn", "fss"):
        reps = " / ".join(f"{x:.3f}" for x in rows[k])
        print(f"| {label[k]} | {reps} | {med[k]:.3f} |")
    adv = med["fss"] / med["conn"]
    anchor_mult = med["conn"] / med["b6_agg"]
    print()
    print(
        f"in-run advantage (file source / connector): {adv:.2f}x; "
        f"connector vs b6_agg anchor: {anchor_mult:.1f}x"
    )
    spark.stop()


if __name__ == "__main__":
    main()
