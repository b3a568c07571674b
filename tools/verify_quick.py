"""The .claude/skills/verify recipe as a one-shot script: drive the
s3-connector streaming flow end-to-end (incl. the exactly-once
redelivery probe, before and after a source restart) and oracle-check
a handful of registry keys against DuckDB at sf0.01.
Usage: python tools/verify_quick.py [key ...]
(keys default to a representative spread; entry() always runs)."""

from __future__ import annotations

import csv
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

DEFAULT_KEYS = [
    "b6_agg", "tpch_q1", "dedup_exact_docs", "table_profile_docs",
    "snapshot_diff_docs", "nb_classifier_docs", "ann_semantic_dedup",
]


def main() -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults

    apply_engine_defaults(spark)  # discovery threshold, zip-free worker daemon

    # --- streaming surface: ingest + exactly-once under redelivery ---
    from spark_streaming_sql_s3_connector_spark.queueing.local import (
        LocalFileQueueClient,
    )
    from spark_streaming_sql_s3_connector_spark.sources.datasource import register

    register(spark)
    tmp = tempfile.mkdtemp(prefix="verify_quick_")
    qdir, ddir, meta, ckpt = [
        os.path.join(tmp, d) for d in ("q", "data", "meta", "ckpt")
    ]
    os.makedirs(ddir)
    paths = []
    for i in range(3):
        p = os.path.join(ddir, f"f{i}.csv")
        with open(p, "w") as fh:
            w = csv.writer(fh)
            w.writerow(["id", "v"])
            for j in range(10):
                w.writerow([i * 10 + j, f"x{j}"])
        paths.append(p)
    qc = LocalFileQueueClient(f"local://{qdir}")

    def send_events():
        for p in paths:
            qc.send_file_event(p, time.time())

    def start(table, checkpoint):
        return (
            spark.readStream.format("s3-connector")
            .schema("id INT, v STRING")
            .option("spark.s3conn.fileFormat", "csv")
            .option("spark.s3conn.queueUrl", f"local://{qdir}")
            .option("spark.s3conn.queueType", "local")
            .option("spark.s3conn.metadataPath", meta)
            .option("spark.s3conn.queueFetchWaitTimeoutSeconds", "1")
            .option("header", "true")
            .load()
            .writeStream.format("memory")
            .queryName(table)
            .option("checkpointLocation", checkpoint)
            .start()
        )

    send_events()
    q = start("verify_quick_tbl", ckpt)
    q.processAllAvailable()
    n1 = spark.table("verify_quick_tbl").count()
    send_events()  # duplicate redelivery must not change counts
    q.processAllAvailable()
    n2 = spark.table("verify_quick_tbl").count()
    q.stop()
    assert n1 == 30 and n2 == 30, (n1, n2)
    # restart on the same metadataPath: admission state recovers from the
    # metadata log alone, so a redelivery admits nothing. The memory sink
    # cannot resume an append-mode checkpoint, hence a fresh one.
    send_events()
    q = start("verify_quick_restart_tbl", ckpt + "-restart")
    q.processAllAvailable()
    n3 = spark.table("verify_quick_restart_tbl").count()
    q.stop()
    assert n3 == 0, n3
    print(f"STREAMING E2E OK: {n1} rows, exactly-once held under redelivery and restart")

    # --- batch surface: registry keys vs DuckDB oracle ---
    import duckdb

    import __spark_entry__ as em

    keys = sys.argv[1:] or DEFAULT_KEYS
    sf = os.environ.get("SPARK_GRAFT_SF_DIR_VERIFY", "/root/testdata/sf0.01")
    qs, osql = em.queries(), em.oracle_sql()
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    for key in keys:
        srows = sorted(
            tuple(str(x) for x in r) for r in qs[key](spark, sf).collect()
        )
        if key not in osql:
            print(f"QUERY OK (rows-only): {key} {len(srows)} rows")
            continue
        orows = sorted(
            tuple(str(x) for x in r) for r in con.execute(osql[key]).fetchall()
        )
        assert len(srows) == len(orows), (key, len(srows), len(orows))
        print(f"QUERY OK: {key} {len(srows)} rows (row-count vs oracle)")

    n = em.entry(spark).count()
    print(f"ENTRY OK: {n} rows")
    print("VERIFY PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
