"""Declared planes: every state root names its kind once in a
write-once ``_plane.json`` (``delta_plane.declare``), and the shared
walk (``streaming/vacuum.walk_planes``) finds roots by that file alone.
Discovery therefore launches no Spark job, and a root without a
declaration (one written before planes were declared) is left alone
by both vacuum and the pipeline delete router."""

import datetime as dt
import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    DECLARATION,
    declaration,
    declare,
)
from spark_streaming_sql_s3_connector_spark.streaming.vacuum import (
    vacuum,
    walk_planes,
)


def _batch(spark, lo, hi):
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (
                i,
                f"doc {i} shared words",
                ["click", "view"][i % 2],
                float(i),
                t0 + dt.timedelta(minutes=i),
            )
            for i in range(lo, hi)
        ],
        "doc_id bigint, text string, event_type string, value double, ts timestamp",
    )


def _files(root):
    """Every file under ``root`` with its bytes."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_walk_planes_launches_no_spark_job(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.drift import (
        count_batch,
        embedding_moment_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.profile import (
        profile_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.rollup import (
        continuous_aggregate,
    )

    root = tmp_path / "state"
    for b in range(2):
        batch = _batch(spark, b * 10, b * 10 + 10)
        profile_batch(batch.select("doc_id", "event_type"), b, str(root / "profile"))
        count_batch(batch, b, str(root / "counts"), "event_type")
        embedding_moment_batch(
            batch.select(F.array("value", "value").alias("v")),
            b,
            str(root / "moments"),
            "v",
        )
        # the file stream source watches a flat dir of single files
        land = str(tmp_path / "land" / str(b))
        batch.coalesce(1).write.parquet(land)
        os.makedirs(str(tmp_path / "events"), exist_ok=True)
        shutil.move(
            glob.glob(os.path.join(land, "part-*.parquet"))[0],
            str(tmp_path / "events" / f"b{b}.parquet"),
        )
    stream = spark.readStream.schema(batch.schema).parquet(str(tmp_path / "events"))
    continuous_aggregate(
        stream, str(root / "rollup"), str(tmp_path / "ckpt"),
        trigger_available_now=True,
    ).awaitTermination()
    assert declaration(str(root / "rollup")) == {
        "kind": "rollup", "keys": ["event_type"],
    }

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    found = dict(walk_planes(str(root)))
    # one sentinel job after the walk: the status tracker registers
    # jobs asynchronously but in order, so once the sentinel shows, any
    # job the walk launched shows too
    spark.sparkContext.parallelize([0], 1).count()
    new = set()
    for _ in range(200):
        new = set(tracker.getJobIdsForGroup()) - before
        if new:
            break
        time.sleep(0.05)
    assert len(new) == 1, f"walk_planes launched {len(new) - 1} Spark job(s)"
    assert found == {
        str(root / "profile"): "profile",
        str(root / "counts"): "drift_counts",
        str(root / "moments"): "embedding_moments",
        str(root / "rollup"): "rollup",
    }


def test_declare_is_write_once(tmp_path):
    root = str(tmp_path / "plane")
    declare(root, "rollup", keys=["a"])
    raw = open(os.path.join(root, DECLARATION), "rb").read()
    declare(root, "profile")  # a replay or a foreign writer: the first wins
    assert open(os.path.join(root, DECLARATION), "rb").read() == raw
    assert declaration(root) == {"kind": "rollup", "keys": ["a"]}


def test_undeclared_roots_are_left_alone(spark, tmp_path):
    """Roots written before planes were declared carry no
    ``_plane.json``: the walk treats them as containers, vacuum leaves
    every file under them as it was, and the pipeline delete router
    does not report them. A declared sibling is still maintained."""
    from spark_streaming_sql_s3_connector_spark.streaming.curation import (
        propagate_doc_deletes_for_pipeline,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.drift import count_batch
    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        process_batch as exact_batch,
    )

    root = tmp_path / "pipeline"
    legacy = {"screen": str(root / "screen"), "counts": str(root / "counts")}
    declared = str(root / "declared_counts")
    for b in range(3):
        batch = _batch(spark, b * 10, b * 10 + 10)
        exact_batch(batch, b, legacy["screen"])
        count_batch(batch, b, legacy["counts"], "event_type")
        count_batch(batch, b, declared, "event_type")
    for d in legacy.values():
        os.remove(os.path.join(d, DECLARATION))
    before = {name: _files(d) for name, d in legacy.items()}

    assert dict(walk_planes(str(root))) == {declared: "drift_counts"}
    report = vacuum(spark, str(root))
    assert [(r["path"], r["plane"]) for r in report] == [(declared, "drift_counts")]
    assert report[0]["result"] == 2  # the declared sibling did fold
    dead = _batch(spark, 0, 10).where(F.col("doc_id") == 3)
    report = propagate_doc_deletes_for_pipeline(dead, 3, str(root), policy="forget")
    assert [r["path"] for r in report] == [declared]
    assert {name: _files(d) for name, d in legacy.items()} == before


def test_malformed_declaration_is_unreadable_not_fatal(spark, tmp_path):
    """A hand-written ``_plane.json`` that parses but is not an object
    with a string ``kind`` marks an ``unreadable`` root: vacuum skips
    it, and the declared sibling beside it is still folded."""
    from spark_streaming_sql_s3_connector_spark.streaming.drift import count_batch

    root = tmp_path / "pipeline"
    good = str(root / "counts")
    for b in range(3):
        count_batch(_batch(spark, b * 10, b * 10 + 10), b, good, "event_type")
    bad = {}
    for name, text in [("empty", "{}"), ("list", "[]"), ("typo", '{"knid": "profile"}'),
                       ("number", '{"kind": 3}')]:
        bad[name] = str(root / name)
        os.makedirs(bad[name])
        with open(os.path.join(bad[name], DECLARATION), "w") as f:
            f.write(text)

    assert declaration(bad["empty"]) == {"kind": "unreadable"}
    expected = {good: "drift_counts", **{d: "unreadable" for d in bad.values()}}
    assert dict(walk_planes(str(root))) == expected
    report = vacuum(spark, str(root))
    assert {r["path"]: (r["plane"], r["result"]) for r in report} == {
        good: ("drift_counts", 2),
        **{d: ("unreadable", "skipped") for d in bad.values()},
    }
