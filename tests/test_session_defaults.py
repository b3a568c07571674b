"""The engine-owned session confs (session.apply_engine_defaults).

r14 verdict #7: the partition-discovery threshold that makes the
state planes listable without distributed listing jobs lived
only in the bench harness, so any other session silently reverted to
Spark's default (32) and re-paid ~5 listing jobs per curation trigger.
The engine now owns the setting; these tests pin that (a) the shared
test session — which routes through the same call a deployment makes —
actually carries it, and (b) the env override wins.
"""


from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults

_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def test_engine_session_carries_discovery_threshold(spark):
    # conftest applied apply_engine_defaults — the deployment call path
    assert int(spark.conf.get(_KEY)) >= 64  # above the shard count


def test_engine_default_value_and_env_override(spark, monkeypatch):
    before = spark.conf.get(_KEY)
    try:
        monkeypatch.delenv("SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD", raising=False)
        apply_engine_defaults(spark)
        assert spark.conf.get(_KEY) == "1024"
        monkeypatch.setenv("SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD", "4096")
        apply_engine_defaults(spark)
        assert spark.conf.get(_KEY) == "4096"
    finally:
        spark.conf.set(_KEY, before)
