"""Ports of RocksDBS3SourceLogSuite (reference scala:31-311) against the
JSON metadata log."""

import pytest

from spark_streaming_sql_s3_connector_spark.models import FileEntry
from spark_streaming_sql_s3_connector_spark.state.log_fs import ArrowLogFileSystem
from spark_streaming_sql_s3_connector_spark.state.metadata_log import (
    MAX_BATCH_TO_REMOVE_PER_ADD,
    JsonMetadataLog,
    MetadataLogHoleError,
)


def entries(batch_id, *paths_ts):
    return [FileEntry(p, ts, batch_id) for p, ts in paths_ts]


@pytest.fixture(params=["posix", "arrow-mock"])
def log_factory(request, tmp_path):
    """Build (and re-build, for reopen tests) a log over either the POSIX
    impl or the pyarrow mock filesystem (the object-store stand-in) — the
    whole RocksDBS3SourceLogSuite port runs against BOTH file layers."""
    if request.param == "posix":
        def make(**kw):
            return JsonMetadataLog(str(tmp_path / "log"), **kw)
    else:
        from pyarrow.fs import _MockFileSystem

        fs = ArrowLogFileSystem(_MockFileSystem())

        def make(**kw):
            return JsonMetadataLog("log", fs=fs, **kw)
    return make


def test_add_and_get(log_factory):
    log = log_factory()
    assert log.add(0, entries(0, ("a", 10), ("b", 20)))
    got = log.get(0)
    assert {e.path for e in got} == {"a", "b"}
    assert log.get(1) is None


def test_duplicate_batch_returns_false(log_factory):
    log = log_factory()
    assert log.add(0, entries(0, ("a", 10)))
    assert log.add(0, entries(0, ("b", 20))) is False
    assert [e.path for e in log.get(0)] == ["a"]


def test_mismatched_batch_id_raises(log_factory):
    log = log_factory()
    with pytest.raises(ValueError):
        log.add(1, entries(0, ("a", 10)))


def test_range_get_and_hole(log_factory):
    log = log_factory()
    log.add(0, entries(0, ("a", 10)))
    log.add(1, entries(1, ("b", 20)))
    log.add(3, entries(3, ("c", 30)))
    assert {e.path for e in log.get_range(0, 1)} == {"a", "b"}
    with pytest.raises(MetadataLogHoleError):
        log.get_range(0, 3)


def test_get_latest(log_factory):
    log = log_factory()
    assert log.get_latest() is None
    log.add(0, entries(0, ("a", 10)))
    log.add(1, entries(1, ("b", 20)))
    bid, ents = log.get_latest()
    assert bid == 1 and ents[0].path == "b"


def test_is_new_file_matrix(log_factory):
    log = log_factory()
    log.add(0, entries(0, ("a", 100)))
    # unknown file → new
    assert log.is_new_file("zzz", 0)
    # logged, horizon below ts → not new
    assert not log.is_new_file("a", 50)
    assert not log.is_new_file("a", 100)
    # logged but ts older than horizon → re-admittable
    assert log.is_new_file("a", 101)
    assert log.get_file("a") == 100


def test_recovery_after_reopen(log_factory):
    log = log_factory()
    log.add(0, entries(0, ("a", 10)))
    log.add(1, entries(1, ("b", 20)))
    log2 = log_factory()
    assert log2.get_latest_batch_id() == 1
    assert log2.get_file("a") == 10
    assert not log2.is_new_file("b", 0)


def test_clean_log_bounded_and_guarded(log_factory):
    purge_ts = [0]
    log = log_factory(purge_timestamp_provider=lambda: purge_ts[0])
    # batch 0: batch ts 100, file ts 90 — fully below future horizon
    log.add(0, entries(0, ("old", 90)), timestamp=100)
    # batch 1: batch ts 100 but one file ts 500 — must survive (max file ts guard)
    log.add(1, entries(1, ("keep", 500)), timestamp=100)
    purge_ts[0] = 400
    log.add(2, entries(2, ("new", 600)), timestamp=600)
    assert log.get(0) is None  # cleaned
    assert log.get(1) is not None  # guarded by max file ts
    assert log.get_file("old") is None
    assert log.get_file("keep") == 500


def test_clean_log_caps_batches_per_add(log_factory):
    purge_ts = [0]
    log = log_factory(purge_timestamp_provider=lambda: purge_ts[0])
    n = MAX_BATCH_TO_REMOVE_PER_ADD + 5
    for i in range(n):
        log.add(i, entries(i, (f"f{i}", 10)), timestamp=10)
    purge_ts[0] = 10_000
    log.add(n, entries(n, ("fresh", 20_000)), timestamp=20_000)
    remaining = [i for i in range(n) if log.get(i) is not None]
    assert len(remaining) == 5  # only 20 removed in one add


def test_clean_log_reads_no_guarded_batch(log_factory, monkeypatch):
    """A batch below the horizon whose newest file is not stays, and the
    bounded GC decides that from memory: later adds read no batch file
    (re-reading every guarded batch on every add made 2,000 reads here)."""
    purge_ts = [0]
    log = log_factory(purge_timestamp_provider=lambda: purge_ts[0])
    for i in range(200):
        log.add(i, entries(i, (f"keep{i}", 10_000)), timestamp=100)
    purge_ts[0] = 400
    reads = []
    real_read = log._fs.read_text
    monkeypatch.setattr(
        log._fs, "read_text", lambda path: reads.append(path) or real_read(path)
    )
    for i in range(200, 210):
        assert log.add(i, entries(i, (f"new{i}", 600)), timestamp=600)
    assert reads == []
    assert all(log.get(i) is not None for i in range(200))
    assert log.get_file("keep0") == 10_000
    # once the horizon passes the guarded files, the next add collects
    # them — at most MAX_BATCH_TO_REMOVE_PER_ADD, oldest first
    purge_ts[0] = 20_000
    reads.clear()
    log.add(210, entries(210, ("fresh", 30_000)), timestamp=30_000)
    assert len(reads) == MAX_BATCH_TO_REMOVE_PER_ADD
    gone = [i for i in range(210) if log.get(i) is None]
    assert gone == list(range(MAX_BATCH_TO_REMOVE_PER_ADD))
    assert log.get_file("keep0") is None
