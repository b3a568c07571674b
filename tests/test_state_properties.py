"""Property-based tests (hypothesis) for the exactly-once state plane.

The cache/log invariants are the correctness core of the connector
(SURVEY.md §7.4 calls them the hard part); example-based tests pin the
reference's documented cases, these pin the *laws* over arbitrary
sequences."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from spark_streaming_sql_s3_connector_spark.models import FileEntry, QueueMessageDesc
from spark_streaming_sql_s3_connector_spark.state.file_cache import (
    FileCache,
    FileCacheNewFileResult,
)
from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog

paths = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")), min_size=1, max_size=8
)
timestamps = st.integers(min_value=0, max_value=10_000)


@settings(max_examples=60, deadline=None)
@given(
    entries=st.lists(st.tuples(paths, timestamps), min_size=0, max_size=40),
    max_age=st.integers(min_value=0, max_value=5_000),
)
def test_cache_purge_horizon_laws(entries, max_age):
    cache = FileCache(max_age)
    for p, ts in entries:
        cache.add_if_absent(p, QueueMessageDesc(ts, False, None))
    latest = max((ts for _, ts in entries), default=0)
    cache.purge()
    # law 1: horizon = latest - max_age (never negative progress)
    assert cache.last_purge_timestamp == max(0, latest - max_age)
    # law 2: every surviving entry is unprocessed and within the horizon
    batch = cache.get_unprocessed_files(None)
    assert all(f.timestamp_ms >= cache.last_purge_timestamp for f in batch)
    # law 3: first-write-wins semantics — survivors' timestamps match the
    # FIRST add of their path (add_if_absent CAS)
    first_ts = {}
    for p, ts in entries:
        first_ts.setdefault(p, ts)
    for f in batch:
        assert f.timestamp_ms == first_ts[f.file_path]


@settings(max_examples=60, deadline=None)
@given(entries=st.lists(st.tuples(paths, timestamps), min_size=1, max_size=40))
def test_cache_mark_processed_excludes_from_batch(entries):
    cache = FileCache(1_000_000)
    for p, ts in entries:
        cache.add_if_absent(p, QueueMessageDesc(ts, False, None))
    batch1 = cache.get_unprocessed_files(None)
    for f in batch1:
        cache.mark_processed(f.file_path)
    # all processed → nothing left to cut, and is_new_file reports processed
    assert cache.get_unprocessed_files(None) == []
    for f in batch1:
        assert cache.is_new_file(f.file_path) == FileCacheNewFileResult.EXIST_IN_CACHE_PROCESSED
    # purge evicts every processed entry
    cache.purge()
    assert cache.size == 0


@settings(max_examples=40, deadline=None)
@given(
    batches=st.lists(
        st.lists(st.tuples(paths, timestamps), min_size=0, max_size=5),
        min_size=1,
        max_size=8,
    ),
    data=st.data(),
)
def test_log_roundtrip_and_duplicate_rejection(tmp_path_factory, batches, data):
    log_dir = str(tmp_path_factory.mktemp("mlog"))
    log = JsonMetadataLog(log_dir)
    for bid, files in enumerate(batches):
        entries = [FileEntry(p, ts, bid) for p, ts in files]
        assert log.add(bid, entries) is True
    # roundtrip: every batch returns exactly what was added
    for bid, files in enumerate(batches):
        got = log.get(bid)
        assert [(e.path, e.timestamp) for e in got] == files
    # duplicate add of any existing id is rejected and non-destructive
    dup = data.draw(st.integers(min_value=0, max_value=len(batches) - 1))
    assert log.add(dup, [FileEntry("x", 0, dup)]) is False
    assert [(e.path, e.timestamp) for e in log.get(dup)] == batches[dup]
    # latest = max id; full-range get = concatenation in id order
    assert log.get_latest_batch_id() == len(batches) - 1
    all_entries = log.get_range(0, len(batches) - 1)
    flat = [(p, ts) for files in batches for p, ts in files]
    assert [(e.path, e.timestamp) for e in all_entries] == flat


@settings(max_examples=40, deadline=None)
@given(
    files=st.lists(st.tuples(paths, timestamps), min_size=1, max_size=30, unique_by=lambda t: t[0]),
    horizon=timestamps,
)
def test_log_is_new_file_horizon_law(tmp_path_factory, files, horizon):
    """A logged file is 'new' again iff its timestamp fell behind the purge
    horizon (re-admission of expired files, RocksDBS3SourceLog.scala:295-314)."""
    log_dir = str(tmp_path_factory.mktemp("mlog"))
    log = JsonMetadataLog(log_dir)
    log.add(0, [FileEntry(p, ts, 0) for p, ts in files])
    for p, ts in files:
        assert log.is_new_file(p, horizon) == (ts < horizon)
    # unknown paths are always new
    assert log.is_new_file("never-logged-path", horizon) is True


@settings(max_examples=30, deadline=None)
@given(
    n_batches=st.integers(min_value=2, max_value=8),
    data=st.data(),
)
def test_log_recovery_equals_original(tmp_path_factory, n_batches, data):
    """Reopening the log from disk reproduces ids, entries, and the
    seen-files index (checkpoint-restart correctness)."""
    log_dir = str(tmp_path_factory.mktemp("mlog"))
    log = JsonMetadataLog(log_dir)
    truth = {}
    for bid in range(n_batches):
        files = data.draw(
            st.lists(st.tuples(paths, timestamps), min_size=0, max_size=4), label=f"b{bid}"
        )
        truth[bid] = files
        log.add(bid, [FileEntry(p, ts, bid) for p, ts in files])

    reopened = JsonMetadataLog(log_dir)
    assert reopened.get_latest_batch_id() == n_batches - 1
    for bid, files in truth.items():
        assert [(e.path, e.timestamp) for e in reopened.get(bid)] == files
    seen_last = {}
    for bid in range(n_batches):
        for p, ts in truth[bid]:
            seen_last[p] = ts
    for p, ts in seen_last.items():
        assert reopened.get_file(p) is not None
