"""Seen-files index of the metadata log (state/metadata_log.py): the
batch files are the log's only on-disk state. An add writes exactly one
file, the index recovered at startup equals the max logged ts per path
over the retained batches, paths whose batch GC removed stay removed
across a crash, and a checkpoint that still holds the older sharded /
monolithic seen snapshots recovers from its batches alone.

Plus the driver-state stress canary: 10^5 files through
add/purge/recover in bounded wall time."""

import json
import os
import time

from spark_streaming_sql_s3_connector_spark.models import FileEntry
from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog


def entries(batch_id, *paths_ts):
    return [FileEntry(p, ts, batch_id) for p, ts in paths_ts]


def _file_states(log_dir):
    out = {}
    for root, _, names in os.walk(log_dir):
        for name in names:
            st = os.stat(os.path.join(root, name))
            out[os.path.relpath(os.path.join(root, name), log_dir)] = (st.st_mtime_ns, st.st_ino)
    return out


def _fill(log, start_bid, n, path_fn, ts=1000):
    for i in range(n):
        bid = start_bid + i
        log.add(bid, entries(bid, (path_fn(i), ts)), timestamp=ts)
    return start_bid + n


def _max_ts_over_batches(log_dir):
    out = {}
    batches = os.path.join(log_dir, "batches")
    for name in os.listdir(batches):
        with open(os.path.join(batches, name)) as f:
            for e in json.load(f)["entries"]:
                out[e["path"]] = max(e["timestamp"], out.get(e["path"], e["timestamp"]))
    return out


def test_compaction_rewrites_only_dirty_shards(tmp_path):
    """An add writes exactly one new file (its batch) under the log dir
    and rewrites none of the existing ones."""
    d = str(tmp_path / "log")
    log = JsonMetadataLog(d)
    nxt = _fill(log, 0, 30, lambda i: f"round1/file-{i}")
    for i in range(30):
        before = _file_states(d)
        nxt = _fill(log, nxt, 1, lambda _: f"round2/other-{i}")
        after = _file_states(d)
        assert set(after) - set(before) == {os.path.join("batches", f"{nxt - 1}.json")}
        assert all(after[n] == st for n, st in before.items()), "an add rewrote a file"


def test_shard_contents_partition_seen(tmp_path):
    """The recovered index is the max logged ts per path over the
    retained batches, whatever order the batches logged them in."""
    d = str(tmp_path / "log")
    log = JsonMetadataLog(d)
    _fill(log, 0, 30, lambda i: f"p/{i % 10}", ts=1000)
    log.add(30, entries(30, ("p/1", 5000), ("p/2", 10)), timestamp=2000)
    truth = _max_ts_over_batches(d)
    assert truth["p/1"] == 5000 and truth["p/2"] == 1000
    assert log.files() == truth
    assert JsonMetadataLog(d).files() == truth


def test_recovery_parity_with_shards(tmp_path):
    d = str(tmp_path / "log")
    log = JsonMetadataLog(d)
    nxt = _fill(log, 0, 25, lambda i: f"a/{i}", ts=500)
    log.add(nxt, entries(nxt, ("tail/x", 900)), timestamp=900)
    log2 = JsonMetadataLog(d)
    assert log2.get_file("a/0") == 500
    assert log2.get_file("tail/x") == 900
    assert log2.get_latest_batch_id() == nxt
    assert not log2.is_new_file("a/3", 100)
    assert log2.is_new_file("a/3", 501)  # expired → re-admittable


def test_legacy_monolithic_snapshot_migrates(tmp_path):
    """A checkpoint that still holds ``seen-snapshot.json`` and
    ``seen-shards/`` (the older on-disk seen index) recovers its verdicts
    from the batch files alone: a snapshot entry with no batch behind it
    does not come back, and the leftover files are ignored."""
    d = str(tmp_path / "log")
    log = JsonMetadataLog(d)
    _fill(log, 0, 3, lambda i: f"live/{i}", ts=300)
    os.makedirs(os.path.join(d, "seen-shards"), exist_ok=True)
    stale = {"v": 1, "seen": {"legacy/a": 111, "legacy/b": 222, "live/0": 300}}
    with open(os.path.join(d, "seen-snapshot.json"), "w") as f:
        json.dump(stale, f)
    with open(os.path.join(d, "seen-shards", "seen-00.json"), "w") as f:
        json.dump(stale, f)
    log2 = JsonMetadataLog(d)
    assert log2.get_file("legacy/a") is None
    assert log2.get_file("legacy/b") is None
    assert log2.is_new_file("legacy/a", 0)
    assert not log2.is_new_file("live/0", 0)
    assert log2.files() == {f"live/{i}": 300 for i in range(3)}
    assert log2.add(3, entries(3, ("live/3", 300)), timestamp=300)
    assert JsonMetadataLog(d).files() == {f"live/{i}": 300 for i in range(4)}


def test_purged_paths_leave_shards_on_next_compaction(tmp_path):
    """Paths whose batches GC removed are gone from the index, and a
    reopen (no shutdown step in between) does not bring them back."""
    purge_ts = [0]
    d = str(tmp_path / "log")
    log = JsonMetadataLog(d, purge_timestamp_provider=lambda: purge_ts[0])
    nxt = _fill(log, 0, 25, lambda i: f"old/{i}", ts=100)
    assert log.get_file("old/0") == 100
    purge_ts[0] = 5_000  # everything from round 1 is now expired
    _fill(log, nxt, 25, lambda i: f"fresh/{i}", ts=10_000)
    assert log.get_file("old/0") is None
    log2 = JsonMetadataLog(d)
    assert log2.get_file("old/0") is None, "purged path resurrected"
    assert log2.get_file("fresh/0") == 10_000


def test_gc_dropped_path_stays_dropped_after_crash(tmp_path):
    """Crash window: 25 adds, the horizon moves, ONE add (GC drops 20
    batches), then the driver dies. The dropped paths' batch files are
    gone, so the reopened log must not know them either."""
    purge_ts = [0]
    d = str(tmp_path / "log")
    log = JsonMetadataLog(d, purge_timestamp_provider=lambda: purge_ts[0])
    nxt = _fill(log, 0, 25, lambda i: f"old/{i}", ts=100)
    purge_ts[0] = 5_000
    log.add(nxt, entries(nxt, ("fresh/0", 10_000)), timestamp=10_000)
    assert not os.path.exists(os.path.join(d, "batches", "0.json"))
    del log  # no shutdown step: every add is already durable
    log2 = JsonMetadataLog(d)
    assert log2.get_file("old/0") is None
    assert log2.is_new_file("old/0", 0)
    assert log2.get_file("old/24") == 100  # its batch is still retained
    assert log2.files() == _max_ts_over_batches(d)


def test_stress_canary_100k_files(tmp_path):
    """Driver-state canary: 10^5 tracked files through add / purge /
    recover, bounded wall time."""
    purge_ts = [0]
    d = str(tmp_path / "log")
    t0 = time.time()
    log = JsonMetadataLog(d, purge_timestamp_provider=lambda: purge_ts[0])
    files_per_batch = 1000
    n_batches = 100  # => 10^5 file entries
    for b in range(n_batches):
        ents = entries(
            b, *((f"s3://bucket/part-{b:03d}-{i:04d}.parquet", 1000 + b) for i in range(files_per_batch))
        )
        log.add(b, ents, timestamp=1000 + b)
    assert log.get_file("s3://bucket/part-000-0000.parquet") == 1000
    # purge the first half, admit one more batch to trigger bounded GC
    purge_ts[0] = 1000 + n_batches // 2
    log.add(n_batches, entries(n_batches, ("tail", 10_000)), timestamp=10_000)
    log2 = JsonMetadataLog(d)
    assert log2.get_file("tail") == 10_000
    assert log2.get_file(f"s3://bucket/part-{n_batches-1:03d}-0000.parquet") == 1000 + n_batches - 1
    assert log2.get_file("s3://bucket/part-000-0000.parquet") is None  # GC'd
    elapsed = time.time() - t0
    assert elapsed < 30, f"10^5-file canary took {elapsed:.1f}s (budget 30s)"


def test_compaction_ages_pre_horizon_seen_entries(tmp_path):
    """Once GC removes a batch below the purge horizon its paths leave
    the index and the disk: the log's state tracks the ACTIVE window, not
    every file ever admitted. Dropped entries are exactly the
    is_new_file==True set, so admission verdicts are unchanged, and a
    dropped file that re-arrives is admitted and re-tracked."""
    horizon = {"ts": 0}
    d = tmp_path / "log"
    log = JsonMetadataLog(str(d), lambda: horizon["ts"])
    old = [
        FileEntry(path=f"s3://b/old-{i}.parquet", timestamp=1_000 + i, batch_id=0)
        for i in range(20)
    ]
    assert log.add(0, old, timestamp=1_000)

    # move the horizon past the old files; the next add GCs batch 0
    horizon["ts"] = 500_000
    fresh = [
        FileEntry(path=f"s3://b/new-{i}.parquet", timestamp=600_000 + i, batch_id=1)
        for i in range(20)
    ]
    assert log.add(1, fresh, timestamp=600_000)
    assert log.files() == {e.path: e.timestamp for e in fresh}
    on_disk = "".join(p.read_text() for p in d.rglob("*") if p.is_file())
    assert not any(e.path in on_disk for e in old)
    # verdicts unchanged: pre-horizon files re-admit, fresh ones do not
    assert log.is_new_file(old[0].path, horizon["ts"])
    assert not log.is_new_file(fresh[0].path, horizon["ts"])

    # a restart reads the same state and the behavior holds
    log2 = JsonMetadataLog(str(d), lambda: horizon["ts"])
    assert log2.is_new_file(old[0].path, horizon["ts"])
    assert not log2.is_new_file(fresh[0].path, horizon["ts"])
    # a dropped file that re-arrives is admitted and tracked again
    again = FileEntry(path=old[0].path, timestamp=700_000, batch_id=2)
    assert log2.add(2, [again], timestamp=700_000)
    assert not log2.is_new_file(old[0].path, horizon["ts"])
