"""Pluggable file layer under the metadata log (state/log_fs.py).

The reference checkpoints admission state to DFS
(RocksDBFileManager.scala:157-312; metadataPath init
S3ConnectorSource.scala:53-59); here the JSON log runs over either the
POSIX impl or any pyarrow.fs store. These tests pin the FS contract on
BOTH impls (mock FS = the object-store stand-in), the log's
write/recovery behavior on the non-POSIX impl, and the
checkpoint-restart e2e over a mock-FS metadataPath.
"""

import json

import pytest
from pyarrow.fs import _MockFileSystem

from spark_streaming_sql_s3_connector_spark.models import FileEntry
from spark_streaming_sql_s3_connector_spark.state.log_fs import (
    ArrowLogFileSystem,
    PosixLogFileSystem,
    filesystem_for,
)
from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog


def entries(batch_id, *paths_ts):
    return [FileEntry(p, ts, batch_id) for p, ts in paths_ts]


@pytest.fixture(params=["posix", "arrow-mock"])
def fsroot(request, tmp_path):
    if request.param == "posix":
        return PosixLogFileSystem(), str(tmp_path)
    return ArrowLogFileSystem(_MockFileSystem()), "base"


# ---------- the FS contract, both impls ----------


def test_write_read_roundtrip(fsroot):
    fs, root = fsroot
    d = fs.join(root, "dir")
    fs.mkdirs(d)
    p = fs.join(d, "a.json")
    assert fs.write_atomic(p, '{"x": 1}', overwrite=False)
    assert fs.exists(p)
    assert json.loads(fs.read_text(p)) == {"x": 1}


def test_exclusive_create_refuses_existing(fsroot):
    fs, root = fsroot
    fs.mkdirs(root)
    p = fs.join(root, "once.json")
    assert fs.write_atomic(p, "first", overwrite=False)
    assert fs.write_atomic(p, "second", overwrite=False) is False
    assert fs.read_text(p) == "first"  # loser wrote nothing


def test_overwrite_replaces(fsroot):
    fs, root = fsroot
    fs.mkdirs(root)
    p = fs.join(root, "snap.json")
    assert fs.write_atomic(p, "v1", overwrite=True)
    assert fs.write_atomic(p, "v2", overwrite=True)
    assert fs.read_text(p) == "v2"


def test_listdir_missing_is_empty(fsroot):
    fs, root = fsroot
    assert fs.listdir(fs.join(root, "nope")) == []


def test_listdir_names(fsroot):
    fs, root = fsroot
    d = fs.join(root, "lst")
    fs.mkdirs(d)
    fs.write_atomic(fs.join(d, "1.json"), "{}", overwrite=True)
    fs.write_atomic(fs.join(d, "2.json"), "{}", overwrite=True)
    assert sorted(fs.listdir(d)) == ["1.json", "2.json"]


def test_read_missing_raises_delete_missing_ok(fsroot):
    fs, root = fsroot
    fs.mkdirs(root)
    with pytest.raises(FileNotFoundError):
        fs.read_text(fs.join(root, "ghost.json"))
    fs.delete(fs.join(root, "ghost.json"))  # no raise


def test_acquire_lease_sequential(fsroot):
    fs, root = fsroot
    fs.mkdirs(root)
    p = fs.join(root, "reprocess.lock")
    assert fs.acquire_lease(p, "tok-a")
    assert fs.acquire_lease(p, "tok-b") is False
    assert fs.read_text(p) == "tok-a"


def test_acquire_lease_race_exactly_one_winner():
    """Two lockers interleaved so BOTH pass the exists check and BOTH
    complete their PUT before either validates — the precise window
    where check-then-put hands out two locks. The lease token read-back
    must resolve it to exactly one winner."""
    import threading

    both_checked = threading.Barrier(2)
    both_put = threading.Barrier(2)

    class RacingFS(ArrowLogFileSystem):
        def exists(self, path):
            r = super().exists(path)
            both_checked.wait(timeout=10)  # stale check for both
            return r

        def read_text(self, path):
            # reaching here means OUR put finished; barrier ⇒ both did
            both_put.wait(timeout=10)
            return super().read_text(path)

    fs = RacingFS(_MockFileSystem())
    fs.mkdirs("base")
    lock = "base/reprocess.lock"
    results = {}

    def locker(name):
        results[name] = fs.acquire_lease(lock, f"tok-{name}")

    ts = [threading.Thread(target=locker, args=(n,)) for n in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=30)
    assert sorted(results.values()) == [False, True]


class _ThrottlingFS:
    """Object-store stand-in that is UP but erroring (throttle/5xx) —
    the advisor's scenario where masking errors as missing state would
    silently restart admission from scratch."""

    def get_file_info(self, sel):
        raise OSError("SlowDown: please reduce your request rate")

    def open_input_stream(self, path):
        raise OSError("503 service unavailable")

    def delete_file(self, path):
        raise OSError("503 service unavailable")


def test_transient_store_errors_propagate():
    fs = ArrowLogFileSystem(_ThrottlingFS())
    with pytest.raises(OSError) as ei:
        fs.listdir("base/seen-shards")
    assert not isinstance(ei.value, FileNotFoundError)
    with pytest.raises(OSError) as ei:
        fs.read_text("base/batches/7.json")
    assert not isinstance(ei.value, FileNotFoundError)
    with pytest.raises(OSError) as ei:
        fs.delete("base/reprocess.lock")
    assert not isinstance(ei.value, FileNotFoundError)


# ---------- scheme dispatch ----------


def test_filesystem_for_local_and_file_uri(tmp_path):
    fs, p = filesystem_for(str(tmp_path))
    assert isinstance(fs, PosixLogFileSystem) and p == str(tmp_path)
    fs2, p2 = filesystem_for(f"file://{tmp_path}")
    assert isinstance(fs2, PosixLogFileSystem) and p2 == str(tmp_path)


def test_filesystem_for_uri_goes_through_pyarrow(monkeypatch):
    import spark_streaming_sql_s3_connector_spark.state.log_fs as log_fs

    mock = _MockFileSystem()
    seen = {}

    def fake_from_uri(uri):
        seen["uri"] = uri
        return mock, uri.split("://", 1)[1]

    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", fake_from_uri)
    fs, p = filesystem_for("s3://bucket/ckpt")
    assert isinstance(fs, ArrowLogFileSystem) and p == "bucket/ckpt"
    # the client is built for the authority, then cached for every key
    assert seen["uri"] == "s3://bucket"


# ---------- log behavior on the non-POSIX impl ----------


def _mock_log(fs=None, **kw):
    fs = fs or ArrowLogFileSystem(_MockFileSystem())
    return JsonMetadataLog("ckpt/s3conn-log", fs=fs, **kw), fs


def _files_under(fs, root):
    from pyarrow.fs import FileSelector, FileType

    infos = fs.arrow_fs.get_file_info(FileSelector(root, recursive=True))
    return sorted(i.path for i in infos if i.type == FileType.File)


def test_log_compaction_and_recovery_on_mock_fs():
    """The batch files are the log's only on-disk state: each add writes
    exactly one object, and a reopen recovers the seen index from them."""
    log, fs = _mock_log()
    for i in range(30):
        before = _files_under(fs, "ckpt/s3conn-log")
        log.add(i, entries(i, (f"p/{i}", 500)), timestamp=500)
        after = _files_under(fs, "ckpt/s3conn-log")
        assert sorted(set(after) - set(before)) == [f"ckpt/s3conn-log/batches/{i}.json"]
        assert set(before) <= set(after)
    nxt = 30
    log.add(nxt, entries(nxt, ("tail/x", 900)), timestamp=900)
    log2 = JsonMetadataLog("ckpt/s3conn-log", fs=fs)
    assert log2.get_latest_batch_id() == nxt
    assert log2.get_file("p/0") == 500
    assert log2.get_file("tail/x") == 900
    assert not log2.is_new_file("p/3", 100)
    assert log2.is_new_file("p/3", 501)  # expired → re-admittable


def test_log_purge_on_mock_fs():
    purge_ts = [0]
    fs = ArrowLogFileSystem(_MockFileSystem())
    log, _ = _mock_log(fs=fs, purge_timestamp_provider=lambda: purge_ts[0])
    log.add(0, entries(0, ("old", 90)), timestamp=100)
    log.add(1, entries(1, ("keep", 500)), timestamp=100)
    purge_ts[0] = 400
    log.add(2, entries(2, ("new", 600)), timestamp=600)
    assert log.get(0) is None
    assert log.get(1) is not None  # max-file-ts guard
    log2 = JsonMetadataLog("ckpt/s3conn-log", fs=fs)
    assert log2.get_file("old") is None
    assert log2.get_file("keep") == 500


def test_legacy_snapshot_migrates_on_mock_fs():
    """A checkpoint that still holds the older seen-index snapshots
    (``seen-snapshot.json``, ``seen-shards/``) recovers its verdicts from
    the batch files alone: an entry with no batch behind it (GC already
    dropped it) does not come back, and the leftovers are ignored."""
    fs = ArrowLogFileSystem(_MockFileSystem())
    fs.mkdirs("ckpt/s3conn-log/batches")
    fs.mkdirs("ckpt/s3conn-log/seen-shards")
    stale = {"v": 1, "seen": {"legacy/a": 111, "kept": 999}}
    fs.write_atomic("ckpt/s3conn-log/seen-snapshot.json", json.dumps(stale), overwrite=True)
    fs.write_atomic("ckpt/s3conn-log/seen-shards/seen-07.json", json.dumps(stale), overwrite=True)
    fs.write_atomic(
        "ckpt/s3conn-log/batches/3.json",
        json.dumps(
            {"v": 1, "batchId": 3, "timestamp": 40,
             "entries": [{"path": "kept", "timestamp": 40, "batchId": 3}]}
        ),
        overwrite=False,
    )
    log = JsonMetadataLog("ckpt/s3conn-log", fs=fs)
    assert log.get_file("legacy/a") is None
    assert log.is_new_file("legacy/a", 0)
    assert log.get_file("kept") == 40  # the batch, not the stale snapshot
    assert log.files() == {"kept": 40}
    assert log.get_latest_batch_id() == 3
    assert log.add(4, entries(4, ("n/4", 50)), timestamp=50)
    log2 = JsonMetadataLog("ckpt/s3conn-log", fs=fs)
    assert log2.files() == {"kept": 40, "n/4": 50}


# ---------- checkpoint-restart e2e over a mock-FS metadataPath ----------


def test_admission_restart_on_mock_fs(tmp_path):
    from spark_streaming_sql_s3_connector_spark.options import (
        S3ConnectorSourceOptions,
    )
    from spark_streaming_sql_s3_connector_spark.sources.admission import (
        AdmissionController,
    )

    o = S3ConnectorSourceOptions.parse(
        {
            "spark.s3conn.fileFormat": "csv",
            "spark.s3conn.queueUrl": f"local://{tmp_path}/queue",
            "spark.s3conn.queueType": "local",
            "spark.s3conn.queueFetchWaitTimeoutSeconds": "1",
        }
    )
    fs = ArrowLogFileSystem(_MockFileSystem())
    ac = AdmissionController(o, "bucket/ckpt", meta_fs=fs)
    ac.queue_client.send_file_event("/data/f1.csv", 1000)
    assert ac.fetch_max_offset() == 0
    ac.close()

    # driver relaunch "on a new node": nothing local survives, only the
    # (mock) object store — offset and dedup state must both recover
    ac2 = AdmissionController(o, "bucket/ckpt", meta_fs=fs)
    assert ac2.current_offset == 0
    ac2.queue_client.send_file_event("/data/f1.csv", 1000)
    assert ac2.fetch_max_offset() == 0  # duplicate screened via store
    ac2.close()


def test_delete_dir_recursive_and_missing_ok(fsroot):
    fs, root = fsroot
    d = fs.join(root, "tree")
    sub = fs.join(d, "a", "b")
    fs.mkdirs(sub)
    fs.write_atomic(fs.join(sub, "f.txt"), "x", overwrite=True)
    fs.delete_dir(d)
    assert fs.listdir(d) == []
    assert not fs.exists(fs.join(sub, "f.txt"))
    fs.delete_dir(d)  # idempotent: missing tree is not an error
