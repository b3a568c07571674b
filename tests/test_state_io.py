"""The streaming planes' shared file layer (`streaming/state_io.py`),
parametrized over the POSIX impl and the pyarrow mock object store —
the `test_metadata_log.py` pattern applied to the layer every plane's
pointer / listing / sidecar / GC IO now routes through (r12; reference
analog: the connector state's DFS-durable checkpointing,
RocksDBFileManager.scala:157-312)."""

import pytest

from spark_streaming_sql_s3_connector_spark.state import log_fs
from spark_streaming_sql_s3_connector_spark.streaming import state_io


@pytest.fixture(params=["posix", "arrow-mock"])
def root(request, tmp_path):
    """A state-root path whose scheme routes to either the POSIX layer
    or a registered mock object store. Yields the path PREFIX tests
    build plane paths under."""
    if request.param == "posix":
        yield str(tmp_path / "state")
    else:
        from pyarrow.fs import _MockFileSystem

        from spark_streaming_sql_s3_connector_spark.state.log_fs import (
            ArrowLogFileSystem,
        )

        fs = ArrowLogFileSystem(_MockFileSystem())
        log_fs.register_scheme("mock", fs)
        try:
            fs.mkdirs("state")
            yield "mock://state"
        finally:
            log_fs.unregister_scheme("mock")


def test_pointer_roundtrip_and_flip(root):
    d = root + "/plane"
    state_io.makedirs(d)
    assert state_io.read_pointer(d) is None
    state_io.write_pointer(d, 3)
    assert state_io.read_pointer(d) == 3
    state_io.write_pointer(d, 7)  # overwrite = atomic flip
    assert state_io.read_pointer(d) == 7


def test_pointer_garbage_reads_as_none(root):
    d = root + "/plane"
    state_io.write_text_atomic(state_io.pointer_path(d), "not-a-number")
    assert state_io.read_pointer(d) is None


def test_list_batch_ids_skips_junk_and_missing(root):
    d = root + "/deltas"
    assert state_io.list_batch_ids(d) == []  # missing root
    for name in ("batch=3", "batch=11", "batch=junk", "_schema", "other"):
        state_io.makedirs(d + "/" + name)
    assert state_io.list_batch_ids(d) == [3, 11]


def test_list_versions(root):
    d = root + "/base"
    for name in ("v=2", "v=10", "v=x", "_latest_dir"):
        state_io.makedirs(d + "/" + name)
    assert state_io.list_versions(d) == [2, 10]


def test_write_once_semantics(root):
    p = root + "/plane/_schema.json"
    assert state_io.write_text_atomic(p, "first", overwrite=False) is True
    assert state_io.write_text_atomic(p, "second", overwrite=False) is False
    assert state_io.read_text(p) == "first"


def test_read_missing_raises(root):
    with pytest.raises(FileNotFoundError):
        state_io.read_text(root + "/nope.json")


def test_remove_tree_missing_is_noop(root):
    state_io.remove_tree(root + "/never/existed")  # must not raise


def test_remove_tree_gc(root):
    d = root + "/deltas/batch=4"
    state_io.write_text_atomic(d + "/part-0", "rows")
    assert state_io.list_batch_ids(root + "/deltas") == [4]
    state_io.remove_tree(d)
    assert state_io.list_batch_ids(root + "/deltas") == []


def test_is_dir_and_exists(root):
    d = root + "/plane"
    f = d + "/_latest"
    assert not state_io.exists(d)
    state_io.write_text_atomic(f, "1")
    assert state_io.exists(f)
    assert state_io.is_dir(d)
    assert not state_io.is_dir(f)


def test_remove_file_missing_is_noop(root):
    state_io.remove_file(root + "/plane/_latest")  # must not raise


def test_listing_tolerates_stray_file_at_root(root):
    # a plain FILE where a listing root is expected (operator stray
    # artifact) reads as empty — the pre-r12 isdir-guard behavior
    state_io.write_text_atomic(root + "/plane/_deltas", "oops")
    assert state_io.list_batch_ids(root + "/plane/_deltas") == []
    assert state_io.list_names(root + "/plane/_deltas") == []
    assert state_io.list_names_info(root + "/plane/_deltas") == []


def test_file_uri_routes_to_posix(tmp_path):
    d = "file://" + str(tmp_path / "plane")
    state_io.write_pointer(d, 9)
    # the same state read back WITHOUT the scheme — one on-disk layout
    assert state_io.read_pointer(str(tmp_path / "plane")) == 9


def test_s3a_alias_resolves_like_s3(monkeypatch):
    """s3a:// (the Hadoop/Spark spelling) must reach pyarrow as s3://."""
    seen = {}

    def fake_from_uri(path):
        seen["path"] = path

        class _Fake:
            pass

        return _Fake(), path.split("://", 1)[1]

    # a new seam never reuses a client cached by an earlier one
    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", fake_from_uri)
    fs, resolved = log_fs.filesystem_for("s3a://bucket/state/plane")
    # the cached construction resolves the authority root once
    assert seen["path"] == "s3://bucket"
    assert resolved == "bucket/state/plane"


def test_resolve_caches_fs_per_authority(monkeypatch):
    """One pyarrow FileSystem construction per (scheme, authority) —
    for S3 each from_uri pays region-resolution RTTs, and the planes
    resolve several paths per trigger."""
    calls = []

    def fake_from_uri(path):
        calls.append(path)

        class _Fake:
            pass

        # mirror pyarrow: s3://bucket → resolved "bucket"
        return _Fake(), path.split("://", 1)[1]

    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", fake_from_uri)
    fs1, p1 = log_fs.filesystem_for("s3://bucket/state/plane/_latest")
    fs2, p2 = log_fs.filesystem_for("s3://bucket/state/other/_deltas")
    fs3, p3 = log_fs.filesystem_for("s3://bucket2/x")
    assert p1 == "bucket/state/plane/_latest"
    assert p2 == "bucket/state/other/_deltas"
    assert p3 == "bucket2/x"
    assert fs1.arrow_fs is fs2.arrow_fs and fs1.arrow_fs is not fs3.arrow_fs
    assert len(calls) == 2  # one per authority, not per path


def test_list_names_info_pairs(root):
    d = root + "/plane"
    state_io.write_text_atomic(d + "/_latest", "3")
    state_io.makedirs(d + "/_deltas/batch=4")
    got = dict(state_io.list_names_info(d))
    assert got["_latest"] is False
    assert got["_deltas"] is True


def test_vacuum_walk_discovers_planes_on_mock_store():
    """The maintenance walk's DISCOVERY runs against a registered mock
    object store with one listing per directory (the r12 listdir_info
    path) — a plane is found by its ``_plane.json`` alone, with no
    Spark reads, so this exercises the walk end-to-end off POSIX. A
    declared root is not descended into: the lifecycle's own index
    declaration stays inside it."""
    from pyarrow.fs import _MockFileSystem

    from spark_streaming_sql_s3_connector_spark.state.log_fs import (
        ArrowLogFileSystem,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import declare
    from spark_streaming_sql_s3_connector_spark.streaming.vacuum import walk_planes

    fs = ArrowLogFileSystem(_MockFileSystem())
    log_fs.register_scheme("mockwalk", fs)
    try:
        for p in (
            "root/pipeline/bm25/terms",
            "root/pipeline/screen/_new/batch=0",
            "root/pipeline/undeclared/_new/batch=0",
            "root/life/vectors",
        ):
            fs.mkdirs(p)
        for p, kind in (
            ("pipeline/bm25", "term_stats"),
            ("pipeline/screen", "key_screen"),
            ("pipeline/bands", "minhash_bands"),
            ("life", "ann_lifecycle"),
            ("life/index", "ann_index"),
        ):
            declare(f"mockwalk://root/{p}", kind)
        found = dict(walk_planes("mockwalk://root"))
        assert found == {
            "mockwalk://root/pipeline/bm25": "term_stats",
            "mockwalk://root/pipeline/screen": "key_screen",
            "mockwalk://root/pipeline/bands": "minhash_bands",
            "mockwalk://root/life": "ann_lifecycle",
        }
    finally:
        log_fs.unregister_scheme("mockwalk")
