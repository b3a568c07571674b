"""The file helpers every ``streaming/`` analytics state plane uses.

Division of labour (same as ``operators/ann_index``):

- **Parquet data IO stays Spark's.** Paths are passed verbatim to
  ``spark.read.parquet`` / ``df.write.parquet`` — scheme handling on
  the data plane is Hadoop's (``s3a://`` etc.), exactly where a
  1000-executor cluster needs it.
- **Metadata IO goes through here**: the ``_latest`` pointers, the
  ``batch=<id>`` / ``v=<n>`` dir listings, write-once schema and
  threshold sidecars, and GC deletes. Each helper resolves its path
  with ``state/log_fs.filesystem_for``, the package's one resolver
  (the analog of the reference's RocksDB-to-DFS checkpoint,
  RocksDBFileManager.scala:157-312): local, ``file://``, ``s3a://``,
  anything pyarrow.fs understands, or a scheme registered with
  ``log_fs.register_scheme``, with one client per ``scheme://authority``.

Tests route a fake scheme with ``log_fs.register_scheme`` (e.g.
``mock://`` → a pyarrow ``_MockFileSystem``-backed ``LogFileSystem``).
Full plane lifecycles additionally run over ``file://`` URIs, which
Spark can read; the in-process mock it cannot.

Durability note (same contract as the metadata log): pointer flips are
tmp+rename on POSIX and a single PUT on object stores — atomic either
way; "write-once" sidecars degrade to check-then-put under the
single-writer discipline Structured Streaming already enforces (one
driver owns a checkpoint/state root).
"""

from __future__ import annotations

import posixpath
from typing import Optional

from spark_streaming_sql_s3_connector_spark.state.log_fs import filesystem_for


# --- pointers -------------------------------------------------------------

_POINTER_NAME = "_latest"


def pointer_path(state_dir: str) -> str:
    return state_dir.rstrip("/") + "/" + _POINTER_NAME


def read_pointer(state_dir: str) -> Optional[int]:
    """The plane's committed base version, or None before the first
    fold. Unparsable content reads as None (a torn POSIX write can't
    happen — writes are atomic — but an operator's stray file must not
    wedge the plane)."""
    fs, p = filesystem_for(pointer_path(state_dir))
    try:
        return int(fs.read_text(p).strip())
    except (FileNotFoundError, ValueError):
        return None


def write_pointer(state_dir: str, version: int) -> None:
    """Atomically flip the plane's base pointer (tmp+rename / single
    PUT). The flip IS the commit point of every fold."""
    fs, p = filesystem_for(pointer_path(state_dir))
    fs.mkdirs(posixpath.dirname(p))
    fs.write_atomic(p, str(int(version)), overwrite=True)


# --- listings -------------------------------------------------------------


def _listdir_tolerant(fs, p: str) -> list[str]:
    """A listing root that turns out to be a plain FILE (an operator's
    stray artifact) reads as empty, matching the pre-r12 isdir guard —
    a stray file must not wedge every compactor (same discipline as
    read_pointer's garbage tolerance)."""
    try:
        return fs.listdir(p)
    except NotADirectoryError:
        return []


def list_batch_ids(root: str, prefix: str = "batch=") -> list[int]:
    """Sorted integer ids of the ``<prefix><id>`` dirs directly under
    ``root`` (unparsable names tolerated and skipped; missing root reads
    as empty) — THE shared delta-dir listing parser."""
    fs, p = filesystem_for(root)
    out = []
    for e in _listdir_tolerant(fs, p):
        if e.startswith(prefix):
            try:
                out.append(int(e.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def list_versions(base_root: str) -> list[int]:
    """Sorted versions of the ``v=<n>`` dirs under ``base_root`` — the
    superseded-base GC listing every compactor runs."""
    return list_batch_ids(base_root, prefix="v=")


def list_names(path: str) -> list[str]:
    """Raw base names under ``path``; [] when missing (or a stray
    plain file — see ``_listdir_tolerant``)."""
    fs, p = filesystem_for(path)
    return _listdir_tolerant(fs, p)


def list_names_info(path: str) -> list[tuple[str, bool]]:
    """(base name, is_dir) pairs under ``path``; [] when missing — ONE
    store round trip where ``list_names`` + per-entry :func:`is_dir`
    would pay N+1 (the vacuum walk's shape)."""
    fs, p = filesystem_for(path)
    try:
        return fs.listdir_info(p)
    except NotADirectoryError:
        return []


def exists(path: str) -> bool:
    fs, p = filesystem_for(path)
    return fs.exists(p)


def is_dir(path: str) -> bool:
    fs, p = filesystem_for(path)
    return fs.is_dir(p)


# --- sidecar files (schemas, geometry, thresholds) -------------------------


def read_text(path: str) -> str:
    """Raises FileNotFoundError when missing (a POSIX path whose parent
    component is a plain file — NotADirectoryError — normalizes to
    missing too: the sidecar genuinely isn't there)."""
    fs, p = filesystem_for(path)
    try:
        return fs.read_text(p)
    except NotADirectoryError:
        raise FileNotFoundError(path)


def write_text_atomic(path: str, data: str, overwrite: bool = True) -> bool:
    """All-or-nothing text write, parent dirs created. With
    ``overwrite=False``: write-once semantics (an existing file wins,
    returns False)."""
    fs, p = filesystem_for(path)
    fs.mkdirs(posixpath.dirname(p))
    return fs.write_atomic(p, data, overwrite=overwrite)


# --- GC ---------------------------------------------------------------------


def remove_tree(path: str) -> None:
    """Recursive delete; missing is a no-op. Used ONLY on dirs that are
    already dead to every reader (below a flipped pointer), so the call
    is pure GC — any moment, any outcome, still correct."""
    fs, p = filesystem_for(path)
    fs.delete_dir(p)


def remove_file(path: str) -> None:
    fs, p = filesystem_for(path)
    fs.delete(p)


def makedirs(path: str) -> None:
    fs, p = filesystem_for(path)
    fs.mkdirs(p)
