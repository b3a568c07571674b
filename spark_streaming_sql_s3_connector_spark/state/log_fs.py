"""The package's file layer: one resolver from a path to its filesystem.

The reference checkpoints its state plane to DFS: RocksDBFileManager.scala
:157-312 uploads SSTs + ``<v>.zip`` to the checkpoint dir resolved from
``metadataPath`` (S3ConnectorSource.scala:53-59), so a driver relaunch on a
new node recovers admission state from ``s3a://…``/``hdfs://…``. The JSON
log needs the same property; this module abstracts the five file
operations the log performs (mkdirs / exists / list / read / atomic-write
/ delete) behind :class:`LogFileSystem` with two implementations:

- :class:`PosixLogFileSystem` — local paths; atomic exclusive create via
  tmp + fsync + ``os.link`` (fails if the target appeared concurrently),
  atomic overwrite via tmp + ``os.replace``. Byte-identical behavior to
  the pre-abstraction log.
- :class:`ArrowLogFileSystem` — any ``pyarrow.fs`` filesystem
  (S3/GCS/Azure/HDFS, and ``_MockFileSystem`` in tests). Object stores
  have no rename, so "atomic overwrite" is a single PUT (atomic on S3)
  and "exclusive create" is check-then-put under the log's driver-side
  lock. That is the SAME weakening Spark's own CheckpointFileManager
  accepts on rename-less stores (``FileSystemBasedCheckpointFileManager``
  docs: correctness requires the single-writer discipline the streaming
  engine already enforces — one driver owns a checkpoint dir).

``filesystem_for(path)`` is the package's one path → filesystem
resolver: the metadata log, the reprocess lock, the ANN index, every
``streaming/`` state plane (through ``streaming/state_io``) and the
executor read path (``sources/file_read.resolve_read_path``) all ask it.
A path may be local, ``file://…``, ``s3a://``/``s3n://`` (read as
``s3://``), or any ``scheme://…`` pyarrow.fs understands; clients are
cached per ``scheme://authority``. ``register_scheme`` routes a scheme
to a given filesystem (tests: the pyarrow mock), and
``_pyarrow_from_uri`` is the one seam where clients are built.
"""

from __future__ import annotations

import os
import tempfile
from typing import Protocol, Tuple


class LogFileSystem(Protocol):
    """The file operations JsonMetadataLog needs — nothing more."""

    def join(self, *parts: str) -> str: ...

    def mkdirs(self, path: str) -> None: ...

    def exists(self, path: str) -> bool: ...

    def is_dir(self, path: str) -> bool:
        """True iff ``path`` exists and is a directory (on object stores:
        a prefix with content, which is how pyarrow models S3 dirs)."""
        ...

    def listdir(self, path: str) -> list[str]:
        """Base names of entries under ``path``; [] if it doesn't exist."""
        ...

    def listdir_info(self, path: str) -> list[tuple[str, bool]]:
        """(base name, is_dir) pairs under ``path``; [] if it doesn't
        exist. One round trip on object stores — callers that would
        otherwise listdir + per-entry is_dir (N+1 requests) use this."""
        ...

    def read_text(self, path: str) -> str:
        """Raises FileNotFoundError if missing."""
        ...

    def write_atomic(self, path: str, data: str, overwrite: bool) -> bool:
        """Persist ``data`` at ``path`` all-or-nothing. With
        ``overwrite=False`` this is an exclusive create: returns False
        (writing nothing) if the target already exists."""
        ...

    def write_bytes_atomic(self, path: str, data: bytes, overwrite: bool) -> bool:
        """Binary twin of :meth:`write_atomic`, which encodes its text
        and writes through it."""
        ...

    def delete(self, path: str) -> None:
        """Remove a file; missing is not an error."""
        ...

    def delete_dir(self, path: str) -> None:
        """Remove a directory tree recursively; missing is not an error.
        Other failures propagate (a half-wiped state dir must surface,
        not read back as partially present)."""
        ...

    def acquire_lease(self, path: str, token: str) -> bool:
        """Exclusive-create ``path`` holding ``token`` and return whether
        THIS caller won. Unlike ``write_atomic(overwrite=False)``, losing
        a race is detected even on rename-less object stores: the token
        is read back after the put and the caller wins only if its own
        token survived (validate-after-write lease)."""
        ...


class PosixLogFileSystem:
    """Local-POSIX implementation — the original log semantics."""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except FileNotFoundError:
            return []

    def listdir_info(self, path: str) -> list[tuple[str, bool]]:
        try:
            with os.scandir(path) as it:
                return [(e.name, e.is_dir()) for e in it]
        except FileNotFoundError:
            return []

    def read_text(self, path: str) -> str:
        with open(path, "r") as f:
            return f.read()

    def write_atomic(self, path: str, data: str, overwrite: bool) -> bool:
        return self.write_bytes_atomic(path, data.encode("utf-8"), overwrite)

    def write_bytes_atomic(self, path: str, data: bytes, overwrite: bool) -> bool:
        parent = os.path.dirname(path)
        fd, tmp = tempfile.mkstemp(
            dir=parent, prefix="." + os.path.basename(path) + "-", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            if overwrite:
                os.replace(tmp, path)
                return True
            try:
                # atomic, fails if target appeared concurrently (POSIX
                # link semantics; the log also holds its driver lock)
                os.link(tmp, path)
                return True
            except FileExistsError:
                return False
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def delete_dir(self, path: str) -> None:
        import shutil

        try:
            shutil.rmtree(path)
        except FileNotFoundError:
            pass

    def acquire_lease(self, path: str, token: str) -> bool:
        # os.link-based exclusive create is already a true CAS on POSIX.
        return self.write_atomic(path, token, overwrite=False)


class ArrowLogFileSystem:
    """Any ``pyarrow.fs.FileSystem`` — S3/GCS/HDFS/mock.

    Exclusive create degrades to check-then-put under the log's lock
    (single-writer checkpoint contract, see module docstring); overwrite
    is a plain PUT, which object stores apply atomically.
    """

    def __init__(self, fs) -> None:
        self.arrow_fs = fs

    def join(self, *parts: str) -> str:
        return "/".join(p.strip("/") if i else p.rstrip("/") for i, p in enumerate(parts))

    def mkdirs(self, path: str) -> None:
        self.arrow_fs.create_dir(path, recursive=True)

    def exists(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self.arrow_fs.get_file_info(path).type != FileType.NotFound

    def is_dir(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self.arrow_fs.get_file_info(path).type == FileType.Directory

    def listdir(self, path: str) -> list[str]:
        from pyarrow.fs import FileSelector

        # Only a genuine not-found means "no entries". Transient store
        # errors (throttle/5xx surface as generic OSError from pyarrow)
        # MUST propagate: during _recover an empty listing would silently
        # restart admission state from scratch and re-admit seen files.
        try:
            infos = self.arrow_fs.get_file_info(
                FileSelector(path, allow_not_found=True, recursive=False)
            )
        except FileNotFoundError:
            return []
        return [i.base_name for i in infos]

    def listdir_info(self, path: str) -> list[tuple[str, bool]]:
        from pyarrow.fs import FileSelector, FileType

        try:
            infos = self.arrow_fs.get_file_info(
                FileSelector(path, allow_not_found=True, recursive=False)
            )
        except FileNotFoundError:
            return []
        return [(i.base_name, i.type == FileType.Directory) for i in infos]

    def read_text(self, path: str) -> str:
        # pyarrow raises FileNotFoundError for missing objects; any other
        # OSError is a real I/O failure and must fail loudly rather than
        # masquerade as missing state (see listdir note).
        with self.arrow_fs.open_input_stream(path) as f:
            return f.read().decode("utf-8")

    def write_atomic(self, path: str, data: str, overwrite: bool) -> bool:
        return self.write_bytes_atomic(path, data.encode("utf-8"), overwrite)

    def write_bytes_atomic(self, path: str, data: bytes, overwrite: bool) -> bool:
        if not overwrite and self.exists(path):
            return False
        with self.arrow_fs.open_output_stream(path) as f:
            f.write(data)
        return True

    def acquire_lease(self, path: str, token: str) -> bool:
        """Check-then-put hardened with validate-after-write: two racing
        writers both pass the exists check, both PUT their unique token,
        then each reads the object back — last-writer-wins on the store
        means at most the final writer sees its own token, so at most one
        caller proceeds. (A writer whose read lands before the rival's
        PUT can still false-win — the residual window of a store without
        conditional PUTs — but it is the read-back RTT, not the whole
        check..put span as before.)"""
        if self.exists(path):
            return False
        with self.arrow_fs.open_output_stream(path) as f:
            f.write(token.encode("utf-8"))
        try:
            return self.read_text(path) == token
        except FileNotFoundError:
            return False

    def delete(self, path: str) -> None:
        # Swallow only not-found; a failed delete on a live object must
        # surface (a silently-undeleted lock/batch doc breaks replay).
        try:
            self.arrow_fs.delete_file(path)
        except FileNotFoundError:
            pass

    def delete_dir(self, path: str) -> None:
        try:
            self.arrow_fs.delete_dir(path)
        except FileNotFoundError:
            pass


_POSIX = PosixLogFileSystem()

# test seam: scheme -> LogFileSystem for that scheme's paths, which it
# receives with "<scheme>://" stripped (pyarrow's from_uri contract)
_SCHEME_OVERRIDES: dict[str, LogFileSystem] = {}

# (scheme, authority) -> (seam that built it, fs, resolved authority
# root). from_uri builds a new client per call (for S3 that includes a
# region lookup), while the fs depends only on scheme + authority.
# Entries pin their seam so a test that swaps it never gets a stale fs.
_FS_CACHE: dict[tuple[str, str], tuple] = {}


def register_scheme(scheme: str, fs: LogFileSystem) -> None:
    """Route ``<scheme>://…`` paths through ``fs`` (tests: the pyarrow
    mock filesystem)."""
    _SCHEME_OVERRIDES[scheme] = fs


def unregister_scheme(scheme: str) -> None:
    _SCHEME_OVERRIDES.pop(scheme, None)


def filesystem_for(path: str) -> Tuple[LogFileSystem, str]:
    """Resolve ``path`` to (filesystem, fs-native path): bare paths and
    ``file://`` URIs to the POSIX impl, a registered scheme to its
    filesystem, any other scheme to a pyarrow.fs client (s3://, hdfs://,
    gs://, …) built once per ``scheme://authority``. ``s3a://`` and
    ``s3n://``, the Hadoop spellings Spark and S3 event notifications
    use, are ``s3://``."""
    if "://" not in path:
        return _POSIX, path
    scheme, rest = path.split("://", 1)
    if scheme == "file":
        return _POSIX, rest
    if scheme in ("s3a", "s3n"):
        scheme = "s3"
    if scheme in _SCHEME_OVERRIDES:
        return _SCHEME_OVERRIDES[scheme], rest
    authority, _, tail = rest.partition("/")
    cached = _FS_CACHE.get((scheme, authority))
    if cached is None or cached[0] is not _pyarrow_from_uri:
        fs, root = _pyarrow_from_uri(f"{scheme}://{authority}")
        cached = (_pyarrow_from_uri, ArrowLogFileSystem(fs), root)
        _FS_CACHE[(scheme, authority)] = cached
    _, fs, root = cached
    return fs, (root.rstrip("/") + "/" + tail) if tail else root


def _pyarrow_from_uri(path: str):
    """Module-level seam (pyarrow's C classes can't be monkeypatched)."""
    from pyarrow.fs import FileSystem

    return FileSystem.from_uri(path)
