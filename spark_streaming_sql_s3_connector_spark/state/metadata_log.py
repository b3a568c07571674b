"""Exactly-once metadata log: batchId → [FileEntry], plus a seen-files index.

Replaces the reference's ~1,600-LoC RocksDB state store
(RocksDBS3SourceLog.scala + org.apache.spark.sql.streaming.connector.s3.*)
with the HDFSMetadataLog pattern Spark's own FileStreamSource uses, per
SURVEY.md §7.1: one JSON file per batch under ``<dir>/batches/``, written
atomically (tmp + rename, exclusive create detects duplicate batch ids).
The batch files are the log's only on-disk state: the seen-files index
(path → max logged ts) lives in memory, is rebuilt from the retained
batches at startup, and is kept current by ``add`` and the GC. Every
``add`` is durable when it returns, so there is nothing to flush or close.

Behavioral parity with RocksDBS3SourceLog:
- ``add`` returns False on duplicate batchId (scala:191-255);
- ``get_range`` raises on holes (scala:345-360);
- ``is_new_file`` re-admits files whose logged ts < purge horizon (scala:295-314);
- bounded GC: ≤ MAX_BATCH_TO_REMOVE_PER_ADD batches cleaned per add, a batch
  is only removed when batch ts AND max file ts are below the horizon
  (scala:416-460, 489); a removed batch's paths leave the seen index.

The log's file ops go through ``state.log_fs.LogFileSystem``, so the log
dir may live on a local disk OR any ``pyarrow.fs`` store (``s3://``,
``hdfs://``) — the analog of the reference checkpointing RocksDB state to
DFS (RocksDBFileManager.scala:157-312): a driver relaunch on a new node
recovers admission state from the object store.
"""

from __future__ import annotations

import json
import time
import threading
from typing import Callable, Optional

from spark_streaming_sql_s3_connector_spark.models import FileEntry
from spark_streaming_sql_s3_connector_spark.state.log_fs import (
    LogFileSystem,
    filesystem_for,
)

MAX_BATCH_TO_REMOVE_PER_ADD = 20
VERSION = 1


def _gc_key(batch_ts: int, file_ts) -> int:
    """The horizon a batch must fall below to be collected: its batch ts
    and every file ts (an empty batch counts its files at 0)."""
    return max(batch_ts, max(file_ts, default=0))


class MetadataLogHoleError(RuntimeError):
    """Missing batch inside a requested range (RocksDBS3SourceLog.scala:352-356)."""


class JsonMetadataLog:
    def __init__(
        self,
        log_dir: str,
        purge_timestamp_provider: Optional[Callable[[], int]] = None,
        fs: Optional[LogFileSystem] = None,
    ):
        """``log_dir`` may be a local path, ``file://…``, or any
        ``pyarrow.fs`` URI (``s3://…``, ``hdfs://…``) — the reference's
        DFS-checkpoint contract (RocksDBFileManager.scala:157-312,
        metadataPath init S3ConnectorSource.scala:53-59). Pass ``fs``
        explicitly to inject a filesystem (tests use the pyarrow mock
        FS as the object-store stand-in)."""
        self._fs, self._dir = (fs, log_dir) if fs is not None else filesystem_for(log_dir)
        self._batches_dir = self._fs.join(self._dir, "batches")
        self._fs.mkdirs(self._batches_dir)
        self._purge_ts = purge_timestamp_provider or (lambda: 0)
        self._lock = threading.RLock()
        # add latency distribution (reference: RocksDB.scala:334-381
        # records get/put/commit histograms; here the JSON log records its
        # own write-path timing)
        from spark_streaming_sql_s3_connector_spark.queueing.base import LatencyHistogram

        self.histograms = {"add_ms": LatencyHistogram()}
        # path -> max logged timestamp over the retained batches
        self._seen: dict[str, int] = {}
        # batchId -> GC key: max(batch ts, max file ts). A batch is
        # collectable once its key is below the horizon, so the bounded GC
        # reads a batch file only to delete it.
        self._gc_ts: dict[int, int] = {}
        self._recover()

    # ---------- recovery ----------

    def _batch_path(self, batch_id: int) -> str:
        return self._fs.join(self._batches_dir, f"{batch_id}.json")

    def _track(self, path: str, ts: int) -> None:
        self._seen[path] = max(ts, self._seen.get(path, ts))

    def _recover(self) -> None:
        for name in self._fs.listdir(self._batches_dir):
            if not name.endswith(".json"):
                continue
            try:
                batch_id = int(name[: -len(".json")])
            except ValueError:
                continue
            doc = self._read_batch_doc(batch_id)
            if doc is None:
                continue
            self._gc_ts[batch_id] = _gc_key(
                doc["timestamp"], (int(e["timestamp"]) for e in doc["entries"])
            )
            for e in doc["entries"]:
                self._track(e["path"], int(e["timestamp"]))

    def _read_batch_doc(self, batch_id: int) -> Optional[dict]:
        try:
            return json.loads(self._fs.read_text(self._batch_path(batch_id)))
        except FileNotFoundError:
            return None

    # ---------- write path ----------

    def add(
        self,
        batch_id: int,
        file_entries: list[FileEntry],
        timestamp: Optional[int] = None,
    ) -> bool:
        """Atomically persist a batch. False if batchId already stored."""
        if batch_id < 0:
            raise ValueError("batchId must not less than 0")
        for e in file_entries:
            if e.batch_id != batch_id:
                raise ValueError(f"{e} batchId doesn't equal to {batch_id}")
        from spark_streaming_sql_s3_connector_spark.queueing.base import timed

        with timed(self.histograms["add_ms"]), self._lock:
            # Clean before add so the latest batch is never removed
            self._clean_log(self._purge_ts())
            target = self._batch_path(batch_id)
            if self._fs.exists(target):
                return False
            ts = timestamp if timestamp is not None else int(time.time() * 1000)
            doc = {
                "v": VERSION,
                "batchId": batch_id,
                "timestamp": ts,
                "entries": [e.to_dict() for e in file_entries],
            }
            # exclusive create: POSIX uses tmp+fsync+link (fails if the
            # target appeared concurrently); object stores check-then-put
            # under this lock (single-writer checkpoint contract)
            if not self._fs.write_atomic(target, json.dumps(doc), overwrite=False):
                return False
            self._gc_ts[batch_id] = _gc_key(ts, (e.timestamp for e in file_entries))
            for e in file_entries:
                self._track(e.path, e.timestamp)
            return True

    def _clean_log(self, last_purge_timestamp: int) -> int:
        """Bounded GC (RocksDBS3SourceLog.scala:416-460): remove at most
        MAX_BATCH_TO_REMOVE_PER_ADD batches whose batch timestamp AND max
        file timestamp are both below the horizon."""
        removed = 0
        for batch_id in sorted(self._gc_ts):
            if removed >= MAX_BATCH_TO_REMOVE_PER_ADD:
                break
            if self._gc_ts[batch_id] >= last_purge_timestamp:
                continue
            doc = self._read_batch_doc(batch_id)
            self._gc_ts.pop(batch_id)
            if doc is None:
                continue
            self._fs.delete(self._batch_path(batch_id))
            for e in doc["entries"]:
                # drop from seen index only if not re-logged with a newer ts
                if self._seen.get(e["path"], 0) <= int(e["timestamp"]):
                    self._seen.pop(e["path"], None)
            removed += 1
        return removed

    # ---------- read path ----------

    def get(self, batch_id: int) -> Optional[list[FileEntry]]:
        doc = self._read_batch_doc(batch_id)
        if doc is None:
            return None
        return [FileEntry.from_dict(d) for d in doc["entries"]]

    def get_range(self, start_batch_id: int, end_batch_id: int) -> list[FileEntry]:
        """Entries of [start, end]; raises MetadataLogHoleError on a missing
        batch (RocksDBS3SourceLog.scala:345-360)."""
        out: list[FileEntry] = []
        for bid in range(start_batch_id, end_batch_id + 1):
            entries = self.get(bid)
            if entries is None:
                raise MetadataLogHoleError(
                    f"batch {bid} doesn't exist in range [{start_batch_id}, {end_batch_id}]"
                )
            out.extend(entries)
        return out

    def get_latest_batch_id(self) -> Optional[int]:
        with self._lock:
            return max(self._gc_ts) if self._gc_ts else None

    def get_latest(self) -> Optional[tuple[int, list[FileEntry]]]:
        bid = self.get_latest_batch_id()
        if bid is None:
            return None
        entries = self.get(bid)
        return (bid, entries if entries is not None else [])

    def get_file(self, path: str) -> Optional[int]:
        with self._lock:
            return self._seen.get(path)

    def files(self) -> dict[str, int]:
        """Every tracked path → its max logged timestamp (a copy)."""
        with self._lock:
            return dict(self._seen)

    def is_new_file(self, path: str, last_purge_timestamp: int) -> bool:
        """New if never logged, or logged with ts older than the purge
        horizon (expired → re-admittable; RocksDBS3SourceLog.scala:295-314)."""
        ts = self.get_file(path)
        if ts is None:
            return True
        return ts < last_purge_timestamp
