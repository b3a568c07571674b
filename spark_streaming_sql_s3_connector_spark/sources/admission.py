"""Admission controller: the exactly-once core of the connector.

Composes cache + metadata log + validator + queue client with the same
control flow as the reference's S3ConnectorSource (S3ConnectorSource.scala):

- consumer decision tree (scala:77-100): Ok → add-if-absent, CAS-race loses
  → visibility-retry (never delete — the exactly-once invariant); cached-
  but-unprocessed → visibility-retry; anything else → delete-if-necessary;
- fetch_max_offset (scala:193-246): drain queue (skipped while
  reprocessing), cut ≤ maxFilesPerTrigger unprocessed files, persist the
  batch in the log, only THEN mark processed and ack messages — message
  deletion strictly downstream of durable logging;
- reprocess (scala:112-154): dry-run lists and aborts; in-action takes a
  lock file and reloads logged entries into the cache as unprocessed;
- purge on construction, after every offset fetch, and on commit.

All of this is driver-side and O(in-flight files); the data plane
(executor file reads) lives in sources/file_read.py.
"""

from __future__ import annotations

import threading
import uuid
from typing import Optional

from spark_streaming_sql_s3_connector_spark.models import FileEntry, FileMetadata, QueueMessageDesc
from spark_streaming_sql_s3_connector_spark.options import ReprocessState, S3ConnectorSourceOptions
from spark_streaming_sql_s3_connector_spark.queueing.base import QueueClient
from spark_streaming_sql_s3_connector_spark.queueing.factory import create_queue_client
from spark_streaming_sql_s3_connector_spark.state.file_cache import FileCache
from spark_streaming_sql_s3_connector_spark.state.log_fs import filesystem_for
from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog
from spark_streaming_sql_s3_connector_spark.state.validator import FileValidator, FileValidResult, glob_matches

REPROCESS_LOCK_FILE = "reprocess.lock"


class MetalogAddError(RuntimeError):
    """Duplicate batchId on add (reference S3ConnectorMetalogAddException)."""


class ReprocessDryRunComplete(RuntimeError):
    """Dry-run listed the files and aborts the query
    (reference S3ConnectorReprocessDryRunException)."""


class ReprocessLockExistsError(RuntimeError):
    """reprocess.lock already present
    (reference S3ConnectorReprocessLockExistsException)."""


class AdmissionController:
    def __init__(
        self,
        options: S3ConnectorSourceOptions,
        metadata_path: str,
        queue_client: Optional[QueueClient] = None,
        meta_fs=None,
    ):
        self.options = options
        self.metadata_path = metadata_path
        # metadataPath may be local OR an object-store URI (s3://, hdfs://)
        # — the reference checkpoints admission state to DFS
        # (S3ConnectorSource.scala:53-59). It resolves through
        # `filesystem_for`, like every state plane (registered test
        # schemes included). meta_fs injects a filesystem directly
        # (tests: pyarrow mock FS).
        if meta_fs is not None:
            self._meta_fs, self._meta_root = meta_fs, metadata_path
        else:
            self._meta_fs, self._meta_root = filesystem_for(metadata_path)
        self._meta_fs.mkdirs(self._meta_root)
        self.file_cache = FileCache(options.max_file_age_ms)
        self.metadata_log = JsonMetadataLog(
            self._meta_fs.join(self._meta_root, "s3conn-log"),
            purge_timestamp_provider=lambda: self.file_cache.last_purge_timestamp,
            fs=self._meta_fs,
        )
        latest = self.metadata_log.get_latest_batch_id()
        self.current_offset = latest if latest is not None else -1
        # snapshot for initialOffset(): Spark may call it lazily, AFTER the
        # first latestOffset() has already advanced current_offset
        self.initial_offset = self.current_offset
        self.validator = FileValidator(self.file_cache, self.metadata_log, options.path_glob_filter)
        self.queue_client = queue_client if queue_client is not None else create_queue_client(options)
        self._lock = threading.RLock()
        self._fetch_thread: Optional[threading.Thread] = None
        self._closed = False
        self.file_cache.purge()
        if options.reprocess_state != ReprocessState.NO_REPROCESS:
            self._handle_reprocessing(options.reprocess_start_batch_id, options.reprocess_end_batch_id)

    @property
    def meta_fs(self):
        """The LogFileSystem the metadata plane lives on — public so
        collaborators (orchestrator's processed-offset doc) share one
        scheme-dispatched filesystem instead of reaching into internals."""
        return self._meta_fs

    @property
    def meta_root(self) -> str:
        """Root path of the metadata plane on :attr:`meta_fs`."""
        return self._meta_root

    # ---------- consumer (queue → cache) ----------

    def consumer(self, msg: FileMetadata) -> bool:
        """Per-message admission (S3ConnectorSource.scala:77-100). Returns
        True iff the file was newly admitted to the cache (message is NOT
        deleted here — ack happens after the batch is durably logged)."""
        result = self.validator.is_valid_new_file(msg.file_path, msg.timestamp_ms)
        if result == FileValidResult.OK:
            desc = QueueMessageDesc(msg.timestamp_ms, False, msg.message_id)
            winner = self.file_cache.add_if_absent(msg.file_path, desc)
            if winner is not desc:
                # validator check and cache insert are not atomic; lost the
                # race → retry the message rather than risk losing it
                if msg.message_id is not None:
                    self.queue_client.set_message_visibility(
                        msg.message_id, self.options.sqs_visibility_timeout_seconds
                    )
                return False
            return True
        if result == FileValidResult.EXIST_IN_CACHE_NOT_PROCESSED:
            # not persisted yet but visibility expired: retry until persisted
            if msg.message_id is not None:
                self.queue_client.set_message_visibility(
                    msg.message_id, self.options.sqs_visibility_timeout_seconds
                )
            return False
        # expired / glob mismatch / already processed or persisted → delete
        # (unless keepMessageForConsumerError routes it to DLQ debugging)
        if msg.message_id is not None:
            if self.options.sqs_keep_message_for_consumer_error:
                self.queue_client.set_message_visibility(
                    msg.message_id, self.options.sqs_visibility_timeout_seconds
                )
            else:
                self.queue_client.delete_messages([msg.message_id])
        return False

    # ---------- reprocess ----------

    def _handle_reprocessing(self, start_id: int, end_id: int) -> None:
        if self.options.reprocess_state == ReprocessState.DRY_RUN:
            files = self.get_metadata_log_by_range(start_id, end_id)
            listing = "\n".join(f"{f.path}\t{f.timestamp}\t{f.batch_id}" for f in files)
            raise ReprocessDryRunComplete(
                f"Get {end_id - start_id + 1} batches, {len(files)} files. "
                f"Reprocess dry run completed.\n{listing}"
            )
        if self.options.reprocess_state == ReprocessState.IN_ACTION:
            lock_path = self._meta_fs.join(self._meta_root, REPROCESS_LOCK_FILE)
            # lease-token exclusive create: POSIX gets true O_EXCL; object
            # stores write a unique token and validate-after-read, so two
            # drivers racing on the same metadataPath resolve to one winner
            # (the one place the single-writer contract doesn't already hold)
            token = uuid.uuid4().hex
            if not self._meta_fs.acquire_lease(lock_path, token):
                raise ReprocessLockExistsError(
                    f"{lock_path} already exists. Remove it and rerun the reprocessing."
                )
            for f in self.get_metadata_log_by_range(start_id, end_id):
                self.file_cache.add(f.path, QueueMessageDesc(f.timestamp, False, None))

    # ---------- offsets ----------

    def _kick_async_fetch(self) -> threading.Thread:
        """Start (or reuse) the background queue drain — the reference's
        asyncFetch (S3ConnectorSource.scala:197-199, AsyncSqsClientImpl.
        scala:61-155): the fetch may outlive the trigger window and keep
        filling the cache; the next trigger reaps whatever accumulated."""
        t = self._fetch_thread
        if t is not None and t.is_alive():
            return t

        def run():
            try:
                self.queue_client.fetch(
                    self.consumer,
                    self.options.queue_fetch_wait_timeout_seconds,
                    self.options.max_files_per_trigger,
                )
            except Exception:
                self.queue_client.metrics.incr("fetch_thread_uncaught_exceptions")
                if not self._closed:  # shutdown races are expected noise
                    raise

        t = threading.Thread(target=run, daemon=True, name="s3conn-async-fetch")
        t.start()
        self._fetch_thread = t
        return t

    def fetch_max_offset(self) -> int:
        """One trigger's admission step; returns the (possibly unchanged)
        current offset. -1 means no batch yet."""
        with self._lock:
            if self.options.reprocess_state == ReprocessState.NO_REPROCESS:
                # wait up to the trigger's fetch budget, then cut the batch
                # from whatever is already admitted — a still-running fetch
                # continues in the background for the next trigger
                self._kick_async_fetch().join(
                    timeout=self.options.queue_fetch_wait_timeout_seconds
                )
            batch_files = self.file_cache.get_unprocessed_files(self.options.max_files_per_trigger)
            if batch_files:
                self.current_offset += 1
                entries = [
                    FileEntry(path=f.file_path, timestamp=f.timestamp_ms, batch_id=self.current_offset)
                    for f in batch_files
                ]
                if not self.metadata_log.add(self.current_offset, entries):
                    raise MetalogAddError(f"BatchId {self.current_offset} already exists.")
                message_ids = []
                for f in batch_files:
                    self.file_cache.mark_processed(f.file_path)
                    if f.message_id is not None:
                        message_ids.append(f.message_id)
                if message_ids:
                    self.queue_client.delete_messages(message_ids)
            self.file_cache.purge()
            return self.current_offset

    def get_metadata_log_by_range(self, start_id: int, end_id: int) -> list[FileEntry]:
        """Inclusive range read with the glob re-applied
        (S3ConnectorSource.scala:186-191)."""
        entries = self.metadata_log.get_range(start_id, end_id)
        glob = self.options.path_glob_filter
        if glob:
            entries = [e for e in entries if glob_matches(glob, e.path)]
        return entries

    def get_batch_files(self, start_offset: int, end_offset: int) -> list[FileEntry]:
        """Files of (start, end] — start exclusive, matching getBatch
        (S3ConnectorSource.scala:159-167)."""
        if start_offset > end_offset:
            raise AssertionError(f"startOffset {start_offset} > endOffset {end_offset}")
        return self.get_metadata_log_by_range(start_offset + 1, end_offset)

    def commit(self, end_offset: int) -> None:
        from spark_streaming_sql_s3_connector_spark.queueing.base import timed

        with timed(self.queue_client.metrics.hist("commit_ms")):
            self.file_cache.purge()

    def close(self) -> None:
        self._closed = True
        t = self._fetch_thread
        if t is not None and t.is_alive():
            t.join(timeout=2.0)  # bounded drain, mirroring Utils.scala:43-65
        self.queue_client.close()
