"""Source options: keys, defaults, bounds, cross-field validation.

Same option surface as the reference (S3ConnectorSourceOptions.scala:50-194):
17 typed ``spark.s3conn.*`` options, identical defaults and validation rules,
plus a ``queueType`` extension value ``"local"`` for the file-backed test
queue (the reference only ships ``"SQS"``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Mapping, Optional

_PREFIX = "spark.s3conn."
# NOTE: the reference concatenates PREFIX + ".sqs." producing a double dot
# ("spark.s3conn..sqs.*", S3ConnectorSourceOptions.scala:54). We accept BOTH
# the double-dot spelling (bug-for-bug option-key parity) and the intended
# single-dot spelling.
_SQS_PREFIX_REF = _PREFIX + ".sqs."
_SQS_PREFIX = _PREFIX + "sqs."

SQS_QUEUE = "SQS"
LOCAL_QUEUE = "local"

BASE_PATH = "basePath"
MAX_FILES_PER_TRIGGER = _PREFIX + "maxFilesPerTrigger"
PATH_GLOB_FILTER = _PREFIX + "pathGlobFilter"
S3_FILE_FORMAT = _PREFIX + "fileFormat"
MAX_FILE_AGE = _PREFIX + "maxFileAge"
PARTITION_COLUMNS = _PREFIX + "partitionColumns"
QUEUE_URL = _PREFIX + "queueUrl"
QUEUE_REGION = _PREFIX + "queueRegion"
QUEUE_TYPE = _PREFIX + "queueType"
QUEUE_FETCH_WAIT_TIMEOUT_SECONDS = _PREFIX + "queueFetchWaitTimeoutSeconds"
REPROCESS_START_BATCH_ID = _PREFIX + "reprocessStartBatchId"
REPROCESS_END_BATCH_ID = _PREFIX + "reprocessEndBatchId"
REPROCESS_DRY_RUN = _PREFIX + "reprocessDryRun"
SQS_LONG_POLLING_WAIT_TIME_SECONDS = "longPollingWaitTimeSeconds"
SQS_VISIBILITY_TIMEOUT_SECONDS = "visibilityTimeoutSeconds"
SQS_KEEP_MESSAGE_FOR_CONSUMER_ERROR = "keepMessageForConsumerError"
SQS_MAX_RETRIES = "maxRetries"
SQS_MAX_CONCURRENCY = "maxConcurrency"

# extension (not in the reference's 17): caps the bytes one read task
# takes when the connector bin-packs small files into partitions —
# mirrors spark.sql.files.maxPartitionBytes for the Python-source path
MAX_BYTES_PER_PARTITION = _PREFIX + "maxBytesPerPartition"

MAX_FILES_PER_TRIGGER_DEFAULT_VALUE = 100
MAX_BYTES_PER_PARTITION_DEFAULT_VALUE = 128 * 1024 * 1024
MAX_FILE_AGE_DEFAULT_VALUE = "15d"
REPROCESS_DRY_RUN_DEFAULT_VALUE = True
SQS_LONG_POLLING_WAIT_TIME_SECONDS_MIN_VALUE = 0
SQS_LONG_POLLING_WAIT_TIME_SECONDS_MAX_VALUE = 20
SQS_LONG_POLLING_WAIT_TIME_SECONDS_DEFAULT_VALUE = 10
SQS_MAX_RETRIES_DEFAULT_VALUE = 10
SQS_KEEP_MESSAGE_FOR_CONSUMER_ERROR_DEFAULT_VALUE = False
SQS_MAX_CONCURRENCY_DEFAULT_VALUE = 50
SQS_VISIBILITY_TIMEOUT_DEFAULT_VALUE = 60


class ReprocessState(Enum):
    """reference S3ConnectorSourceOptions.scala:218-221."""

    NO_REPROCESS = "NoReprocess"
    DRY_RUN = "DryRun"
    IN_ACTION = "InAction"


_TIME_UNITS_MS = {
    "us": 0.001,
    "ms": 1,
    "s": 1000,
    "m": 60_000,
    "min": 60_000,
    "h": 3_600_000,
    "d": 86_400_000,
}


def time_string_as_ms(s: str) -> int:
    """Parse Spark-style time strings ("15d", "100s", bare number = ms).

    Mirrors org.apache.spark.network.util.JavaUtils.timeStringAsMs, which
    the reference uses for maxFileAge (S3ConnectorSourceOptions.scala:102).
    """
    m = re.fullmatch(r"\s*(-?\d+)\s*([a-zA-Z]+)?\s*", s)
    if not m:
        raise ValueError(f"Invalid time string: {s!r}")
    value = int(m.group(1))
    unit = (m.group(2) or "ms").lower()
    if unit not in _TIME_UNITS_MS:
        raise ValueError(f"Invalid time unit {unit!r} in {s!r}")
    return int(value * _TIME_UNITS_MS[unit])


def _positive_int(key: str, default: int, s: Optional[str]) -> int:
    if s is None:
        return default
    try:
        v = int(s)
    except ValueError:
        v = None
    if v is None or v <= 0:
        raise ValueError(f"Invalid value '{s}' for option '{key}', must be a positive integer")
    return v


def _boolean(s: Optional[str], key: str, default: bool) -> bool:
    if s is None:
        return default
    if s.lower() == "true":
        return True
    if s.lower() == "false":
        return False
    raise ValueError(f"Invalid value '{s}' for option '{key}', must be true or false")


@dataclass
class S3ConnectorSourceOptions:
    """Parsed, validated source options (reference S3ConnectorSourceOptions.scala:26-48)."""

    file_format: str
    queue_url: str
    queue_region: str = ""
    queue_type: str = SQS_QUEUE
    max_files_per_trigger: Optional[int] = MAX_FILES_PER_TRIGGER_DEFAULT_VALUE
    max_bytes_per_partition: int = MAX_BYTES_PER_PARTITION_DEFAULT_VALUE
    max_file_age_ms: int = field(default_factory=lambda: time_string_as_ms(MAX_FILE_AGE_DEFAULT_VALUE))
    path_glob_filter: Optional[str] = None
    partition_columns: Optional[str] = None
    base_path: Optional[str] = None
    queue_fetch_wait_timeout_seconds: int = 2 * SQS_LONG_POLLING_WAIT_TIME_SECONDS_DEFAULT_VALUE
    reprocess_start_batch_id: Optional[int] = None
    reprocess_end_batch_id: Optional[int] = None
    reprocess_dry_run: bool = REPROCESS_DRY_RUN_DEFAULT_VALUE
    reprocess_state: ReprocessState = ReprocessState.NO_REPROCESS
    sqs_max_retries: int = SQS_MAX_RETRIES_DEFAULT_VALUE
    sqs_max_concurrency: int = SQS_MAX_CONCURRENCY_DEFAULT_VALUE
    sqs_long_poll_wait_time_seconds: int = SQS_LONG_POLLING_WAIT_TIME_SECONDS_DEFAULT_VALUE
    sqs_visibility_timeout_seconds: int = SQS_VISIBILITY_TIMEOUT_DEFAULT_VALUE
    sqs_keep_message_for_consumer_error: bool = SQS_KEEP_MESSAGE_FOR_CONSUMER_ERROR_DEFAULT_VALUE
    # extra reader options passed through to the file reader (header, sep, mode, ...)
    reader_options: dict = field(default_factory=dict)

    @property
    def partition_column_names(self) -> list[str]:
        if not self.partition_columns:
            return []
        return [c.strip() for c in self.partition_columns.split(",") if c.strip()]

    @classmethod
    def parse(cls, parameters: Mapping[str, str]) -> "S3ConnectorSourceOptions":
        """Same rules as reference S3ConnectorSourceOptions.apply (scala:90-194):

        - fileFormat and queueUrl mandatory (queueRegion mandatory only for SQS);
        - maxFilesPerTrigger: invalid/<=0 ⇒ unlimited (None), absent ⇒ 100;
        - long-poll wait bounded [0, 20];
        - reprocess ids >= 0, start <= end, dryRun default true;
        - queueFetchWaitTimeoutSeconds default = 2 × long-poll wait.
        """
        # case-insensitive lookup like Spark's CaseInsensitiveMap
        parameters = {k.lower(): v for k, v in parameters.items()}

        def get(key: str) -> Optional[str]:
            return parameters.get(key.lower())

        mfpt_raw = get(MAX_FILES_PER_TRIGGER)
        if mfpt_raw is None:
            max_files_per_trigger: Optional[int] = MAX_FILES_PER_TRIGGER_DEFAULT_VALUE
        else:
            try:
                v = int(mfpt_raw)
                max_files_per_trigger = v if v > 0 else None
            except ValueError:
                max_files_per_trigger = None

        file_format = get(S3_FILE_FORMAT)
        if file_format is None:
            raise ValueError(f"Specifying {S3_FILE_FORMAT} is mandatory with s3 connector source")

        max_file_age_ms = time_string_as_ms(get(MAX_FILE_AGE) or MAX_FILE_AGE_DEFAULT_VALUE)

        queue_url = get(QUEUE_URL)
        if queue_url is None:
            raise ValueError(f"{QUEUE_URL} is not specified")
        queue_type = get(QUEUE_TYPE) or SQS_QUEUE
        queue_region = get(QUEUE_REGION)
        if queue_region is None:
            if queue_type == SQS_QUEUE:
                raise ValueError(f"{QUEUE_REGION} is not specified")
            queue_region = ""

        def reprocess_id(key: str) -> Optional[int]:
            s = get(key)
            if s is None:
                return None
            try:
                v = int(s)
            except ValueError:
                v = -1
            if v < 0:
                raise ValueError(
                    f"Invalid value '{s}' for option '{key}', must be zero or a positive integer"
                )
            return v

        reprocess_start = reprocess_id(REPROCESS_START_BATCH_ID)
        reprocess_end = reprocess_id(REPROCESS_END_BATCH_ID)
        reprocess_dry_run = _boolean(get(REPROCESS_DRY_RUN), REPROCESS_DRY_RUN, REPROCESS_DRY_RUN_DEFAULT_VALUE)
        if reprocess_start is not None and reprocess_end is not None:
            if reprocess_start > reprocess_end:
                raise ValueError(
                    "reprocessStartBatchId must be less than or equal to reprocessEndBatchId: "
                    f"start {reprocess_start}, end {reprocess_end}"
                )
            reprocess_state = ReprocessState.DRY_RUN if reprocess_dry_run else ReprocessState.IN_ACTION
        else:
            reprocess_state = ReprocessState.NO_REPROCESS

        def get_sqs(name: str) -> Optional[str]:
            v = get(_SQS_PREFIX + name)
            if v is None:
                v = get(_SQS_PREFIX_REF + name)
            return v

        lp_raw = get_sqs(SQS_LONG_POLLING_WAIT_TIME_SECONDS)
        if lp_raw is None:
            long_poll = SQS_LONG_POLLING_WAIT_TIME_SECONDS_DEFAULT_VALUE
        else:
            try:
                long_poll = int(lp_raw)
            except ValueError:
                long_poll = -1
            if not (
                SQS_LONG_POLLING_WAIT_TIME_SECONDS_MIN_VALUE
                <= long_poll
                <= SQS_LONG_POLLING_WAIT_TIME_SECONDS_MAX_VALUE
            ):
                raise ValueError(
                    f"Invalid value '{lp_raw}' for option {SQS_LONG_POLLING_WAIT_TIME_SECONDS},"
                    f"must be an integer between {SQS_LONG_POLLING_WAIT_TIME_SECONDS_MIN_VALUE}"
                    f" and {SQS_LONG_POLLING_WAIT_TIME_SECONDS_MAX_VALUE}"
                )

        sqs_max_retries = _positive_int(SQS_MAX_RETRIES, SQS_MAX_RETRIES_DEFAULT_VALUE, get_sqs(SQS_MAX_RETRIES))
        sqs_max_concurrency = _positive_int(
            SQS_MAX_CONCURRENCY, SQS_MAX_CONCURRENCY_DEFAULT_VALUE, get_sqs(SQS_MAX_CONCURRENCY)
        )
        sqs_visibility = _positive_int(
            SQS_VISIBILITY_TIMEOUT_SECONDS, SQS_VISIBILITY_TIMEOUT_DEFAULT_VALUE,
            get_sqs(SQS_VISIBILITY_TIMEOUT_SECONDS),
        )
        sqs_keep = _boolean(
            get_sqs(SQS_KEEP_MESSAGE_FOR_CONSUMER_ERROR),
            SQS_KEEP_MESSAGE_FOR_CONSUMER_ERROR,
            SQS_KEEP_MESSAGE_FOR_CONSUMER_ERROR_DEFAULT_VALUE,
        )
        fetch_wait = _positive_int(
            QUEUE_FETCH_WAIT_TIMEOUT_SECONDS, 2 * long_poll if long_poll > 0 else 1,
            get(QUEUE_FETCH_WAIT_TIMEOUT_SECONDS),
        )
        max_bytes_per_partition = _positive_int(
            MAX_BYTES_PER_PARTITION, MAX_BYTES_PER_PARTITION_DEFAULT_VALUE,
            get(MAX_BYTES_PER_PARTITION),
        )

        known = {
            k.lower()
            for k in (
                MAX_FILES_PER_TRIGGER, PATH_GLOB_FILTER, S3_FILE_FORMAT, MAX_FILE_AGE,
                PARTITION_COLUMNS, QUEUE_URL, QUEUE_REGION, QUEUE_TYPE,
                QUEUE_FETCH_WAIT_TIMEOUT_SECONDS, REPROCESS_START_BATCH_ID,
                REPROCESS_END_BATCH_ID, REPROCESS_DRY_RUN, MAX_BYTES_PER_PARTITION,
            )
        }
        reader_options = {
            k: v
            for k, v in parameters.items()
            if k not in known and not k.startswith(_SQS_PREFIX.lower()) and not k.startswith(_SQS_PREFIX_REF.lower())
        }

        return cls(
            file_format=file_format,
            queue_url=queue_url,
            queue_region=queue_region,
            queue_type=queue_type,
            max_files_per_trigger=max_files_per_trigger,
            max_bytes_per_partition=max_bytes_per_partition,
            max_file_age_ms=max_file_age_ms,
            path_glob_filter=get(PATH_GLOB_FILTER),
            partition_columns=get(PARTITION_COLUMNS),
            base_path=get(BASE_PATH),
            queue_fetch_wait_timeout_seconds=fetch_wait,
            reprocess_start_batch_id=reprocess_start,
            reprocess_end_batch_id=reprocess_end,
            reprocess_dry_run=reprocess_dry_run,
            reprocess_state=reprocess_state,
            sqs_max_retries=sqs_max_retries,
            sqs_max_concurrency=sqs_max_concurrency,
            sqs_long_poll_wait_time_seconds=long_poll,
            sqs_visibility_timeout_seconds=sqs_visibility,
            sqs_keep_message_for_consumer_error=sqs_keep,
            reader_options=reader_options,
        )
