"""``format("s3-connector")`` — PySpark Python Data Source.

The reference registers a Scala V1 StreamSourceProvider via Java services
(S3ConnectorSourceProvider.scala:26-52, META-INF/services). The rebuild
uses the Spark 4.x Python Data Source API (pyspark.sql.datasource):

- ``S3ConnectorDataSource``  — name "s3-connector"; mandatory user schema
  (reference: ``require(schema.isDefined)``, S3ConnectorSourceProvider.scala:37);
- ``S3ConnectorStreamReader`` — DataSourceStreamReader whose driver side is
  the AdmissionController (queue → cache → log → offset) and whose executor
  side reads admitted files to Arrow batches (file_read.py). Offsets are
  ``{"logOffset": N}``, matching FileStreamSourceOffset
  (S3ConnectorSource.scala:160-161,241);
- ``S3ConnectorBatchReader`` — batch read of an explicit file list or
  directory (the reference exposes no batch path; this one exists so the
  same reader stack is usable in ``spark.read``).

Usage::

    spark.dataSource.register(S3ConnectorDataSource)
    df = (spark.readStream.format("s3-connector")
          .schema(user_schema)
          .option("spark.s3conn.fileFormat", "csv")
          .option("spark.s3conn.queueUrl", "local:///tmp/q")
          .option("spark.s3conn.queueType", "local")
          .option("spark.s3conn.metadataPath", "/tmp/ckpt-meta")
          .load())
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from spark_streaming_sql_s3_connector_spark.options import S3ConnectorSourceOptions

METADATA_PATH_OPTION = "spark.s3conn.metadataPath"


@dataclass
class FileSlicePartition(InputPartition):
    """One task's worth of input: a list of (path, timestamp_ms)."""

    files: list


# A task reads its files one after another, so a bin holds at most this
# many: enough to spread a Python task's fixed start-up cost, few enough
# that a 5,000-file trigger still makes 40 tasks when the cluster has more
# slots than the planning host has cores. Four times the 32 files a
# 128 MB bin held under Spark's 4 MB openCostInBytes padding; a chosen
# bound, not one measured against remote-read latency.
_MAX_FILES_PER_TASK = 128


def _pack_file_slices(files: list, max_bytes: int):
    """Plan (path, ts) entries as one read task per core: each task here
    is a Python worker with a fixed start-up cost that dwarfs a small
    file's read, so a small-file trigger runs as one wave of tasks.
    Bins = max(cores, ceil(bytes / max_bytes), ceil(files /
    _MAX_FILES_PER_TASK)), at most one per file; files go largest-first
    into the lightest bin, and a new bin opens only when that would pass
    ``max_bytes`` or every bin is full. "Cores" is ``os.cpu_count()`` of
    the planning process (Spark runs stream planning where no
    SparkContext can be asked for slots): it follows the driver's cores
    and ignores the executor count, which only the files bound covers.

    A file that cannot be stat'd (deleted, unresolvable) is planned at
    size 0: its read yields no rows, so it must not cost a task of its
    own. Sizes come through the same pyarrow.fs dispatch as the reads
    (one HEAD per object-store file)."""
    import heapq
    import math

    from spark_streaming_sql_s3_connector_spark.sources.file_read import (
        _file_size,
        resolve_read_path,
    )

    sized = []
    for path, ts in files:
        try:
            fs, local = resolve_read_path(path)
            size = _file_size(fs, local)
        except (OSError, ValueError):  # missing file / unresolvable URI
            size = 0
        sized.append((size, path, ts))
    total = sum(size for size, _, _ in sized)
    cores = os.cpu_count() or 1
    by_files = math.ceil(len(sized) / _MAX_FILES_PER_TASK)
    n = min(len(sized), max(cores, math.ceil(total / max_bytes), by_files))
    bins: list[list] = [[] for _ in range(n)]
    heap = [(0, 0, i) for i in range(n)]  # (bytes, files, bin) with room left
    sized.sort(key=lambda t: -t[0])
    for size, path, ts in sized:
        if heap and (heap[0][1] == 0 or heap[0][0] + size <= max_bytes):
            load, count, i = heapq.heappop(heap)
        else:
            load, count, i = 0, 0, len(bins)
            bins.append([])
        bins[i].append((path, ts))
        if count + 1 < _MAX_FILES_PER_TASK:
            heapq.heappush(heap, (load + size, count + 1, i))
    return bins


class S3ConnectorNoSchemaError(ValueError):
    pass


class S3ConnectorFormatError(ValueError):
    """Format the Arrow executor path can't read natively."""


def _require_arrow_format(file_format: str) -> None:
    """Fail at reader CONSTRUCTION (driver, analysis time) rather than
    at task time for formats the Python/Arrow executor path lacks. The
    reference hands any format string to Spark's DataSource resolution
    (S3ConnectorSourceOptions.scala:99-100); here that passthrough lives
    in the JVM-read orchestrator, so the error points there."""
    from spark_streaming_sql_s3_connector_spark.sources.file_read import ARROW_FORMATS

    if file_format.lower() not in ARROW_FORMATS:
        raise S3ConnectorFormatError(
            f"format(\"s3-connector\") reads {sorted(ARROW_FORMATS)} natively; "
            f"got fileFormat={file_format!r}. Any other Spark DataSource "
            f"format (avro, delta, ...) is supported through the JVM-read "
            f"pipeline: spark_streaming_sql_s3_connector_spark.streaming.orchestrator."
            f"MicroBatchOrchestrator, which passes the format string to "
            f"spark.read.format(...) unchanged with the same exactly-once "
            f"admission."
        )


class S3ConnectorDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3-connector"

    def schema(self):
        # User schema is mandatory, as in the reference
        # (S3ConnectorSourceProvider.scala:37, S3ConnectorSource.scala:47-49).
        raise S3ConnectorNoSchemaError(
            "S3-connector source doesn't support empty schema; call .schema(...)"
        )

    def streamReader(self, schema: StructType) -> "S3ConnectorStreamReader":
        return S3ConnectorStreamReader(schema, dict(self.options))

    def reader(self, schema: StructType) -> "S3ConnectorBatchReader":
        # Spark REJECTS any reader that defines pushFilters() while
        # spark.sql.python.filterPushdown.enabled is false (the default),
        # so the pushdown-capable subclass is chosen per-session: flip the
        # conf on and scans prune parquet row groups + pre-filter rows;
        # leave it off and reads behave exactly as before.
        if _filter_pushdown_enabled():
            return S3ConnectorBatchReaderWithPushdown(schema, dict(self.options))
        return S3ConnectorBatchReader(schema, dict(self.options))


def _filter_pushdown_enabled() -> bool:
    try:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is None:
            return False
        return (
            str(active.conf.get("spark.sql.python.filterPushdown.enabled", "false")).lower()
            == "true"
        )
    except Exception:
        return False


def _pop_metadata_path(options: dict) -> Optional[str]:
    for k in list(options.keys()):
        if k.lower() == METADATA_PATH_OPTION.lower():
            return options[k]
    return None


class S3ConnectorStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, raw_options: dict):
        self._schema = schema
        self._raw_options = raw_options
        self._options = S3ConnectorSourceOptions.parse(raw_options)
        _require_arrow_format(self._options.file_format)
        self._metadata_path = _pop_metadata_path(raw_options)
        self._admission = None  # driver-only, lazily built, never pickled
        # precomputed on the driver; ships pickled so executors never touch
        # the pandas-types import path (worker cold-start cost)
        from spark_streaming_sql_s3_connector_spark.sources.file_read import arrow_schema_for

        self._arrow_schema = arrow_schema_for(schema)

    # -- driver side --

    def _controller(self):
        if self._admission is None:
            if not self._metadata_path:
                raise ValueError(f"option {METADATA_PATH_OPTION} is required for streaming")
            from spark_streaming_sql_s3_connector_spark.sources.admission import AdmissionController

            self._admission = AdmissionController(self._options, self._metadata_path)
        return self._admission

    def initialOffset(self) -> dict:
        return {"logOffset": self._controller().initial_offset}

    def latestOffset(self) -> dict:
        return {"logOffset": self._controller().fetch_max_offset()}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        start_off = int(start["logOffset"])
        end_off = int(end["logOffset"])
        if end_off <= start_off:
            return [FileSlicePartition(files=[])]
        entries = self._controller().get_batch_files(start_off, end_off)
        if not entries:
            return [FileSlicePartition(files=[])]
        files = [(e.path, e.timestamp) for e in entries]
        packed = _pack_file_slices(files, self._options.max_bytes_per_partition)
        return [FileSlicePartition(files=b) for b in packed]

    def commit(self, end: dict) -> None:
        self._controller().commit(int(end["logOffset"]))

    def stop(self) -> None:
        if self._admission is not None:
            self._admission.close()
            self._admission = None

    # -- executor side --

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_admission"] = None  # queue clients / locks stay on the driver
        return state

    def read(self, partition: FileSlicePartition) -> Iterator:
        from spark_streaming_sql_s3_connector_spark.sources.file_read import iter_record_batches

        opts = self._options
        yield from iter_record_batches(
            partition.files,
            opts.file_format,
            self._schema,
            opts.reader_options,
            opts.partition_column_names,
            opts.base_path,
            arrow_schema=self._arrow_schema,
        )


class S3ConnectorBatchReader(DataSourceReader):
    """Batch analog: read an explicit comma-separated ``paths`` list, or
    every file currently recorded in a metadata log (``metadataPath``)."""

    def __init__(self, schema: StructType, raw_options: dict):
        self._schema = schema
        self._options = S3ConnectorSourceOptions.parse(raw_options)
        _require_arrow_format(self._options.file_format)
        self._metadata_path = _pop_metadata_path(raw_options)
        lowered = {k.lower(): v for k, v in raw_options.items()}
        self._paths = [p for p in (lowered.get("paths") or "").split(",") if p]
        from spark_streaming_sql_s3_connector_spark.sources.file_read import arrow_schema_for

        self._arrow_schema = arrow_schema_for(schema)
        self._pushed_filters: list[tuple] = []

    def partitions(self) -> Sequence[InputPartition]:
        files: list[tuple[str, int]] = [(p, 0) for p in self._paths]
        if not files and self._metadata_path:
            from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog

            log = JsonMetadataLog(os.path.join(self._metadata_path, "s3conn-log"))
            files = sorted(log.files().items())
        if not files:
            return [FileSlicePartition(files=[])]
        return self._split_partitions(files)

    def _split_partitions(self, files: list[tuple[str, int]]) -> list[FileSlicePartition]:
        """Multi-row-group parquet files split per group so one large
        file parallelizes across tasks; single-group (small) files are
        bin-packed so many tiny files don't become as many tasks."""
        parts: list[FileSlicePartition] = []
        small: list[tuple[str, int]] = []
        if self._options.file_format.lower() == "parquet":
            from spark_streaming_sql_s3_connector_spark.sources.file_read import (
                _open_input,
                resolve_read_path,
            )

            for path, ts in files:
                n_groups = 1
                try:
                    import pyarrow.parquet as pq

                    fs, local = resolve_read_path(path)
                    n_groups = pq.ParquetFile(
                        local if fs is None else _open_input(fs, local)
                    ).num_row_groups
                except Exception:
                    pass  # unreadable here: fall back to whole-file task
                if n_groups > 1:
                    parts.extend(
                        FileSlicePartition(files=[(path, ts, [g])]) for g in range(n_groups)
                    )
                else:
                    small.append((path, ts))
        else:
            small = list(files)
        packed = _pack_file_slices(small, self._options.max_bytes_per_partition)
        parts.extend(FileSlicePartition(files=b) for b in packed)
        return parts

    def read(self, partition: FileSlicePartition) -> Iterator:
        from spark_streaming_sql_s3_connector_spark.sources.file_read import iter_record_batches

        opts = self._options
        yield from iter_record_batches(
            partition.files,
            opts.file_format,
            self._schema,
            opts.reader_options,
            opts.partition_column_names,
            opts.base_path,
            arrow_schema=self._arrow_schema,
            pushed_filters=self._pushed_filters,
        )


class S3ConnectorBatchReaderWithPushdown(S3ConnectorBatchReader):
    """Batch reader with filter pushdown (Spark 4.1 Python Data Source
    API). Selected only when ``spark.sql.python.filterPushdown.enabled``
    is true — Spark rejects readers that define ``pushFilters`` while
    that conf is off, so the base class must not carry the method."""

    def pushFilters(self, filters):
        """Accept the simple comparisons pyarrow can evaluate exactly —
        they prune parquet row groups by footer statistics AND filter rows
        before the Arrow->JVM transfer. Comparisons take int/float/str/
        bool/date literals; string prefix (StringStartsWith) prunes as a
        [prefix, upper) range. Everything else (nested columns,
        non-scalar/timestamp literals, partition columns whose values
        come from the path, suffix/contains ops) is returned for Spark
        to evaluate.

        Contract: accepted filters are applied EXACTLY in read() — Spark
        does not re-evaluate them."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringStartsWith,
        )

        import datetime
        import math

        from pyspark.sql.types import DoubleType, FloatType

        part_cols = set(self._options.partition_column_names or [])
        simple = {
            EqualTo: "eq",
            GreaterThan: "gt",
            GreaterThanOrEqual: "ge",
            LessThan: "lt",
            LessThanOrEqual: "le",
            In: "in",
        }
        # Spark orders NaN GREATER than every double (so `col > 5` keeps
        # NaN rows); pyarrow follows IEEE (NaN comparisons are false).
        # gt/ge on floating columns therefore diverge whenever the DATA
        # contains NaN — reject them (lt/le/eq-non-NaN exclude NaN rows in
        # both engines, so they stay accepted). NaN literals reject too.
        float_cols = {
            f.name for f in self._schema.fields if isinstance(f.dataType, (FloatType, DoubleType))
        }

        def scalar_ok(v) -> bool:
            if isinstance(v, bool):
                return True
            if isinstance(v, float) and math.isnan(v):
                return False
            # date32 literals: pyarrow compares date columns/stats against
            # datetime.date exactly. datetime.datetime (a date subclass!)
            # stays rejected — timestamp pushdown would have to reason
            # about session-timezone casts.
            if isinstance(v, datetime.datetime):
                return False
            return isinstance(v, (int, float, str, datetime.date))

        accepted: list[tuple] = []
        rejected = []
        for f in filters:
            op = simple.get(type(f))
            col = getattr(f, "attribute", ())
            if len(col) != 1 or col[0] in part_cols or col[0] not in self._schema.names:
                rejected.append(f)
            elif op in ("gt", "ge") and col[0] in float_cols:
                rejected.append(f)  # NaN-ordering divergence, see above
            elif op == "in":
                # SQL IN never matches NULL rows, and a NULL literal in the
                # list matches nothing — but pyarrow isin([... None]) DOES
                # match null rows. Stripping NULL literals preserves SQL
                # semantics exactly (x IN ('a', NULL) is TRUE only for 'a');
                # an all-NULL list becomes isin([]) which matches no rows,
                # also the SQL answer.
                vals = tuple(v for v in f.value if v is not None)
                if all(scalar_ok(v) for v in vals):
                    accepted.append(("in", col[0], vals))
                else:
                    rejected.append(f)
            elif op is not None:
                if scalar_ok(f.value):
                    accepted.append((op, col[0], f.value))
                else:
                    rejected.append(f)
            elif isinstance(f, IsNull):
                accepted.append(("isnull", col[0], None))
            elif isinstance(f, IsNotNull):
                accepted.append(("notnull", col[0], None))
            elif isinstance(f, StringStartsWith) and isinstance(f.value, str):
                # exact row filter via pc.starts_with; row groups prune on
                # the [prefix, prefix-upper) range over string stats
                accepted.append(("startswith", col[0], f.value))
            else:
                rejected.append(f)
        self._pushed_filters = accepted
        return rejected


def register(spark) -> None:
    """Register the data source on a SparkSession (idempotent — a second
    call on the same session, or a session sharing the catalog, no-ops
    instead of raising DATA_SOURCE_ALREADY_EXISTS)."""
    from pyspark.errors import AnalysisException

    try:
        spark.dataSource.register(S3ConnectorDataSource)
    except AnalysisException as e:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
