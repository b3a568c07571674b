"""Executor-side file reading for the Python data source.

The reference hands its file list to stock Spark's ``DataSource``
(S3ConnectorSource.scala:170-181) so the JVM reads the files. A PySpark
Python data source's ``read(partition)`` runs in a Python worker on the
executor instead, so this module implements the file→Arrow path with
pyarrow (Arrow batches cross to the JVM zero-copy — the vectorized
fast path of the Python Data Source API):

- csv / json / parquet readers with the reference-exercised options
  (``header``, ``sep``, ``mode=PERMISSIVE|DROPMALFORMED``);
- projection of the user schema onto mismatched files: by-name for
  parquet/json/header-CSV, positional for headerless CSV, missing
  columns → nulls, unparsable values → null (PERMISSIVE) or row drop
  (DROPMALFORMED) — reference behaviors S3ConnectorSourceItSuite.scala:
  257-322, 352-386;
- Hive-style partition-column reconstruction from the file path relative
  to ``basePath`` (S3ConnectorSourceItSuite.scala:224-255).

Every path resolves through ``state/log_fs.filesystem_for``, the
resolver the metadata log and the state planes use: local and
``file://`` paths are read by bare path; ``s3a://`` event paths and any
other pyarrow.fs URI through one cached client per ``scheme://authority``.

Scale note: a task reads a list of files, one after another. The driver
plans one read task per driver core, more only when bytes exceed
``maxBytesPerPartition`` or a task would read more than
``datasource._MAX_FILES_PER_TASK`` files (batch reads also give each row
group of a multi-group parquet file its own task), because every Python
task pays a fixed worker start-up cost.
"""

from __future__ import annotations

import math
import os
from typing import Iterator, Optional

import pyarrow as pa

from pyspark.sql.types import StructType

from spark_streaming_sql_s3_connector_spark.state.log_fs import (
    PosixLogFileSystem,
    filesystem_for,
)


# formats the Arrow executor path reads natively; anything else routes
# through the JVM-read orchestrator (reference passthrough semantics:
# S3ConnectorSourceOptions.scala:99-100 hands ANY format to DataSource)
ARROW_FORMATS = frozenset({"csv", "json", "parquet", "orc", "text"})


def normalize_local_path(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://"):]
    return path


def resolve_read_path(path: str):
    """``(fs, resolved)`` for a data file: ``fs`` is None for local paths
    (readers take the bare path, the mmap-capable fast path), otherwise
    the ``pyarrow.fs.FileSystem`` ``filesystem_for`` resolved."""
    fs, resolved = filesystem_for(path)
    if isinstance(fs, PosixLogFileSystem):
        return None, resolved
    return fs.arrow_fs, resolved


def _file_size(fs, path: str) -> int:
    if fs is None:
        return os.path.getsize(path)
    from pyarrow.fs import FileType

    info = fs.get_file_info(path)
    if info.type == FileType.NotFound:
        raise FileNotFoundError(path)
    return info.size


def _open_input(fs, path: str):
    """Random-access input file; raises FileNotFoundError when missing
    (both impls — the checkFilesExist=false contract depends on it)."""
    if fs is None:
        return open(path, "rb")
    try:
        return fs.open_input_file(path)
    except OSError as e:
        if isinstance(e, FileNotFoundError):
            raise
        raise FileNotFoundError(path) from e


def arrow_schema_for(spark_schema: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def partition_values_from_path(
    file_path: str, base_path: Optional[str], partition_cols: list[str]
) -> dict[str, str]:
    """Parse Hive-style ``k=v`` directory components into raw strings."""
    from urllib.parse import unquote

    vals: dict[str, str] = {}
    p = normalize_local_path(file_path)
    rel = p
    if base_path:
        bp = normalize_local_path(base_path).rstrip("/")
        if p.startswith(bp):
            rel = p[len(bp):].lstrip("/")
    for comp in os.path.dirname(rel).split("/"):
        if "=" in comp:
            k, _, v = comp.partition("=")
            if not partition_cols or k in partition_cols:
                vals[k] = unquote(v)
    return vals


def _cast_permissive(
    col: pa.ChunkedArray | pa.Array, target: pa.DataType
) -> tuple[pa.Array, Optional[pa.Array]]:
    """Cast with per-value null-on-failure. Returns (cast_column, failed_mask);
    a None mask means "no failures" (kept lazy — materializing a boolean
    array per column costs more than the cast on clean data)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.type == target:
        return col, None
    if pa.types.is_timestamp(target) and pa.types.is_timestamp(col.type):
        # allow precision truncation (e.g. parquet ns → spark us)
        return col.cast(target, safe=False), None
    try:
        cast = col.cast(target, safe=True)
        return cast, None
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        pass
    # slow path: python-level value coercion
    pydata = col.to_pylist()
    out = []
    failed = []
    for v in pydata:
        if v is None:
            out.append(None)
            failed.append(False)
            continue
        try:  # noqa: SIM105
            if pa.types.is_boolean(target):
                if isinstance(v, str):
                    lv = v.strip().lower()
                    if lv in ("true", "1"):
                        out.append(True)
                    elif lv in ("false", "0"):
                        out.append(False)
                    else:
                        raise ValueError(v)
                else:
                    out.append(bool(v))
            elif pa.types.is_integer(target):
                out.append(int(str(v).strip()))
            elif pa.types.is_floating(target):
                out.append(float(str(v).strip()))
            elif pa.types.is_string(target) or pa.types.is_large_string(target):
                out.append(str(v))
            elif pa.types.is_timestamp(target):
                from datetime import datetime

                out.append(datetime.fromisoformat(str(v).replace("Z", "+00:00")))
            else:
                out.append(v)
            failed.append(False)
        except (ValueError, TypeError):
            out.append(None)
            failed.append(True)
    return pa.array(out, type=target), (pa.array(failed) if any(failed) else None)


def _project_to_schema(
    table: pa.Table,
    target: pa.Schema,
    by_name: bool,
    drop_malformed: bool,
    partition_values: dict[str, str],
) -> pa.Table:
    """Project a raw table onto the target schema (which includes partition
    columns). Missing → null; wrong type → permissive cast; partition
    columns filled from the path."""
    import pyarrow.compute as pc

    if not partition_values and by_name and table.schema == target:
        return table  # clean fast path: nothing to project or cast

    n = table.num_rows
    cols: list[pa.Array] = []
    any_failed: Optional[pa.Array] = None
    non_part_indices = [i for i, f in enumerate(target) if f.name not in partition_values]
    for field in target:
        if field.name in partition_values:
            # scalar partition value → constant column without a python list
            scalar = pa.scalar(partition_values[field.name], type=pa.string())
            raw = pa.repeat(scalar, n)
            cast, _ = _cast_permissive(raw, field.type)
            cols.append(cast)
            continue
        src = None
        if by_name:
            if field.name in table.column_names:
                src = table.column(field.name)
        else:
            # positional mapping over non-partition target fields
            pos = non_part_indices.index([i for i, f in enumerate(target) if f.name == field.name][0])
            if pos < table.num_columns:
                src = table.column(pos)
        if src is None:
            cols.append(pa.nulls(n, type=field.type))
            # a fully-missing column is not "malformed" for parquet/json
            # by-name reads; for positional CSV a short row already failed
            continue
        cast, failed = _cast_permissive(src, field.type)
        cols.append(cast)
        if failed is not None:
            any_failed = failed if any_failed is None else pc.or_(any_failed, failed)
    out = pa.table(dict(zip([f.name for f in target], cols)))
    out = out.cast(target)
    if drop_malformed and any_failed is not None:
        keep = pc.invert(any_failed)
        out = out.filter(keep)
    return out


# ---- filter pushdown (Spark 4.1 Python Data Source pushFilters) ----
# Accepted filters travel as neutral picklable tuples ("op", col, value);
# ops: eq, gt, ge, lt, le, in, isnull, notnull.


def filters_to_expression(accepted: list[tuple]):
    """Build ONE pyarrow.compute expression AND-ing the accepted filters.
    Applied post-projection so types match the Spark-facing schema."""
    import pyarrow.compute as pc

    expr = None
    for op, col, val in accepted:
        f = pc.field(col)
        if op == "eq":
            e = f == val
        elif op == "gt":
            e = f > val
        elif op == "ge":
            e = f >= val
        elif op == "lt":
            e = f < val
        elif op == "le":
            e = f <= val
        elif op == "in":
            e = f.isin(list(val))
        elif op == "isnull":
            e = f.is_null()
        elif op == "notnull":
            e = ~f.is_null()
        elif op == "startswith":
            e = pc.starts_with(f, pattern=val)
        else:  # pragma: no cover - pushFilters only accepts the ops above
            raise ValueError(f"unsupported pushed filter op {op}")
        expr = e if expr is None else expr & e
    return expr


def _prefix_upper_bound(prefix: str) -> Optional[str]:
    """Smallest string strictly greater than EVERY string with ``prefix``
    — turns startswith into the range [prefix, upper). None when no such
    string exists (all-chr(0x10FFFF) prefix), callers then skip the
    upper-bound check."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c < 0x10FFFF:
            return prefix[:i] + chr(c + 1)
    return None


def _row_group_may_match(md, rg: int, col_idx: dict, accepted: list[tuple]) -> bool:
    """Row-group pruning from parquet footer min/max statistics — the IO
    win of pushdown: a group whose stats exclude a predicate is never
    read. Conservative: any missing/odd statistic keeps the group."""
    g = md.row_group(rg)
    for op, col, val in accepted:
        i = col_idx.get(col)
        if i is None:
            continue
        stats = g.column(i).statistics
        if stats is None or not stats.has_min_max:
            continue
        lo, hi = stats.min, stats.max
        # Legacy writers (old parquet-mr/parquet-cpp) fold NaN into
        # float min/max; NaN comparisons all evaluate False, which would
        # flip "not (lo < val)" to True and prune a group that contains
        # matches — silent row loss on an accepted-filter path that
        # Spark never re-evaluates. Skip stats pruning for such groups;
        # the exact Arrow-side row filter still guarantees correctness.
        if (isinstance(lo, float) and math.isnan(lo)) or (
            isinstance(hi, float) and math.isnan(hi)
        ):
            continue
        try:
            if op == "startswith":
                # [prefix, upper) range on string stats: a group whose
                # max sorts below the prefix, or whose min sorts at or
                # above the prefix's upper bound, holds no match
                if isinstance(lo, str) and isinstance(hi, str):
                    if hi < val:
                        return False
                    upper = _prefix_upper_bound(val)
                    if upper is not None and lo >= upper:
                        return False
                continue
            if op == "eq" and not (lo <= val <= hi):
                return False
            if op == "gt" and not (hi > val):
                return False
            if op == "ge" and not (hi >= val):
                return False
            if op == "lt" and not (lo < val):
                return False
            if op == "le" and not (lo <= val):
                return False
            if op == "in" and not any(lo <= v <= hi for v in val):
                return False
        except TypeError:
            continue  # stats type doesn't compare with the literal: keep
    return True


def read_file_to_table(
    path: str,
    file_format: str,
    spark_schema: StructType,
    options: dict,
    partition_cols: list[str],
    base_path: Optional[str],
    target: Optional[pa.Schema] = None,
    row_groups: Optional[list[int]] = None,
    pushed_filters: Optional[list[tuple]] = None,
) -> pa.Table:
    """Read ONE file (optionally a subset of its parquet row groups) and
    return an Arrow table matching the user schema."""
    fmt = file_format.lower()
    if target is None:
        target = arrow_schema_for(spark_schema)
    # fs is None for local paths (bare-path fast path); a pyarrow.fs
    # FileSystem for object-store URIs
    fs, local = resolve_read_path(path)
    partition_values = partition_values_from_path(path, base_path, partition_cols or [])
    # only keep partition values for columns actually in the schema
    partition_values = {k: v for k, v in partition_values.items() if k in target.names}
    drop_malformed = str(options.get("mode", "PERMISSIVE")).upper() == "DROPMALFORMED"

    if fmt == "parquet":
        import pyarrow.parquet as pq

        wanted = [f.name for f in target if f.name not in partition_values]
        pf = pq.ParquetFile(local if fs is None else _open_input(fs, local))
        present = [c for c in wanted if c in pf.schema_arrow.names]
        groups = row_groups if row_groups is not None else list(range(pf.num_row_groups))
        if pushed_filters:
            names = [pf.metadata.schema.column(i).name for i in range(pf.metadata.num_columns)]
            col_idx = {n: i for i, n in enumerate(names)}
            groups = [
                g for g in groups
                if _row_group_may_match(pf.metadata, g, col_idx, pushed_filters)
            ]
            if not groups:
                return target.empty_table()
        raw = pf.read_row_groups(groups, columns=present)
        return _project_to_schema(raw, target, True, drop_malformed, partition_values)

    if fmt == "orc":
        import pyarrow.orc as po

        wanted = [f.name for f in target if f.name not in partition_values]
        of = po.ORCFile(local if fs is None else _open_input(fs, local))
        present = [c for c in wanted if c in of.schema.names]
        raw = of.read(columns=present)
        return _project_to_schema(raw, target, True, drop_malformed, partition_values)

    if fmt == "json":
        import pyarrow.json as pj

        # an empty file is zero rows, not malformed data — Spark's JSON
        # reader does the same in any mode
        if _file_size(fs, local) == 0:
            return target.empty_table()
        try:
            raw = pj.read_json(local if fs is None else _open_input(fs, local))
        except pa.ArrowInvalid as e:
            if drop_malformed or "Empty JSON file" in str(e):
                return target.empty_table()
            raise
        return _project_to_schema(raw, target, True, drop_malformed, partition_values)

    if fmt == "csv":
        import pyarrow.csv as pcsv

        # empty file = zero rows in any mode (Spark CSV semantics)
        if _file_size(fs, local) == 0:
            return target.empty_table()
        header = str(options.get("header", "false")).lower() == "true"
        sep = options.get("sep", options.get("delimiter", ","))
        read_opts = pcsv.ReadOptions(autogenerate_column_names=not header)
        parse_opts = pcsv.ParseOptions(delimiter=sep)
        if drop_malformed:
            parse_opts.invalid_row_handler = lambda row: "skip"
        # read everything as string, then cast permissively: matches Spark's
        # CSV semantics where a bad cell nulls (PERMISSIVE) or drops the row
        # (DROPMALFORMED) rather than failing the task. Column names come
        # from a first-block sniff (open_csv parses lazily), so the file is
        # parsed exactly once end-to-end — not probe-parsed twice.
        try:
            with pcsv.open_csv(
                local if fs is None else _open_input(fs, local),
                read_options=pcsv.ReadOptions(
                    autogenerate_column_names=not header, block_size=1 << 16
                ),
                parse_options=parse_opts,
            ) as sniff:
                names = sniff.schema.names
            conv = pcsv.ConvertOptions(
                column_types={name: pa.string() for name in names}
            )
            raw = pcsv.read_csv(
                local if fs is None else _open_input(fs, local),
                read_options=read_opts,
                parse_options=parse_opts,
                convert_options=conv,
            )
        except pa.ArrowInvalid:
            if drop_malformed:
                return target.empty_table()
            raise
        return _project_to_schema(raw, target, header, drop_malformed, partition_values)

    if fmt == "text":
        # Spark `text` source semantics: one string column, one row per
        # line (or the whole file with wholetext=true); no field parsing
        if _file_size(fs, local) == 0:
            return target.empty_table()
        with _open_input(fs, local) as fh:
            data = fh.read().decode("utf-8", errors="replace")
        if str(options.get("wholetext", "false")).lower() == "true":
            lines = [data]
        else:
            lines = data.splitlines()
        value_cols = [f.name for f in target if f.name not in partition_values]
        if len(value_cols) != 1 or not pa.types.is_string(target.field(value_cols[0]).type):
            raise ValueError(
                "text format requires a schema with exactly one string column "
                f"(plus partition columns); got {target}"
            )
        raw = pa.table({value_cols[0]: pa.array(lines, type=pa.string())})
        return _project_to_schema(raw, target, True, drop_malformed, partition_values)

    # The reference hands ANY format string straight to Spark's DataSource
    # resolution (S3ConnectorSource.scala:176, S3ConnectorSourceOptions.scala:99).
    # The Arrow executor path implements the formats above natively; every
    # other Spark format keeps working through the JVM-read orchestrator
    # (streaming/orchestrator.py passes file_format to spark.read.format).
    raise ValueError(
        f"Unsupported file format for the Arrow executor read path: "
        f"{file_format!r}. Supported here: csv, json, parquet, orc, text. "
        f"For any other Spark DataSource format use the JVM-read pipeline "
        f"(spark_streaming_sql_s3_connector_spark.streaming.orchestrator), which hands the "
        f"format string to spark.read unchanged."
    )


def iter_record_batches(
    paths_with_meta: list[tuple[str, int]],
    file_format: str,
    spark_schema: StructType,
    options: dict,
    partition_cols: list[str],
    base_path: Optional[str],
    batch_rows: int = 1 << 16,
    arrow_schema: Optional[pa.Schema] = None,
    pushed_filters: Optional[list[tuple]] = None,
) -> Iterator[pa.RecordBatch]:
    # the caller (driver) precomputes the arrow schema so executors skip the
    # pandas-conversion import path entirely — worker cold-start matters at
    # per-trigger latency scale
    target = arrow_schema if arrow_schema is not None else arrow_schema_for(spark_schema)
    # accepted pushed filters must be applied EXACTLY (Spark does not
    # re-evaluate them); the expression runs post-projection so types are
    # the Spark-facing ones, on top of the parquet row-group pruning
    filter_expr = filters_to_expression(pushed_filters) if pushed_filters else None
    empty = True
    for entry in paths_with_meta:
        path, _ts, row_groups = entry if len(entry) == 3 else (*entry, None)
        try:
            table = read_file_to_table(
                path, file_format, spark_schema, options, partition_cols, base_path, target,
                row_groups=row_groups, pushed_filters=pushed_filters,
            )
        except FileNotFoundError:
            # checkFilesExist=false semantics (S3ConnectorSource.scala:179):
            # a logged-but-deleted file must not fail the batch
            continue
        if filter_expr is not None and table.num_rows:
            table = table.filter(filter_expr)
        for rb in table.to_batches(max_chunksize=batch_rows):
            empty = False
            yield rb
    if empty:
        # yield a zero-row batch so the scan keeps a stable schema
        yield pa.RecordBatch.from_pylist([], schema=target)
