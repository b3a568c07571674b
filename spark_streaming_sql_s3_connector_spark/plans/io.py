"""Table loading for the driver's synthetic star schema (TESTDATA.md).

Stays on Spark's native vectorized parquet scan (whole-stage codegen,
predicate pushdown, column pruning all apply). Timestamp normalization is
SCHEMA-DRIVEN (pyarrow footer inspection, a driver-side metadata read):

- parquet TIMESTAMP(NANOS) columns: Spark's reader rejects them by default
  (PARQUET_TYPE_ILLEGAL), so we read nanos as long
  (``spark.sql.legacy.parquet.nanosAsLong``) and convert JVM-side with
  ``timestamp_micros`` — no Python in the path, scan stays vectorized;
- parquet timestamp-without-timezone (isAdjustedToUTC=false, us/ms unit):
  Spark 4 materializes these as TIMESTAMP_NTZ, which ``withWatermark`` /
  event-time ops reject. We cast to TIMESTAMP once at the source; the
  session timezone is UTC everywhere in this repo, so wall-clock values
  are unchanged.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# (path, probe mtime_ns, probe size) -> nanos column list. One footer
# probe per file VERSION per process (each load_table call otherwise pays
# glob + read_schema on the driver for every query run); keying on
# mtime+size means a table regenerated in-process with a different
# timestamp encoding re-probes instead of applying stale normalization.
_NANOS_COLS_CACHE: dict[tuple, list[str]] = {}


def _probe_file_for(path: str) -> str:
    """The concrete parquet file whose footer represents ``path``."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        return parts[0] if parts else path
    return path


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), from the file footer.

    Driver-side metadata-only read, memoized per (path, mtime, size);
    works whether ``path`` is a single parquet file or a directory of
    part files."""
    probe = _probe_file_for(path)
    try:
        st = os.stat(probe)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)
    cached = _NANOS_COLS_CACHE.get(key)
    if cached is not None:
        return cached
    cols = _probe_nanos_cols(path)
    _NANOS_COLS_CACHE[key] = cols
    return cols


def _probe_nanos_cols(path: str) -> list[str]:
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return []
    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        probe = parts[0]
    try:
        schema = pq.read_schema(probe)
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # SESSION-LEVEL side effect, deliberately not restored: the scan
        # re-reads this conf at action time, so flipping it back after
        # planning would break the very read it enables. It only changes
        # how TIMESTAMP(NANOS) parquet columns materialize (long instead
        # of an error) — non-nanos reads are unaffected. A concurrent
        # query in the SAME session that wants nanos-as-timestamp
        # semantics must use its own session (sparkSession.newSession()).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in nanos_cols:
        if dtypes.get(c) == "bigint":
            # integer `div`, NOT `/`: double division loses precision at
            # 16-digit nanosecond values (off-by-one microseconds)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Normalize TIMESTAMP_NTZ -> TIMESTAMP so every event-time consumer
    # (withWatermark, window(), sessionize) sees the type Spark requires.
    # Session TZ is UTC, so the instant is the wall-clock value unchanged.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile so Python data source
    workers can import it even when the host session was launched without
    the repo on PYTHONPATH (e.g. an external verification harness)."""
    if getattr(spark, "_s3conn_pkg_shipped", False):
        return
    import glob
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_dir)
    # Prefer a built wheel (dist/ next to the package) ONLY when it is at
    # least as new as every source file — a stale wheel would ship old
    # code to executors while the driver runs the live tree (silent
    # behavior skew). Newest-by-mtime, not lexicographic (0.10 > 0.5).
    src_mtime = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                src_mtime = max(src_mtime, os.path.getmtime(os.path.join(root, f)))
    wheels = glob.glob(os.path.join(os.path.dirname(pkg_dir), "dist", "*.whl"))
    if wheels:
        newest = max(wheels, key=os.path.getmtime)
        if os.path.getmtime(newest) >= src_mtime:
            spark.sparkContext.addPyFile(newest)
            spark._s3conn_pkg_shipped = True
            return
    # Spark's per-context temp dir: readable while the context lives (the
    # executors fetch the zip from it), deleted when the JVM shuts down
    fd, zpath = tempfile.mkstemp(
        prefix="s3conn-pkg-", suffix=".zip", dir=spark.sparkContext._temp_dir
    )
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark._s3conn_pkg_shipped = True
