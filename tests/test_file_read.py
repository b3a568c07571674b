"""Unit tests for the executor-side Arrow file reader (no Spark session):
schema projection, permissive nulls, DROPMALFORMED, partition columns."""

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from spark_streaming_sql_s3_connector_spark.sources.file_read import (
    partition_values_from_path,
    read_file_to_table,
)

BASIC = StructType(
    [
        StructField("testString", StringType()),
        StructField("testBoolean", BooleanType()),
        StructField("testInt", IntegerType()),
    ]
)


def write_csv(path, rows, header=False, sep=","):
    with open(path, "w") as f:
        if header:
            f.write(sep.join(["testString", "testBoolean", "testInt"]) + "\n")
        for r in rows:
            f.write(sep.join(str(x).lower() if isinstance(x, bool) else str(x) for x in r) + "\n")


ROWS = [("James", True, 3000), ("Michael", False, 5000), ("Robert", False, 5000)]


def test_csv_positional(tmp_path):
    p = str(tmp_path / "f.csv")
    write_csv(p, ROWS)
    t = read_file_to_table(p, "csv", BASIC, {}, [], None)
    assert t.column("testString").to_pylist() == ["James", "Michael", "Robert"]
    assert t.column("testBoolean").to_pylist() == [True, False, False]
    assert t.column("testInt").to_pylist() == [3000, 5000, 5000]


def test_csv_header_and_sep(tmp_path):
    p = str(tmp_path / "f.csv")
    write_csv(p, ROWS, header=True, sep="|")
    t = read_file_to_table(p, "csv", BASIC, {"header": "true", "sep": "|"}, [], None)
    assert t.column("testInt").to_pylist() == [3000, 5000, 5000]


def test_csv_projection_permissive_nulls(tmp_path):
    # project 3-col csv onto (testInt int): first col "James" fails the int
    # cast → null in PERMISSIVE (reference ItSuite:257-290)
    p = str(tmp_path / "f.csv")
    write_csv(p, ROWS)
    narrow = StructType([StructField("testInt", IntegerType())])
    t = read_file_to_table(p, "csv", narrow, {}, [], None)
    assert t.column("testInt").to_pylist() == [None, None, None]


def test_csv_projection_drop_malformed(tmp_path):
    p = str(tmp_path / "f.csv")
    write_csv(p, ROWS)
    narrow = StructType([StructField("testInt", IntegerType())])
    t = read_file_to_table(p, "csv", narrow, {"mode": "DROPMALFORMED"}, [], None)
    assert t.num_rows == 0


def test_json_by_name(tmp_path):
    p = str(tmp_path / "f.json")
    with open(p, "w") as f:
        for r in ROWS:
            f.write(json.dumps({"testString": r[0], "testBoolean": r[1], "testInt": r[2]}) + "\n")
    t = read_file_to_table(p, "json", BASIC, {}, [], None)
    assert t.column("testInt").to_pylist() == [3000, 5000, 5000]


def test_parquet_by_name_with_missing_column(tmp_path):
    p = str(tmp_path / "f.parquet")
    pq.write_table(
        pa.table({"testString": ["a", "b"], "testInt": [1, 2]}), p
    )
    proj = StructType(
        [StructField("newtestInt", IntegerType()), StructField("testString", StringType())]
    )
    t = read_file_to_table(p, "parquet", proj, {}, [], None)
    assert t.column("newtestInt").to_pylist() == [None, None]
    assert t.column("testString").to_pylist() == ["a", "b"]


def test_partition_values_from_path():
    vals = partition_values_from_path(
        "file:///data/base/testPart1=p1/testPart2=2/part-0.csv",
        "/data/base",
        ["testPart1", "testPart2"],
    )
    assert vals == {"testPart1": "p1", "testPart2": "2"}
    # url-encoded partition values decode (reference fixture key has %3D)
    vals = partition_values_from_path("/b/k=a%20b/f.csv", "/b", ["k"])
    assert vals == {"k": "a b"}


def test_partition_columns_attached_and_cast(tmp_path):
    d = tmp_path / "base" / "p=7"
    d.mkdir(parents=True)
    p = str(d / "f.csv")
    write_csv(p, ROWS)
    schema = BASIC.add("p", IntegerType())
    t = read_file_to_table(p, "csv", schema, {}, ["p"], str(tmp_path / "base"))
    assert t.column("p").to_pylist() == [7, 7, 7]
    assert t.schema.field("p").type == pa.int32()


def test_missing_file_skipped():
    from spark_streaming_sql_s3_connector_spark.sources.file_read import iter_record_batches

    batches = list(iter_record_batches([("/nope/missing.csv", 0)], "csv", BASIC, {}, [], None))
    # one zero-row batch keeps the schema stable
    assert len(batches) == 1 and batches[0].num_rows == 0


def test_empty_files_yield_zero_rows():
    """Empty csv/json files are zero rows in any mode, mirroring Spark's
    readers — an executor task must never fail on a zero-byte object."""
    import tempfile

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from spark_streaming_sql_s3_connector_spark.sources.file_read import (
        arrow_schema_for,
        iter_record_batches,
    )

    schema = StructType([StructField("a", StringType()), StructField("b", IntegerType())])
    target = arrow_schema_for(schema)
    for fmt in ("csv", "json"):
        with tempfile.NamedTemporaryFile(suffix=f".{fmt}") as f:
            n = sum(
                b.num_rows
                for b in iter_record_batches(
                    [(f.name, 0)], fmt, schema, {}, [], None, arrow_schema=target
                )
            )
            assert n == 0, fmt


def test_csv_parsed_exactly_once(tmp_path, monkeypatch):
    # regression: the old read path probe-parsed the whole file to learn
    # column names and then parsed it again — 2x the dominant cost of CSV
    # ingest. Pin "one full parse per file" via a counting wrapper.
    import pyarrow.csv as pcsv

    from spark_streaming_sql_s3_connector_spark.sources import file_read

    p = tmp_path / "data.csv"
    p.write_text("\n".join(f"s{i},true,{i}" for i in range(1000)) + "\n")

    calls = {"read_csv": 0}
    real_read_csv = pcsv.read_csv

    def counting_read_csv(*a, **kw):
        calls["read_csv"] += 1
        return real_read_csv(*a, **kw)

    monkeypatch.setattr(pcsv, "read_csv", counting_read_csv)
    out = read_file_to_table(str(p), "csv", BASIC, {}, [], None)
    assert out.num_rows == 1000
    assert calls["read_csv"] == 1  # the name sniff must not be a full parse


# ---- pyarrow.fs dispatch: the same reads over file:// and an object
# store (mock FS), per the reference's Hadoop-FS data plane
# (S3ConnectorSource.scala:170-181) ----


@pytest.fixture(params=["bare", "file-uri", "mock-uri"])
def make_file(request, tmp_path, monkeypatch):
    """Returns write(name, data: bytes) -> path-to-read. Bare/file://
    variants hit the local fast path (fs=None); mock:// goes through a
    pyarrow FileSystem like s3:// would."""
    if request.param in ("bare", "file-uri"):
        def write(name, data):
            p = tmp_path / name
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(data)
            return str(p) if request.param == "bare" else f"file://{p}"
        return write

    from pyarrow.fs import _MockFileSystem

    import spark_streaming_sql_s3_connector_spark.state.log_fs as log_fs

    mock = _MockFileSystem()
    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", lambda uri: (mock, uri.split("://", 1)[1]))

    def write(name, data):
        rel = f"bucket/{name}"
        d = rel.rsplit("/", 1)[0]
        mock.create_dir(d, recursive=True)
        with mock.open_output_stream(rel) as f:
            f.write(data)
        return f"mock://{rel}"

    return write


def _parquet_bytes(rows):
    import io

    buf = io.BytesIO()
    t = pa.table(
        {
            "testString": [r[0] for r in rows],
            "testBoolean": [r[1] for r in rows],
            "testInt": pa.array([r[2] for r in rows], type=pa.int32()),
        }
    )
    pq.write_table(t, buf)
    return buf.getvalue()


def test_fs_dispatch_parquet(make_file):
    p = make_file("f.parquet", _parquet_bytes(ROWS))
    t = read_file_to_table(p, "parquet", BASIC, {}, [], None)
    assert t.column("testString").to_pylist() == ["James", "Michael", "Robert"]
    assert t.column("testInt").to_pylist() == [3000, 5000, 5000]


def test_fs_dispatch_csv(make_file):
    data = "".join(f"{a},{str(b).lower()},{c}\n" for a, b, c in ROWS).encode()
    p = make_file("f.csv", data)
    t = read_file_to_table(p, "csv", BASIC, {}, [], None)
    assert t.column("testInt").to_pylist() == [3000, 5000, 5000]


def test_fs_dispatch_json(make_file):
    data = "".join(
        json.dumps({"testString": a, "testBoolean": b, "testInt": c}) + "\n"
        for a, b, c in ROWS
    ).encode()
    p = make_file("f.json", data)
    t = read_file_to_table(p, "json", BASIC, {}, [], None)
    assert t.column("testBoolean").to_pylist() == [True, False, False]


def test_fs_dispatch_text(make_file):
    p = make_file("f.txt", b"alpha\nbeta\n")
    schema = StructType([StructField("value", StringType())])
    t = read_file_to_table(p, "text", schema, {}, [], None)
    assert t.column("value").to_pylist() == ["alpha", "beta"]


def test_fs_dispatch_empty_file(make_file):
    p = make_file("empty.json", b"")
    t = read_file_to_table(p, "json", BASIC, {}, [], None)
    assert t.num_rows == 0


def test_fs_dispatch_missing_raises_filenotfound(make_file):
    # checkFilesExist=false contract: iter_record_batches skips missing
    # files by catching FileNotFoundError — both FS impls must raise it
    p = make_file("exists.parquet", _parquet_bytes(ROWS))
    ghost = p.replace("exists.parquet", "ghost.parquet")
    with pytest.raises(FileNotFoundError):
        read_file_to_table(ghost, "parquet", BASIC, {}, [], None)


def test_fs_dispatch_partition_columns(make_file):
    schema = StructType(
        [
            StructField("testString", StringType()),
            StructField("testBoolean", BooleanType()),
            StructField("testInt", IntegerType()),
            StructField("part", StringType()),
        ]
    )
    p = make_file("base/part=p1/f.parquet", _parquet_bytes(ROWS))
    base = p.rsplit("/part=", 1)[0]
    t = read_file_to_table(p, "parquet", schema, {}, ["part"], base)
    assert t.column("part").to_pylist() == ["p1", "p1", "p1"]


def test_resolve_read_path_caches_filesystem_per_authority(monkeypatch):
    """Planning passes resolve per FILE: the filesystem client must be
    built ONCE per scheme://authority (the advisor-flagged O(files)
    client-construction cost), and a swapped _pyarrow_from_uri seam
    (another test's mock) must never see a stale cached filesystem."""
    from pyarrow.fs import _MockFileSystem

    import spark_streaming_sql_s3_connector_spark.sources.file_read as fr
    import spark_streaming_sql_s3_connector_spark.state.log_fs as log_fs

    calls = []
    mock = _MockFileSystem()

    def seam(uri):
        calls.append(uri)
        return mock, uri.split("://", 1)[1]

    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", seam)
    fs1, p1 = fr.resolve_read_path("mock://bucket/a/x.parquet")
    fs2, p2 = fr.resolve_read_path("mock://bucket/b/y.parquet")
    assert fs1 is mock and fs2 is mock
    assert p1 == "bucket/a/x.parquet" and p2 == "bucket/b/y.parquet"
    assert len(calls) == 1  # one client construction for the authority
    # different authority → its own client construction
    fr.resolve_read_path("mock://other/k.parquet")
    assert len(calls) == 2
    # seam swap invalidates: no stale filesystem leaks across tests
    mock2 = _MockFileSystem()
    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", lambda uri: (mock2, uri.split("://", 1)[1]))
    fs3, _ = fr.resolve_read_path("mock://bucket/c/z.parquet")
    assert fs3 is mock2


def test_s3a_event_path_plans_and_reads_on_arrow_path(monkeypatch):
    """S3 event notifications name objects as ``s3a://bucket/key``: the
    planner must size such a file (bins, not the one-file-per-task
    fallback) and a read task must yield its rows, both through the
    Arrow path's pyarrow ``s3://`` client."""
    from pyarrow.fs import _MockFileSystem

    import spark_streaming_sql_s3_connector_spark.state.log_fs as log_fs
    from spark_streaming_sql_s3_connector_spark.queueing.events import (
        make_s3_event_body,
        parse_s3_event,
    )
    from spark_streaming_sql_s3_connector_spark.sources.datasource import _pack_file_slices
    from spark_streaming_sql_s3_connector_spark.sources.file_read import iter_record_batches

    ts = 1_700_000_000_000
    path = parse_s3_event(make_s3_event_body("s3://bucket/d/x.parquet", ts)).file_path
    assert path == "s3a://bucket/d/x.parquet"
    mock = _MockFileSystem()
    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", lambda uri: (mock, uri.split("://", 1)[1]))
    mock.create_dir("bucket/d", recursive=True)
    with mock.open_output_stream("bucket/d/x.parquet") as f:
        f.write(_parquet_bytes(ROWS))

    bins = _pack_file_slices([(path, ts)], 1 << 27)
    assert bins is not None and [e for b in bins for e in b] == [(path, ts)]
    batches = list(iter_record_batches([(path, ts)], "parquet", BASIC, {}, [], None))
    t = pa.Table.from_batches(batches)
    assert t.column("testString").to_pylist() == ["James", "Michael", "Robert"]


def test_metadata_logs_on_one_bucket_share_one_client(monkeypatch):
    """Every resolution goes through one client cache: two metadata logs
    on the same bucket (one spelled ``s3a://``) build one S3 client."""
    from pyarrow.fs import _MockFileSystem

    import spark_streaming_sql_s3_connector_spark.state.log_fs as log_fs
    from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog

    calls = []
    mock = _MockFileSystem()

    def seam(uri):
        calls.append(uri)
        return mock, uri.split("://", 1)[1]

    monkeypatch.setattr(log_fs, "_pyarrow_from_uri", seam)
    JsonMetadataLog("s3a://bucket/ckpt-a/s3conn-log")
    JsonMetadataLog("s3://bucket/ckpt-b/s3conn-log")
    assert calls == ["s3://bucket"]
