"""Local mirror of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same sf dir; compare row count, column names, and order-insensitive
values. Usage: python tools/check_oracle.py [sf_dir] [query ...]"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

import duckdb

import __spark_entry__ as entrymod


def norm(v):
    # every value normalizes to a (tag, payload) tuple so mixed
    # None/str/bool/number columns SORT without TypeError (raw None or
    # str beside a tuple raises in sorted()); equality is unchanged
    if v is None:
        return ("_null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("fnan",)  # own tag: ("f", "nan") vs ("f", 0.5) raises
        return ("f", round(v, 9))
    if hasattr(v, "isoformat"):
        iso = v.isoformat().replace("+00:00", "")
        # DuckDB DATE materializes as datetime64 midnight via fetchdf();
        # Spark hands back datetime.date — align the two spellings.
        if iso.endswith("T00:00:00"):
            iso = iso[:-9]
        return ("t", iso)
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm(x) for x in v))
    return ("o", repr(v))


_SELF_CHECK_NAMES = ("exact_match", "found_exact")


def _self_check_cols(spark_df) -> list[str]:
    """Boolean columns that a rows-only key's plan computes as an
    in-plan self-check (*_ok / exact_match / found_exact) — these are
    LOAD-BEARING: the sweep fails if any value is not True."""
    from pyspark.sql.types import BooleanType

    return [
        f.name
        for f in spark_df.schema.fields
        if isinstance(f.dataType, BooleanType)
        and (f.name.endswith("_ok") or f.name in _SELF_CHECK_NAMES)
    ]


def compare(name, spark_df, con) -> tuple[bool, str, int]:
    """(ok, message, n_self_check_columns_asserted)."""
    sql = entrymod.oracle_sql().get(name)
    spark_rows = spark_df.collect()
    spark_cols = spark_df.columns
    if sql is None:
        checks = _self_check_cols(spark_df)
        bad = []
        for c in checks:
            i = spark_cols.index(c)
            if not all(r[i] is True for r in spark_rows):
                bad.append(c)
        if bad:
            return False, f"self-check column(s) not all-true: {bad}", len(checks)
        suffix = f", {len(checks)} self-check col(s) all-true" if checks else ""
        return True, f"rows-only ({len(spark_rows)} rows{suffix})", len(checks)
    # Materialize through pandas exactly like the driver's gate does:
    # fetchdf() turns DuckDB HUGEINT (e.g. SUM over integers) into float64,
    # so an un-CAST integer-sum oracle hashes 123.0 against Spark's 123 and
    # fails — fetchall() (HUGEINT -> Python int) would hide that divergence.
    odf = con.execute(sql).fetchdf()
    o_cols = list(odf.columns)

    def scalar(x):
        # numpy scalar -> python; NaT/NaN (pandas' spelling of SQL NULL in
        # datetime/float columns) -> None, matching Spark's null
        try:
            import pandas as pd

            if x is None or pd.isna(x):
                return None
        except (TypeError, ValueError):
            pass
        return x.item() if hasattr(x, "item") else x

    o_rows = [
        tuple(scalar(x) for x in row)
        for row in odf.itertuples(index=False, name=None)
    ]
    if sorted(spark_cols) != sorted(o_cols):
        return False, f"column mismatch: spark {sorted(spark_cols)} vs oracle {sorted(o_cols)}", 0
    if len(spark_rows) != len(o_rows):
        return False, f"row count: spark {len(spark_rows)} vs oracle {len(o_rows)}", 0
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    s_norm = sorted(tuple(norm(r[i]) for i in order) for r in spark_rows)
    o_order = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    d_norm = sorted(tuple(norm(r[i]) for i in o_order) for r in o_rows)
    if s_norm != d_norm:
        # Secondary verdict for LOCAL diagnostics only (the driver's gate
        # stays exact): at sf>=0.5 double SUMs diverge in the last ulp
        # because Spark's partial-agg tree and DuckDB's accumulation sum
        # in different orders. Report those as a distinct near-miss so a
        # scale sweep separates "summation-order noise" from real bugs.
        if _rows_match_fp_tol(s_norm, d_norm):
            return True, f"match-fp-tol<=1e-9 ({len(spark_rows)} rows; exact-hash differs, float rel err <= 1e-9)", 0
        for a, b in zip(s_norm, d_norm):
            if a != b:
                return False, f"value mismatch: spark {a} vs oracle {b}", 0
        return False, "value mismatch (row ordering)", 0
    return True, f"match ({len(spark_rows)} rows)", 0


def _rows_match_fp_tol(s_norm, d_norm, rel=1e-9):
    """True when every pair of normalized rows is identical except for
    float payloads within ``rel`` relative error (summation-order ulp
    drift). Any non-float divergence keeps the hard FAIL."""
    # Re-sort both sides with float payloads blurred to 6 significant
    # digits so ulp drift cannot shuffle the row alignment itself.
    def blur(row):
        out = []
        for v in row:
            if v[0] == "f" and v[1] != 0:
                from math import floor, log10

                digits = 5 - floor(log10(abs(v[1])))
                out.append(("f", round(v[1], digits)))
            else:
                out.append(v)
        return tuple(out)

    s_norm = sorted(s_norm, key=blur)
    d_norm = sorted(d_norm, key=blur)
    for ra, rb in zip(s_norm, d_norm):
        if len(ra) != len(rb):
            return False
        for a, b in zip(ra, rb):
            if a == b:
                continue
            if a[0] == "f" and b[0] == "f":
                fa, fb = a[1], b[1]
                if abs(fa - fb) <= rel * max(abs(fa), abs(fb), 1.0):
                    continue
            return False
    return True


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from pyspark.sql import SparkSession

    spark = (
        # no console progress: its \r overwrites PASS/FAIL lines when
        # stdout is captured to a file (burned us in the r7 full sweep)
        SparkSession.builder.master("local[8]")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("check-oracle")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults

    apply_engine_defaults(spark)  # the confs and worker daemon a deployment gets
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    qs = entrymod.queries()
    failures = n_match = n_rows_only = n_self_checks = 0
    t_start = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            ok, msg, n_sc = compare(name, fn(spark, sf_dir), con)
            n_self_checks += n_sc
        except Exception as e:
            ok, msg = False, f"EXCEPTION {type(e).__name__}: {e}"
        dt = time.time() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name:32s} {dt:6.1f}s  {msg}", flush=True)
        if ok:
            if msg.startswith("rows-only"):
                n_rows_only += 1
            else:
                n_match += 1
        else:
            failures += 1
    # one-line summary (r8 verdict task #8): the match/rows-only split,
    # machine-greppable, so round artifacts stop re-deriving it from
    # COVERAGE.md prose
    print(
        f"SUMMARY: {n_match + n_rows_only + failures} checked — "
        f"{n_match} oracle-match, {n_rows_only} rows-only "
        f"({n_self_checks} self-check cols asserted), "
        f"{failures} FAIL  ({time.time() - t_start:.0f}s)",
        flush=True,
    )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
