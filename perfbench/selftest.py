"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

At a tiny size, builds the correct observed side of every check from
generated files, confirms the check passes on it, then plants a dropped
file, a duplicate and a wrong row and confirms the check reports each.
Exits non-zero if any planted fault goes unnoticed. Needs no Spark.
"""

from __future__ import annotations

import os
import shutil
import sys

import checks
import gen
import harness


def sink_of(paths: list[str]) -> dict[int, tuple[int, float]]:
    """What a correct sink holds: per file id, row count and value sum,
    read back from the generated files."""
    import pyarrow.parquet as pq

    out = {}
    for p in paths:
        t = pq.read_table(p)
        out[t["file_id"][0].as_py()] = (t.num_rows, float(sum(t["v"].to_pylist())))
    return out


def exactly_once_cases(paths, expected):
    log, sink = list(paths), sink_of(paths)
    fid = 1
    rows, vsum = sink[fid]
    yield "log", "clean", checks.log_exactly_once(log, set(paths)), False
    yield "log", "dropped file", checks.log_exactly_once(log[1:], set(paths)), True
    yield "log", "duplicate", checks.log_exactly_once(log + log[:1], set(paths)), True
    yield "log", "wrong row", checks.log_exactly_once(log[:-1] + [log[-1] + ".x"], set(paths)), True
    yield "sink", "clean", checks.sink_per_file(expected, sink), False
    dropped = {k: v for k, v in sink.items() if k != fid}
    yield "sink", "dropped file", checks.sink_per_file(expected, dropped), True
    yield "sink", "duplicate", checks.sink_per_file(expected, {**sink, fid: (2 * rows, 2 * vsum)}), True
    yield "sink", "wrong row", checks.sink_per_file(expected, {**sink, fid: (rows, vsum + 0.5)}), True


def rows_cases(name, want):
    yield name, "clean", checks.rows_equal(list(reversed(want)), want), False
    yield name, "dropped file", checks.rows_equal(want[1:], want), True
    yield name, "duplicate", checks.rows_equal(want + want[:1], want), True
    changed = (want[0][0],) + tuple(x if not isinstance(x, (int, float)) else x + 1 for x in want[0][1:])
    yield name, "wrong row", checks.rows_equal([changed] + want[1:], want), True


def main() -> int:
    root = harness.checkout_root()
    d = os.path.join(root, ".perfbench_work", f"selftest-p{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    try:
        paths, expected = gen.small_files(d, 4, 5, 0)
        docs = gen.documents(12, 0)
        cases = list(exactly_once_cases(paths, expected))
        # curation: the pack against its frozen twin (doc_id, lang, n_chars)
        cases += rows_cases("curation pack", sorted((i, lang, len(t)) for i, lang, t in docs))
        # large_files_scan: the grouped result against the duckdb oracle
        cases += rows_cases("scan result", [(1992, "A", 3, 10.0), (1993, "N", 2, 4.5)])
        missed = 0
        for check, fault, found, should in cases:
            ok = bool(found) == should
            missed += not ok
            verdict = ("caught" if found else "missed") if should else ("clean" if not found else "false alarm")
            print(f"{'ok ' if ok else 'BAD'} {check:14s} {fault:13s} {verdict}")
        print("selftest", "PASS" if not missed else f"FAIL ({missed})")
        return 1 if missed else 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
