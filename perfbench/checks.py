"""Output checks. Each returns the set of input files it found wrong, so
a run's ``failed`` count is the number of announced files that are
missing, duplicated or altered in the metadata log or in the sink."""

from __future__ import annotations

from collections import Counter


def log_exactly_once(log_paths: list[str], announced: set[str]) -> set[str]:
    """Every announced file is in the metadata log exactly once, and
    nothing else is."""
    seen = Counter(log_paths)
    bad = {p for p in announced if seen.get(p, 0) != 1}
    return bad | (set(seen) - announced)


def sink_per_file(expected: dict[int, tuple[int, float]], got: dict[int, tuple[int, float]]) -> set[int]:
    """Per file id, the sink holds exactly the generated row count and
    value sum: a dropped file, a replayed file and an altered row each
    change one of the two."""
    bad = set(got) - set(expected)
    for fid, (rows, vsum) in expected.items():
        g = got.get(fid)
        if g is None or g[0] != rows or abs(g[1] - vsum) > 1e-9 * max(1.0, abs(vsum)):
            bad.add(fid)
    return bad


def rows_equal(got: list[tuple], want: list[tuple], key=lambda r: r[0]) -> set:
    """Multiset equality of two row lists; returns the keys of rows that
    are missing, extra or different on either side."""
    diff = (Counter(got) - Counter(want)) + (Counter(want) - Counter(got))
    return {key(r) for r in diff}
