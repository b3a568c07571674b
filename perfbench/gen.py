"""Seeded input generators for the connector benchmark.

Every input is a pure function of the workload seed, so two runs with the
same ``--seed`` see byte-identical files and the same announcement order.
The trickle generator also runs as its own process (``python3 gen.py
trickle ...``): it writes files and announces them on a Poisson schedule
that does not slow down when the system under test does.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import numpy as np

# the vocabulary of the repository's synthetic document table, so the
# curation stages see the same kind of short, repetitive text
WORDS = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window"
).split()
LANGS = ("en", "de", "fr", "zh")
BOILERPLATE = (
    "subscribe to our newsletter today",
    "all rights reserved",
    "click here to read more",
    "the quick brown fox jumps over the lazy dog",
)


def small_parquet(path: str, file_id: int, rows: int, rng: np.random.Generator) -> tuple[int, float]:
    """One small file; returns its (row count, value sum). ``file_id`` on
    every row lets the sink check count each file's rows without relying
    on file names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    v = rng.random(rows)
    pq.write_table(
        pa.table(
            {
                "file_id": pa.array(np.full(rows, file_id, dtype=np.int32)),
                "row": pa.array(np.arange(rows, dtype=np.int32)),
                "v": pa.array(v),
            }
        ),
        path,
    )
    return rows, float(v.sum())


SMALL_SCHEMA = "file_id int, row int, v double"


def small_files(data_dir: str, count: int, rows: int, seed: int) -> tuple[list[str], dict]:
    """``count`` files; returns their paths (index = file id) and the
    expected {file id: (rows, value sum)} the sink check compares to."""
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths, expected = [], {}
    for i in range(count):
        p = os.path.join(data_dir, f"part-{i:06d}.parquet")
        expected[i] = small_parquet(p, i, rows, rng)
        paths.append(p)
    return paths, expected


LINEITEM_SCHEMA = (
    "l_orderkey bigint, l_partkey bigint, l_quantity double, "
    "l_extendedprice double, l_discount double, l_returnflag string, "
    "l_linestatus string, l_shipyear int"
)


def lineitem_csvs(data_dir: str, n_files: int, rows_per_file: int, seed: int) -> list[str]:
    """Header CSV files of lineitem-shaped rows under Hive-style
    ``l_shipyear=<y>`` directories; the partition value lives only in
    the path, as the connector's partition-column option expects."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    rng = np.random.default_rng(seed)
    paths = []
    for f in range(n_files):
        year = 1992 + f % 8
        d = os.path.join(data_dir, f"l_shipyear={year}")
        os.makedirs(d, exist_ok=True)
        n = rows_per_file
        table = pa.table(
            {
                "l_orderkey": rng.integers(1, 6_000_000, n),
                "l_partkey": rng.integers(1, 200_000, n),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": np.round(rng.random(n) * 100_000, 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            }
        )
        p = os.path.join(d, f"part-{f:03d}.csv")
        pacsv.write_csv(table, p)
        paths.append(p)
    return paths


DOC_SCHEMA = "doc_id bigint, lang string, text string"


def documents(n_docs: int, seed: int) -> list[tuple]:
    """Documents with cross-document repeated lines (boilerplate and
    copied sentences), in-document repeats and exact duplicates, so every
    curation screen has work to do."""
    rng = random.Random(seed)
    docs = []
    copied: list[str] = []
    for doc_id in range(n_docs):
        lines = []
        for _ in range(rng.randint(1, 5)):
            r = rng.random()
            if r < 0.15:
                lines.append(rng.choice(BOILERPLATE))
            elif r < 0.25 and copied:
                lines.append(rng.choice(copied))
            else:
                line = " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 24)))
                lines.append(line)
                if rng.random() < 0.05:
                    copied.append(line)
        if rng.random() < 0.05 and len(lines) > 1:
            lines.append(lines[0])
        text = "\n".join(lines)
        if rng.random() < 0.03 and docs:
            text = docs[rng.randrange(len(docs))][2]  # exact duplicate
        docs.append((doc_id, rng.choice(LANGS), text))
    return docs


def document_files(data_dir: str, docs: list[tuple], n_files: int) -> list[str]:
    """Split ``docs`` into ``n_files`` JSON-lines files by ``doc_id``
    range. Range order is a precondition of the curation law: the
    incremental 'first in (batch, doc)' order equals the batch 'first in
    doc' order only when files partition the id space in order."""
    os.makedirs(data_dir, exist_ok=True)
    per = (len(docs) + n_files - 1) // n_files
    paths = []
    for f in range(n_files):
        p = os.path.join(data_dir, f"docs-{f:02d}.json")
        with open(p, "w") as fh:
            for doc_id, lang, text in docs[f * per : (f + 1) * per]:
                fh.write(json.dumps({"doc_id": doc_id, "lang": lang, "text": text}) + "\n")
        paths.append(p)
    return paths


def trickle(queue_url: str, data_dir: str, rate: float, seconds: float, rows: int, seed: int,
            start: float, manifest: str) -> None:
    """Open-loop generator: file ``i`` is due at ``start`` plus the sum of
    ``i`` exponential gaps of mean ``1/rate``. At its due time the file is
    written and its event sent, stamped with the due time; a slow
    consumer never delays the schedule. Writes [(path, due, sent, vsum)] as
    JSON to ``manifest`` when done, each with the file's value sum."""
    import pyarrow as pa

    from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    os.makedirs(data_dir, exist_ok=True)
    queue = LocalFileQueueClient(queue_url)
    rng = np.random.default_rng(seed)
    due = start
    sent = []
    i = 0
    while True:
        due += rng.exponential(1.0 / rate)
        if due > start + seconds:
            break
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        p = os.path.join(data_dir, f"part-{i:06d}.parquet")
        _, vsum = small_parquet(p, i, rows, rng)
        queue.send_file_event(p, int(due * 1000))
        sent.append((p, due, time.time(), vsum))
        i += 1
    with open(manifest + ".tmp", "w") as f:
        json.dump(sent, f)
    os.rename(manifest + ".tmp", manifest)


if __name__ == "__main__":
    # python3 gen.py trickle <queue_url> <data_dir> <rate> <seconds> <rows> <seed> <start> <manifest>
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    if sys.argv[1] != "trickle":
        raise SystemExit(f"unknown generator {sys.argv[1]!r}")
    q, data, rate, secs, rows, seed, start, manifest = sys.argv[2:10]
    trickle(q, data, float(rate), float(secs), int(rows), int(seed), float(start), manifest)
