"""Sequence packing: assign documents to fixed-capacity training sequences.

LLM training consumes fixed-length token sequences (2k–128k tokens); the
corpus is variable-length documents. Two standard packings:

- **Concat-and-split** (GPT-style): lay documents end-to-end in a
  deterministic order and chop the stream every ``capacity`` tokens.
  Documents may straddle sequence boundaries. This is an exclusive
  running sum over a window — one shuffle (hash by shard), sort within
  shard, pure JVM expressions — and fully SQL-expressible, so it
  oracle-checks against DuckDB window functions.

- **First-fit-decreasing bin packing** (no-split): each document lands
  whole in exactly one sequence; FFD greedily fills bins, wasting at
  most ~22% over optimal (classic 11/9·OPT + 6/9 bound). Inherently
  sequential, so it runs per-shard inside ``applyInPandas`` — shards
  pack independently and in parallel, trading a little fill efficiency
  at shard boundaries for linear scale-out. Verified by packing laws
  (capacity never exceeded, every doc assigned once, bin count within
  the FFD bound of the lower bound) rather than a SQL oracle.

Scale shape: both modes shuffle the corpus exactly once, by
``shard = pmod(sort_key, num_shards)``. Shard count is the parallelism
knob — at 100 TB use thousands of shards so each applyInPandas group
holds ~millions of (id, token_count) pairs, not documents (only the two
small columns flow through the packer; text never moves).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_streaming_sql_s3_connector_spark.functions.text import token_count


def _with_tokens(df: DataFrame, text_col: str | None, token_col: str | None):
    if (text_col is None) == (token_col is None):
        raise ValueError("pass exactly one of text_col / token_col")
    if token_col is not None:
        return df, F.col(token_col)
    return df, token_count(F.col(text_col))


def pack_concat(
    df: DataFrame,
    id_col: str,
    capacity: int,
    text_col: str | None = None,
    token_col: str | None = None,
    num_shards: int = 32,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Concat-and-split packing. Returns one row per document:

    - ``shard``: which independent token stream the doc belongs to
      (``pmod(id, num_shards)`` — deterministic and engine-portable);
    - ``start_offset``: the doc's first token's position in the shard
      stream;
    - ``seq_first`` / ``seq_last``: the first and last ``capacity``-sized
      sequence the doc's tokens land in (``seq_last > seq_first`` means
      the doc straddles a boundary);
    - ``n_tokens``.

    Empty documents (0 tokens) attach to the sequence at their offset.
    Global sequence ids are ``(shard, seq_first)`` pairs — shard streams
    are independent by design so packing parallelizes.

    ``keep_cols``: extra input columns carried verbatim onto each doc's
    manifest row (emitted right after ``id_col``). Lets a caller that
    needs per-doc metadata BESIDE the packing columns (the incremental
    curation finalize carries ``lang``/``qscore``) get them in the SAME
    window pass instead of joining the manifest back against its input —
    the packing arithmetic is unchanged and the default is a no-op.
    They may not repeat ``id_col`` or a generated column.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    taken = {id_col, "shard", "start_offset", "n_tokens", "seq_first", "seq_last"}
    if set(keep_cols) & taken:
        raise ValueError(
            f"keep_cols {sorted(set(keep_cols) & taken)} collide with the "
            "id column or the generated manifest columns"
        )
    base, tok = _with_tokens(df, text_col, token_col)
    shard = F.pmod(F.col(id_col), F.lit(num_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(id_col)
    keep = [F.col(c) for c in keep_cols]
    sized = base.select(
        F.col(id_col), *keep, shard.alias("shard"), tok.cast("bigint").alias("n_tokens")
    )
    start = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return sized.select(
        id_col,
        *keep_cols,
        "shard",
        start.alias("start_offset"),
        "n_tokens",
    ).select(
        id_col,
        *keep_cols,
        "shard",
        "start_offset",
        "n_tokens",
        # integer `div`, not floor(double /): double division is only exact
        # for power-of-two capacities below 2^53 — `div` matches the
        # DuckDB oracle's exact integer `//` for any capacity/offset.
        F.expr(f"start_offset div {int(capacity)}").cast("bigint").alias("seq_first"),
        F.expr(
            f"greatest(start_offset + n_tokens - 1, start_offset) div {int(capacity)}"
        )
        .cast("bigint")
        .alias("seq_last"),
    )


def sequence_manifest(
    df: DataFrame,
    id_col: str,
    capacity: int,
    text_col: str | None = None,
    token_col: str | None = None,
    num_shards: int = 32,
) -> DataFrame:
    """The training-loader view of concat-and-split packing: one row per
    (sequence, document slice). For every document this explodes the
    sequences it touches and emits which token range of the doc lands
    where in the sequence:

    - ``shard``, ``seq``: the sequence's identity (``(shard, seq)`` is
      globally unique);
    - ``pos_in_seq``: where the slice starts inside the sequence;
    - ``doc_from`` / ``doc_to``: the half-open token range of the doc
      (``doc_to - doc_from`` tokens, contiguous);
    - reading a sequence = its rows ordered by ``pos_in_seq``.

    Pure map-side arithmetic on top of :func:`pack_concat` (an explode of
    at most ``1 + n_tokens/capacity`` rows per doc — no extra shuffle),
    so the manifest for a 100 TB corpus costs the same one hash shuffle
    as the packing itself. Zero-token docs emit no slices.
    """
    packed = pack_concat(
        df,
        id_col,
        capacity,
        text_col=text_col,
        token_col=token_col,
        num_shards=num_shards,
    )
    seq = F.explode(F.sequence(F.col("seq_first"), F.col("seq_last"))).alias("seq")
    base = packed.where(F.col("n_tokens") > 0).select(
        id_col, "shard", "start_offset", "n_tokens", seq
    )
    seq_start = F.col("seq") * capacity
    doc_from = F.greatest(seq_start - F.col("start_offset"), F.lit(0))
    doc_to = F.least(
        (F.col("seq") + 1) * capacity - F.col("start_offset"), F.col("n_tokens")
    )
    pos_in_seq = F.greatest(F.col("start_offset") - seq_start, F.lit(0))
    return base.select(
        "shard",
        F.col("seq").cast("bigint").alias("seq"),
        F.col(id_col),
        pos_in_seq.cast("bigint").alias("pos_in_seq"),
        doc_from.cast("bigint").alias("doc_from"),
        doc_to.cast("bigint").alias("doc_to"),
    )


def materialize_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int,
    num_shards: int = 32,
) -> DataFrame:
    """Build the actual training sequences: ``(shard, seq, seq_text,
    seq_tokens)`` with ``seq_text`` the space-joined tokens of every doc
    slice in manifest order. Every sequence except a shard's last holds
    exactly ``capacity`` tokens.

    Cost shape (honest accounting — this is the one packing step that
    must move text): the manifest itself adds no shuffle, but slicing
    needs the tokens, so this joins manifest→corpus on the doc id (one
    shuffle of the corpus' token arrays) and aggregates by (shard, seq)
    (one shuffle of the sliced spans — each token travels once). At
    100 TB that is the irreducible 2× token movement of any
    concat-packing materialization; emit the manifest alone when the
    trainer can gather slices itself.
    """
    man = sequence_manifest(
        df, id_col, capacity, text_col=text_col, num_shards=num_shards
    )
    toks = df.select(
        F.col(id_col), token_count(F.col(text_col)).alias("_nt"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
    ).where(F.col("_nt") > 0)
    sliced = man.join(toks, id_col).select(
        "shard",
        "seq",
        "pos_in_seq",
        F.slice(
            "_toks",
            (F.col("doc_from") + 1).cast("int"),
            (F.col("doc_to") - F.col("doc_from")).cast("int"),
        ).alias("_span"),
    )
    return (
        sliced.groupBy("shard", "seq")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos_in_seq", "_span"))
            ).alias("_parts")
        )
        .select(
            "shard",
            "seq",
            F.array_join(
                F.flatten(F.transform("_parts", lambda s: s["_span"])), " "
            ).alias("seq_text"),
            F.aggregate(
                F.transform("_parts", lambda s: F.size(s["_span"])),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("seq_tokens"),
        )
    )


class _FirstFitTree:
    """Leftmost-bin-that-fits in O(log B) per item via a max segment
    tree over per-bin remaining capacity — the naive linear scan is
    O(items × bins) per shard, hours of pure Python at the shard sizes
    the module prescribes. Placement order is IDENTICAL to the naive
    first-fit (leftmost bin with remaining ≥ n), verified by the
    differential test in tests/test_packing.py."""

    def __init__(self, capacity: int):
        self.capacity = capacity
        self.rem: list[int] = []
        self._size = 1
        self._tree = [-1, -1]  # 1-based heap; leaves at [_size, 2*_size)

    def _rebuild(self) -> None:
        size = self._size
        t = [-1] * (2 * size)
        for i, r in enumerate(self.rem):
            t[size + i] = r
        for i in range(size - 1, 0, -1):
            t[i] = t[2 * i] if t[2 * i] >= t[2 * i + 1] else t[2 * i + 1]
        self._tree = t

    def _update(self, i: int, val: int) -> None:
        j = self._size + i
        t = self._tree
        t[j] = val
        j //= 2
        while j:
            m = t[2 * j] if t[2 * j] >= t[2 * j + 1] else t[2 * j + 1]
            if t[j] == m:
                break
            t[j] = m
            j //= 2

    def place(self, n: int) -> int:
        """Bin index for an item of ``n`` tokens: leftmost existing bin
        with remaining ≥ n, else a new bin (oversize items always open
        their own bin and close it)."""
        if n < self.capacity and self._tree[1] >= n:
            j = 1
            while j < self._size:
                j *= 2
                if self._tree[j] < n:
                    j += 1
            b = j - self._size
            self.rem[b] -= n
            self._update(b, self.rem[b])
            return b
        b = len(self.rem)
        self.rem.append(self.capacity - n)  # negative for oversize: never fits more
        if b >= self._size:
            while b >= self._size:
                self._size *= 2
            self._rebuild()
        else:
            self._update(b, self.rem[b])
        return b


def pack_first_fit(
    df: DataFrame,
    id_col: str,
    capacity: int,
    text_col: str | None = None,
    token_col: str | None = None,
    num_shards: int = 32,
) -> DataFrame:
    """First-fit-decreasing no-split packing, independent per shard.

    Returns one row per document: ``(id, shard, bin_id, n_tokens)`` where
    ``bin_id`` numbers bins within the shard (global bin = (shard,
    bin_id)). Documents longer than ``capacity`` get a bin of their own
    (oversize is allowed, never mixed). Only (id, token_count) rows flow
    into the packer — at scale the text column never shuffles.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    base, tok = _with_tokens(df, text_col, token_col)
    shard = F.pmod(F.col(id_col), F.lit(num_shards)).cast("int")
    sized = base.select(
        F.col(id_col).alias("_id"),
        shard.alias("shard"),
        tok.cast("bigint").alias("n_tokens"),
    )

    def _ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "_id"], ascending=[False, True])
        ff = _FirstFitTree(capacity)
        assign = [ff.place(int(n)) for n in pdf["n_tokens"].to_numpy()]
        out = pdf.copy()
        out["bin_id"] = assign
        return out

    schema = "_id bigint, shard int, n_tokens bigint, bin_id int"
    packed = sized.groupBy("shard").applyInPandas(_ffd, schema)
    return packed.select(
        F.col("_id").alias(id_col), "shard", "bin_id", "n_tokens"
    )


def length_bucket_batches(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    token_col: str | None = None,
    batch_size: int = 32,
    bucket_width: int = 128,
    boundaries: list[int] | None = None,
    shards: int = 8,
    salt: str = "lenbucket",
) -> DataFrame:
    """Length-bucketed training batches (padding-efficient batching).

    Padded-batch training (seq2seq, rerankers, embedding models, any
    non-packed fine-tune) pads every sequence in a batch to the batch
    max; batching uniformly at random wastes compute proportional to
    the length spread. The standard fix buckets sequences by length and
    forms batches WITHIN a bucket, so each batch pads only to its
    bucket's ceiling.

    Assignment is fully deterministic and seed-stable (re-running on
    the same corpus reproduces every batch):

    - ``bucket_id``: ``floor(len / bucket_width)``, or with explicit
      sorted ``boundaries`` ``[b1, …, bk]`` the count of boundaries
      ``<= len`` (k+1 buckets);
    - ``shard``: salted-md5 hash of the id into ``shards`` slots — the
      parallelism knob (see scale note);
    - within ``(bucket, shard)`` rows are ordered by a second salted
      md5 (hex-string order, engine-portable) and cut into consecutive
      ``batch_size`` groups: ``batch_seq`` numbers the batches,
      ``seq_in_batch`` the row's slot. The hash order makes batches a
      uniform random-but-reproducible draw from the bucket, so batch
      statistics are unbiased without a global shuffle.

    Returns one row per input row: ``(id_col, n_tokens, bucket_id,
    shard, batch_seq, seq_in_batch)``; a batch's identity is
    ``(bucket_id, shard, batch_seq)`` and the last batch of each
    (bucket, shard) may be short.

    Scale shape (the 100 TB design): ONE shuffle — the window
    partitions by ``(bucket_id, shard)``, so parallelism is
    buckets × shards and per-task sort size is corpus/(buckets×shards),
    tunable to the cluster without touching batch semantics (a batch
    never crosses shards, so changing cluster size never changes batch
    membership — only ``shards`` does, and that is an explicit,
    recorded parameter). This is deliberately NOT the per-stratum
    window of `keep_top_fraction` (whose strata are data-given, few,
    and serialize); here the strata are synthetic and sized to the
    cluster. Only (id, n_tokens) columns flow through the shuffle —
    text never moves.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    if shards < 1 or shards > 10000:
        raise ValueError("shards must be in [1, 10000] (md5 bucket space)")
    if boundaries is not None:
        if not boundaries or sorted(boundaries) != list(boundaries):
            raise ValueError("boundaries must be a non-empty sorted list")
    elif bucket_width < 1:
        raise ValueError("bucket_width must be >= 1")
    base, tok = _with_tokens(df, text_col, token_col)
    n_tokens = tok.cast("bigint")
    if boundaries is not None:
        blit = F.array(*[F.lit(int(b)).cast("bigint") for b in boundaries])
        bucket = F.filter(blit, lambda b: b <= n_tokens)
        bucket = F.size(bucket)
    else:
        bucket = F.floor(n_tokens / F.lit(bucket_width)).cast("int")
    from spark_streaming_sql_s3_connector_spark.operators.sampling import (
        _hash_bucket,
    )

    sized = base.select(
        F.col(id_col).alias("_id"),
        n_tokens.alias("n_tokens"),
        bucket.cast("int").alias("bucket_id"),
        (_hash_bucket(F.col(id_col), salt) % shards).cast("int").alias("shard"),
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt + "#o"))).alias(
            "_ord"
        ),
    )
    w = Window.partitionBy("bucket_id", "shard").orderBy("_ord", "_id")
    rn = F.row_number().over(w) - 1
    return sized.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        "bucket_id",
        "shard",
        (rn / batch_size).cast("int").alias("batch_seq"),
        (rn % batch_size).cast("int").alias("seq_in_batch"),
    )


def batch_padding_stats(assigned: DataFrame) -> DataFrame:
    """Per-batch padding accounting over `length_bucket_batches` output:
    ``(bucket_id, shard, batch_seq, n_seqs, batch_len, sum_tokens,
    pad_tokens)`` where ``batch_len`` is the batch's max length (what
    every row pads to) and ``pad_tokens = n_seqs·batch_len −
    sum_tokens`` is the wasted compute. Integer-exact (hash-stable);
    one partial-aggregated shuffle keyed by the batch identity."""
    return (
        assigned.groupBy("bucket_id", "shard", "batch_seq")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.max("n_tokens").alias("batch_len"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .withColumn(
            "pad_tokens",
            F.col("n_seqs") * F.col("batch_len") - F.col("sum_tokens"),
        )
    )
