"""Streaming lexical-retrieval statistics — the incremental half of
BM25 (`operators/retrieval.bm25_search`).

Batch BM25 computes its corpus statistics (N, Σdl, per-term document
frequency) with an extra corpus scan per query. Over a STREAMING
corpus those statistics are pure sums — every micro-batch contributes
``(term → +df)`` and ``(+n_docs, +Σdl)`` deltas — so we persist them
in the rollup delta-log layout and BM25 serves from state: ONE corpus
scan per query, statistics always current, no history re-read.

Correctness precondition (documented, tested): a document must be
counted in exactly ONE batch — which is precisely what the upstream
connector + streaming exact dedup guarantee in this repo's curation
pipeline. Replays of a batch OVERWRITE that batch's own delta dir, so
redelivery converges instead of double-counting (the
``streaming/rollup.py`` exactly-once recipe, reused verbatim: delta
dir per batch id, ``base/v=<n>`` + atomic pointer, readers union base
+ live deltas).

At 100 TB: the per-batch work is one explode of the batch (not the
corpus) + a term-keyed count with map-side combine; the delta log
grows by distinct-terms-per-batch rows per trigger;
``compact_term_stats`` folds it to one base on any schedule. Serving
reads only the query terms' rows (a broadcast-scale slice) plus the
one corpus row.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.functions.text import tokenize
from spark_streaming_sql_s3_connector_spark.streaming import state_io
from spark_streaming_sql_s3_connector_spark.streaming.delta_plane import (
    DeltaPlane,
    declare,
    foreach_batch,
)

_TERMS = "terms"
_CORPUS = "corpus"
_POSTINGS = "postings"
# r9: document deletes propagate into the lexical serving state too —
# df/corpus absorb NEGATIVE deltas (they are order-free sums, so
# insert/delete interleavings always net out), while postings carry
# their insert batch id (`b`) and deletes write id-keyed markers under
# deleted/batch=<t> with the ANN tombstone ordering: a marker t kills
# posting rows with b < t, so a later re-insert serves again.
# compact_term_stats applies markers below the fold horizon physically
# and GCs them.
_DELETED = "deleted"
# postings files per delta/base: term-hash repartition + within-file term
# sort so a query's In(term, ...) filter prunes at the parquet row-group
# level; at cluster scale the same layout is a bucketed-by-term table and
# a query touches only its terms' buckets
_POSTINGS_FILES = 8


def _plane(sink_dir: str, sub: str) -> DeltaPlane:
    """The ``terms`` / ``corpus`` / ``postings`` plane; the postings
    plane owns the ``deleted`` markers (its pointer is their horizon)."""
    markers = os.path.join(sink_dir, _DELETED, "_deltas") if sub == _POSTINGS else None
    return DeltaPlane(os.path.join(sink_dir, sub), markers=markers)

def term_stats_batch(
    batch: DataFrame,
    batch_id: int,
    sink_dir: str,
    text_col: str,
    id_col: str,
    with_postings: bool = False,
) -> None:
    """One micro-batch's contribution: per-term document-frequency
    deltas and the one corpus-totals row, each OVERWRITING this batch's
    own delta dir (idempotent on replay). With ``with_postings`` the
    state also carries a real inverted index — ``term | id | tf | dl``
    rows, the Lucene postings-list shape — so BM25 can serve with ZERO
    corpus scans (``bm25_search_postings``); the storage cost is the
    classic one (O(distinct (doc, term) pairs)) and stays off unless a
    serving path asks for it."""
    from spark_streaming_sql_s3_connector_spark.streaming.concurrency import (
        run_concurrently,
    )

    declare(sink_dir, "term_stats")
    toks = tokenize(F.lower(F.col(text_col)))
    # tokenize ONCE per batch (r14): the terms delta, the corpus-totals
    # delta (and the postings delta when on) each re-ran the regexp
    # tokenizer over the batch text — the trigger's dominant per-row
    # cost — as independent scans. One narrow (id, tokens) frame is
    # persisted and every delta derives from it; the text column never
    # outlives the first pass.
    tokenized = batch.select(
        F.col(id_col).alias("id"), toks.alias("_toks")
    ).persist()
    terms = (
        tokenized.select(F.explode(F.array_distinct("_toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    corpus = tokenized.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size("_toks")), F.lit(0)).cast("bigint").alias("sum_dl"),
    )
    try:
        # the per-batch delta writes touch disjoint dirs, are each
        # overwrite-by-batch (replay-convergent) and share only the
        # cached tokenized parent — submit them concurrently so their
        # fixed per-job costs overlap (guide §2.6; the same discipline
        # as the curation screens' paired plane writes)
        writes = [
            lambda: terms.write.mode("overwrite").parquet(
                _plane(sink_dir, _TERMS).delta_path(batch_id)
            ),
            lambda: corpus.write.mode("overwrite").parquet(
                _plane(sink_dir, _CORPUS).delta_path(batch_id)
            ),
        ]
        if with_postings:
            postings = (
                tokenized.select(
                    "id",
                    F.size("_toks").alias("dl"),
                    F.explode("_toks").alias("term"),
                )
                .groupBy("term", "id", "dl")
                .agg(F.count(F.lit(1)).cast("int").alias("tf"))
                # insert order — what delete markers rank against
                .withColumn("b", F.lit(int(batch_id)).cast("long"))
                .repartition(_POSTINGS_FILES, "term")
                .sortWithinPartitions("term")
            )
            writes.append(
                lambda: postings.write.mode("overwrite").parquet(
                    _plane(sink_dir, _POSTINGS).delta_path(batch_id)
                )
            )
        run_concurrently(*writes)
    finally:
        tokenized.unpersist()


def delete_docs_from_term_stats(
    docs: DataFrame,
    batch_id: int,
    sink_dir: str,
    text_col: str,
    id_col: str,
) -> None:
    """Remove documents from the persisted lexical state — the delete
    half of the curation lifecycle on the BM25 side (a doc dropped by
    dedup/decontamination/policy must stop serving AND stop skewing the
    corpus statistics). Pass the deleted docs WITH their text (the
    curation flow has them in hand at drop time): df and corpus totals
    get this batch's NEGATED deltas (order-free sums — any interleaving
    of inserts and deletes nets to the surviving corpus's exact stats,
    law-tested), and an id-keyed marker lands under
    ``deleted/batch=<batch_id>`` killing posting rows INSERTED strictly
    before it (ANN tombstone ordering: a later re-insert serves again).
    Everything overwrites its own batch dir — replay-convergent.
    Precondition: inserts and deletes share one monotonic batch-id
    sequence, and a doc is deleted at most once per life (the same
    exactly-once contract the inserts already carry)."""
    toks = tokenize(F.lower(F.col(text_col)))
    terms = (
        docs.select(F.explode(F.array_distinct(toks)).alias("term"))
        .groupBy("term")
        .agg((-F.count(F.lit(1))).alias("df"))
    )
    corpus = docs.agg(
        (-F.count(F.lit(1))).alias("n_docs"),
        (-F.coalesce(F.sum(F.size(toks)), F.lit(0))).cast("bigint").alias("sum_dl"),
    )
    terms.write.mode("overwrite").parquet(
        _plane(sink_dir, _TERMS).delta_path(batch_id)
    )
    corpus.write.mode("overwrite").parquet(
        _plane(sink_dir, _CORPUS).delta_path(batch_id)
    )
    (
        docs.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("t", F.lit(int(batch_id)).cast("long"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_plane(sink_dir, _POSTINGS).marker_path(batch_id))
    )


def streaming_term_stats(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    text_col: str,
    id_col: str,
    trigger_available_now: bool = False,
    with_postings: bool = False,
):
    """Maintain BM25 corpus statistics off any stream (incl. the
    s3-connector source). Returns the StreamingQuery. Law (tested):
    after any sequence of triggers and replays, the persisted stats
    equal the batch statistics over the union of admitted docs."""
    writer = foreach_batch(
        stream, checkpoint_dir, term_stats_batch, sink_dir, text_col, id_col,
        with_postings=with_postings,
    )
    return (writer.trigger(availableNow=True) if trigger_available_now else writer).start()


def term_stats_exist(sink_dir: str) -> bool:
    """True iff ``sink_dir`` holds servable term-stats state (a base
    pointer or at least one live delta for the corpus totals)."""
    return bool(_plane(sink_dir, _CORPUS).live())


def _live(spark: SparkSession, sink_dir: str, sub: str) -> DataFrame:
    plane = _plane(sink_dir, sub)
    live = plane.live()
    if not live:
        raise FileNotFoundError(f"no term-stats state under {sink_dir}/{sub}")
    return plane.read(spark, live)


def read_term_stats(
    spark: SparkSession, sink_dir: str, terms: Optional[Sequence[str]] = None
) -> DataFrame:
    """Current per-term document frequencies: ``term | df``. Pass
    ``terms`` to read only a query's slice (the serving path — the
    filter prunes before the fold)."""
    allt = _live(spark, sink_dir, _TERMS)
    if terms is not None:
        allt = allt.where(F.col("term").isin(list(terms)))
    return allt.groupBy("term").agg(F.sum("df").alias("df"))


def read_corpus_stats(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Current corpus totals: one row ``n_docs | sum_dl``."""
    return _corpus_totals(_live(spark, sink_dir, _CORPUS))


def _corpus_totals(allc: DataFrame) -> DataFrame:
    return allc.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )


def _live_delete_markers(spark: SparkSession, sink_dir: str) -> Optional[DataFrame]:
    """Un-applied document-delete markers (``id | t``): every marker dir
    at/above the postings fold horizon (dirs below it were applied
    physically by compaction and GC'd; a replayed folded dir is
    filtered here, exactly like the ANN tombstone liveness rule).
    None when the state has never seen a delete."""
    plane = _plane(sink_dir, _POSTINGS)
    return plane.marker_frame(spark, plane.live_markers())


def _apply_markers(posts: DataFrame, marks: Optional[DataFrame]) -> DataFrame:
    """Anti-join delete markers onto posting rows with insert-order
    semantics: marker t kills rows with b < t (pre-`b` rows from a
    legacy layout count as oldest). The marker set is the delete sliver
    — broadcast."""
    if marks is None:
        return posts
    b_ord = (
        F.col("b") if "b" in posts.columns else F.lit(-1).cast("long")
    )
    m = marks.select(F.col("id").alias("_did"), F.col("t").alias("_dt"))
    return posts.join(
        F.broadcast(m),
        (posts["id"] == F.col("_did")) & (b_ord < F.col("_dt")),
        "left_anti",
    )


def compact_term_stats(
    spark: SparkSession, sink_dir: str, upto_batch: Optional[int] = None
) -> None:
    """Fold committed delta dirs into ``base/v=<n>`` for both state
    tables (atomic pointer flip; correctness never depends on when this
    runs). ``upto_batch`` defaults to the highest delta present — pass
    the last COMMITTED batch id when compacting a live stream, exactly
    as ``streaming/exact_dedup.compact_index`` documents. Delete
    markers at/below the postings fold horizon are applied PHYSICALLY
    to the folded postings (rows keep their insert order ``b``, so the
    anti-join is exact) and their dirs GC'd; markers above the horizon
    stay live and keep filtering at read."""
    below = None if upto_batch is None else upto_batch + 1
    terms = _plane(sink_dir, _TERMS)
    # deletes net terms to df=0 — drop them from the base
    terms.fold(
        lambda path, live, _: terms.read(spark, live)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .where(F.col("df") != 0)
        .write.mode("overwrite")
        .parquet(path),
        below,
    )
    corpus = _plane(sink_dir, _CORPUS)
    corpus.fold(
        lambda path, live, _: _corpus_totals(corpus.read(spark, live))
        .write.mode("overwrite")
        .parquet(path),
        below,
    )
    postings = _plane(sink_dir, _POSTINGS)
    if not state_io.is_dir(postings.root):
        return  # postings are opt-in state
    # each (term, doc) pair lives in exactly one batch (the exactly-once
    # precondition above), so postings need no fold — compaction is
    # file-count hygiene in the pruning layout, plus the physical
    # application of the delete markers being folded (rows keep their
    # insert order `b`). The postings horizon advances over applied
    # markers too, so a delete-only window still flips the pointer
    # (marker liveness keys off it) and GCs the marker dirs.
    postings.fold(
        lambda path, live, markers: _apply_markers(
            postings.read(spark, live), postings.marker_frame(spark, markers)
        )
        .repartition(_POSTINGS_FILES, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path),
        below,
    )


def bm25_search_indexed(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: Sequence[str],
    sink_dir: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 over a corpus whose statistics live in persisted term-stats
    state: identical semantics (and identical results — law-tested) to
    ``operators/retrieval.bm25_search`` on the same corpus, but the
    stats scan is replaced by a query-term-sliced state read, so the
    query costs ONE corpus scan instead of two and the stats stay
    current as the stream appends."""
    from spark_streaming_sql_s3_connector_spark.operators.retrieval import (
        _bm25_contrib,
    )

    spark = corpus.sparkSession
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if any(t is None or t == "" or t != t.strip().lower() for t in terms):
        raise ValueError("query_terms must be lowercase and stripped")
    # the two driver-side stats reads (term df slice + 1-row corpus
    # totals) union into ONE Spark job — serving latency is job count
    # locally, and both relations are broadcast-scale by construction
    stats = read_term_stats(spark, sink_dir, terms).select(
        "term",
        F.col("df").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
    ).unionByName(
        read_corpus_stats(spark, sink_dir).select(
            F.lit(None).cast("string").alias("term"),
            F.col("n_docs").alias("a"),
            F.col("sum_dl").alias("b"),
        )
    ).collect()
    dfreq = {r.term: int(r.a) for r in stats if r.term is not None}
    tot = next(r for r in stats if r.term is None)
    n_docs, sum_dl = int(tot.a), int(tot.b)
    if n_docs == 0:
        raise ValueError("term-stats state is empty")
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    toks = tokenize(F.lower(F.col(text_col)))

    def _count_of(term: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    live = [t for t in terms if dfreq.get(t, 0) > 0]
    narrow = corpus.select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        *[_count_of(t).alias(f"_tf_{i}") for i, t in enumerate(live)],
    )
    contribs = [
        F.when(
            F.col(f"_tf_{i}") > 0,
            _bm25_contrib(
                F.col(f"_tf_{i}"), F.lit(dfreq[t]), F.col("_dl"),
                F.lit(n_docs), avgdl, k1, b,
            ),
        ).otherwise(F.lit("0").cast("decimal(20,7)"))
        for i, t in enumerate(live)
    ]
    matched = [(F.col(f"_tf_{i}") > 0).cast("int") for i in range(len(live))]
    if not live:
        return narrow.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("score"),
            F.lit(0).alias("n_matched"),
            F.col("_dl").cast("bigint").alias("dl"),
        ).where(F.lit(False))
    return (
        narrow.select(
            F.col(id_col),
            sum(contribs[1:], contribs[0]).alias("_s"),
            sum(matched[1:], matched[0]).alias("n_matched"),
            F.col("_dl").cast("bigint").alias("dl"),
        )
        .where(F.col("n_matched") > 0)
        .orderBy(F.col("_s").desc(), F.col(id_col).asc())
        .limit(top_k)
        .select(
            F.col(id_col),
            F.round(F.col("_s"), 6).cast("double").alias("score"),
            "n_matched",
            "dl",
        )
    )


def bm25_search_postings_batch(
    spark: SparkSession,
    queries,
    sink_dir: str,
    id_col: str = "id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 for a whole BATCH of queries in ONE zero-corpus-scan plan —
    the amortized serving shape (r10 verdict task #7: real serving
    amortizes state reads across a query batch, the analog of the
    connector's ``maxFilesPerTrigger`` batch cut).

    ``queries``: a mapping ``query_id -> term sequence`` (or an
    iterable of such pairs). Vs looping :func:`bm25_search_postings`
    Q times:

    - ONE pruned postings read sliced by ``In(term, union-of-terms)``
      instead of Q reads with Q job startups;
    - each posting row is scored once and replicated to ONLY the
      queries containing its term (a broadcast join against the
      |query,term| pair table — queries-per-term ≪ Q for distinct
      query mixes);
    - one (query_id, doc) partial agg + one per-query window top-k,
      both bounded by matched postings, never corpus-sized.

    Arithmetic is the single-query path bit-for-bit: df reaches
    `_bm25_contrib` as a broadcast-joined column instead of the
    single-query path's literal, but the contrib casts df to double
    first, so the decimals are identical — per query the rows equal
    ``bm25_search_postings(terms)`` exactly (law-tested). Queries none
    of whose terms exist in the corpus return no rows, matching the
    single-query empty frame."""
    from pyspark.sql import Window

    from spark_streaming_sql_s3_connector_spark.operators.retrieval import (
        _bm25_contrib,
    )

    pairs = queries.items() if isinstance(queries, dict) else queries
    qterms: dict[str, list[str]] = {}
    for q, ts in pairs:
        terms = sorted(set(ts))
        if not terms:
            raise ValueError(f"query {q!r} has no terms")
        if any(t is None or t == "" or t != t.strip().lower() for t in terms):
            raise ValueError("query terms must be lowercase and stripped")
        if str(q) in qterms:
            raise ValueError(f"duplicate query_id {q!r}")
        qterms[str(q)] = terms
    if not qterms:
        raise ValueError("queries must be non-empty")
    union = sorted({t for ts in qterms.values() for t in ts})
    tot = read_corpus_stats(spark, sink_dir).collect()[0]  # ONE row
    n_docs, sum_dl = int(tot.n_docs), int(tot.sum_dl)
    if n_docs == 0:
        raise ValueError("term-stats state is empty")
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    # per-term df rides a BROADCAST (term, df) frame instead of the
    # pre-r12 driver collect + O(|union|) chained CASE WHEN literal:
    # a 256-query/2k-term batch plans flat (no expression-depth or
    # literal-plan growth), and the only driver read left is the 1-row
    # corpus totals the avgdl literal needs. df > 0 is the same
    # liveness rule the single-query path applies driver-side — a term
    # deleted down to zero df contributes nothing, and a query with no
    # live terms naturally yields no rows (the single-query empty
    # frame, law-tested).
    live_df = read_term_stats(spark, sink_dir, union).where(F.col("df") > 0)
    posts = _apply_markers(
        _live(spark, sink_dir, _POSTINGS).where(
            F.col("term").isin(union)
        ),
        _live_delete_markers(spark, sink_dir),
    )
    # (term, query_id) pair table: |Σ terms per query| rows — broadcast
    tq = spark.createDataFrame(
        [(t, q) for q, ts in sorted(qterms.items()) for t in ts],
        "term string, query_id string",
    )
    contrib = _bm25_contrib(
        F.col("tf"), F.col("_df"), F.col("dl"), F.lit(n_docs), avgdl, k1, b
    )
    scored = (
        posts.join(
            F.broadcast(live_df.select("term", F.col("df").alias("_df"))),
            "term",
        )
        .select("id", "dl", "term", contrib.alias("_c"))
        .join(F.broadcast(tq), "term")
        .groupBy("query_id", "id", "dl")
        .agg(
            F.sum("_c").alias("_s"),
            F.count(F.lit(1)).cast("int").alias("n_matched"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_s").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(top_k))
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.round(F.col("_s"), 6).cast("double").alias("score"),
            "n_matched",
            F.col("dl").cast("bigint").alias("dl"),
        )
    )


def postings_exist(sink_dir: str) -> bool:
    """True iff the state carries the opt-in postings table."""
    return bool(_plane(sink_dir, _POSTINGS).live())


def bm25_search_postings(
    spark: SparkSession,
    query_terms: Sequence[str],
    sink_dir: str,
    id_col: str = "id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 with ZERO corpus scans — the search-engine serving shape:
    every input is a query-term slice of persisted state. The postings
    read is pruned by the ``In(term, ...)`` filter (row-group stats in
    the term-sorted layout; a bucketed-by-term table at cluster scale),
    so query cost is O(Σ df(term)) — independent of corpus size, unlike
    ``bm25_search_indexed``'s one scan and ``bm25_search``'s two.
    Identical arithmetic to both (same ``_bm25_contrib`` decimals, same
    round-6 cut — equality is law-tested): the sum over a doc's posting
    rows equals the indexed twin's tf>0-gated column sum because a
    posting row exists exactly when tf > 0."""
    from spark_streaming_sql_s3_connector_spark.operators.retrieval import (
        _bm25_contrib,
    )

    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    if any(t is None or t == "" or t != t.strip().lower() for t in terms):
        raise ValueError("query_terms must be lowercase and stripped")
    # the two driver-side stats reads (term df slice + 1-row corpus
    # totals) union into ONE Spark job — serving latency is job count
    # locally, and both relations are broadcast-scale by construction
    stats = read_term_stats(spark, sink_dir, terms).select(
        "term",
        F.col("df").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
    ).unionByName(
        read_corpus_stats(spark, sink_dir).select(
            F.lit(None).cast("string").alias("term"),
            F.col("n_docs").alias("a"),
            F.col("sum_dl").alias("b"),
        )
    ).collect()
    dfreq = {r.term: int(r.a) for r in stats if r.term is not None}
    tot = next(r for r in stats if r.term is None)
    n_docs, sum_dl = int(tot.a), int(tot.b)
    if n_docs == 0:
        raise ValueError("term-stats state is empty")
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    live = [t for t in terms if dfreq.get(t, 0) > 0]
    posts = _apply_markers(
        _live(spark, sink_dir, _POSTINGS).where(
            F.col("term").isin(live if live else terms)
        ),
        _live_delete_markers(spark, sink_dir),
    )
    if not live:
        return posts.select(
            F.col("id").alias(id_col),
            F.lit(None).cast("double").alias("score"),
            F.lit(0).alias("n_matched"),
            F.col("dl").cast("bigint").alias("dl"),
        ).where(F.lit(False))
    # df as a literal when-chain (|terms| arms) — the same per-term
    # literals the scan twins use, so the decimal arithmetic is
    # bit-identical; no join, nothing broadcast but the plan itself
    df_lit = F.when(F.col("term") == F.lit(live[0]), F.lit(dfreq[live[0]]))
    for t in live[1:]:
        df_lit = df_lit.when(F.col("term") == F.lit(t), F.lit(dfreq[t]))
    contrib = _bm25_contrib(
        F.col("tf"), df_lit, F.col("dl"), F.lit(n_docs), avgdl, k1, b
    )
    return (
        posts.select("id", "dl", contrib.alias("_c"))
        .groupBy("id", "dl")
        .agg(
            F.sum("_c").alias("_s"),
            F.count(F.lit(1)).cast("int").alias("n_matched"),
        )
        .orderBy(F.col("_s").desc(), F.col("id").asc())
        .limit(top_k)
        .select(
            F.col("id").alias(id_col),
            F.round(F.col("_s"), 6).cast("double").alias("score"),
            "n_matched",
            F.col("dl").cast("bigint").alias("dl"),
        )
    )
