"""Delete propagation into the dedup-family SCREENING states (r10).

r9 gave deletes to the two SERVING states (ANN, lexical); these laws
cover the four persisted screens — exact md5 keys, line keys, passage
gram keys, MinHash bands — plus the policy split that makes the two
behaviors deliberate:

- forget (retention/consent): the screen forgets the doc's keys; a
  legitimate re-crawl of the same content is admitted as NEW again.
- takedown (legal/contamination): the screen keeps its keys; a
  re-crawl keeps bouncing — suppression is the point.

Per-state laws: forget→re-ingest admits; takedown→re-ingest rejects;
state == rebuild over the surviving unique docs (post-compaction);
replay of a folded delete converges; a forget writes only its marker
and leaves every other file of the index untouched; a re-insert after a
forget outranks the marker across compaction (insert-order semantics).

Also pins this round's ADVICE guards: marker-only term-stats postings
compaction windows no longer IndexError; compacting an all-tombstoned
ANN index raises a descriptive error instead of writing an unreadable
empty base; assemble_context preserves string doc ids.
"""

import os

import pytest
from pyspark.sql import functions as F

from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
    compact_index as compact_exact,
    delete_docs_from_screen,
    process_batch as exact_batch,
    read_dup_ids,
    read_unique_ids,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _b0(spark):
    return _docs(spark, [(i, f"text number {i}") for i in range(6)])


def test_exact_forget_readmits_and_takedown_rejects(spark, tmp_path):
    for policy_dir, forget in (("forget", True), ("takedown", False)):
        idx = str(tmp_path / policy_dir)
        exact_batch(_b0(spark), 0, idx)
        if forget:
            delete_docs_from_screen(
                _docs(spark, [(3, "text number 3")]), 1, idx
            )
        recrawl = _docs(spark, [(103, "text number 3")])
        exact_batch(recrawl, 2, idx)
        uniq = {r.doc_id for r in read_unique_ids(spark, idx).collect()}
        dups = {r.doc_id for r in read_dup_ids(spark, idx).collect()}
        if forget:
            assert 103 in uniq and 103 not in dups
            assert 3 not in uniq  # the forgotten doc itself is gone
        else:
            assert 103 in dups and 103 not in uniq


def _index_files(idx):
    """relative path → bytes for every file under ``idx``."""
    out = {}
    for d, _, names in os.walk(idx):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, idx)] = f.read()
    return out


def test_exact_forget_leaves_bloom_untouched_superset_safe(spark, tmp_path):
    idx = str(tmp_path / "idx")
    exact_batch(_b0(spark), 0, idx)
    before = _index_files(idx)
    delete_docs_from_screen(_docs(spark, [(3, "x")]), 1, idx)
    after = _index_files(idx)
    # forget writes only its marker dir: every other file is untouched
    assert {k: v for k, v in after.items() if not k.startswith("_deleted")} == before
    assert any(k.startswith(os.path.join("_deleted", "batch=1")) for k in after)
    # the forgotten key goes through the exact join, finds no live row,
    # and is admitted as new
    exact_batch(_docs(spark, [(103, "text number 3")]), 2, idx)
    assert 103 in {r.doc_id for r in read_unique_ids(spark, idx).collect()}


def test_exact_compaction_folds_markers_to_survivors(spark, tmp_path):
    idx = str(tmp_path / "idx")
    exact_batch(_b0(spark), 0, idx)
    delete_docs_from_screen(_docs(spark, [(3, "x")]), 1, idx)
    v = compact_exact(spark, idx)
    assert v == 1  # pointer advances over the marker-only tail too
    assert not os.path.isdir(os.path.join(idx, "_deleted", "batch=1"))
    uniq = {r.doc_id for r in read_unique_ids(spark, idx).collect()}
    assert uniq == {0, 1, 2, 4, 5}  # == rebuild over surviving uniques
    # replay of the folded delete converges: the rewritten marker dir is
    # at/below the fold horizon, so liveness filters it
    delete_docs_from_screen(_docs(spark, [(3, "x")]), 1, idx)
    assert uniq == {r.doc_id for r in read_unique_ids(spark, idx).collect()}


def test_exact_reinsert_after_forget_survives_compaction(spark, tmp_path):
    idx = str(tmp_path / "idx")
    exact_batch(_b0(spark), 0, idx)
    delete_docs_from_screen(_docs(spark, [(3, "x")]), 1, idx)
    exact_batch(  # re-crawl admitted at batch 2 > marker 1
        _docs(spark, [(103, "text number 3")]), 2, idx,
    )
    compact_exact(spark, idx)  # marker kills b<1 rows only; 103 has b=2
    uniq = {r.doc_id for r in read_unique_ids(spark, idx).collect()}
    assert 103 in uniq and 3 not in uniq
    # and the revived key screens again: another crawl is a duplicate
    exact_batch(
        _docs(spark, [(203, "text number 3")]), 3, idx,
    )
    assert 203 in {r.doc_id for r in read_dup_ids(spark, idx).collect()}


def test_line_dedup_forget_readmits_lines(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.line_dedup import (
        process_batch as line_batch,
        read_deduped_docs,
    )

    idx = str(tmp_path / "idx")
    b0 = _docs(spark, [(1, "alpha beta\ncommon shared line")])
    line_batch(b0, 0, idx)
    delete_docs_from_screen(b0, 1, idx)
    b2 = _docs(spark, [(20, "common shared line\nnew unique line")])
    line_batch(b2, 2, idx)
    out = {
        r.doc_id: r.deduped_text
        for r in read_deduped_docs(spark, idx).collect()
    }
    # without the forget, doc 20 would lose "common shared line"
    assert out[20] == "common shared line\nnew unique line"


def test_passage_dedup_forget_readmits_grams(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.passage_dedup import (
        process_batch as passage_batch,
        read_deduped_docs,
    )

    idx = str(tmp_path / "idx")
    b0 = _docs(spark, [(1, "a b c d e")])
    passage_batch(b0, 0, idx, k=3)
    delete_docs_from_screen(b0, 1, idx)
    b2 = _docs(spark, [(20, "a b c d e x")])
    passage_batch(b2, 2, idx, k=3)
    out = {r.doc_id: r for r in read_deduped_docs(spark, idx).collect()}
    assert out[20].n_kept_tokens == 6  # nothing masked after the forget


def test_minhash_band_forget_stops_candidate_pairs(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
        compact_index as compact_bands,
        process_batch as band_batch,
        read_candidate_pairs,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    for policy_dir, forget in (("forget", True), ("takedown", False)):
        idx = str(tmp_path / policy_dir)
        b0 = _docs(spark, [(1, text), (2, "completely different words here")])
        band_batch(b0, 0, idx)
        if forget:
            delete_docs_from_screen(_docs(spark, [(1, text)]), 1, idx)
        band_batch(_docs(spark, [(10, text)]), 2, idx)
        pairs = {
            (r.id_a, r.id_b)
            for r in read_candidate_pairs(spark, idx).collect()
        }
        if forget:
            assert (1, 10) not in pairs
        else:
            assert (1, 10) in pairs
    # compaction folds the marker physically and converges
    idx = str(tmp_path / "forget")
    compact_bands(spark, idx)
    assert not os.path.isdir(os.path.join(idx, "_deleted", "batch=1"))
    band_batch(_docs(spark, [(30, text)]), 3, idx)
    pairs = {
        (r.id_a, r.id_b) for r in read_candidate_pairs(spark, idx).collect()
    }
    assert (1, 30) not in pairs
    assert (10, 30) in pairs  # the re-admitted copy screens again


def test_propagate_doc_deletes_policy_drives_all_screens(spark, tmp_path):
    from spark_streaming_sql_s3_connector_spark.streaming.curation import (
        propagate_doc_deletes,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
        process_batch as band_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.line_dedup import (
        process_batch as line_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.passage_dedup import (
        process_batch as passage_batch,
    )

    b0 = _docs(
        spark,
        [(i, f"alpha beta gamma delta epsilon doc {i}") for i in range(4)],
    )
    dirs = {n: str(tmp_path / n) for n in ("exact", "line", "passage", "bands")}
    exact_batch(b0, 0, dirs["exact"])
    line_batch(b0, 0, dirs["line"])
    passage_batch(b0, 0, dirs["passage"], k=3)
    band_batch(b0, 0, dirs["bands"])
    dead = b0.where(F.col("doc_id") == 2)

    propagate_doc_deletes(  # takedown: screens deliberately untouched
        dead, 1, "text", "doc_id",
        exact_index_dir=dirs["exact"], line_index_dir=dirs["line"],
        passage_index_dir=dirs["passage"], minhash_index_dir=dirs["bands"],
        policy="takedown",
    )
    for d in dirs.values():
        assert not os.path.isdir(os.path.join(d, "_deleted"))

    propagate_doc_deletes(
        dead, 2, "text", "doc_id",
        exact_index_dir=dirs["exact"], line_index_dir=dirs["line"],
        passage_index_dir=dirs["passage"], minhash_index_dir=dirs["bands"],
        policy="forget",
    )
    for d in dirs.values():
        assert os.path.isdir(os.path.join(d, "_deleted", "batch=2"))
    # the forget is live: doc 2 no longer in the exact screen's uniques
    assert 2 not in {
        r.doc_id for r in read_unique_ids(spark, dirs["exact"]).collect()
    }

    with pytest.raises(ValueError, match="policy"):
        propagate_doc_deletes(dead, 3, "text", "doc_id", policy="purge")


def test_term_stats_marker_only_postings_window_compacts_cleanly(
    spark, tmp_path
):
    """ADVICE guard: postings dir exists, no base, no postings deltas in
    the window, but a delete-marker dir is — compaction must skip the
    postings fold (markers stay live) instead of IndexError."""
    from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
        bm25_search_postings,
        compact_term_stats,
        delete_docs_from_term_stats,
        term_stats_batch,
    )

    ts = str(tmp_path / "ts")
    docs = _docs(spark, [(i, f"spark stream doc {i}") for i in range(8)])
    delete_docs_from_term_stats(
        docs.where(F.col("doc_id") == 7), 1, ts, "text", "doc_id"
    )
    term_stats_batch(docs, 2, ts, "text", "doc_id", with_postings=True)
    compact_term_stats(spark, ts, upto_batch=1)  # marker-only window
    got = {
        r.doc_id
        for r in bm25_search_postings(
            spark, ["spark"], ts, id_col="doc_id", top_k=10
        ).collect()
    }
    assert 0 in got  # state still serves after the skipped fold


def test_compact_all_tombstoned_ann_index_raises(spark, tmp_path):
    import random

    from spark_streaming_sql_s3_connector_spark.operators.ann_index import (
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
    )

    rng = random.Random(3)
    docs = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)],
        "doc_id bigint, embedding array<double>",
    )
    ann = str(tmp_path / "ann")
    build_ann_index(
        docs, "embedding", "doc_id", ann,
        n_centroids=2, m_subspaces=4, pq_centroids=16, seed=5,
    )
    delete_from_ann_index(docs.select("doc_id"), ann, batch_id=1)
    with pytest.raises(ValueError, match="tombstoned"):
        compact_ann_index(spark, ann)


def test_assemble_context_preserves_string_ids(spark):
    from spark_streaming_sql_s3_connector_spark.operators.retrieval import (
        assemble_context,
    )

    docs = spark.createDataFrame(
        [(f"doc-{i}", "spark stream " * (i + 1)) for i in range(6)],
        "doc_id string, text string",
    )
    out = assemble_context(
        docs, "text", "doc_id", ["spark"], token_budget=30, top_k=5
    )
    assert dict(out.dtypes)["doc_id"] == "string"
    ids = [r.doc_id for r in out.collect()]
    assert ids and all(i.startswith("doc-") for i in ids)


def test_pipeline_root_delete_discovers_and_drives_all_states(spark, tmp_path):
    """r11: one call on a pipeline ROOT discovers every persisted state
    by its declared kind (the vacuum walk) and routes each to its delete —
    same policy split as the explicit-args form."""
    from spark_streaming_sql_s3_connector_spark.streaming.curation import (
        propagate_doc_deletes_for_pipeline,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.dedup_index import (
        process_batch as band_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.line_dedup import (
        process_batch as line_batch,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
        bm25_search_postings,
        term_stats_batch,
    )

    root = tmp_path / "pipeline"
    b0 = _docs(
        spark,
        [(i, f"alpha beta gamma delta epsilon doc {i}") for i in range(4)],
    )
    exact_batch(b0, 0, str(root / "exact"))
    line_batch(b0, 0, str(root / "line"))
    band_batch(b0, 0, str(root / "bands"))
    term_stats_batch(b0, 0, str(root / "ts"), "text", "doc_id", with_postings=True)
    dead = b0.where(F.col("doc_id") == 2)

    rep = propagate_doc_deletes_for_pipeline(
        dead, 1, str(root), policy="takedown"
    )
    planes = {r["plane"]: r["action"] for r in rep}
    assert set(planes) == {"key_screen", "minhash_bands", "term_stats"}
    # two key screens found (exact + line)
    assert sum(1 for r in rep if r["plane"] == "key_screen") == 2
    for d in ("exact", "line", "bands"):
        assert not os.path.isdir(str(root / d / "_deleted"))
    # takedown DID reach the serving stats: doc 2 out of the postings
    hits = bm25_search_postings(
        spark, ["alpha"], str(root / "ts"), id_col="doc_id", top_k=10
    )
    assert 2 not in {r.doc_id for r in hits.collect()}

    rep = propagate_doc_deletes_for_pipeline(
        dead, 2, str(root), policy="forget"
    )
    for d in ("exact", "line", "bands"):
        assert os.path.isdir(str(root / d / "_deleted" / "batch=2"))
    assert 2 not in {
        r.doc_id for r in read_unique_ids(spark, str(root / "exact")).collect()
    }

    with pytest.raises(ValueError, match="policy"):
        propagate_doc_deletes_for_pipeline(dead, 3, str(root), policy="purge")
