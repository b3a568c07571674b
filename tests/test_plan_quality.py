"""Plan-quality regression tests: the optimizations that matter at 100 TB
must be visible in the physical plan — predicate pushdown reaching the
parquet scan, column pruning, broadcast joins for dims, no Python in the
relational path."""

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def formatted_plan(spark, name):
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushed_to_scan(spark):
    plan = formatted_plan(spark, "b5_filter")
    assert "GreaterThan(l_quantity,25.0)" in plan
    # column pruning: only the filtered column is read
    assert "ReadSchema: struct<l_quantity:double>" in plan


def test_tpch_q1_prunes_columns(spark):
    plan = formatted_plan(spark, "tpch_q1")
    assert "LessThanOrEqual(l_shipdate" in plan  # pushed filter
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # 7 of 11 lineitem columns; never the unused keys
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_dim_join_broadcasts(spark):
    plan = formatted_plan(spark, "b7_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_single_fact_scan(spark):
    plan = formatted_plan(spark, "tpch_q5ish")
    # every dim broadcast; the fact table never shuffles before the joins
    # (formatted explain prints each node in tree + detail sections)
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_partial_aggregation_present(spark):
    # map-side combine: partial + final HashAggregate around one Exchange —
    # the property that keeps a 100 TB groupBy's shuffle proportional to
    # group count, not row count
    plan = formatted_plan(spark, "b6_agg")
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") >= 1


def test_text_ops_stay_jvm_side(spark):
    # text ops compile to expressions, not Python UDF evaluation
    for q in ["text_stats_docs", "text_fingerprint_docs", "lang_id_docs"]:
        plan = formatted_plan(spark, q)
        assert "BatchEvalPython" not in plan, q
        assert "ArrowEvalPython" not in plan, q


def test_q6_all_predicates_reach_scan(spark):
    # the pushdown-pure query: every predicate must appear as a
    # PushedFilters entry, and only the 4 referenced columns are read
    plan = formatted_plan(spark, "tpch_q6ish")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThanOrEqual(l_discount,0.07)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ["l_orderkey", "l_partkey", "l_returnflag", "l_tax"]:
        assert col not in read


def test_q14_dim_broadcast(spark):
    plan = formatted_plan(spark, "tpch_q14ish")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_join_planned_for_exists(spark):
    # correlated EXISTS compiles to a semi join, not an aggregate+join
    plan = formatted_plan(spark, "tpch_q4ish")
    assert "LeftSemi" in plan


def test_window_partitions_on_key(spark):
    # per-customer windows hash-partition on the key (distributable);
    # a constant-partition window would serialize the whole table
    plan = formatted_plan(spark, "window_top_orders")
    assert "hashpartitioning(o_custkey" in plan


def test_lsh_candidates_single_udf_eval(spark):
    # exactly one signature-UDF node in the candidate subtree (formatted
    # explain mentions each node twice: tree + detail section). A plain
    # posexplode would let InferFiltersFromGenerate clone the UDF into a
    # pushed-down filter — 2 nodes / 4 mentions.
    from pyspark.sql import functions as F

    from spark_streaming_sql_s3_connector_spark.operators.similarity import (
        lsh_bucket_pairs,
    )
    from spark_streaming_sql_s3_connector_spark.plans.io import load_table

    import re

    emb = load_table(spark, SF, "embeddings")
    df = lsh_bucket_pairs(emb, "embedding", "vec_id", 0.9, dim=64)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # exactly one signature-UDF node (a duplicated eval via
    # InferFiltersFromGenerate pushdown would show a second) plus the
    # r14 per-bucket blocked-gram rerank (FlatMapGroupsInPandas — the
    # candidate id-pair explode and its two per-pair vector joins are
    # gone; guide §8) and NO join in the plan at all
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "Join" not in plan


def test_streaming_source_prunes_nothing_extra(spark):
    # the Python data source scan reports its stable schema (no surprise
    # full-table reads through the connector batch reader)
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from spark_streaming_sql_s3_connector_spark.sources.datasource import register

    register(spark)
    schema = StructType([StructField("a", StringType()), StructField("b", IntegerType())])
    df = (
        spark.read.format("s3-connector")
        .schema(schema)
        .option("spark.s3conn.fileFormat", "csv")
        .option("spark.s3conn.queueUrl", "unused")
        .option("spark.s3conn.queueType", "local")
        .option("paths", "")
        .load()
    )
    assert df.schema == schema


def test_range_join_plans_as_equi_join(spark):
    """The binned range join must hit the hash/sort-merge machinery —
    never BroadcastNestedLoopJoin or a cartesian product (the naive
    BETWEEN-join plans; quadratic at scale)."""
    from pyspark.sql import functions as F

    from spark_streaming_sql_s3_connector_spark.operators.temporal_joins import (
        range_join_binned,
    )

    points = spark.range(1000).select(
        (F.col("id") % 5).alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    ranges = spark.range(100).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 50).cast("double").alias("lo"),
        ((F.col("id") % 50) + 10.0).alias("hi"),
    )
    plan = (
        range_join_binned(points, ranges, ["k"], "v", "lo", "hi", bin_width=10.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_events_value_profile_broadcasts_quantiles(spark):
    # the per-type quantile side is <= |event_type| rows: it must reach the
    # rollup via broadcast, never a shuffled join; both aggs keep map-side
    # partials
    plan = formatted_plan(spark, "events_value_profile")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for each agg


def test_text_profile_single_scan_no_python(spark):
    # 4 fused text behaviors = ONE documents scan, all JVM expressions
    # (formatted explain names each node twice: tree + detail section)
    import re

    plan = formatted_plan(spark, "text_profile_docs")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_decontaminate_broadcasts_benchmark(spark):
    # the benchmark n-gram set joins map-side (broadcast): the corpus is
    # never shuffled by shingle; the only corpus shuffle keys on doc id
    import re

    plan = formatted_plan(spark, "decontaminate_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # one Arrow shingle eval per side (corpus + benchmark), no row-wise UDF
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 2


def test_bench_keys_are_registry_keys(spark):
    """bench.py must never drift from the registry: every benched query
    resolves, so BENCH_r{N} keys stay comparable round-over-round."""
    import bench

    import __spark_entry__ as em

    missing = [q for q in bench.BENCH_QUERIES if q not in em.queries()]
    assert missing == [], missing


def test_q12_fact_join_broadcasts_orders_projection(spark):
    """tpch_q12ish is a fact-fact join, but only a 3-column projection
    of orders survives pruning — small enough that Spark must broadcast
    it at bench scale instead of shuffling lineitem (r4 bench regression
    watch; at 100 TB AQE makes this call from runtime stats and falls
    back to a shuffle join, which is why the query doesn't hard-code the
    hint)."""
    plan = formatted_plan(spark, "tpch_q12ish")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # column pruning on both fact scans: lineitem reads exactly the
    # join key + filter col + group col, orders its 3 used columns
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    li = [l for l in reads if "l_orderkey" in l][0]
    assert "l_extendedprice" not in li and "l_quantity" not in li
    orders = [l for l in reads if "o_orderkey" in l][0]
    assert "o_totalprice" not in orders and "o_custkey" not in orders
    # exactly one data shuffle (the final agg); the only other exchange
    # is the sort's range partitioning (formatted mode puts the
    # partitioning on the Arguments line, not the operator line)
    n_hash = plan.count("hashpartitioning(")
    assert n_hash == 1, f"expected single hash exchange, saw {n_hash}"
    assert plan.count("rangepartitioning(") <= 1


def test_pack_concat_single_shuffle(spark):
    """pack_concat: one hash exchange (the shard window partition) plus
    the orderBy's range partitioning — no Python anywhere, so the whole
    prefix-sum plan stays in codegen."""
    plan = formatted_plan(spark, "pack_concat_docs")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    n_hash = plan.count("hashpartitioning(")
    assert n_hash == 1, f"expected single hash exchange, saw {n_hash}"


def test_mix_corpus_broadcasts_totals(spark):
    """mix_corpus: the per-source totals aggregate broadcasts back onto
    the corpus; the corpus itself must NOT hash-shuffle (membership is a
    scan-local filter)."""
    plan = formatted_plan(spark, "mix_corpus_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only hash exchange feeds the |sources|-row totals aggregate,
    # so it must partition on the group column, not carry the corpus
    for line in plan.splitlines():
        if "hashpartitioning(" in line and "lang" not in line:
            raise AssertionError(f"corpus-side shuffle leaked: {line}")


def test_bloom_negative_path_no_join(spark):
    """bloom_dedup_docs: the screen's negative branch is a map-side
    filter; only the bloom-positive slice reaches a join. The plan must
    contain exactly one join (the positives' anti-join) and no join on
    the negatives' branch — i.e. a single join node total."""
    plan = formatted_plan(spark, "bloom_dedup_docs")
    # formatted explain names each node twice (tree + detail section)
    joins = sum(plan.count(j) for j in
                ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert joins <= 4, f"more than one join node: \n{plan}"
    assert "CartesianProduct" not in plan


def test_q7_nation_dims_broadcast_no_cartesian(spark):
    """tpch_q7ish joins nation under two aliases: both must broadcast,
    and the inequality filter must never degrade the plan to a
    cartesian/nested-loop join."""
    plan = formatted_plan(spark, "tpch_q7ish")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q20_semi_join_planned(spark):
    """tpch_q20ish's aggregate-derived IN list must plan as a semi join
    (LeftSemi), not a distinct + inner join."""
    plan = formatted_plan(spark, "tpch_q20ish")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_web_clean_line_ops_stay_jvm_side(spark):
    """web_clean_docs: URL chain + line inverted index + reconstruction
    are all JVM expressions — no Python evaluator anywhere."""
    plan = formatted_plan(spark, "web_clean_docs")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_keep_first_dedup_uses_partial_agg_not_window(spark):
    """dedup_lines_docs' global first-occurrence is min(struct(id, pos))
    — a partial aggregate with map-side combine. A window row_number
    over the line partition would sort a skewed giant partition; the
    plan must show aggregation and NO window over the line key."""
    plan = formatted_plan(spark, "dedup_lines_docs")
    assert "min(struct" in plan or "partial_min" in plan
    # the ONLY window allowed is none: no row_number-over-line path
    assert "row_number" not in plan
    assert "Window" not in plan


def test_near_dup_keep_best_no_cartesian_no_window(spark):
    """Pair generation stays the inverted-index equi-join (no cartesian)
    and the per-cluster argmax is the min(struct) partial agg, not a
    window over the component partition."""
    plan = formatted_plan(spark, "near_dup_keep_best_docs")
    assert "CartesianProduct" not in plan
    assert "row_number" not in plan


def test_normalize_docs_single_arrow_eval(spark):
    """The unicode normalizer is the ONE sanctioned pandas-UDF text op:
    exactly one ArrowEvalPython (Arrow-batched), never row-at-a-time
    BatchEvalPython, and no second Python eval from the md5/length reuse
    of the normalized column."""
    import re

    plan = formatted_plan(spark, "normalize_docs")
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_curation_pipeline_no_cartesian_no_python(spark):
    """The composed curation pipeline (line dedup → exact dedup → gate →
    pack) is all JVM expressions: no Python eval anywhere, no cartesian
    products, the exact-dedup stage a partial aggregate on the md5 key
    (never a window over the text partition), and the only windows are
    the gate's per-lang rank and the pack's per-shard prefix sum."""
    plan = formatted_plan(spark, "curation_pipeline_docs")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_min" in plan or "min(" in plan  # dedup partial agg


def test_dedup_exact_shuffles_hash_not_text(spark):
    """dedup_exact's groupBy key is md5(normalized text) — the Exchange
    must hashpartition on the md5 expression (16-byte keys), not on a
    raw normalized-text column."""
    plan = formatted_plan(spark, "dedup_exact_docs")
    assert "md5" in plan
    assert "partial_min" in plan or "partial" in plan  # map-side combine


def test_perplexity_lm_join_broadcasts(spark):
    """The V-row LM joins the exploded corpus by BROADCAST (the corpus
    never shuffles for the scoring join) and the per-doc aggregation
    keeps map-side partial combine; no Python eval anywhere."""
    plan = formatted_plan(spark, "perplexity_docs")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan or "partial" in plan


def test_q21_exists_shapes_plan_as_semi_and_anti(spark):
    """EXISTS/NOT EXISTS decorrelate to one LEFT SEMI and one LEFT ANTI
    join on the order key — never a correlated re-execution per outer
    row, never a cartesian."""
    plan = formatted_plan(spark, "tpch_q21ish")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_scalar_subquery_broadcasts(spark):
    """The global-average scalar subquery is one broadcast 1-row
    aggregate joined into the filter; NOT EXISTS is a LEFT ANTI with the
    priority predicate pushed below it."""
    plan = formatted_plan(spark, "tpch_q22ish")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "StartsWith(o_orderpriority,1)" in plan or "o_orderpriority" in plan


def test_q8_market_share_broadcasts_dims_no_cartesian(spark):
    """Every dimension (part filter, region-gated nation, supplier-side
    nation) broadcasts into the fact chain; the share is ONE aggregate
    pass (conditional sum / total sum), not two scans."""
    plan = formatted_plan(spark, "tpch_q8ish")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the ECONOMY part filter is pushed to the part scan
    assert "EqualTo(p_type,ECONOMY)" in plan
    # one aggregation over the joined fact rows: both sums appear as
    # partial aggregates (map-side combine before the year shuffle)
    assert "partial_sum" in plan or "partial" in plan


def test_q9_profit_pushes_name_filter_and_broadcasts_part(spark):
    """The %bolt% part filter prunes at the part scan and the filtered
    dim broadcasts — lineitem is never shuffled against an unfiltered
    part table."""
    plan = formatted_plan(spark, "tpch_q9ish")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "StringContains(p_name,bolt)" in plan


def test_q13_left_join_keeps_zero_order_customers(spark):
    """The order-count distribution LEFT-joins so zero-order customers
    survive (the largest stratum); the priority filter sits UNDER the
    join (filter-then-join, not join-then-filter which would turn the
    outer join inner)."""
    plan = formatted_plan(spark, "tpch_q13ish")
    assert "LeftOuter" in plan
    # pushed all the way into the parquet scan, not just a post-filter
    assert "Not(StringStartsWith(o_orderpriority,1))" in plan


def test_q2_single_pass_winner_via_window_group_limit(spark):
    """The min-cost-supplier winner is rank-1 per part under
    (cost, suppkey) — WindowGroupLimit prunes to the per-part top row
    map-side, so the supply aggregate (and lineitem under it) is
    computed ONCE; the agg+join-back decorrelation would rescan it.
    Part and region-gated supplier dims broadcast; filters reach the
    part scan."""
    plan = formatted_plan(spark, "tpch_q2ish")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "EqualTo(p_type,SMALL)" in plan and "LessThan(p_size,15)" in plan


def test_q11_total_is_one_broadcast_row(spark):
    """The 0.1%-of-total threshold is a broadcast 1-row aggregate over
    the SAME part-keyed aggregate — never a per-row rescan; the nation
    gate semi-joins the fact before any aggregation."""
    plan = formatted_plan(spark, "tpch_q11ish")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_q15_max_revenue_is_exact_decimal_equality(spark):
    """The MAX scalar subquery joins on DECIMAL equality (exact sums —
    a double sum would make 'equals the max' engine-dependent); the
    quarter filter is pushed to the lineitem scan."""
    plan = formatted_plan(spark, "tpch_q15ish")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_q16_not_in_decorrelates_to_anti_join(spark):
    """NOT IN over the non-null supplier key plans as a broadcast LEFT
    ANTI join; the supply pairs dedup on the narrow 2-column projection
    BEFORE the part dim join (distinct under the join, not above it)."""
    plan = formatted_plan(spark, "tpch_q16ish")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # pairs dedup reads only the two keys
    read = [l for l in plan.splitlines()
            if "ReadSchema" in l and "l_partkey" in l][0]
    assert "l_quantity" not in read and "l_extendedprice" not in read


def test_q17_correlated_avg_decorrelates(spark):
    """The correlated per-part AVG subquery decorrelates to one
    part-keyed aggregate joined back on the part key (no re-execution
    per outer row); the brand filter reaches the part scan and the
    filtered dim broadcasts into both the fact and stats sides."""
    plan = formatted_plan(spark, "tpch_q17ish")
    assert "EqualTo(p_brand,Brand#12)" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunction_implication_pushed_to_part_scan(spark):
    """The part-only implication of the three-branch OR (brand IN the
    three, size in the union range) is extracted and pushed to the part
    scan — the CNF-extraction Q19 optimization — leaving the full OR as
    the broadcast join residual."""
    plan = formatted_plan(spark, "tpch_q19ish")
    assert "In(p_brand" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_gate_approx_no_window_no_sort(spark):
    """The 100 TB gate shape (r7 verdict task): quantile_gate_approx's
    gate stage must plan WITHOUT any Window and WITHOUT any Sort — the
    thresholds are a tiny aggregate broadcast back onto the corpus as a
    map-side filter. A regression to a per-stratum window sort (the
    exact gate's shape, single-task per language) would reappear here
    as a Window/Sort node."""
    from pyspark.sql import functions as F

    from spark_streaming_sql_s3_connector_spark.functions.text import quality_score
    from spark_streaming_sql_s3_connector_spark.operators.sampling import (
        quantile_gate_approx,
    )
    from spark_streaming_sql_s3_connector_spark.plans.io import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "lang", F.round(quality_score(F.col("text")), 6).alias("qscore")
    )
    gated = quantile_gate_approx(docs, "qscore", ["lang"], 0.4)
    plan = gated._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Window" not in plan
    assert "Sort" not in plan  # also excludes SortMergeJoin / SortAggregate
    assert "BroadcastHashJoin" in plan  # thresholds broadcast, corpus never shuffles


def test_span_decontaminate_broadcasts_and_never_shuffles_corpus(spark):
    """Surgical decontamination's scale contract: the benchmark gram set
    is BROADCAST (inner hit join and the hits-back join both
    BroadcastHashJoin — the corpus side never SortMergeJoins), the doc
    side's positional grams are JVM expressions (the only Python is the
    shared Arrow shingler on the TINY benchmark side), and the only
    non-broadcast Exchanges are the contaminated-(doc,pos) collect_list
    agg, the benchmark distinct, the registry orderBy, and _spread's
    round-robin."""
    plan = formatted_plan(spark, "span_decontaminate_docs")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # doc-side gram explode is transform/sequence/slice, not Python
    assert "transform(sequence(" in plan
    body = plan.split("ArrowEvalPython")  # bench-side shingler only
    assert len(body) <= 3  # one Arrow eval node (tree + detail sections)


def test_length_buckets_single_window_shuffle_no_python(spark):
    """Length bucketing's contract: ONE hash Exchange feeding ONE Window
    over the synthetic (bucket, shard) strata, zero Python, and the
    stats join broadcasts — batch semantics never depend on cluster
    layout."""
    plan = formatted_plan(spark, "length_buckets_docs")
    assert "Python" not in plan
    assert plan.count("Window") >= 1
    # hash exchanges: the window partition + the stats agg; the
    # stats-to-assignment join must broadcast, not SortMergeJoin
    assert "SortMergeJoin" not in plan


def test_unimax_mix_corpus_never_shuffles(spark):
    """UniMax materialization: after the driver-side plan, membership +
    epoch replication are scan-local (map lookup + explode(sequence));
    the registry key's only Exchange is its orderBy. No joins at all —
    the plan map is an expression literal."""
    plan = formatted_plan(spark, "unimax_mix_docs")
    assert "Join" not in plan
    assert "Python" not in plan
    assert "Generate" in plan and "explode(" in plan  # epoch replication
    # only the final rangepartitioning orderBy exchange
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e.startswith("rangepartitioning") for e in exchanges), exchanges


def test_tfidf_df_stage_has_no_term_window(spark):
    """TF-IDF's df computation must be a partially-aggregated
    groupBy(term), NOT a COUNT window partitioned by term (r8 verdict
    task #1): window partitions are never map-side combined, so a
    stopword with df ~ N docs would materialize every (doc, term) row
    of that term in ONE task. The only Window allowed in the plan is
    the per-doc rank (WindowGroupLimit-pruned); the V-row df table must
    broadcast back onto the persisted tf relation."""
    plan = formatted_plan(spark, "tfidf_keywords_docs")
    # no window specification over term anywhere in the plan details
    assert "windowspecdefinition(term" not in plan
    # exactly one Window node: the per-doc rank, map-side pruned
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan  # df table + N broadcast back
    assert "SortMergeJoin" not in plan  # tf never reshuffles on term
    assert "InMemoryTableScan" in plan  # tf persisted, explode runs once


def test_fuzzy_match_no_cartesian_and_pruned_scan(spark):
    """The blocked fuzzy join must plan as an EQUI-join on the block
    key — a CartesianProduct (or BroadcastNestedLoop) here means the
    blocking predicate fell out of the join condition and the operator
    went all-pairs. Levenshtein stays a post-join filter, JVM-side."""
    plan = formatted_plan(spark, "fuzzy_match_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # column pruning: the documents scans read only id + text
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "source" not in line and "lang" not in line


def test_cross_corpus_dedup_single_bucket_shuffle(spark):
    """The bipartite screen's candidate stage is ONE shuffle keyed on
    the shingle (two side scans union map-side, collect_list partials
    combine); within-side pairs never materialize, so no self-join of
    the exploded relation appears (no SortMergeJoin on shingle)."""
    plan = formatted_plan(spark, "cross_corpus_dedup_docs")
    assert "CartesianProduct" not in plan
    # overlap joins sizes by id: broadcast or SMJ on narrow ids is fine,
    # but a join keyed on the shingle column would be the self-join
    # shape this operator exists to avoid
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "shingle" not in line


def test_embedding_drift_partial_agg_no_window(spark):
    """embedding_drift's moments must partially aggregate (dim-keyed
    HashAggregate partials — d rows per partition cross the wire) and
    never fall into a Window (which would serialize a dimension's
    whole element stream into one task)."""
    plan = formatted_plan(spark, "embedding_drift_docs")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per side
    assert "CartesianProduct" not in plan


def test_context_assembly_indexed_serve_has_zero_corpus_scans(spark):
    """The r10 serving-shape RAG key: the SERVE half (postings BM25 →
    greedy pack) must read ONLY the persisted state — no documents
    corpus FileScan anywhere in the assembled plan (the scan twin
    context_assembly_docs deliberately keeps them)."""
    from spark_streaming_sql_s3_connector_spark.operators.retrieval import (
        assemble_context_from_hits,
    )
    from spark_streaming_sql_s3_connector_spark.plans.pipeline_queries import (
        _ensure_postings_state,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
        bm25_search_postings,
    )

    stats_dir = _ensure_postings_state(spark, SF)
    df = assemble_context_from_hits(
        bm25_search_postings(
            spark, ["spark", "join", "stream", "vector"], stats_dir,
            id_col="doc_id", top_k=20,
        ),
        "doc_id",
        420,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "postings" in plan
    assert "PushedFilters: [In(term" in plan


def test_screen_marker_filter_broadcasts_never_shuffles_index(spark, tmp_path):
    """Forget markers are the delete sliver: applying them to a
    screening index must be a BroadcastHashJoin LeftAnti per frame —
    the (potentially huge) key index itself never shuffles for a
    delete, and no SortMergeJoin appears."""
    from pyspark.sql import functions as F

    from spark_streaming_sql_s3_connector_spark.streaming.exact_dedup import (
        _index_frames,
        delete_docs_from_screen,
        process_batch,
    )

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id bigint, text string"
    )
    process_batch(docs, 0, idx)
    delete_docs_from_screen(
        docs.where(F.col("doc_id") % 7 == 0), 1, idx
    )
    frames = _index_frames(spark, idx)
    assert frames
    for f in frames:
        plan = f._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert "SortMergeJoin" not in plan


def test_incremental_pack_shuffles_batch_only_and_broadcasts_cursors(
    spark, tmp_path
):
    """pack_batch_incremental's per-trigger plan: the window shuffle is
    over the BATCH relation and the cursor state joins back as a
    broadcast (num_shards rows) — no SortMergeJoin, no second Exchange
    of the manifest."""
    from spark_streaming_sql_s3_connector_spark.operators.packing import (
        pack_concat,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.packing_state import (
        _cursor_base,
        pack_batch_incremental,
    )
    from pyspark.sql import functions as F

    pdir = str(tmp_path / "pack")
    docs = spark.createDataFrame(
        [(i, "tok " * (i % 9 + 1)) for i in range(40)],
        "doc_id bigint, text string",
    )
    pack_batch_incremental(
        docs, 0, pdir, "doc_id", 16, text_col="text", num_shards=4
    )
    batch1 = spark.createDataFrame(
        [(100 + i, "tok " * (i % 5 + 1)) for i in range(20)],
        "doc_id bigint, text string",
    )
    local = pack_concat(batch1, "doc_id", 16, text_col="text", num_shards=4)
    cursors = _cursor_base(spark, pdir, before_batch=1)
    shifted = local.join(F.broadcast(cursors), "shard", "left")
    plan = shifted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_postings_batch_zero_corpus_scan_and_broadcast_pair_table(spark):
    """r11 batched lexical serving: the whole 32-query plan reads ONLY
    persisted state — no documents FileScan — with the postings slice
    pruned by In(term, union-of-terms) and the (term, query_id) pair
    table joined as a BroadcastHashJoin (posting rows never shuffle to
    meet queries)."""
    from spark_streaming_sql_s3_connector_spark.plans.pipeline_queries import (
        _ensure_postings_state,
        _serve_batch_queries,
    )
    from spark_streaming_sql_s3_connector_spark.streaming.term_stats import (
        bm25_search_postings_batch,
    )

    stats_dir = _ensure_postings_state(spark, SF)
    term_qs, _ = _serve_batch_queries(spark, SF)
    df = bm25_search_postings_batch(
        spark, term_qs, stats_dir, id_col="doc_id", top_k=10
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "PushedFilters: [In(term" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hybrid_serve_batch_zero_corpus_scans(spark):
    """r11 batched hybrid serving: the fused 32-query plan touches the
    postings state and the ANN index's code files only — neither the
    documents corpus nor the embeddings table appears as a FileScan
    (the single-query hybrid_serve_only deliberately reads embeddings
    for its exact refine; the batch path is pure ADC)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["hybrid_serve_batch"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "embeddings.parquet" not in plan


def test_frozen_gate_is_mapside_filter_no_shuffle(spark, tmp_path):
    """r11 incremental finalize: gating a batch with the FROZEN
    threshold map adds no Exchange — it is a literal-map filter over
    the scored batch (the moving-threshold gate's agg+broadcast pair
    is exactly what freezing removes from the per-trigger path)."""
    from spark_streaming_sql_s3_connector_spark.streaming.curation import (
        _gate_frozen,
        _score,
    )

    docs = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], f"some sample text number {i}") for i in range(30)],
        "doc_id bigint, lang string, deduped_text string",
    )
    gated = _gate_frozen(_score(docs), {"en": 0.5, "de": 0.4})
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
