"""Physical-plan quality gates — the 100 TB contract, enforced.

Correct results with a bad plan fail at scale; these tests pin the
plan shapes: parquet predicate pushdown, broadcast (not sort-merge)
dimension joins, map-side partial aggregation, and no superfluous
shuffles. If a refactor regresses a plan, these fail before any
benchmark does.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from striot_spark.queries.registry import REGISTRY, _load

_load()


def _executed(spark, name, sf_dir) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name, sf_dir) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_reaches_parquet_scan(spark, sf_dir):
    plan = _formatted(spark, "q01_filter_map", sf_dir)
    assert "GreaterThan(value,100.0)" in plan  # PushedFilters hit the scan


def test_filter_map_has_zero_shuffles(spark, sf_dir):
    plan = _executed(spark, "q01_filter_map", sf_dir)
    assert "Exchange" not in plan  # pure scan+project pipeline


def test_dim_joins_broadcast_not_sort_merge(spark, sf_dir):
    for q in ("q18_top_orders", "q19_regional_revenue", "q20_top_customers"):
        plan = _executed(spark, q, sf_dir)
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_star_join_pushes_dim_filters(spark, sf_dir):
    plan = _formatted(spark, "q19_regional_revenue", sf_dir)
    assert "EqualTo(r_name,ASIA)" in plan
    plan18 = _formatted(spark, "q18_top_orders", sf_dir)
    assert "EqualTo(c_mktsegment,BUILDING)" in plan18
    assert "GreaterThanOrEqual(o_orderdate," in plan18


def test_tumbling_agg_has_partial_aggregation(spark, sf_dir):
    """chop window agg: exactly one shuffle, partial+final HashAggregate."""
    plan = _executed(spark, "q04_chop_count_window", sf_dir)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_pricing_summary_single_shuffle(spark, sf_dir):
    plan = _executed(spark, "q17_pricing_summary", sf_dir)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_dense_seq_count_window_avoids_global_sort(spark, sf_dir):
    """Chop over the dense seq must not contain a single-partition
    row_number (the unscalable fallback)."""
    plan = _executed(spark, "q04_chop_count_window", sf_dir)
    assert "row_number" not in plan.lower()


def test_ann_broadcasts_query_side(spark, sf_dir):
    plan = _executed(spark, "q27_ann_cosine", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_column_pruning_on_documents(spark, sf_dir):
    """q23 projects only (doc_id, text): the scan must not read other
    document columns."""
    plan = _formatted(spark, "q23_dedup_exact", sf_dir)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, "no ReadSchema in formatted plan"
    for line in scan_lines:
        assert "lang" not in line and "source" not in line, line


def test_text_projection_queries_shuffle_free(spark, sf_dir):
    """Single-scan projection passes (text stats, quality gating, BPE
    token stats) must have NO shuffle of any kind — the 100 TB claim."""
    for q in ("q21_text_stats", "q38_quality_class", "q44_bpe_token_stats"):
        plan = _executed(spark, q, sf_dir)
        assert "Exchange" not in plan, q


def test_pii_scrub_shuffle_free(spark, sf_dir):
    """q165: the release-scrubbing pass is one codegen'd scan —
    chained regexp_replace + extract counts, no Exchange."""
    plan = _executed(spark, "q165_pii_scrub", sf_dir)
    assert "Exchange" not in plan


def test_grain_rollup_reuses_partials(spark, sf_dir):
    """q166: every union branch reads the persisted partials, never
    the raw table — each textual FileScan in the plan sits inside an
    InMemoryRelation's build subtree (cache-build prints nest the
    original lineage), so scans never outnumber cache relations; an
    uncached branch would add a bare FileScan without one."""
    plan = _executed(spark, "q166_grain_rollup_reuse", sf_dir)
    assert "Union" in plan
    n_scan = plan.count("Scan parquet")
    n_cache = plan.count("InMemoryRelation")
    assert plan.count("InMemoryTableScan") >= 3
    assert n_scan <= n_cache, (n_scan, n_cache)


def test_fingerprint_queries_no_hash_shuffle(spark, sf_dir):
    """Fingerprint passes fold in-row arrays: the only allowed Exchange
    is scatter()'s RoundRobin fan-out of a tiny local input (a no-op on
    well-partitioned inputs at scale) — never a hash/range shuffle."""
    for q in ("q24_doc_fingerprint", "q43_rolling_fingerprint"):
        plan = _executed(spark, q, sf_dir)
        for line in plan.splitlines():
            if "Exchange" in line and "Reused" not in line:
                assert "roundrobin" in line.lower(), f"{q}: {line}"


def test_minhash_caches_base_hash_array(spark, sf_dir):
    """q25's md5 base pass must sit behind the cache barrier (one pass),
    not be inlined per signature column."""
    plan = _executed(spark, "q25_minhash_signatures", sf_dir)
    assert "InMemoryTableScan" in plan
    # the md5 pass must NOT be inlined once per signature column (the
    # CollapseProject failure mode); it may render once or twice in the
    # cached-relation dump depending on session cache state
    assert plan.count("md5") < 4


def test_ivf_probe_broadcasts_query(spark, sf_dir):
    plan = _executed(spark, "q37_ann_ivf", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_near_dup_pair_joins_are_equi_not_cartesian(spark, sf_dir):
    """Candidate generation must be an equi-join on bucket/cell/band
    keys; a cartesian/broadcast-nested-loop plan would be O(n^2) rows at
    scale."""
    for q in (
        "q42_embedding_near_dups",
        "q45_simhash_near_dups",
        "q68_prefix_jaccard_pairs",
    ):
        plan = _executed(spark, q, sf_dir)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_near_dup_filter_is_band_keyed_no_cartesian(spark, sf_dir):
    """The ingest near-dup gate (q225's batch oracle form) must decide
    KEEP/DROP through band-bucket equi-joins only — owner lookup and
    the id anti-join — never a pair cartesian."""
    from striot_spark.functions.dedup import near_dup_filter
    from striot_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = near_dup_filter(docs, "doc_id", "text")
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_broadcast_enrich_single_shuffle_no_join(spark, sf_dir):
    """q47's dict lookup is a literal MapType constant — the plan must
    contain ONE shuffle (the aggregate) and no join at all."""
    plan = _executed(spark, "q47_broadcast_enrich", sf_dir)
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_profitability_join_no_cartesian(spark, sf_dir):
    plan = _executed(spark, "q46_profitability_cells", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_shuffle_free_filter(spark, sf_dir):
    """hash_sample must be a pure scan->filter->project pipeline: no
    Exchange of any kind, and only the needed columns read."""
    plan = _executed(spark, "q51_stratified_sample", sf_dir)
    assert "Exchange" not in plan
    fmt = _formatted(spark, "q51_stratified_sample", sf_dir)
    assert "text" not in fmt.split("ReadSchema")[-1][:200]  # bodies not read


def test_reservoir_sample_single_stratum_shuffle(spark, sf_dir):
    plan = _executed(spark, "q52_reservoir_per_lang", sf_dir)
    assert plan.count("Exchange") <= 1  # only the stratum-key shuffle


def test_exists_lowering_is_semi_join(spark, sf_dir):
    """EXISTS must lower to LEFT SEMI (never inner — would duplicate
    orders with multiple matching line items; never a subquery
    re-execution)."""
    plan = _executed(spark, "q72_priority_semi_join", sf_dir)
    assert "LeftSemi" in plan


def test_not_exists_lowering_is_anti_join(spark, sf_dir):
    plan = _executed(spark, "q73_inactive_customers_anti_join", sf_dir)
    assert "LeftAnti" in plan


def test_double_correlated_lowering_semi_plus_anti(spark, sf_dir):
    """Q21 shape: one semi, one anti, zero cartesian/nested-loop —
    the correlated subqueries must not become per-row re-scans."""
    plan = _executed(spark, "q81_sole_returned_supplier", sf_dir)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_set_ops_lower_to_semi_anti(spark, sf_dir):
    plan = _executed(spark, "q83_set_ops_users", sf_dir)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_is_shuffle_free_projection(spark, sf_dir):
    plan = _executed(spark, "q70_repetition_stats", sf_dir)
    assert "Exchange" not in plan


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """The eval n-gram set must broadcast (benchmarks are MBs vs a
    100 TB corpus); the corpus side must never shuffle by n-gram —
    the only hash exchange is the final doc-id groupBy."""
    plan = _executed(spark, "q69_contamination_check", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_scores_broadcasts_eval_side(spark, sf_dir):
    """Per-doc scores keep q69's scale shape: broadcast eval n-gram
    set, no sort-merge join — the corpus never shuffles by n-gram."""
    plan = _executed(spark, "q95_contamination_scores", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cross_corpus_near_dup_broadcasts_eval_no_cartesian(spark, sf_dir):
    """The cross-corpus band probe must be a broadcast hash join on the
    (band, sig) key — the train side never shuffles for candidate
    generation — and nothing in the pipeline may fall back to a
    cartesian product."""
    plan = _executed(spark, "q94_cross_corpus_near_dups", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_near_dup_pair_join_is_cell_equi_join(spark, sf_dir):
    """SemDeDup pair-gen must be an equi-join on the cell id (the
    assignment itself is a zero-join literal-centroid projection) —
    never a cartesian or nested-loop fallback over the corpus."""
    plan = _executed(spark, "q96_semantic_near_dups", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_pipeline_composes_scale_shapes(spark, sf_dir):
    """q99 composes four operators; the composition must keep each
    stage's scale shape: the decontamination n-gram join broadcasts,
    nothing degenerates to cartesian/nested-loop, and the sampling
    stage adds no exchange (it's a filter)."""
    plan = _executed(spark, "q99_corpus_pipeline", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_mix_sampling_is_shuffle_free_filter(spark, sf_dir):
    plan = _executed(spark, "q71_corpus_mix", sf_dir)
    assert "Exchange" not in plan


def test_vocab_encode_is_zero_join_projection(spark, sf_dir):
    """The corpus encode must inline the vocab as a map literal
    (streamMapCache pattern): the encode plan has no Join and no
    Exchange — the vocab build runs once, eagerly, at plan-build."""
    plan = _executed(spark, "q75_vocab_encode", sf_dir)
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_split_assign_is_shuffle_free_projection(spark, sf_dir):
    plan = _executed(spark, "q76_split_assign", sf_dir)
    assert "Exchange" not in plan


def test_random_projection_is_shuffle_free_projection(spark, sf_dir):
    """JL projection must be scan->project only: the direction matrix
    is plan literals, never a joined table."""
    plan = _executed(spark, "q77_random_projection", sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_asof_join_single_shuffle_no_range_join(spark, sf_dir):
    """The as-of join must be the union+carry-forward plan: one key
    shuffle, no join operator at all (and hence no range explosion)."""
    plan = _executed(spark, "q53_asof_enrich", sf_dir)
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Chunking must be scan -> project -> generate (explode): no
    Exchange beyond the scatter fan-out of the 1-partition test file."""
    plan = _executed(spark, "q57_chunk_documents", sf_dir)
    assert "hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_interval_join_is_binned_equi_join(spark, sf_dir):
    """q59 must lower to a hash equi-join on (key, time-bin) with a
    residual range filter — never a nested-loop/cartesian theta join."""
    plan = _executed(spark, "q59_interval_join", sf_dir)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan
    assert "__bin" in plan  # the bin column is a join key


def test_salted_join_is_hash_join_no_nested_loop(spark, sf_dir):
    plan = _executed(spark, "q60_salted_skew_join", sf_dir)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan
    assert "__salt" in plan  # salt participates in the join keys


def test_nearest_centroid_is_projection_no_join(spark, sf_dir):
    """q63 inlines centroids as literals: no join, no hash shuffle —
    the only allowed Exchange is the small-input scatter round-robin."""
    plan = _executed(spark, "q63_nearest_centroid", sf_dir)
    assert "Join" not in plan and "hashpartitioning" not in plan


def test_global_numbering_fallback_never_single_partition(spark, sf_dir):
    """zip-join / sample / chop without a dense seq must use the
    two-pass partition-offset numbering — no Exchange SinglePartition
    (the one-task global sort) anywhere in their plans — whenever the
    input is over the small-input gate (forced here via conf=0)."""
    from striot_spark.core.scale import SMALL_INPUT_CONF
    from striot_spark.operators import Chop
    from striot_spark.operators.windows import assign_window_id
    from striot_spark.sources.batch import event_stream

    spark.conf.set(SMALL_INPUT_CONF, "0")
    try:
        s = event_stream(spark, sf_dir).filter(F.col("value") > 50)  # density broken

        sampled = s.sample(7).df
        zj = s.zip_join(s.map("value", v2=F.col("value") * 2)).df
        chopped = assign_window_id(s.df, Chop(64), "ts", "event_id")

        for name, df in (("sample", sampled), ("zip_join", zj), ("chop", chopped)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SinglePartition" not in plan, name
            # numbering window is keyed by the checkpointed range-partition
            # id -> parallel (the range sort itself sits behind the
            # localCheckpoint, so it doesn't appear in this plan)
            assert "__gidx_pid__" in plan, name
    finally:
        spark.conf.unset(SMALL_INPUT_CONF)


def test_global_index_small_input_gate(spark, sf_dir):
    """Under the size gate the numbering is the plain one-task sort —
    no extra jobs (range sample / checkpoint / count collect). Mirrors
    autoBroadcastJoinThreshold semantics: <=64 MB is one comfortable
    task on any cluster."""
    from striot_spark.core.scale import global_index
    from striot_spark.sources.batch import event_stream

    s = event_stream(spark, sf_dir).filter(F.col("value") > 50)
    out = global_index(s.df, [F.col("ts"), F.col("event_id")], "idx")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__gidx_pid__" not in plan  # two-pass machinery absent
    assert "SinglePartition" in plan  # the deliberate small-input sort


def test_global_index_matches_single_sort(spark):
    """Two-pass numbering == the order rank, on a many-partition input
    (conf=0 forces the scale path regardless of input size)."""
    from striot_spark.core.scale import SMALL_INPUT_CONF, global_index

    rows = [(i * 37 % 1000, f"v{i}") for i in range(1000)]  # shuffled keys
    df = spark.createDataFrame(rows, "k long, v string").repartition(16)
    spark.conf.set(SMALL_INPUT_CONF, "0")
    try:
        out = global_index(df, [F.col("k")], "idx")
        got = {r["k"]: r["idx"] for r in out.collect()}
    finally:
        spark.conf.unset(SMALL_INPUT_CONF)
    assert got == {k: rank for rank, k in enumerate(sorted(got))}


def test_global_index_two_pass_at_scale(spark):
    """The scale path numbers millions of shuffled rows correctly —
    total order, no gaps, no dupes — without any single-partition
    stage (runtime evidence, not just plan shape)."""
    from striot_spark.core.scale import SMALL_INPUT_CONF, global_index

    n = 2_000_000
    df = (
        spark.range(n)
        .select((F.col("id") * 2654435761 % n).alias("k"))
        .repartition(64)
    )
    spark.conf.set(SMALL_INPUT_CONF, "0")
    try:
        out = global_index(df, [F.col("k")], "idx")
        stats = out.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("idx").alias("mn"),
            F.max("idx").alias("mx"),
            F.countDistinct("idx").alias("nd"),
        ).collect()[0]
        assert (
            stats["cnt"] == n
            and stats["mn"] == 0
            and stats["mx"] == n - 1
            and stats["nd"] == n
        )
        # order correctness on the extremes (k is a permutation of 0..n-1)
        ends = out.filter(
            (F.col("idx") == 0) | (F.col("idx") == n - 1)
        ).collect()
        by_idx = {r["idx"]: r["k"] for r in ends}
        assert by_idx[0] == 0 and by_idx[n - 1] == n - 1
    finally:
        spark.conf.unset(SMALL_INPUT_CONF)


def test_interval_join_at_scale_exact_count(spark):
    """Binned interval join on ~1M-per-side synthetic data where the
    answer is analytic: left probes at t=100..9900s (step 100), rights
    every second per key, window [0, +10s] inclusive -> exactly 11
    matches per probe. Runtime evidence the binning neither drops nor
    duplicates matches across bin boundaries."""
    from striot_spark.operators.join import interval_join

    n_keys, right_per_key = 100, 10_000
    right = (
        spark.range(n_keys * right_per_key)
        .select(
            (F.col("id") % n_keys).alias("k"),
            F.timestamp_seconds(
                (F.col("id") / n_keys).cast("long")
            ).alias("r_ts"),
        )
    )
    probes_per_key = 99  # t = 100, 200, ..., 9900 (window fits inside)
    left = (
        spark.range(n_keys * probes_per_key)
        .select(
            (F.col("id") % n_keys).alias("k"),
            F.timestamp_seconds(
                ((F.col("id") / n_keys).cast("long") + 1) * 100
            ).alias("l_ts"),
        )
    )
    out = interval_join(left, right, ["k"], "l_ts", "r_ts", 0.0, 10.0)
    assert out.count() == n_keys * probes_per_key * 11
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_jsonl_dead_letter_good_path_is_scan_project_filter(spark, sf_dir):
    """q98's JSONL split shares csv's lowering and must keep the same
    one-text-scan shape: no Exchange in the split, no cache."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from striot_spark.queries.flagship import _stage_docs_jsonl
    from striot_spark.sources.csv import jsonl_with_rejects

    path = _stage_docs_jsonl(spark, sf_dir)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("n_chars", LongType()),
    ])
    good, rejects = jsonl_with_rejects(spark, path, schema)
    for df in (good, rejects):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan text" in plan
        assert "Exchange" not in plan
        assert "InMemoryTableScan" not in plan


def test_csv_dead_letter_good_path_is_scan_project_filter(spark, sf_dir):
    """q88's dead-letter split (sources/csv.py): BOTH consumers must be
    pure text-scan -> project -> filter pipelines. The good side's only
    Exchange is its aggregation shuffle; the reject count is a partial
    count (no row shuffle). A cache() or extra scan workaround here
    would double the 100 TB ingest cost."""
    from striot_spark.queries.flagship import _stage_taxi_csv
    from striot_spark.sources.csv import TAXI_SCHEMA, csv_with_rejects

    path = _stage_taxi_csv(spark, sf_dir)
    good, rejects = csv_with_rejects(
        spark, path, TAXI_SCHEMA, timestampFormat="yyyy-M-d HH:mm:ss"
    )
    for df in (good, rejects):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan text" in plan
        assert "Exchange" not in plan  # split itself shuffles nothing
        assert "InMemoryTableScan" not in plan  # no cache workaround
    # full q88: the only exchanges are aggregation shuffles (good side)
    # + the single-partition gather of the one-row reject count
    from striot_spark.queries.registry import REGISTRY

    plan = (
        REGISTRY["q88_taxi_csv_dead_letter"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in plan  # reject count combines map-side


def test_blocklist_and_temperature_are_zero_shuffle(spark, sf_dir):
    """Policy filtering (q103) and temperature resampling (q106) must
    stay single-scan projections — at 100 TB either would otherwise
    re-shuffle the corpus for what is a per-row predicate."""
    for q in ("q103_blocklist_filter", "q106_temperature_mix"):
        plan = _executed(spark, q, sf_dir)
        assert "Exchange" not in plan, q


def test_tfidf_broadcasts_df_table(spark, sf_dir):
    """q102's document-frequency table is vocabulary-sized — it must
    ride a broadcast back onto the (doc, token) TF stream, never a
    sort-merge join (which would re-shuffle the exploded corpus a
    third time), and never a cartesian pair-up."""
    plan = _executed(spark, "q102_tfidf_top_terms", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_canonical_docs_broadcasts_group_tables(spark, sf_dir):
    """q104's group/winner tables are pair-graph-sized; the corpus-side
    joins (inner, left-semi, left-anti) must all broadcast them — a
    corpus shuffle for a keep-one decision would be the scale bug."""
    plan = _executed(spark, "q104_canonical_docs", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_budget_select_no_single_partition_at_scale(spark, sf_dir):
    """q105's running total must use the two-pass range-partitioned
    prefix sum when the input is big (conf=0 forces the scale path) —
    a bare sum() OVER (ORDER BY) is an Exchange SinglePartition."""
    from striot_spark.core.scale import SMALL_INPUT_CONF

    spark.conf.set(SMALL_INPUT_CONF, "0")
    try:
        plan = _executed(spark, "q105_token_budget_select", sf_dir)
        assert "__gps_pid__" in plan  # two-pass machinery engaged
        assert "SinglePartition" not in plan
    finally:
        spark.conf.unset(SMALL_INPUT_CONF)


def test_latest_snapshot_is_partial_agg_not_window(spark, sf_dir):
    """q107's compaction must be max_by with map-side partials — the
    window row_number form sorts every key's full history and carries
    it through the shuffle; at 100 TB of change log that is the
    difference between candidates and history on the wire."""
    plan = _executed(spark, "q107_latest_snapshot", sf_dir)
    assert "Window" not in plan
    assert "partial_max_by" in plan.lower() or "HashAggregate" in plan
    import re

    assert len(re.findall(r"Exchange", plan)) == 1


def test_shared_ngram_pairs_has_no_join(spark, sf_dir):
    """q109's pair generation must be groupBy + in-row expansion — a
    self-join of the exploded (doc, gram) corpus stream would shuffle
    the token stream twice and explode on hot grams; here the only
    exchanges are the gram groupBy and the final pair distinct."""
    plan = _executed(spark, "q109_shared_ngram_pairs", sf_dir)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_quality_filter_linear_zero_shuffle(spark, sf_dir):
    plan = _executed(spark, "q110_quality_filter_linear", sf_dir)
    assert "Exchange" not in plan


def test_domain_filter_broadcasts_domain_list(spark, sf_dir):
    """q112: the kept-domain list must broadcast back over the corpus
    (domains << documents); the corpus itself is never hash-shuffled —
    the only exchanges are the O(domains) partial-agg shuffle and the
    broadcast itself."""
    plan = _executed(spark, "q112_domain_quality_filter", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # map-side partials


def test_sliding_time_stream_uses_native_window(spark, sf_dir):
    """q111 lowers slidingTime to Spark's native sliding window() —
    state is per-(window), not per-event buffering."""
    df = REGISTRY["q111_sliding_time_stream"].fn(spark, sf_dir)
    assert {"window_start", "window_end", "n", "sum_value"} <= set(df.columns)


def test_bloom_decontaminate_clean_path_is_joinless(spark, sf_dir):
    """q113's clean-path branch is an in-row bloom exists() — the plan
    may join only on the (tiny) candidate branch, and every join must
    be broadcast; the corpus is never sort-merge shuffled."""
    plan = _executed(spark, "q113_bloom_decontaminate", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "getbit" in plan.lower()  # the literal-bitmap test is in codegen


def test_scrub_spans_broadcasts_heavy_hitters(spark, sf_dir):
    """q114: the frequent-gram table broadcasts back over the gram
    occurrences (heavy-hitter set is corpus-sublinear) — no sort-merge
    join on the gram key, never cartesian."""
    plan = _executed(spark, "q114_scrub_duplicated_spans", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_volume_shipping_all_dims_broadcast(spark, sf_dir):
    """q126/q127: five-way star joins must broadcast every dimension
    chain — no sort-merge join, and the lineitem date/type filters
    must reach the parquet scan."""
    for q in ("q126_volume_shipping", "q127_market_share"):
        plan = _executed(spark, q, sf_dir)
        assert "SortMergeJoin" not in plan, q
        assert "BroadcastHashJoin" in plan, q
    fmt = _formatted(spark, "q126_volume_shipping", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate," in fmt


def test_column_profile_single_expand_no_rescans(spark, sf_dir):
    """q124: multi-column DISTINCT profiling must lower to ONE Expand
    over one lineitem scan per profile() call — never per-column
    rescans (the oracle's UNION ALL shape is exactly what we avoid)."""
    plan = _executed(spark, "q124_column_profile", sf_dir)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 1, final.count("Scan parquet")
    assert "Expand" in final


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The whole point of write_bucketed: a fact-fact SMJ over tables
    bucketed on the join key plans with zero shuffles. Broadcast is
    disabled so the small test tables take the same sort-merge path a
    100 TB pair would."""
    from striot_spark.functions import bucketing as B
    from striot_spark.sources.batch import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ot = B.write_bucketed(o, "orders_pq", "o_orderkey", 4)
    lt = B.write_bucketed(li, "lineitem_pq", "l_orderkey", 4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = B.bucketed_equijoin(
            spark, ot, lt, F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan
    assert plan.count("SelectedBucketsCount: 4 out of 4") == 2


def test_bucketed_agg_skips_exchange(spark, sf_dir):
    """GroupBy on the bucket column reuses the write-time partitioning:
    no Exchange in the aggregate either."""
    from striot_spark.functions import bucketing as B
    from striot_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    lt = B.write_bucketed(li, "lineitem_pq2", "l_orderkey", 4)
    agg = spark.table(lt).groupBy("l_orderkey").agg(F.sum("l_quantity"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fuzzy_pairs_never_cartesian(spark, sf_dir):
    plan = _executed(spark, "q140_fuzzy_link_pairs", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_profile_uses_take_ordered(spark, sf_dir):
    """The heavy-key top-N must be TakeOrdered (per-partition local N +
    driver merge), not a global single-partition sort of the counted
    key set."""
    plan = _executed(spark, "q142_skew_profile", sf_dir)
    assert "TakeOrderedAndProject" in plan
    # the rank window runs over the ALREADY-limited top-N (Window node
    # sits above TakeOrdered), and the only single-partition exchange
    # is the 1-row scalar totals combine (partial_sum per partition,
    # #partitions rows through the funnel) — never the counted key set
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert plan.count("Exchange SinglePartition") == 1
    totals = plan.split("Exchange SinglePartition")[1]
    assert "partial_sum" in totals


def test_whole_table_quantiles_avoid_single_partition_sort(spark, sf_dir):
    """q147's scale path: with the small-input gate forced off, the
    global ranking must be the two-pass range-partitioned form — no
    Exchange SinglePartition anywhere in the plan (the 1-row count is
    a collect, not a plan node)."""
    old = spark.conf.get("striot.globalIndex.smallInputBytes", None)
    try:
        spark.conf.set("striot.globalIndex.smallInputBytes", "0")
        plan = _executed(spark, "q147_quantiles_at_scale", sf_dir)
    finally:
        if old is None:
            spark.conf.unset("striot.globalIndex.smallInputBytes")
        else:
            spark.conf.set("striot.globalIndex.smallInputBytes", old)
    assert "Exchange SinglePartition" not in plan
    # the range repartition itself sits behind global_index's
    # localCheckpoint (plan truncated at the checkpointed RDD); what
    # must be visible is the two-pass signature: the pid-keyed window
    # exchange over the checkpoint scan — and no global sort
    assert "__gidx_pid__" in plan
    assert "ExistingRDD" in plan


def test_group_quantiles_have_no_percentile_buffering(spark, sf_dir):
    """q151 must rank with a per-group window (sort-based, spills),
    never the value-buffering percentile aggregate."""
    plan = _executed(spark, "q151_group_quantiles", sf_dir)
    assert "percentile" not in plan.lower()
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan


def test_k_anonymity_broadcasts_group_sizes(spark, sf_dir):
    """q168: the >=k survivor list broadcasts back over the corpus —
    never a sort-merge join or a per-QI window sort."""
    plan = _executed(spark, "q168_k_anonymity", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_posting_lists_single_token_shuffle(spark, sf_dir):
    """q170: per-doc token dedup is in-row (array_distinct), so the
    index build is ONE hash shuffle by token reused by both windows
    and the final groupBy."""
    plan = _executed(spark, "q170_posting_lists", sf_dir)
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_weighted_quantiles_avoid_single_partition_sum(spark, sf_dir):
    """q171's scale path: with the small-input gate forced off, the
    cumulative weight must come from the two-pass range-partitioned
    prefix sum. The only allowed single-partition exchange is the
    1-row scalar total (a partials-only combine whose parent is
    HashAggregate(keys=[])) — never the global-sort window fallback,
    whose parent would be a Sort over the full data."""
    old = spark.conf.get("striot.globalIndex.smallInputBytes", None)
    try:
        spark.conf.set("striot.globalIndex.smallInputBytes", "0")
        plan = _executed(spark, "q171_weighted_median_len", sf_dir)
    finally:
        if old is None:
            spark.conf.unset("striot.globalIndex.smallInputBytes")
        else:
            spark.conf.set("striot.globalIndex.smallInputBytes", old)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            assert "HashAggregate(keys=[]" in lines[i - 1], lines[i - 1]
    assert "__gps_pid__" in plan


def test_partition_pruned_day_filters_at_directory_level(spark, sf_dir):
    """q173: the day predicate must land in PartitionFilters (directory
    prune), not as a data filter over all files."""
    plan = _formatted(spark, "q173_partition_pruned_day", sf_dir)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "2024-01-15" in pf[0], pf


def test_pq_encode_is_projection_only(spark, sf_dir):
    """q175: the PQ encode is a pure projection — codebook inlined as
    literals, no join, and the only Exchange is scatter()'s RoundRobin
    fan-out (a no-op on well-partitioned inputs at scale)."""
    plan = _executed(spark, "q175_pq_encode", sf_dir)
    assert "Join" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Reused" not in line:
            assert "roundrobin" in line.lower(), line


def test_collocations_broadcast_unigrams_take_ordered(spark, sf_dir):
    """q177: unigram counts broadcast onto the heavy-bigram table (no
    sort-merge join) and the top-k is TakeOrdered, never a global
    sort."""
    plan = _executed(spark, "q177_collocations", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "TakeOrdered" in plan


def test_lexical_search_scores_as_projection(spark, sf_dir):
    """q178: with query-token weights inlined as literals, scoring is
    a pure projection — no join, no Exchange, TakeOrdered top-k."""
    plan = _executed(spark, "q178_lexical_search", sf_dir)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "TakeOrdered" in plan


def test_revenue_band_pushes_all_predicates(spark, sf_dir):
    """q180: date, discount-points and quantity predicates reach the
    parquet scan; the plan is scan -> scalar aggregate, no shuffle
    beyond the 1-row combine."""
    fmt = _formatted(spark, "q180_forecast_revenue_band", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate," in fmt
    assert "LessThan(l_quantity,24.0)" in fmt
    plan = _executed(spark, "q180_forecast_revenue_band", sf_dir)
    assert "Join" not in plan


def test_promo_share_broadcasts_part_single_pass(spark, sf_dir):
    """q181: the part dimension broadcasts and both conditional sums
    fold into one aggregate pass (2 HashAggregates: partial+final)."""
    plan = _executed(spark, "q181_promo_revenue_share", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") == 2


def test_dangling_redistribute_correction_is_one_row_broadcast(
    spark, sf_dir
):
    """q236: the per-round residual correction must be the broadcast of
    a 1-ROW scalar aggregate (BroadcastNestedLoopJoin is the intended
    physical form of crossJoin(broadcast(1-row)) — exactly one per
    iteration), never a CartesianProduct; the rank-update joins stay
    keyed equi-joins. The occurrence COUNT in the plan string is
    2^iters - 1, not iters: each round's tree embeds the previous
    round twice (ranks branch + the scalar-agg branch) — the very
    self-reference fan-out the min(cadence,4) lineage cut bounds."""
    plan = _executed(spark, "q236_pagerank_dangling", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 3  # 2^2 - 1 at iters=2


def test_weighted_graph_queries_have_no_cartesian(spark, sf_dir):
    """q237/q238: weights ride the persisted edge list as one long
    column — no plan shape may degrade to a cartesian or an unkeyed
    nested loop beyond q238's single 1-row total broadcast."""
    plan = _executed(spark, "q237_weighted_pagerank", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan = _executed(spark, "q238_weighted_modularity", sf_dir)
    assert "CartesianProduct" not in plan
    # modularity broadcasts its 1-row directed-weight total once
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_weighted_lpa_rounds_are_keyed_joins_only(spark, sf_dir):
    """The q239 serve path (weighted LPA over the multiplicity graph):
    every round is a src-key join + (node,label) weight-sum groupBy +
    per-node window — never a cartesian."""
    from striot_spark.functions.graph import label_propagation
    from striot_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")
        )
    )
    out = label_propagation(edges, rounds=2, src="u", dst="v", weight="w")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the per-round arg-max is a hash aggregate (max(struct(c,-label)),
    # map-side partial agg), NOT a row_number window — a Window node
    # here would mean every (node,label,c) row is shuffled and sorted
    assert "Window" not in plan


def test_quarter_window_graph_features_push_date_to_scan(spark, sf_dir):
    """q241/q242: the one-quarter interaction window must reach the
    lineitem parquet scan as pushed date predicates (that window IS
    the scale story — without pushdown the full table feeds the
    wedge expansion), and the feature joins stay keyed."""
    for q in (
        "q241_khop_reach",
        "q242_edge_neighborhood_jaccard",
    ):
        fmt = _formatted(spark, q, sf_dir)
        assert "GreaterThanOrEqual(l_shipdate," in fmt, q
        assert "LessThan(l_shipdate," in fmt, q
        plan = _executed(spark, q, sf_dir)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
    # q243 (r17) and q244's loops localCheckpoint under the small-graph
    # gate (khop_hll per-level cut / the k_core cadence rule at fan-out
    # ~5), so the FINAL plan's lineage starts at the checkpoint — gate
    # only the join shapes there
    for q in ("q243_khop_reach_hll", "q244_ktruss_edges"):
        plan = _executed(spark, q, sf_dir)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
    # ungated, q243's levels persist instead of cutting, so its final
    # plan still carries the lineitem scan: the date window must reach
    # it there
    from striot_spark.functions.graph import SMALL_GRAPH_CONF

    spark.conf.set(SMALL_GRAPH_CONF, "0")
    try:
        fmt = _formatted(spark, "q243_khop_reach_hll", sf_dir)
    finally:
        spark.conf.unset(SMALL_GRAPH_CONF)
    assert "GreaterThanOrEqual(l_shipdate," in fmt
    assert "LessThan(l_shipdate," in fmt


def test_sssp_rounds_are_keyed_joins_only(spark, sf_dir):
    """q249: every Bellman-Ford round is a frontier equi-join against
    the min-cost-reduced arc list + a groupBy-min re-reduce + a keyed
    improvement check — never a cartesian or an unkeyed nested loop
    (there is no scalar broadcast in this family at all)."""
    plan = _executed(spark, "q249_sssp_trade_proximity", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_degree_audit_queries_push_date_and_stay_keyed(spark, sf_dir):
    """q251/q252: same quarter-window discipline as q241 (the date
    range must reach the lineitem scan) and every join keyed — the
    assortativity moment pass is one degree join + one global agg."""
    for q in ("q251_degree_distribution", "q252_degree_assortativity"):
        fmt = _formatted(spark, q, sf_dir)
        assert "GreaterThanOrEqual(l_shipdate," in fmt, q
        assert "LessThan(l_shipdate," in fmt, q
        plan = _executed(spark, q, sf_dir)
        assert "CartesianProduct" not in plan, q


def test_sssp_variants_are_keyed_joins_only(spark, sf_dir):
    """q253/q254: the parent-struct fold and the (pivot, node)-keyed
    multi-pivot state change nothing about the plan discipline —
    keyed equi-joins and groupBy-min only, no cartesian, no unkeyed
    nested loop."""
    for q in ("q253_sssp_parents", "q254_harmonic_pivots"):
        plan = _executed(spark, q, sf_dir)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_wedge_feature_queries_push_date_and_stay_keyed(spark, sf_dir):
    """q255/q256: the triangle-corner and RA wedge enumerations keep
    the q149 discipline — quarter-window dates pushed to the lineitem
    scan, all joins keyed equi-joins."""
    for q in ("q255_local_clustering", "q256_link_prediction_ra"):
        fmt = _formatted(spark, q, sf_dir)
        assert "GreaterThanOrEqual(l_shipdate," in fmt, q
        assert "LessThan(l_shipdate," in fmt, q
        plan = _executed(spark, q, sf_dir)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_tpch_completion_shapes(spark, sf_dir):
    """q257-q263 (the TPC-H shape completion): dimensions broadcast,
    no cartesian anywhere; the Q11 shape's global threshold is the
    ONE 1-row broadcast (BroadcastNestedLoopJoin) it is designed to
    be; the Q19 OR-blocks keep a single part join (no per-branch
    re-scan: exactly one join of lineitem with part)."""
    for q in (
        "q257_min_cost_supplier",
        "q258_product_profit",
        "q260_priority_line_counts",
        "q261_supplier_counts_by_part_attr",
        "q262_or_block_revenue",
        "q263_excess_volume_suppliers",
    ):
        plan = _executed(spark, q, sf_dir)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
    plan = _executed(spark, "q259_important_parts", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row threshold
    # Q19: the OR-of-ANDs must not multiply the part join
    plan = _executed(spark, "q262_or_block_revenue", sf_dir)
    assert plan.count("Join") <= plan.count("HashAggregate") + 4
    # ...and the per-table OR residuals must reach BOTH parquet scans
    # (Catalyst derives `(qty-range OR qty-range OR ...)` for lineitem
    # and the brand/size disjunction for part — that pushdown IS the
    # Q19 shape's point)
    fmt = _formatted(spark, "q262_or_block_revenue", sf_dir)
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity," in fmt
    assert fmt.count("EqualTo(p_brand,") >= 3


def test_coreness_rounds_are_keyed_and_windowed_only(spark, sf_dir):
    """q266: each h-index round is one keyed join + one per-node
    window rank + one groupBy-max — never a cartesian or an unkeyed
    nested loop."""
    plan = _executed(spark, "q266_coreness", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_betweenness_phases_are_keyed_joins_only(spark, sf_dir):
    """q268: the forward BFS rounds (relax join + sigma groupBy-sum +
    left_anti), the one-shot DAG build, and the backward dependency
    levels are all KEYED equi-joins — never a cartesian or an unkeyed
    nested loop (the pivot column rides every join key)."""
    plan = _executed(spark, "q268_betweenness_pivots", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_coreness_capped_path_has_no_rownumber_sort(spark, sf_dir):
    """The k-bounded coreness (hub-cap path) replaces the per-node
    row_number sort over deg rows with a counting H-index over <= k
    distinct clipped values: no row_number window may appear in its
    plan (the cumulative count window remains — that one is bounded
    by the cap, which is the point)."""
    from striot_spark.functions.graph import coreness
    from striot_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    df = coreness(edges, rounds=2, src="u", dst="v", max_degree=8)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan
    assert "CartesianProduct" not in plan


def test_surprisal_total_is_one_row_broadcast(spark, sf_dir):
    """q272: the scalar token total rides exactly ONE 1-row broadcast
    (BroadcastNestedLoopJoin — the q238 idiom), never a cartesian;
    the occurrence->bits join is a keyed token join."""
    plan = _executed(spark, "q272_unigram_surprisal", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_bm25_scores_as_projection(spark, sf_dir):
    """q276: corpus stats inlined as literals make BM25 scoring a pure
    projection — no join, no Exchange, TakeOrdered top-k (q178's gate,
    held by the richer formula)."""
    plan = _executed(spark, "q276_bm25_rank", sf_dir)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "TakeOrdered" in plan


def test_hits_rounds_are_keyed_joins_only(spark, sf_dir):
    """q277: each HITS half-round is one edge-key join + one keyed
    groupBy + a 1-row scalar broadcast; the round-2 lineage cut
    collapses the normalizer branches, so the executed tree has no
    cartesian and no unkeyed nested loop at all."""
    plan = _executed(spark, "q277_hits_trade", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_butterfly_count_is_joinless_aggs(spark, sf_dir):
    """q278: the wedge build goes through same_key_pairs (one groupBy +
    Generate expansion, PERF §43) and the pre-pass distinct is gone
    (collect_set dedups within-order, ADVICE r14) — the executed plan
    is scan -> hash aggregates -> Generates -> hash aggregates with NO
    join node of any kind and no window."""
    plan = _executed(spark, "q278_butterfly_count", sf_dir)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_rich_club_curve_has_no_cartesian(spark, sf_dir):
    """q281: degree annotation is two keyed joins, the curve is
    suffix-sum windows over the distinct-degree histogram — no
    cartesian, no unkeyed nested loop, and no per-threshold rescans
    (exactly one scan pair for the wedge join)."""
    plan = _executed(spark, "q281_rich_club", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prototypicality_scoring_is_zero_join(spark, sf_dir):
    """q283: centroids return to the plan as per-label array literals,
    so scoring is a projection — the only post-scan operators are the
    label window and the band filter; no join of any kind."""
    plan = _executed(spark, "q283_prototypicality_band", sf_dir)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_exponential_histogram_is_scan_plus_one_groupby(spark, sf_dir):
    """q284: the bucket function is a pure per-row projection; the
    whole query is scan -> (type,bucket) hash aggregate — no join, no
    window, no sort before the aggregate."""
    plan = _executed(spark, "q284_exponential_histogram", sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan


def test_transitivity_single_scalar_broadcast(spark, sf_dir):
    """q285: wedge and triangle totals are two 1-row frames — exactly
    one broadcast nested-loop (the scalar combine, q238's idiom) and
    no cartesian; the triangle side keeps q149's all-equi-join
    orientation."""
    plan = _executed(spark, "q285_transitivity", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_katz_rounds_are_keyed_joins_only(spark, sf_dir):
    """q287: each walk round is one edge-key join + one keyed groupBy
    + the accumulator's node-key left join — no cartesian, no unkeyed
    nested loop, no window."""
    plan = _executed(spark, "q287_katz_centrality", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_copurchase_pair_build_is_joinless(spark, sf_dir):
    """PERF §43: the co-purchase pair build (same_key_pairs) is ONE
    groupBy + an in-row expansion + explode + distinct — a Join node
    in its plan means the two-shuffle self-join form crept back (at
    cluster scale that form is a sort-merge join over two full copies
    of the fact table; locally AQE masks it with a broadcast that a
    100 TB lineitem never gets). Date pushdown must survive the
    groupBy exactly as it did the join."""
    from striot_spark.functions.graph import same_key_pairs
    from striot_spark.sources.batch import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    df = same_key_pairs(li, "l_orderkey", "l_partkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Generate" in plan  # the explode fan-out
    # partial collect_set rides map-side (ObjectHashAggregate partials)
    assert "partial_collect_set" in plan


def test_argmax_picks_are_windowless_struct_aggregates(spark, sf_dir):
    """r13 arg-max finding (PERF §42): q58's keep-first-per-digest,
    q203's nearest-candidate pick, and q290's first-touch pick are
    single struct-min groupBys with map-side partials — a Window node
    in any of these plans means the sorting form crept back and the
    full per-group candidate multiset is crossing the shuffle again."""
    for q in (
        "q58_corpus_build",
        "q203_nearest_event_align",
        "q290_first_touch_attribution",
    ):
        plan = _executed(spark, q, sf_dir)
        assert "Window" not in plan, q
        assert "partial_min" in plan, q
