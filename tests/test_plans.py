"""Physical-plan quality gates: catch regressions that stay correct but stop
scaling (lost pushdown, lost broadcast, lost column pruning, Python in the
hot path). The 100 TB story depends on these staying true."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

import dsq_spark.queries as Q


def n_nodes(plan: str, op: str) -> int:
    """Count physical-plan nodes of a type; explain('formatted') prints each
    node twice (tree + detail section), so count unique '(N) Op' headers."""
    return len(set(re.findall(r"\((\d+)\) " + op, plan)))


def plan_of(spark, sf_dir, name: str) -> str:
    df = Q.REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # date predicate reaches the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: l_orderkey/l_partkey/l_suppkey not read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema
    # partial + final aggregation split
    assert plan.count("HashAggregate") >= 2


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter pushed to scan


def test_no_python_udfs_in_relational_suite(spark, sf_dir):
    """Every reference-parity operator must stay JVM-side (SURVEY §3: no
    Python in the hot path). mapInPandas appears only in multimodal ops."""
    for name in ("q1_pricing_summary", "q5_local_supplier_volume", "agg_stats",
                 "window_topn_per_group", "dedup_minhash_lsh", "text_token_stats",
                 "sim_topk_bruteforce"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_multimodal_prunes_binary_column(spark, sf_dir):
    """Metadata aggregation must not drag the media payload further than
    the decode stage: plan contains exactly one Python stage."""
    plan = plan_of(spark, sf_dir, "mm_image_meta")
    assert n_nodes(plan, "MapInPandas") == 1


def test_topk_is_single_shuffle_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "window_topn_per_group")
    # ranking windows shuffle once on the partition key; the filter on rn
    # must not add extra exchanges (broadcast exchange for the dim is ok)
    assert n_nodes(plan, "Exchange") <= 2


def test_documents_scan_spreads_over_cores(spark, sf_dir):
    """A single small parquet file must not serialize CPU-bound text work
    onto one core: t('documents') re-splits to the SIZE-AWARE target
    (r11: min(defaultParallelism, ceil(bytes / 64 KB)), floor 2) so tiny
    inputs are spread without being sprayed across near-empty partitions
    that every downstream job pays task-launch overhead for."""
    import os

    from dsq_spark.queries.base import t

    d = t(spark, sf_dir, "documents")
    size = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    want = max(2, min(spark.sparkContext.defaultParallelism,
                      (size + (64 << 10) - 1) // (64 << 10)))
    assert d.rdd.getNumPartitions() >= want


def test_rebalance_keeps_scan_pushdown(spark, sf_dir):
    """Filters written after t() still reach the parquet scan below the
    round-robin exchange."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dsq_spark.queries.base import t

    df = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "LessThan(vec_id,200)" in plan  # PushedFilters at the scan


def test_bucketed_join_eliminates_shuffle(spark, tmp_path, sf_dir):
    """Co-located (bucketed) join: when both fact tables are bucketed on the
    join key into the same bucket count, the sort-merge join needs NO
    shuffle exchange — the 100 TB pattern for repeated large-large joins
    (pay one bucketed write, then every later join is exchange-free)."""
    import io
    from contextlib import redirect_stdout

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{tmp_path}/bucketdemo'")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the dim fits a broadcast; disable it so the plan
        # shows what a large-large join does at 100 TB (SMJ, no exchange)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .saveAsTable("bucketdemo.orders_b", mode="overwrite"))
        (l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .saveAsTable("bucketdemo.lineitem_b", mode="overwrite"))
        j = spark.sql("""
            SELECT o.o_orderkey, count(*) AS n
            FROM bucketdemo.orders_b o
            JOIN bucketdemo.lineitem_b l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey
        """)
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        # no shuffle below the join: both sides read pre-bucketed
        assert "Exchange hashpartitioning" not in join_section
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bucketdemo.orders_b")
        spark.sql("DROP TABLE IF EXISTS bucketdemo.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS bucketdemo")


def test_curation_pipeline_filter_pushdown(spark, sf_dir):
    """pipeline_curation: the n_chars floor is a plain column predicate and
    must reach the parquet scan (the token-count floor is computed, so it
    filters post-scan); exactly two exchanges (dedup window + rollup)."""
    plan = plan_of(spark, sf_dir, "pipeline_curation")
    assert "GreaterThanOrEqual(n_chars,100)" in plan
    assert n_nodes(plan, "Exchange") <= 3  # window hash + rollup (+rebalance)


def test_hash_split_assignment_is_map_side(spark, sf_dir):
    """sample_hash_split: split assignment must not shuffle — exactly the
    final rollup exchange(s), no join, no window."""
    plan = plan_of(spark, sf_dir, "sample_hash_split")
    assert n_nodes(plan, "Window") == 0
    assert "Join" not in plan


def test_q11_broadcasts_threshold_no_global_window(spark, sf_dir):
    """q11: the 1-row threshold joins back as a broadcast (never a
    single-partition global window), and the nation-filtered supplier set
    broadcasts into lineitem."""
    plan = plan_of(spark, sf_dir, "q11_important_parts")
    assert n_nodes(plan, "Window") == 0
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pack_token_shards_partition_local_sort(spark, sf_dir):
    """pack_token_shards: the packing window must partition by shard — never
    a global ORDER BY (RangePartitioning), which would serialize packing on
    one task at corpus scale."""
    plan = plan_of(spark, sf_dir, "pack_token_shards")
    assert "rangepartitioning" not in plan.lower()
    assert n_nodes(plan, "Window") == 1
    assert "BatchEvalPython" not in plan


def test_sample_stratified_broadcasts_counts(spark, sf_dir):
    """sample_stratified: the per-stratum counts and target must broadcast
    back onto the corpus scan — the corpus itself never shuffles for the
    join (no SortMergeJoin, no sort anywhere)."""
    plan = plan_of(spark, sf_dir, "sample_stratified")
    assert "SortMergeJoin" not in plan
    assert n_nodes(plan, "Sort") == 0
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_datetime_queries_stay_jvm_side(spark, sf_dir):
    """The rewrite-time datetime compiler must emit only built-in
    expressions — no Python evaluation nodes in the plan."""
    for name in ("date_modifier_functions", "strftime_code_coverage"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_pii_scrub_is_map_side_only(spark, sf_dir):
    """Regex scrub + counts must be a pure scan→project: no join, no
    aggregation shuffle, no Python."""
    plan = plan_of(spark, sf_dir, "text_pii_scrub")
    for op in ("Exchange hashpartitioning", "SortMergeJoin", "BroadcastHashJoin",
               "BatchEvalPython", "ArrowEvalPython"):
        assert op not in plan, op


def test_quantize_is_single_scan_no_shuffle(spark, sf_dir):
    """Per-vector quantization is embarrassingly parallel — any hash
    exchange means someone introduced a join/agg regression."""
    plan = plan_of(spark, sf_dir, "emb_quantize_int8")
    assert "Exchange hashpartitioning" not in plan
    assert n_nodes(plan, "Scan parquet") == 1


def test_contamination_broadcasts_eval_set(spark, sf_dir):
    """The eval shingle set must broadcast (benchmarks are MBs at 100 TB
    corpus scale) — a sort-merge join here would shuffle the whole corpus."""
    plan = plan_of(spark, sf_dir, "text_contamination_check")
    assert "BroadcastHashJoin" in plan


def test_tfidf_broadcasts_corpus_count(spark, sf_dir):
    """The 1-row corpus count must broadcast (a sort-merge/NL shuffle join
    against a single row is absurd).  The df-side join is deliberately NOT
    pinned: at web-corpus scale the distinct-token table runs to billions
    of rows and a forced broadcast is a driver OOM — AQE picks broadcast at
    small scale and shuffle-hash at large scale on its own (r2 VERDICT
    'What's wrong' #1)."""
    plan = plan_of(spark, sf_dir, "doc_tfidf_keywords")
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 1
    # no hint forces the vocab join shape
    import inspect
    from dsq_spark.queries import text as text_mod
    src = inspect.getsource(text_mod.doc_tfidf_keywords)
    assert "broadcast(df_" not in src


def test_gopher_rules_single_scan(spark, sf_dir):
    """The three quality rules evaluate over ONE materialized token array
    in one scan; the only shuffle is the tiny per-source aggregate."""
    plan = plan_of(spark, sf_dir, "text_gopher_rules")
    assert n_nodes(plan, "Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pq_encode_is_map_side_only(spark, sf_dir):
    """sim_pq_topk: the trained codebook round-trips the driver (M*K = 128
    bounded rows), so the encode argmin is a pure map over the subvector
    stream (array_min over the sub's literal codes) — NO exchange and NO
    join keyed per subvector; the only join left is the broadcast of the
    Q*M*K ADC lookup table, and the only shuffle-producing aggregate is the
    per-(query, vector) ADC sum."""
    plan = plan_of(spark, sf_dir, "sim_pq_topk")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    # the old per-(vector, subspace) argmin shuffle must stay gone
    assert "hashpartitioning(vec_id" not in plan
    # the only rank window is the final per-query top-k (WindowGroupLimit
    # partial/final nodes are the top-k pushdown — desirable, not counted)
    assert n_nodes(plan, r"Window(?!GroupLimit)") == 1


def test_charlm_broadcasts_lm_table(spark, sf_dir):
    """text_charlm_quality: the trigram LM table is bounded by |charset|^3
    at ANY corpus size, so the scoring join must broadcast — a sort-merge
    join here would shuffle the whole exploded trigram stream twice."""
    plan = plan_of(spark, sf_dir, "text_charlm_quality")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_all_broadcast_no_smj(spark, sf_dir):
    """sim_ivfpq_topk: the coarse centroids and residual PQ codebook are
    driver round-tripped constants (8 and M*K = 128 bounded rows), so cell
    assignment, residual subtraction and code assignment are all pure maps
    — no join, no exchange, for any of them; the only join left is the
    broadcast ADC LUT, so the plan must contain NO sort-merge join and NO
    per-(vector, subspace) argmin shuffle."""
    plan = plan_of(spark, sf_dir, "sim_ivfpq_topk")
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(vec_id" not in plan


def test_chunking_is_map_side_only(spark, sf_dir):
    """text_chunk_documents: chunk explode + hash is embarrassingly parallel
    — no hash exchange, no join, no window, no Python in the plan."""
    plan = plan_of(spark, sf_dir, "text_chunk_documents")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert n_nodes(plan, r"Window(?!GroupLimit)") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_ann_broadcasts_batch(spark, sf_dir):
    """sim_ivf_incremental: the arriving batch (and the 8 frozen centroids)
    must broadcast onto the index side — the index is the only large input
    and must never shuffle for the probe join."""
    plan = plan_of(spark, sf_dir, "sim_ivf_incremental")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_pairs_within_cells_only(spark, sf_dir):
    """dedup_semantic: the quadratic cosine verify must be blocked by the
    k-means cell — an equi-join keyed on cluster, never a corpus-wide
    cartesian. The only nested-loop joins allowed are the 8-row centroid
    broadcasts inside the Lloyd assignment."""
    plan = plan_of(spark, sf_dir, "dedup_semantic")
    assert "CartesianProduct" not in plan
    # pair join + removed-id join resolve to hash joins keyed on cluster
    assert (n_nodes(plan, "SortMergeJoin") + n_nodes(plan, "ShuffledHashJoin")
            + n_nodes(plan, "BroadcastHashJoin")) >= 2


def test_remove_dup_spans_equi_joins_only(spark, sf_dir):
    """text_remove_dup_spans: covered positions are re-derived by exploding
    duplicated gram starts into (doc_id, p) pairs so every join (gram
    multiplicity semi-join, covered anti-join, final doc join) is an
    equi-join — a positional RANGE join or cartesian would blow up at
    corpus scale."""
    plan = plan_of(spark, sf_dir, "text_remove_dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dialect_division_folds_to_plain_div(spark, sf_dir):
    """The SQLite-semantics division/CAST/truthiness compilation must cost
    nothing physically: sqlexpr's typeof()-guards are foldable, so the
    optimized plan contains a bare `div` inside WholeStageCodegen — no
    CASE residue, no Python, and the LIMIT becomes a TakeOrderedAndProject
    (top-k, never a global sort) with the scan still column-pruned."""
    plan = plan_of(spark, sf_dir, "dialect_int_division")
    assert " div " in plan
    assert "typeof" not in plan          # folded away at optimize time
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_quantity" not in read_schema  # pruning survives the rewrite
    for name in ("dialect_cast_affinity", "dialect_truthiness"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "typeof" not in plan, name


def test_affinity_key_join_stays_equi(spark, sf_dir):
    """A mixed-affinity join condition (`ON t1.int_col = t2.text_col`)
    compiles to cross-type-key equality — which must remain an EQUI-join
    on the computed keys (hash/sort-merge joinable), never degrade to a
    BroadcastNestedLoopJoin: at 100 TB a nested-loop join is a
    scale-killer, while hashing f(a) = g(c) costs the same shuffle as any
    equi-join."""
    import io
    from contextlib import redirect_stdout

    from dsq_spark.rewrite import rewrite_query

    spark.createDataFrame([(i,) for i in range(100)], "k long") \
        .createOrReplaceTempView("aff_l")
    spark.createDataFrame([(str(i),) for i in range(0, 200, 2)], "s string") \
        .createOrReplaceTempView("aff_r")
    df = spark.sql(rewrite_query(
        "SELECT count(*) AS n FROM aff_l JOIN aff_r ON aff_l.k = aff_r.s",
        {"k": "int", "s": "text"}))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan)
    assert df.collect()[0]["n"] == 50  # 0,2,...,98 numeric-convert + match


def test_dialect_shifts_compile_to_bare_shifts(spark, sf_dir):
    """dialect_bitwise_shifts (r5): in-range literal shift counts compile
    to bare 64-bit shiftleft/shiftright (no guard CASE survives constant
    folding for the literal-count columns), out-of-range literal counts
    fold to their saturation constants, and the whole query stays
    JVM-side with the top-k sort and column pruning intact."""
    plan = plan_of(spark, sf_dir, "dialect_bitwise_shifts")
    assert "shiftleft" in plan
    assert "typeof" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_quantity" not in read_schema


def test_quality_mix_no_global_structures(spark, sf_dir):
    """pipeline_quality_mix: quartile boundaries broadcast as ONE row onto
    the corpus scan (never a sort-merge join), and the greedy-selection
    window partitions by bucket — the only global sort in the plan is the
    final ORDER BY over the 4 aggregated output rows."""
    plan = plan_of(spark, sf_dir, "pipeline_quality_mix")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert n_nodes(plan, r"Window(?!GroupLimit)") == 1
    assert "windowspecdefinition(bucket" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_in_subquery_affinity_stays_semi_join(spark, sf_dir):
    """A mixed-affinity IN-subquery (`int_col IN (SELECT text_col …)`,
    compiled r6) transforms BOTH sides with the comparison-affinity key
    and must still plan as an equi SEMI join on the computed keys (hash/
    sort-merge), never a nested loop — the same 100 TB argument as
    test_affinity_key_join_stays_equi, through the membership path."""
    import io
    from contextlib import redirect_stdout

    from dsq_spark.rewrite import rewrite_query

    spark.createDataFrame([(i,) for i in range(100)], "k long") \
        .createOrReplaceTempView("aff_in_l")
    spark.createDataFrame([(str(i),) for i in range(0, 200, 2)], "s string") \
        .createOrReplaceTempView("aff_in_r")
    df = spark.sql(rewrite_query(
        "SELECT count(*) AS n FROM aff_in_l "
        "WHERE k IN (SELECT s FROM aff_in_r)",
        {"k": "int", "s": "text"}))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "LeftSemi" in plan or "ExistenceJoin" in plan
    assert df.collect()[0]["n"] == 50


def test_r10_dialect_rows_stay_jvm_side(spark, sf_dir):
    """The four r10 driver rows (CTE kind tracking, DISTINCT dynamic
    aggregates, GROUPS/EXCLUDE frames, VALUES + mixed chains) compile to
    pure-JVM plans: no Python evaluation nodes, no cartesian products —
    the coercion quads, collect_set folds and frame recombinations are
    all native expressions."""
    for name in ("dialect_cte_kinds", "dialect_distinct_aggregates",
                 "dialect_groups_frame", "dialect_values_chain"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert n_nodes(plan, "CartesianProduct") == 0, name


def test_r10_groups_frame_window_count(spark, sf_dir):
    """The GROUPS/EXCLUDE rewrite adds rank columns that share the user
    windows' partition/order, so the whole query plans into a bounded
    number of Window operators (one per distinct ordering per derived
    layer — the rank prepass, the hoisted window-result layer the r10
    optimization round added, the outer recombination), not one per
    emitted piece.  The hoist layer costs one extra Window + one
    single-partition Exchange over the same rows and buys a 5x smaller
    analyzed tree (26 KB -> 4.9 KB — OPTIMIZATION_r10.md Hotspot #1);
    the bound still catches per-piece window explosions (12 OVERs in the
    emission must NOT mean 12 Window operators)."""
    plan = plan_of(spark, sf_dir, "dialect_groups_frame")
    assert n_nodes(plan, "Window") <= 6, plan[:2000]
    assert n_nodes(plan, "Exchange") <= 3


def test_r10_distinct_aggregates_single_aggregate(spark, sf_dir):
    """sum/avg/total/count DISTINCT over one column fold into a single
    aggregation (collect_set + expression folds — no per-aggregate
    re-shuffle, no expand for multiple distinct sets)."""
    plan = plan_of(spark, sf_dir, "dialect_distinct_aggregates")
    # <=3: +1 for the r10 rebalance round-robin exchange (it carries only
    # the filter-surviving rows — the WHERE pushes through Repartition
    # into the scan; see dialect._run_rewritten).  The bound still
    # catches per-aggregate re-shuffles / multi-distinct Expand plans.
    assert n_nodes(plan, "Exchange") <= 3, plan[:2000]


def test_r10_hunt_rows_stay_jvm_side(spark, sf_dir):
    """The two hunt-fix driver rows (DISTINCT over class-mixed values,
    EXCLUDE over value-offset RANGE frames + named windows) compile to
    pure-JVM plans."""
    for name in ("dialect_distinct_class", "dialect_exclude_frames"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert n_nodes(plan, "CartesianProduct") == 0, name


def test_r10_exclude_frames_window_count(spark, sf_dir):
    """The subtraction path works off the user's own order keys: no rank
    prepass for the RANGE windows (the rn pair exists only for the named
    ROWS window), so the whole query plans into one Window node per
    distinct ordering — not one per emitted piece."""
    plan = plan_of(spark, sf_dir, "dialect_exclude_frames")
    assert n_nodes(plan, "Window") <= 4, plan[:2000]
    assert n_nodes(plan, "Exchange") <= 3


def test_r10_distinct_class_single_aggregate(spark, sf_dir):
    """DISTINCT-over-mix rewrites to ONE hash aggregate on the class
    key — the same shuffle count a native DISTINCT costs."""
    plan = plan_of(spark, sf_dir, "dialect_distinct_class")
    # <=5: +1 for the r10 rebalance exchange (see _run_rewritten)
    assert n_nodes(plan, "Exchange") <= 5, plan[:2000]


def test_r10_q21_single_scan_no_expand(spark, sf_dir):
    """q21's pair-level aggregate replaces BOTH the two-countDistinct
    Expand plan and the second lineitem scan (the R-rows join-back):
    one lineitem scan, no Expand, and the supplier lookup stays a
    broadcast."""
    plan = plan_of(spark, sf_dir, "q21_sole_returner")
    assert n_nodes(plan, "Expand") == 0, plan[:2000]
    assert plan.count("lineitem.parquet") == 1, plan[:2000]
    assert "BroadcastHashJoin" in plan
