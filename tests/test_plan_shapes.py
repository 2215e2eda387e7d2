"""Physical-plan shape assertions for the headline queries (SURVEY §4).

Correctness is covered by the DuckDB oracle; these tests pin the *plan*
properties that matter at 100 TB — filter/column pushdown into the
scan, broadcast joins for dims, shuffle-hash (never broadcast / nested
loop) for exploded self-joins, range-frame window aggregation instead
of a range self-join — so a refactor that silently degrades the plan
fails CI even though results stay correct.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from cherry_pipelines_spark.plans import assert_plan, explain_str, plan_summary


def plan_of(df) -> str:
    return explain_str(df)


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


def test_pricing_summary_pushdown(spark, sf_dir, queries):
    plan = plan_of(queries["pricing_summary"](spark, sf_dir))
    # the shipdate filter reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: only the 6 referenced columns are read
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_local_supplier_volume_broadcasts_dims(spark, sf_dir, queries):
    assert_plan(
        queries["local_supplier_volume"](spark, sf_dir),
        contains=("BroadcastHashJoin",),
    )


def test_plan_summary_counts_nodes(spark, sf_dir, queries):
    s = plan_summary(queries["ngram_jaccard"](spark, sf_dir))
    assert s.get("ShuffledHashJoin") == 1
    assert "BroadcastNestedLoopJoin" not in s


def test_trailing_window_is_range_frame_not_join(spark, sf_dir, queries):
    plan = plan_of(queries["trailing_window"](spark, sf_dir))
    # J5 rewrite: a window with a RANGE frame, not a non-equi self-join
    assert "RangeFrame" in plan
    assert "Join" not in plan
    # both aggregates share one Window node (one sort pass)
    assert plan.count(") Window") == 1


def test_positional_adjacency_no_global_sort(spark, sf_dir, queries):
    plan = plan_of(queries["positional_adjacency"](spark, sf_dir))
    # per-group row_number: sort is within partitions after a hash
    # exchange on the group key — never a global range partitioning
    assert "rangepartitioning" not in plan.lower()
    assert "row_number" in plan


def test_ngram_jaccard_shuffle_hash_self_join(spark, sf_dir, queries):
    plan = plan_of(queries["ngram_jaccard"](spark, sf_dir))
    # the exploded shingle self-join must not broadcast either side
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_shuffle_hash_self_join(spark, sf_dir, queries):
    plan = plan_of(queries["embedding_near_dup"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_text_ops_stay_jvm_side(spark, sf_dir, queries):
    # no Python evaluation nodes in the pure-function text operators
    for name in ("text_langid", "text_quality", "token_stats", "fingerprint"):
        plan = plan_of(queries[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_decoders_hold_no_python_node(spark, sf_dir, queries):
    # every ABI decode (static and dynamic signatures) and the fixed
    # borsh decode are Catalyst expressions: no Python node at all
    for name in ("evm_decode", "evm_decode_batch", "evm_decode_overflow", "borsh_decode"):
        plan = plan_of(queries[name](spark, sf_dir))
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, (name, node)


def test_stratified_sample_is_map_only(spark, sf_dir, queries):
    """Deterministic sampling must stay a scan+filter: no shuffle, no
    Python eval — it composes with pushdown at any scale."""
    plan = plan_of(queries["stratified_sample"](spark, sf_dir))
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_pii_scrub_is_map_only(spark, sf_dir, queries):
    plan = plan_of(queries["pii_scrub"](spark, sf_dir))
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_contamination_broadcasts_benchmark(spark, sf_dir, queries):
    """The benchmark-shingle probe must be a broadcast join (corpus rows
    never shuffle for it) and never a nested loop."""
    s = plan_summary(queries["contamination_check"](spark, sf_dir))
    assert s.get("BroadcastHashJoin", 0) >= 1
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_sessionize_single_user_shuffle(spark, sf_dir, queries):
    """Gaps-and-islands sessionization: lag + running sum + group-by all
    reuse ONE hash partitioning on user_id — exactly one shuffle."""
    s = plan_summary(queries["sessionize"](spark, sf_dir))
    assert s.get("Exchange", 0) == 1
    assert not any("Join" in k for k in s)


def test_vocab_topk_is_take_ordered_not_global_sort(spark, sf_dir, queries):
    """Top-k over the token aggregate must be TakeOrdered (per-partition
    heap + driver merge of k rows), never a full range-partitioned sort
    of the distinct-token table."""
    plan = plan_of(queries["vocab_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    # partial-first aggregation: map-side combine before the shuffle
    assert "partial_count" in plan


def test_training_mix_thresholds_broadcast(spark, sf_dir, queries):
    """The per-stratum keep-thresholds must come back to the fact table
    as a broadcast join (the fact side never shuffles) and stay fully
    JVM-side.  The single BroadcastNestedLoopJoin allowed is the 1-row
    binding-total cross join — the sanctioned broadcast-scalar pattern
    (same as idf_keywords' corpus count)."""
    plan = plan_of(queries["training_mix"](spark, sf_dir))
    s = plan_summary(queries["training_mix"](spark, sf_dir))
    assert s.get("BroadcastHashJoin", 0) >= 1
    assert s.get("BroadcastNestedLoopJoin", 0) <= 1
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan  # 1-row scalar
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    # the fact-table scan only shuffles nothing: its join is broadcast
    assert "CartesianProduct" not in s


def test_cluster_canonical_single_cluster_shuffle(spark, sf_dir, queries):
    """Rank + size windows must share ONE hash partitioning on
    cluster_id: exactly one Window-feeding exchange beyond the
    cluster-building subtree, and never a global range sort."""
    plan = plan_of(queries["cluster_canonical"](spark, sf_dir))
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("hashpartitioning(cluster_id") == 1


def test_cross_dedup_no_nested_loop(spark, sf_dir, queries):
    """Cross-corpus dedup: band equi-join + anti-join only — a nested
    loop or cartesian between the corpora would be the O(n·m) failure."""
    s = plan_summary(queries["cross_dedup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_pack_sequences_single_bucket_shuffle(spark, sf_dir, queries):
    """Packing: ONE hash exchange (the bucket shuffle) feeding the
    running-sum window; never a global range sort."""
    plan = plan_of(queries["pack_sequences"](spark, sf_dir))
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("hashpartitioning(pack_bucket") == 1


def test_inverted_index_partial_agg(spark, sf_dir, queries):
    """Index build: map-side partial aggregation before the token
    shuffle keeps shuffle volume at distinct-tokens-per-partition."""
    plan = plan_of(queries["inverted_index"](spark, sf_dir))
    assert "partial_count" in plan
    assert "rangepartitioning" not in plan.lower()


def test_outlier_events_facts_never_shuffle(spark, sf_dir, queries):
    """The z-score screen broadcasts group stats; the fact scan feeds a
    broadcast join directly (no Exchange between scan and join)."""
    s = plan_summary(queries["outlier_events"](spark, sf_dir))
    assert s.get("BroadcastHashJoin", 0) >= 1
    assert "SortMergeJoin" not in s and "ShuffledHashJoin" not in s


def test_zorder_key_stays_codegen(spark, sf_dir, queries):
    """The Morton key is pure bit arithmetic: no Python eval nodes, no
    shuffle — it must compose with a write-side sort only."""
    plan = plan_of(queries["zorder_key"](spark, sf_dir))
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_quantized_topk_is_one_matmul_pass_no_join(spark, sf_dir, queries):
    """Quantized ANN is the block-matmul form: the driver-held query
    matrix rides into ONE mapInPandas pass over the corpus (integer
    GEMM + per-batch top-k) — no pair join at all, and the only shuffle
    into the final ranking window carries |batches|*|Q|*k scalar rows."""
    plan = plan_of(queries["quantized_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                "CartesianProduct", "ShuffledHashJoin"):
        assert bad not in plan


def test_weighted_sample_two_phase_windows(spark, sf_dir, queries):
    """Both ranking phases are hash-partitioned windows — never a
    global range partitioning (single-task stratum killer)."""
    plan = plan_of(queries["weighted_sample"](spark, sf_dir))
    assert plan.count("row_number") >= 2  # salted pre-rank + final rank
    assert "rangepartitioning" not in plan.lower()


def test_profile_table_single_aggregate(spark, sf_dir, queries):
    """One aggregation pass for every column's stats — no join of
    per-column subplans, no extra scan per column."""
    plan = plan_of(queries["profile_table"](spark, sf_dir))
    assert "Join" not in plan
    # exactly one scan NODE in the tree ("Scan parquet  (<id>)")
    assert plan.count("Scan parquet  (") == 1


def test_upsert_merge_no_join(spark, sf_dir, tmp_path):
    """The merge is a union + max_by hash aggregate — no join (the
    query-level result is a table scan, so gate the MERGE plan)."""
    from cherry_pipelines_spark.sinks.upsert import UpsertTable

    t = UpsertTable(spark, str(tmp_path / "t"), ["k"], "ver")
    b = spark.createDataFrame([("a", 1, 10)], "k string, ver long, cents long")
    t.apply(b)
    plan = plan_of(t._merged(b))
    assert "Join" not in plan
    assert "max_by" in plan


def test_hll_distinct_partial_agg_no_python(spark, sf_dir, queries):
    plan = plan_of(queries["hll_distinct"](spark, sf_dir))
    # register build must partial-aggregate map-side (constant state per
    # partition) and stay JVM-side end to end
    assert "partial_max" in plan or "partial_max".upper() in plan.upper()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or "exact" in plan  # 1-row audit cross


def test_heavy_hitters_sketch_broadcasts(spark, sf_dir, queries):
    plan = plan_of(queries["heavy_hitters"](spark, sf_dir))
    # the d*w sketch is the build side of a broadcast join; the corpus
    # is never on the build side
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_dedup_scrub_is_map_side(spark, sf_dir, queries):
    from cherry_pipelines_spark.plans import plan_summary

    plan = plan_of(queries["span_dedup"](spark, sf_dir))
    # the bad-set reaches the scrub as a broadcast; the corpus-side
    # rebuild is an array filter, never an explode + regroup (no
    # corpus-scale aggregate after the join)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bad-set crossJoin
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    s = plan_summary(queries["span_dedup"](spark, sf_dir))
    # exactly the one pass-1 hash aggregate pair (partial+final) plus
    # the collect_list of the bad set: no regroup of scrubbed docs
    assert "SortAggregate" not in s or s.get("SortAggregate", 0) <= 2


def test_semantic_dedup_pair_join_is_cluster_equi(spark, sf_dir, queries):
    from cherry_pipelines_spark.plans import plan_summary

    df = queries["semantic_dedup"](spark, sf_dir)
    s = plan_summary(df)
    plan = plan_of(df)
    # the quadratic screen is a per-cluster block-matmul kernel: ONE
    # applyInPandas group per cluster (shuffle on cluster_id), never a
    # corpus x corpus nested loop and no pair-expanded self-join; the
    # only join left is the dropped-ids keep attach
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert s.get("SortMergeJoin", 0) + s.get("ShuffledHashJoin", 0) \
        + s.get("BroadcastHashJoin", 0) >= 1  # the keep join


def test_ann_recall_queries_broadcast(spark, sf_dir, queries):
    plan = plan_of(queries["ann_recall"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_triangle_count_two_equi_joins_no_bnlj(spark, sf_dir, queries):
    from cherry_pipelines_spark.plans import plan_summary

    s = plan_summary(queries["triangle_count"](spark, sf_dir))
    # wedge + closing joins are equi-joins; nothing nested-loops
    assert "BroadcastNestedLoopJoin" not in s
    assert (
        s.get("SortMergeJoin", 0)
        + s.get("ShuffledHashJoin", 0)
        + s.get("BroadcastHashJoin", 0)
        >= 2
    )


def test_table_diff_single_full_outer_join(spark, sf_dir, queries):
    from cherry_pipelines_spark.plans import plan_summary

    s = plan_summary(queries["table_diff"](spark, sf_dir))
    # ONE co-partitioned join comparing the snapshots; the comparison
    # itself is JVM expression work, not extra joins
    assert s.get("SortMergeJoin", 0) + s.get("ShuffledHashJoin", 0) == 1
    assert "BroadcastNestedLoopJoin" not in s


def test_audio_decode_single_arrow_pass(spark, sf_dir, queries):
    plan = plan_of(queries["audio_decode"](spark, sf_dir))
    # one mapInPandas boundary; the only exchange is fan_out's
    # round-robin rebalance ahead of the Python workers (no keyed
    # shuffle — the decode is map-only)
    assert plan.count("MapInPandas (") == 1
    assert plan.count("Exchange (") == 1
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning" not in plan.lower()


def test_scd2_single_exchange_two_windows(spark, sf_dir, queries):
    plan = plan_of(queries["scd2_history"](spark, sf_dir))
    s = plan_summary(queries["scd2_history"](spark, sf_dir))
    # change-detection lag and validity lead share ONE user_id hash
    # partitioning: exactly one shuffle in the whole plan
    assert s.get("Exchange", 0) == 1, s
    assert plan.count("Window") >= 2
    assert "pythonUDF" not in plan.lower()


def test_cohort_retention_two_exchanges(spark, sf_dir, queries):
    s = plan_summary(queries["cohort_retention"](spark, sf_dir))
    # user-window shuffle + (cohort, offset) agg shuffle — the minimum
    # (AQE may add a coalesce read, but no third hash partitioning)
    assert s.get("Exchange", 0) <= 2, s
    assert "BroadcastNestedLoopJoin" not in explain_str(
        queries["cohort_retention"](spark, sf_dir)
    )


def test_funnel_one_exchange_no_self_join(spark, sf_dir, queries):
    plan = plan_of(queries["funnel"](spark, sf_dir))
    s = plan_summary(queries["funnel"](spark, sf_dir))
    # the K-step funnel is window-chained over ONE user partitioning —
    # no K-way self-join (zero joins on the events table at all)
    assert s.get("SortMergeJoin", 0) + s.get("ShuffledHashJoin", 0) == 0, s
    assert plan.count("Window") >= 1


def test_temperature_mix_broadcast_threshold(spark, sf_dir, queries):
    plan = plan_of(queries["temperature_mix"](spark, sf_dir))
    # stratum thresholds join back by broadcast; the fact table is
    # never shuffled for the gate.  The single BNLJ allowed is the
    # 1-row n_min cross join (broadcast-scalar pattern, same as
    # training_mix's binding total)
    assert "BroadcastHashJoin" in plan
    s = plan_summary(queries["temperature_mix"](spark, sf_dir))
    assert s.get("BroadcastNestedLoopJoin", 0) <= 1, s


def test_image_dhash_band_join_no_python_verify(spark, sf_dir, queries):
    plan = plan_of(queries["image_dhash_dedup"](spark, sf_dir))
    s = plan_summary(queries["image_dhash_dedup"](spark, sf_dir))
    # candidates come from a band equi-join, never a nested loop; the
    # hamming verify is conv/bit_count JVM expression work — the ONLY
    # Python stage is the decode kernel (one MapInPandas)
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        s.get("SortMergeJoin", 0)
        + s.get("ShuffledHashJoin", 0)
        + s.get("BroadcastHashJoin", 0)
        >= 1
    )
    # the decode+hash subtree is checkpoint-shared: the self-join must
    # NOT recompute the MapInPandas kernel per side (the plan reads the
    # checkpointed RDD, so no MapInPandas node appears at all)
    assert s.get("MapInPandas", 0) == 0, s
    assert "BatchEvalPython" not in plan


def test_bpe_encode_is_map_only_jvm(spark, sf_dir, queries):
    plan = plan_of(queries["bpe_encode"](spark, sf_dir))
    # tokenization folds to a replace-chain expression: no shuffle, no
    # Python eval — composes with scan pruning like any projection
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_srp_near_dups_band_join_jvm_only(spark, sf_dir, queries):
    plan = plan_of(queries["srp_near_dups"](spark, sf_dir))
    s = plan_summary(queries["srp_near_dups"](spark, sf_dir))
    # sketching is pure JVM expression work; candidates come from the
    # generic band equi-join (checkpoint-shared), verify is bit_count
    assert "BroadcastNestedLoopJoin" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan
    assert (
        s.get("SortMergeJoin", 0)
        + s.get("ShuffledHashJoin", 0)
        + s.get("BroadcastHashJoin", 0)
        >= 1
    )


def test_market_share_broadcasts_all_dims(spark, sf_dir, queries):
    s = plan_summary(queries["market_share"](spark, sf_dir))
    # nation (x2 roles) + region are broadcast; only the fact spine
    # shuffles.  No nested loops anywhere in a 7-relation tree
    assert s.get("BroadcastHashJoin", 0) >= 3, s
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_returned_items_takeordered_topk(spark, sf_dir, queries):
    plan = plan_of(queries["returned_items"](spark, sf_dir))
    # top-20 must be TakeOrdered (per-partition heap), not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_priority_late_orders_semi_join(spark, sf_dir, queries):
    plan = plan_of(queries["priority_late_orders"](spark, sf_dir))
    # EXISTS compiles to a semi join: the fact table is never multiplied
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_disjunctive_pushdown_prunes_both_scans(spark, sf_dir, queries):
    plan = plan_of(queries["disjunctive_pushdown"](spark, sf_dir))
    # Catalyst pushes the per-side residual of the OR into BOTH scans:
    # the part scan gets the (brand, size) disjunction, the lineitem
    # scan gets the quantity-bounds disjunction — each scan is pruned
    # before the join even though the full predicate spans both sides
    assert "EqualTo(p_brand,Brand#1)" in plan, plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, plan
    # tiny dim side broadcast; the disjunction never becomes a BNLJ
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_large_order_customers_having_before_join(spark, sf_dir, queries):
    plan = plan_of(queries["large_order_customers"](spark, sf_dir))
    # HAVING threshold filters the aggregate BEFORE the joins and the
    # top-100 is TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_sole_late_supplier_no_fact_self_join(spark, sf_dir, queries):
    s = plan_summary(queries["sole_late_supplier"](spark, sf_dir))
    # exists + not-exists collapse to aggregates: the fact table is
    # scanned once per role, never self-joined fact×fact; supplier is
    # broadcast
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert s.get("BroadcastHashJoin", 0) >= 1, s


def test_idle_rich_customers_anti_join_scalar_broadcast(spark, sf_dir, queries):
    plan = plan_of(queries["idle_rich_customers"](spark, sf_dir))
    # the global-average threshold is a broadcast 1-row aggregate and
    # the no-finished-order test is an ANTI join (never row-multiplying)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_min_cost_supplier_broadcast_snowflake(spark, sf_dir, queries):
    s = plan_summary(queries["min_cost_supplier"](spark, sf_dir))
    # the costs aggregate is checkpoint-shared (it feeds the per-part
    # min AND the join-back), so the visible plan is the two keyed
    # aggregates + one equi-join — never a nested loop, and the top-100
    # is a per-partition heap
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert s.get("HashAggregate", 0) >= 2, s
    assert "TakeOrderedAndProject" in s, s
    # the broadcast snowflake lives in the checkpointed prefix: build
    # the same fact⨝dims tree uncheckpointed and pin it there
    from pyspark.sql import functions as F

    p, sup, n, r, l = entry_mod._load(
        spark, sf_dir, "part", "supplier", "nation", "region", "lineitem"
    )
    euro = (
        sup.join(F.broadcast(n), sup.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    prefix = (
        l.join(F.broadcast(p.filter(F.col("p_size") <= 10).select("p_partkey")),
               l.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(euro), l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("cost"))
    )
    ps = plan_summary(prefix)
    assert ps.get("BroadcastHashJoin", 0) >= 3, ps
    assert "BroadcastNestedLoopJoin" not in ps


def test_important_part_values_scalar_broadcast(spark, sf_dir, queries):
    plan = plan_of(queries["important_part_values"](spark, sf_dir))
    # the (total, n_parts) 1-row aggregate joins back as a broadcast;
    # the per-part aggregate is never re-scanned per row
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_priority_shipmodes_date_pushdown(spark, sf_dir, queries):
    plan = plan_of(queries["priority_shipmodes"](spark, sf_dir))
    # the 1997 year bounds reach the lineitem scan as pushed filters —
    # at 100 TB this is the partition-pruning predicate
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert "LessThan(l_shipdate" in plan, plan
    # the priority split is one conditional aggregate, not two scans
    assert "BroadcastNestedLoopJoin" not in plan


def test_mad_outliers_facts_never_shuffle(spark, sf_dir, queries):
    plan = plan_of(queries["mad_outliers"](spark, sf_dir))
    # both stat joins are broadcast: the fact side reaches the filter
    # without an exchange on event_type
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_char_entropy_map_only_no_python(spark, sf_dir, queries):
    plan = plan_of(queries["char_entropy"](spark, sf_dir))
    # 27 replace-counts + a flat entropy chain: no keyed shuffle, zero
    # explode, zero Python eval.  The single allowed exchange is
    # fan_out's round-robin spread of the CPU-bound map work — never a
    # hash/range partitioning
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan.lower()
    assert "Generate" not in plan  # no explode
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_ewma_single_keyed_exchange_no_python(spark, sf_dir, queries):
    plan = plan_of(queries["ewma_smooth"](spark, sf_dir))
    # one hash exchange on the user key for the window; the weighted
    # fold is JVM higher-order-function work
    assert plan.count("hashpartitioning(user_id") == 1, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_last_touch_single_exchange_no_self_join(spark, sf_dir, queries):
    plan = plan_of(queries["last_touch"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert "Join" not in plan  # carried window, never a self-join


def test_dataset_split_is_map_only(spark, sf_dir, queries):
    plan = plan_of(queries["dataset_split"](spark, sf_dir))
    # the split assignment itself is hash + when-chain before the demo
    # aggregation: no join, no Python anywhere
    assert "Join" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_contract_check_single_aggregate(spark, sf_dir, queries):
    plan = plan_of(queries["contract_check"](spark, sf_dir))
    # every rule folds into ONE aggregation (partial-merged): exactly
    # one exchange, and the unpivot is plain projection work
    s = plan_summary(queries["contract_check"](spark, sf_dir))
    assert s.get("Exchange", 0) == 1, s
    assert "Join" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_rp_project_stays_jvm_side(spark, sf_dir, queries):
    plan = plan_of(queries["rp_project"](spark, sf_dir))
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan
    assert "Join" not in plan


def test_fuzzy_match_variant_equi_join_no_cross(spark, sf_dir, queries):
    s = plan_summary(queries["fuzzy_match"](spark, sf_dir))
    # symmetric-delete blocking: an equi-join on the variant, never a
    # cross/nested-loop over the name table
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_corr_matrix_single_aggregate(spark, sf_dir, queries):
    s = plan_summary(queries["corr_matrix"](spark, sf_dir))
    # all six corr aggregates share ONE aggregation (one exchange)
    assert s.get("Exchange", 0) == 1, s
    assert "Join" not in str(s)


def test_trend_lines_one_keyed_shuffle(spark, sf_dir, queries):
    s = plan_summary(queries["trend_lines"](spark, sf_dir))
    assert s.get("Exchange", 0) == 1, s
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in s


def test_debounce_single_keyed_exchange_no_join(spark, sf_dir, queries):
    s = plan_summary(queries["debounce"](spark, sf_dir))
    assert s.get("Exchange", 0) == 1, s
    assert not any("Join" in k for k in s)


def test_quantile_normalize_partitioned_window_not_global(spark, sf_dir, queries):
    plan = plan_of(queries["quantile_normalize"](spark, sf_dir))
    # percentile rank is per-group: a hash exchange on the group, NEVER
    # a global range sort (single-task funnel)
    assert "hashpartitioning(event_type" in plan, plan
    assert "rangepartitioning" not in plan.lower()


def test_label_propagation_no_nested_loop(spark, sf_dir, queries):
    s = plan_summary(queries["label_propagation"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_resample_daily_no_join_one_keyed_window(spark, sf_dir, queries):
    plan = plan_of(queries["resample_daily"](spark, sf_dir))
    # the grid is unioned, not joined; the fill is one keyed window
    assert "Join" not in plan, plan
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan.lower()


def test_running_total_never_single_task_global_window(spark, sf_dir, queries):
    plan = plan_of(queries["running_total"](spark, sf_dir))
    # the within-chunk scan is hash-partitioned; the only unpartitioned
    # window runs over the per-chunk TOTALS (|chunks| rows); the
    # offsets come back as a broadcast join
    assert "hashpartitioning(_chunk" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pattern_absence_one_keyed_window_no_join(spark, sf_dir, queries):
    plan = plan_of(queries["pattern_absence"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_lsh_recall_no_nested_loop(spark, sf_dir, queries):
    s = plan_summary(queries["lsh_recall"](spark, sf_dir))
    # the hit probe is a semi join on pair keys; the three 1-row counts
    # compose via broadcast cross joins (the sanctioned scalar pattern)
    assert "CartesianProduct" not in s
    assert s.get("BroadcastNestedLoopJoin", 0) <= 2, s


def test_containment_shares_one_shingle_exchange(spark, sf_dir, queries):
    plan = plan_of(queries["containment"](spark, sf_dir))
    # identical l/r shingle subplans: one exchange + ReusedExchange,
    # shuffle-hash join, no broadcast of the exploded table
    assert "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunks_roundtrip_single_doc_exchange(spark, sf_dir, queries):
    plan = plan_of(queries["chunks_roundtrip"](spark, sf_dir))
    # max-index window + re-concat groupBy + original-text join all
    # hash on doc_id — the exchange is planned once and reused
    assert "hashpartitioning(doc_id" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_split_leakage_broadcast_splits_no_nested_loop(spark, sf_dir, queries):
    s = plan_summary(queries["split_leakage"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s
    assert s.get("BroadcastHashJoin", 0) >= 2, s  # both split sides


def test_oov_rate_vocab_broadcast_semi(spark, sf_dir, queries):
    plan = plan_of(queries["oov_rate"](spark, sf_dir))
    # the top-k vocab comes back as a broadcast LEFT SEMI probe and the
    # selection is TakeOrdered, never a global sort
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_dup_source_matrix_broadcast_sources(spark, sf_dir, queries):
    s = plan_summary(queries["dup_source_matrix"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_forecast_revenue_all_predicates_pushed(spark, sf_dir, queries):
    plan = plan_of(queries["forecast_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters: [", 1)[1].split("]")[0]
    # every Q6 predicate reaches the parquet reader
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "LessThan(l_quantity,24" in pushed, pushed
    # partial-first scalar aggregate: the one exchange carries a single
    # partial row per partition, never the filtered fact rows
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_shipping_priority_takeordered_broadcast_segment(spark, sf_dir, queries):
    plan = plan_of(queries["shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_promo_revenue_broadcast_part(spark, sf_dir, queries):
    plan = plan_of(queries["promo_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winsorize_bounds_broadcast_back(spark, sf_dir, queries):
    plan = plan_of(queries["winsorize"](spark, sf_dir))
    # one percentile aggregate per group, bounds broadcast: the fact
    # side reaches the clip without an exchange
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_volume_shipping_broadcast_nation_dims(spark, sf_dir, queries):
    plan = plan_of(queries["volume_shipping"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # ship-date range reaches the lineitem scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_product_profit_broadcast_part_filter_pushed(spark, sf_dir, queries):
    plan = plan_of(queries["product_profit"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the widget name filter prunes the part scan (Contains pushes down)
    assert "StringContains(p_name,widget)" in plan


def test_order_count_distribution_keeps_left_join(spark, sf_dir, queries):
    plan = plan_of(queries["order_count_distribution"](spark, sf_dir))
    # the ON-predicate form must stay an outer join (zero-order
    # customers survive); a WHERE would have turned it Inner
    assert "LeftOuter" in plan


def test_top_supplier_broadcasts_scalar_max(spark, sf_dir, queries):
    plan = plan_of(queries["top_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_part_supplier_counts_anti_join_broadcast(spark, sf_dir, queries):
    plan = plan_of(queries["part_supplier_counts"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_excess_stock_suppliers_semi_join(spark, sf_dir, queries):
    plan = plan_of(queries["excess_stock_suppliers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_text_clean_map_only_no_python(spark, sf_dir, queries):
    from cherry_pipelines_spark.plans import plan_summary

    plan = plan_of(queries["text_clean"](spark, sf_dir))
    s = plan_summary(queries["text_clean"](spark, sf_dir))
    # pure JVM regexp chain: no Python eval nodes, no exchange at all
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in s


def test_minhash_estimate_no_resignature_of_cached_frame(spark, sf_dir, queries):
    plan = plan_of(queries["minhash_estimate"](spark, sf_dir))
    # all three consumers (banding, both sides of the estimate join)
    # read the localCheckpoint-ed signature frame (Scan ExistingRDD);
    # the Python shingle/signature producer must not appear in the
    # query plan at all — it runs once at checkpoint materialization
    assert "Scan ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_recall_no_reshingle_of_checkpointed_frames(spark, sf_dir, queries):
    plan = plan_of(queries["lsh_recall"](spark, sf_dir))
    # one shingle+signature pass feeds both the exact self-join and the
    # banding, and both derived pair frames are themselves materialized:
    # the final stats plan reads only checkpointed RDDs — the Python
    # producer must not appear (it would mean a consumer re-runs a pass)
    assert "Scan ExistingRDD" in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_docs_curation_single_repetition_pass(spark, sf_dir, queries):
    plan = plan_of(queries["docs_curation"](spark, sf_dir))
    # hashed/deduped are localCheckpoint-ed, so the canonical agg, the
    # keep join, the contamination probe, and the clean join all read
    # materialized frames; the only Python nodes left are the single
    # contamination shingle passes (deduped side + bench side)
    assert "Scan ExistingRDD" in plan
    assert plan.count("MapInPandas") + plan.count("ArrowEvalPython") <= 2


def test_hll_by_group_no_cartesian_merge(spark, sf_dir, queries):
    from cherry_pipelines_spark.plans import plan_summary

    s = plan_summary(queries["hll_by_group"](spark, sf_dir))
    # register merge is a plain hash aggregate — no sort-merge join
    # anywhere; the single BNLJ is the documented 1-row x 1-row cross
    # of the merged estimate with the broadcast exact count (same shape
    # as hll_distinct's scalar attach)
    assert "SortMergeJoin" not in s
    assert s.get("BroadcastNestedLoopJoin", 0) <= 1
    assert s.get("BroadcastHashJoin", 0) >= 1  # per-group exact attach


def test_chain_lookup_is_broadcast_no_fact_shuffle(spark, sf_dir, queries):
    from cherry_pipelines_spark.plans import plan_summary

    s = plan_summary(queries["chain_lookup"](spark, sf_dir))
    assert s.get("BroadcastHashJoin", 0) == 1
    # the fact side never shuffles for a dictionary point lookup
    assert s.get("Exchange", 0) == 0
    assert "SortMergeJoin" not in s


def test_vault_mint_attach_broadcasts_tx_and_blocks(spark, sf_dir, queries):
    plan = plan_of(queries["vault_mint_attach"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_constant_window_partition_keys_survive_optimization(spark):
    """Spark 4's EliminateWindowPartitions strips foldable partition
    keys, turning the sketch/carry frames' intentional
    ``partitionBy(F.lit(0))`` back into unpartitioned windows (the
    round-5 warning regression).  The session factory excludes that
    rule; pin both the config and its observable effect."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    assert "EliminateWindowPartitions" in excluded

    df = spark.range(10).select(
        F.sum("id")
        .over(
            Window.partitionBy(F.lit(0))
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum")
    )
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the literal key is still in the Window's partition spec
    assert "windowspecdefinition(0" in optimized


def test_vault_mint_attach_single_dim_synthesis_pass(spark, sf_dir, queries):
    """The three fixture dims derive from ONE aggregated, checkpointed
    (slot, txi) frame instead of three .distinct() passes over full
    lineitem (round-5's slowest registry entry was all fixture
    synthesis).  Exactly one parquet scan of lineitem remains in the
    query plan (the swaps fact side); the dims read the materialized
    RDD."""
    import re

    plan = plan_of(queries["vault_mint_attach"](spark, sf_dir))
    # node headers "(N) Scan parquet" count each physical node once
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Scan ExistingRDD" in plan


def test_cpi_pairing_one_shuffle_no_join(spark, sf_dir, queries):
    """J7: the index+1 CPI attach is a ``lead`` in one window over the
    one frame of swap and CPI rows, not a join of two branches: the
    plan holds no join of any kind and reads no materialized frame, and
    the positional-index window and the ``lead`` window share the one
    shuffle of the executed plan."""
    import re

    df = queries["cpi_pairing"](spark, sf_dir)
    assert not [n for n in plan_summary(df) if "Join" in n or n == "CartesianProduct"]
    df.collect()
    plan = explain_str(df)
    assert "Scan ExistingRDD" not in plan and "InMemoryRelation" not in plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert len(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", final)) == 1, final


def test_ivf_pq_stored_prunes_partitions_dynamically(spark, sf_dir, queries):
    """The stored IVF-PQ index is cell-partitioned; probing it joins on
    the partition columns, and Spark's dynamic partition pruning must
    fire — the scan carries a dynamicpruningexpression over the cell
    dirs, so a probe reads only the probed cells' directories (the
    100 TB posture: I/O proportional to probed cells, not the index)."""
    plan = plan_of(queries["ivf_pq_stored"](spark, sf_dir))
    assert "PartitionFilters" in plan
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------- stored IVF-PQ index: dynamic partition pruning gate


def _scan_metrics(df, col_fragments):
    """Runtime metrics of FileSourceScans whose output schema carries
    all ``col_fragments``, from the EXECUTED plan (AQE final plans +
    query stages + DPP subqueries all traversed).  Matching on columns,
    not the path: FileSourceScanExec.toString truncates long locations
    (pytest tmp paths never match)."""
    plan = df._jdf.queryExecution().executedPlan()
    stack, out = [plan], []
    while stack:
        n = stack.pop()
        nm = n.getClass().getSimpleName()
        if "FileSourceScan" in nm and all(
            f in n.toString() for f in col_fragments
        ):
            m, it, vals = n.metrics(), None, {}
            it = m.iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            out.append(vals)
        if nm == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif nm.endswith("QueryStageExec"):
            stack.append(n.plan())
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())
        try:
            it = n.subqueries().iterator()
            while it.hasNext():
                stack.append(it.next())
        except Exception:
            pass
    return out


def test_stored_ivfpq_probe_prunes_partitions(spark, tmp_path):
    """The claim the stored layout exists to make (round-10 verdict #3):
    a probe against the cell-partitioned index must read ONLY the
    probed cells' directories.  Fixture: 64 distinct lattice cells,
    one query, radius-1 probe (<= 9 cells) — the scan's runtime
    numFiles must be far below staticFilesNum (the pre-DPP file
    count), and the partition filter must carry a dynamicpruning
    expression.  Fails if the probe ever degrades to a full-index
    scan."""
    from pyspark.sql import functions as F

    from cherry_pipelines_spark.operators.similarity import (
        build_stored_ivfpq_index,
        query_stored_ivfpq_index,
    )

    dim = 8
    rows = [
        (
            i,
            [2.0 * (i % 8), 2.0 * ((i // 8) % 8)]
            + [0.01 * ((i * 7 + j) % 5) for j in range(dim - 2)],
        )
        for i in range(128)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpq_gate_index")
    books = build_stored_ivfpq_index(
        df, path, m=2, dim=dim, ksub=4, iters=1, n_components=2, grid=0.5
    )
    out = query_stored_ivfpq_index(
        spark,
        path,
        books,
        df.filter(F.col("vec_id") == 0),
        k=3,
        m=2,
        dim=dim,
        n_components=2,
        grid=0.5,
        probe_radius=1,
    )
    # collect() (not count()) so THIS frame's QueryExecution runs and
    # its scan metrics populate — count() executes a separate plan
    assert len(out.collect()) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "probe scan lost its DPP filter"
    metrics = _scan_metrics(out, ("code#", "c0#", "c1#"))
    assert metrics, "index scan not found in executed plan"
    m0 = metrics[0]
    static_files = m0.get("staticFilesNum", 0)
    read_files = m0.get("numFiles", 0)
    # 64 cells on disk; a radius-1 probe touches at most 9 — anything
    # close to the static count means the probe scanned the whole index
    assert static_files >= 32, m0
    assert read_files <= 9, m0
    assert read_files < static_files / 3, m0


def test_stored_lattice_ivfpq_compact_handles_nested_dirs(spark, tmp_path):
    """The lattice index partitions on a NESTED c0=…/c1=… chain;
    compact_stored_index must walk to the LEAF dirs (a flat scan sees
    only directories at level 1 and silently no-ops — the round-13
    regression this test pins).  Probe results must be bit-identical
    across the compaction and the leaf layout restored."""
    import os

    from pyspark.sql import functions as F

    from cherry_pipelines_spark.operators.similarity import (
        append_stored_ivfpq_index,
        build_stored_ivfpq_index,
        compact_stored_index,
        query_stored_ivfpq_index,
    )

    dim = 8
    # cell coordinates depend on i//4 only, so the i%4 batch strata all
    # land in the SAME cells — appends must add files to existing leaf
    # dirs, not mint new cells
    rows = [
        (
            i,
            [2.0 * ((i // 4) % 4), 2.0 * ((i // 16) % 4)]
            + [0.01 * ((i * 7 + j) % 5) for j in range(dim - 2)],
        )
        for i in range(128)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.filter(F.col("vec_id") % 4 < 2)
    path = str(tmp_path / "lattice_compact_index")
    books = build_stored_ivfpq_index(
        base, path, m=2, dim=dim, ksub=4, iters=1, n_components=2, grid=0.5
    )
    for r in (2, 3):
        append_stored_ivfpq_index(
            df.filter(F.col("vec_id") % 4 == r), path, books,
            m=2, dim=dim, n_components=2, grid=0.5,
        )

    def leaf_files():
        out = {}
        for c0 in os.listdir(path):
            if not c0.startswith("c0="):
                continue
            for c1 in os.listdir(os.path.join(path, c0)):
                if not c1.startswith("c1="):
                    continue
                out[f"{c0}/{c1}"] = sum(
                    f.endswith(".parquet")
                    for f in os.listdir(os.path.join(path, c0, c1))
                )
        return out

    def probe():
        return sorted(
            map(
                tuple,
                query_stored_ivfpq_index(
                    spark, path, books, df.filter(F.col("vec_id") == 0),
                    k=3, m=2, dim=dim, n_components=2, grid=0.5,
                    probe_radius=1,
                ).collect(),
            )
        )

    before = leaf_files()
    assert max(before.values()) >= 3, before  # base + 2 appends landed
    got_before = probe()
    report = compact_stored_index(spark, path)
    after = leaf_files()
    assert report.partitions_compacted > 0, report
    assert set(after) == set(before) and max(after.values()) == 1, after
    assert probe() == got_before  # bit-identical across the rewrite
    report2 = compact_stored_index(spark, path)
    assert report2.partitions_compacted == 0, report2


def test_stored_trained_ivfpq_probe_prunes_partitions(spark, tmp_path):
    """Trained-cell stored layout: an nprobe=1 probe for one query must
    read exactly ONE of the n_cells partition directories (runtime
    numFiles metric), with a live dynamicpruning partition filter —
    and trained cells guarantee the layout is balanced, so the gate is
    sharper than the lattice leg's (whose cell count depends on where
    the corpus falls on the grid)."""
    from pyspark.sql import functions as F

    from cherry_pipelines_spark.operators.similarity import (
        build_stored_ivfpq_trained_index,
        query_stored_ivfpq_trained_index,
    )

    import math

    dim, n_cells = 8, 4
    rows = [
        (
            i,
            [
                2.0 * math.sin(1 + (i % n_cells) * 0.9 + j * 0.53)
                + 0.05 * math.sin(7 + i * 0.37 + j * 0.11)
                for j in range(dim)
            ],
        )
        for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "trained_gate_index")
    books, cents = build_stored_ivfpq_trained_index(
        df, path, m=2, dim=dim, ksub=4, iters=1, n_cells=n_cells,
        coarse_iters=1,
    )
    out = query_stored_ivfpq_trained_index(
        spark, path, books, cents,
        df.filter(F.col("vec_id") == 0),
        k=3, m=2, dim=dim, nprobe=1,
    )
    assert len(out.collect()) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "probe scan lost its DPP filter"
    metrics = _scan_metrics(out, ("code#", "cell#"))
    assert metrics, "index scan not found in executed plan"
    m0 = metrics[0]
    static_files = m0.get("staticFilesNum", 0)
    read_files = m0.get("numFiles", 0)
    assert static_files >= n_cells, m0  # all cells materialized on disk
    # one query, nprobe=1 -> exactly one cell directory read
    assert read_files <= static_files // n_cells + 1, m0
    assert read_files < static_files, m0


def test_stored_trained_ivfpq_append_keeps_pruning(spark, tmp_path):
    """Round-11 verdict #1(b): after an incremental append, a probe must
    STILL read only the probed cell's directory — appends add files
    under existing ``cell=`` dirs (never new cells outside the trained
    id space), so the DPP directory-pruning contract survives.  The
    bound is computed from the filesystem (max files in any one cell
    dir), not assumed uniform, because base + append file counts per
    dir differ."""
    import math
    import os

    from pyspark.sql import functions as F

    from cherry_pipelines_spark.operators.similarity import (
        append_stored_ivfpq_trained_index,
        build_stored_ivfpq_trained_index,
        query_stored_ivfpq_trained_index,
    )

    dim, n_cells = 8, 4
    rows = [
        (
            i,
            [
                2.0 * math.sin(1 + (i % n_cells) * 0.9 + j * 0.53)
                + 0.05 * math.sin(7 + i * 0.37 + j * 0.11)
                for j in range(dim)
            ],
        )
        for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.filter(F.col("vec_id") % 5 != 4)
    batch = df.filter(F.col("vec_id") % 5 == 4)
    path = str(tmp_path / "trained_append_index")
    books, cents = build_stored_ivfpq_trained_index(
        base, path, m=2, dim=dim, ksub=4, iters=1, n_cells=n_cells,
        coarse_iters=1,
    )
    append_stored_ivfpq_trained_index(batch, path, books, cents, m=2, dim=dim)

    # appends never mint cells outside the trained id space
    cell_dirs = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert all(0 <= int(d.split("=")[1]) < n_cells for d in cell_dirs), cell_dirs
    per_dir = {
        d: sum(
            f.endswith(".parquet")
            for f in os.listdir(os.path.join(path, d))
        )
        for d in cell_dirs
    }
    max_dir = max(per_dir.values())

    out = query_stored_ivfpq_trained_index(
        spark, path, books, cents,
        df.filter(F.col("vec_id") == 0),
        k=3, m=2, dim=dim, nprobe=1,
    )
    assert len(out.collect()) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "probe scan lost its DPP filter"
    metrics = _scan_metrics(out, ("code#", "cell#"))
    assert metrics, "index scan not found in executed plan"
    m0 = metrics[0]
    static_files = m0.get("staticFilesNum", 0)
    read_files = m0.get("numFiles", 0)
    assert static_files == sum(per_dir.values()), (m0, per_dir)
    # one query, nprobe=1 -> files of exactly one cell directory
    assert 0 < read_files <= max_dir, (m0, per_dir)
    assert read_files < static_files, (m0, per_dir)


def test_append_codes_frame_stays_fused(spark, tmp_path):
    """Round-13 ADVICE: the append path's codes frame must stay ONE
    fused map spine over the batch scan — `_frozen_residuals
    (checkpoint=False)` is safe only while the residual frame has a
    single consumer, so a re-added localCheckpoint (or any accidental
    materialization) would surface as a `Scan ExistingRDD` boundary,
    and a regression of the pq_encode `carry` (the old id-join) would
    surface as a SECOND scan of the batch.  This pins both: the
    composed residual→encode frame (exactly what
    `append_stored_ivfpq_trained_index` writes) plans with no
    ExistingRDD scan and exactly ONE FileScan — the batch flows
    through a single fused map spine.  (The broadcast SIDES still
    carry tiny metadata aggregations — collect_list over the
    n_cells/m·ksub-row local relations — which is allowed data
    movement.)"""
    import math

    from pyspark.sql import functions as F

    from cherry_pipelines_spark.operators.similarity import (
        _frozen_residuals,
        build_stored_ivfpq_trained_index,
        pq_encode,
    )

    dim, n_cells = 8, 4
    rows = [
        (
            i,
            [
                2.0 * math.sin(1 + (i % n_cells) * 0.9 + j * 0.53)
                + 0.05 * math.sin(7 + i * 0.37 + j * 0.11)
                for j in range(dim)
            ],
        )
        for i in range(64)
    ]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(src)
    df = spark.read.parquet(src)  # parquet-backed: any ExistingRDD is ours
    base = df.filter(F.col("vec_id") % 5 != 4)
    batch = df.filter(F.col("vec_id") % 5 == 4)
    path = str(tmp_path / "trained_append_index")
    books, cents = build_stored_ivfpq_trained_index(
        base, path, m=2, dim=dim, ksub=4, iters=1, n_cells=n_cells,
        coarse_iters=1,
    )
    resid = _frozen_residuals(
        batch, cents, "embedding", "vec_id", n_cells_hint=n_cells,
        spread=False, checkpoint=False,
    )
    codes = pq_encode(resid, books, "_r", "vec_id", m=2, dim=dim, carry=("cell",))
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_stored_trained_ivfpq_compact_restores_layout(spark, tmp_path):
    """Round-12 verdict #1: the stored-index lifecycle's last stage.
    Many frozen-metadata appends leave one file per cell per batch;
    ``compact_stored_index`` must (a) leave probe results
    BIT-IDENTICAL, (b) cut files-per-cell back toward 1, and (c) keep
    the DPP numFiles gate — post-compaction the probe reads the files
    of exactly one (now compact) cell directory."""
    import math
    import os

    from pyspark.sql import functions as F

    from cherry_pipelines_spark.operators.similarity import (
        append_stored_ivfpq_trained_index,
        build_stored_ivfpq_trained_index,
        compact_stored_index,
        query_stored_ivfpq_trained_index,
    )

    dim, n_cells = 8, 4
    rows = [
        (
            i,
            [
                2.0 * math.sin(1 + (i % n_cells) * 0.9 + j * 0.53)
                + 0.05 * math.sin(7 + i * 0.37 + j * 0.11)
                for j in range(dim)
            ],
        )
        for i in range(128)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.filter(F.col("vec_id") % 8 < 4)
    path = str(tmp_path / "trained_compact_index")
    books, cents = build_stored_ivfpq_trained_index(
        base, path, m=2, dim=dim, ksub=4, iters=1, n_cells=n_cells,
        coarse_iters=1,
    )
    # sixteen separate appends over the same 64-row half (vec_id % 32
    # buckets whose % 8 lands in {4,5,6,7}); each batch's ids share
    # i % 4, i.e. ONE cluster family -> one cell dir, so every cell
    # collects 4 append files on top of the base build's one.  (The
    # append path now lands exactly one file per touched cell per
    # batch — repartition-by-cell before the write — so the swamp
    # must be manufactured with more batches than the old
    # several-files-per-append layout needed.)
    for r in range(4, 32):
        if r % 8 < 4:
            continue
        append_stored_ivfpq_trained_index(
            df.filter(F.col("vec_id") % 32 == r), path, books, cents,
            m=2, dim=dim,
        )

    def files_per_cell():
        return {
            d: sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(path, d))
            )
            for d in os.listdir(path)
            if d.startswith("cell=")
        }

    def probe():
        return query_stored_ivfpq_trained_index(
            spark, path, books, cents,
            df.filter(F.col("vec_id") == 0),
            k=3, m=2, dim=dim, nprobe=1,
        )

    before = files_per_cell()
    assert max(before.values()) >= 5, before  # the swamp is real
    got_before = sorted(map(tuple, probe().collect()))

    report = compact_stored_index(spark, path)
    after = files_per_cell()
    # (b) layout restored: every cell coalesced to 1 file (tiny data)
    assert report.partitions_compacted > 0, report
    assert set(after) == set(before) and max(after.values()) == 1, after
    # (a) probe results bit-identical across the compaction
    out = probe()
    got_after = sorted(map(tuple, out.collect()))
    assert got_after == got_before
    # (c) the DPP gate only tightens: probe reads one compact cell dir
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "probe scan lost its DPP filter"
    metrics = _scan_metrics(out, ("code#", "cell#"))
    assert metrics, "index scan not found in executed plan"
    m0 = metrics[0]
    static_files = m0.get("staticFilesNum", 0)
    read_files = m0.get("numFiles", 0)
    assert static_files == sum(after.values()), (m0, after)
    assert 0 < read_files <= max(after.values()), (m0, after)
    assert read_files < static_files, (m0, after)
    # idempotent: a second run is a no-op
    report2 = compact_stored_index(spark, path)
    assert report2.partitions_compacted == 0, report2


def test_stored_trained_ivfpq_registry_shape_prunes(spark, tmp_path):
    """Round-12 regression gate for the DPP insertion heuristic: the
    REGISTRY rows probe with a modulo-equality filter over a
    localCheckpoint-ed corpus (`fam.filter(vec_id % 100 == 0)`), and
    Spark's isLikelySelective accepts that shape — but it silently
    REJECTS a pre-materialized query frame (no Filter node above the
    scan -> no DPP subquery -> full-index scan, found the hard way in
    scripts/autosize_metrics.py).  This pins the registry shape: a
    refactor that checkpoints/collects the query batch before the
    probe turns this red."""
    import math

    from pyspark.sql import functions as F

    from cherry_pipelines_spark.operators.similarity import (
        build_stored_ivfpq_trained_index,
        query_stored_ivfpq_trained_index,
    )

    dim, n_cells = 8, 4
    rows = [
        (
            i,
            [
                2.0 * math.sin(1 + (i % n_cells) * 0.9 + j * 0.53)
                + 0.05 * math.sin(7 + i * 0.37 + j * 0.11)
                for j in range(dim)
            ],
        )
        for i in range(64)
    ]
    # the registry posture: RDD-backed (checkpointed) corpus, queries
    # as a plan-visible modulo-equality filter over it
    df = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartition(8, "vec_id")
        .localCheckpoint(eager=True)
    )
    path = str(tmp_path / "registry_shape_index")
    books, cents = build_stored_ivfpq_trained_index(
        df, path, m=2, dim=dim, ksub=4, iters=1, n_cells=n_cells,
        coarse_iters=1,
    )
    out = query_stored_ivfpq_trained_index(
        spark, path, books, cents,
        df.filter(F.col("vec_id") % 32 == 0),
        k=3, m=2, dim=dim, nprobe=1,
    )
    assert len(out.collect()) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "registry-shaped probe lost its DPP filter — was the query "
        "batch materialized before the probe?"
    )
    metrics = _scan_metrics(out, ("code#", "cell#"))
    assert metrics, "index scan not found in executed plan"
    m0 = metrics[0]
    assert m0.get("staticFilesNum", 0) > 0, m0
    assert 0 < m0.get("numFiles", 0) < m0["staticFilesNum"], m0
