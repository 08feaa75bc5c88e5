"""Physical-plan shape assertions for the flagship queries: these pin
the properties that matter at 100 TB — predicate pushdown reaching the
scan, column pruning, map-side partial aggregation, broadcast joins
for small dims, and the absence of cartesian products in the
candidate-generation paths."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushdown_pruning_partial_agg(spark):
    from sensor_data_pipeline_spark.plans.relational import q01_pricing_summary

    import contextlib
    import io

    df = q01_pricing_summary(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the shipdate predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 11-column table is read as 7 columns
    m = re.search(r"\(1\) Scan parquet ?\nOutput \[(\d+)\]", plan)
    assert m and m.group(1) == "7", plan[:500]
    # map-side combine before the exchange
    assert "partial_sum" in plan


def test_q03_small_dims_broadcast(spark):
    from sensor_data_pipeline_spark.plans.relational import q03_broadcast_dim_chain

    plan = plan_of(q03_broadcast_dim_chain(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_jaccard_no_cartesian(spark):
    from sensor_data_pipeline_spark.plans.northstar import q41_dedup_jaccard

    plan = plan_of(q41_dedup_jaccard(spark, SF))
    # candidate pairs come from posting-list arrays, never a cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_similarity_broadcasts_query_side(spark):
    from sensor_data_pipeline_spark.plans.northstar import q48_cosine_topk

    plan = plan_of(q48_cosine_topk(spark, SF))
    # the query set rides a broadcast (nested-loop over broadcast is the
    # intended all-pairs shape); the corpus must never shuffle for the
    # join itself
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_join(spark):
    from sensor_data_pipeline_spark.plans.advanced import q55_range_join

    plan = plan_of(q55_range_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_layer_reads_events_with_pruning(spark):
    from pyspark.sql import functions as F

    from sensor_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF).filter(F.col("event_type") == "purchase").select("event_id")
    plan = plan_of(ev)
    # predicate pushdown survives the ts long->timestamp conversion layer
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan


def test_contamination_broadcasts_benchmark_set(spark):
    from sensor_data_pipeline_spark.plans.northstar import q84_contamination

    plan = plan_of(q84_contamination(spark, SF))
    # the benchmark n-gram set rides a broadcast LEFT SEMI — the corpus
    # side must never shuffle for the flagging join
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_token_shards_has_no_global_window(spark):
    from sensor_data_pipeline_spark.plans.northstar import q83_token_shards

    plan = plan_of(q83_token_shards(spark, SF))
    # the running sum is the two-pass scan: a range repartition plus a
    # window partitioned by _pid — never SinglePartition for the data
    assert "rangepartitioning" in plan
    # any Window in the plan must be keyed (by _pid), not global:
    # a global running-total window would show 'Window [...]' fed by an
    # 'Exchange SinglePartition' directly above the scan subtree
    import re

    assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan), plan


def test_merge_upsert_key_unique_join(spark):
    from sensor_data_pipeline_spark.plans.warehouse import q90_merge_upsert

    plan = plan_of(q90_merge_upsert(spark, SF))
    # both sides pre-aggregated, then a single full-outer SMJ on the key
    assert "FullOuter" in plan
    assert "partial_sum" in plan  # change feed combines map-side
    assert "CartesianProduct" not in plan


def test_stats_exact_partial_aggregation(spark):
    from sensor_data_pipeline_spark.plans.advanced import q88_stats_exact

    plan = plan_of(q88_stats_exact(spark, SF))
    # the five moment sums combine map-side (associative decimal sums),
    # so shuffle bytes are O(groups), not O(rows)
    assert "partial_sum" in plan
    # only the two needed columns leave the parquet scan
    import re

    m = re.search(r"Scan parquet[^\n]*\n[^\n]*?\[(l_\w+(?:#\d+L?)?(?:, l_\w+#?\d*L?)*)\]", plan)
    assert "ReadSchema" in plan or m, plan[:400]


def test_q101_outer_join_after_aggregation(spark):
    from sensor_data_pipeline_spark.plans.tpch_shapes import q101_order_count_histogram

    plan = plan_of(q101_order_count_histogram(spark, SF))
    # orders are aggregated to per-customer counts BEFORE the outer
    # join (the join input is customer-sized, not orders-sized)
    if "SortMergeJoin" in plan:
        assert plan.index("HashAggregate") < plan.index("SortMergeJoin")
    else:  # AQE broadcast-converts the tiny test-scale aggregate
        assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q102_qualifying_keys_broadcast(spark):
    from sensor_data_pipeline_spark.plans.tpch_shapes import q102_large_volume_customers

    plan = plan_of(q102_large_volume_customers(spark, SF))
    # the HAVING-filtered key set semi-reduces the fact via broadcast
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q104_two_role_dimension_broadcasts(spark):
    from sensor_data_pipeline_spark.plans.tpch_shapes import q104_nation_volume_shipping

    plan = plan_of(q104_nation_volume_shipping(spark, SF))
    # nation appears in two roles; both ride broadcasts, and the only
    # non-broadcast join is orders<->lineitem
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q105_fact_combines_before_every_exchange(spark):
    from sensor_data_pipeline_spark.plans.tpch_shapes import q105_dominant_part_suppliers

    plan = plan_of(q105_dominant_part_suppliers(spark, SF))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    # the raw fact must be map-side combined BEFORE its shuffle, so
    # every exchange moves aggregate-sized rows: exactly three hash
    # exchanges — agg(pk,sk), window(pk), final agg(suppkey) — and a
    # partial aggregate below the first
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "partial_sum" in plan


def test_q109_distinct_before_join(spark):
    from sensor_data_pipeline_spark.plans.corpus_quality import q109_cohort_retention

    plan = plan_of(q109_cohort_retention(spark, SF))
    # events collapse to distinct (user, week) before any join; the
    # cohort join is keyed on user_id on both sides
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q118_single_fact_exchange_for_double_exists(spark):
    from sensor_data_pipeline_spark.plans.tpch_shapes import q118_sole_late_supplier

    plan = plan_of(q118_sole_late_supplier(spark, SF))
    # the EXISTS/NOT-EXISTS pair must NOT appear as semi/anti joins of
    # the fact — they collapse into one per-order aggregate
    assert "LeftSemi" not in plan
    assert "LeftAnti" not in plan
    assert "CartesianProduct" not in plan


def test_q119_no_self_join_for_scalar_min(spark):
    from sensor_data_pipeline_spark.plans.tpch_shapes import q119_min_cost_supplier

    plan = plan_of(q119_min_cost_supplier(spark, SF))
    # correlated scalar-min is a window over the aggregate, not a
    # second aggregation joined back
    assert "Window" in plan
    assert plan.count("Scan parquet") <= 3  # lineitem + part + supplier, once each
    assert "CartesianProduct" not in plan


def test_q136_no_single_partition_exchange(spark):
    from sensor_data_pipeline_spark.plans.corpus_quality import q136_stable_id_assignment

    plan = plan_of(q136_stable_id_assignment(spark, SF))
    # the ID assignment must be the two-pass range scan, never a
    # global row_number: no SinglePartition exchange feeding a Window
    import re

    assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan), plan
    assert "rangepartitioning" in plan


def test_q123_single_exchange_on_source(spark):
    from sensor_data_pipeline_spark.plans.corpus_quality import q123_source_capped_sample

    plan = plan_of(q123_source_capped_sample(spark, SF))
    # cap-per-source is one shuffle on source + local filter — the
    # row_number window must reuse the same partitioning
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_neardup_banded_no_cartesian(spark):
    """The banded-LSH default must join block pairs on the bucket id —
    an equi-join — never a cartesian/broadcast-nested-loop over rows."""
    from sensor_data_pipeline_spark.operators.similarity import embedding_neardup_pairs
    from sensor_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF)
    plan = plan_of(embedding_neardup_pairs(emb, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_incremental_dedup_anti_join_sheds_text(spark):
    """q152: the corpus side of the anti-join must shuffle only the
    fingerprint — the multi-KB text column may be read (the
    fingerprint derives from it) but must be projected away before the
    exchange."""
    from sensor_data_pipeline_spark.plans.corpus_quality import q152_incremental_dedup

    plan = plan_of(q152_incremental_dedup(spark, SF))
    assert "LeftAnti" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_leakage_split_never_reads_text(spark):
    """q153 needs only (doc_id, source, lang, n_chars): column pruning
    must keep the dominant text column out of the parquet ReadSchema
    entirely — at 100 TB that's the difference between scanning
    metadata and scanning the corpus."""
    from sensor_data_pipeline_spark.plans.corpus_quality import q153_leakage_free_split

    plan = plan_of(q153_leakage_free_split(spark, SF))
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert "text" not in m.group(1), m.group(0)


def test_chunking_and_redaction_are_pure_maps(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import (
        q157_token_chunking,
        q163_pii_redaction,
    )

    # a chunker/redactor touches every byte of the corpus; any exchange
    # before the final presentation sort would shuffle 100 TB of text
    for fn in (q157_token_chunking, q163_pii_redaction):
        plan = plan_of(fn(spark, SF).drop("doc_id"))  # keep the build, not the orderBy
        body = plan.split("Sort", 1)[-1]  # everything below the output sort
        assert "Exchange hashpartitioning" not in body, plan[:800]


def test_sequence_packing_no_single_partition_window(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import q158_sequence_packing

    plan = plan_of(q158_sequence_packing(spark, SF))
    # the scan must be the two-pass range-partitioned prefix sum, never
    # a global Window over one partition
    assert "Exchange SinglePartition" not in plan or "Window" not in plan.split("Exchange SinglePartition")[1][:400]
    assert "rangepartitioning" in plan


def test_mixture_rebalance_broadcasts_rates(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import q165_mixture_rebalance

    # per-source rates are a tiny aggregate joined back by broadcast —
    # the corpus side never shuffles on source for the membership filter
    plan = plan_of(q165_mixture_rebalance(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_cdc_compaction_single_exchange_chain(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import q166_cdc_compaction

    plan = plan_of(q166_cdc_compaction(spark, SF))
    # compaction window and apply-join share the key; no cartesian, and
    # the changelog shuffles on the key exactly once
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(key") <= 1, plan[:800]


def test_cdc_chunking_no_global_window(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import q175_cdc_chunk_dedup

    plan = plan_of(q175_cdc_chunk_dedup(spark, SF))
    # per-doc chunk windows partition by doc_id (hashpartitioning), and
    # no cartesian anywhere; the final single-row agg is the only
    # SinglePartition exchange allowed
    assert "Window" in plan and "CartesianProduct" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_median_twopass_no_data_sized_sort(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import q178_median_twopass

    plan = plan_of(q178_median_twopass(spark, SF))
    # the prefix scan's range exchange runs inside the eager pin
    # (pinned blocks are GC-released and can't silently re-sample), so the
    # downstream plan reads the checkpointed frame — the frozen _pid
    # column in the ExistingRDD scan IS the evidence the partitioning
    # happened exactly once; partial_count proves the value histogram
    # combines map-side before any exchange
    assert "Scan ExistingRDD" in plan and "_pid" in plan
    assert "partial_count" in plan


def test_checksum_partial_aggregates(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import q179_table_checksum

    plan = plan_of(q179_table_checksum(spark, SF))
    # the commuting hash sum must combine map-side: one partial_sum per
    # partition, one tiny final exchange
    assert "partial_sum" in plan


def test_interval_overlap_join_is_equi_join(spark):
    from sensor_data_pipeline_spark.plans.pipeline_v2 import q181_interval_overlap_join

    plan = plan_of(q181_interval_overlap_join(spark, SF))
    # candidates form only inside (part, grid-cell) buckets: a real
    # equi-join, never the oracle's quadratic theta join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_ivf_assignment_is_map_only(spark):
    from sensor_data_pipeline_spark.plans.northstar import q66_ivf_ann

    plan = plan_of(q66_ivf_ann(spark, SF))
    # centroid assignment must not widen the corpus via a join or rank
    # it through a per-id window: exactly the posting-list join's
    # exchanges survive, plus the final per-query top-k window
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one window only (the final top-k), not one per nearest() call
    assert plan.count("RunningWindowFunction") <= 1 or plan.count("Window") <= 2, plan


def test_mg_sketch_shuffles_summaries_not_tokens(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q192_heavy_hitters_mg

    plan = plan_of(q192_heavy_hitters_mg(spark, SF))
    # the sketch path aggregates mapInPandas summaries; the exact path
    # must combine map-side before its exchange
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_replica_diff_exchanges_only_bucket_summaries(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q193_replica_bucket_diff

    plan = plan_of(q193_replica_bucket_diff(spark, SF))
    # both replicas collapse to 256 bucket rows with map-side partial
    # aggregation before any exchange; the diff join is on those
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_incremental_rollup_no_history_rescan_in_merge(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q194_incremental_rollup

    plan = plan_of(q194_incremental_rollup(spark, SF))
    # the date split must push to the parquet scan so the delta branch
    # reads only delta files at scale
    assert "PushedFilters" in plan and "o_orderdate" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_canonical_selection_no_window(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q205_canonical_selection

    plan = plan_of(q205_canonical_selection(spark, SF))
    # the arg-max is a partial-aggregable max(struct), never a
    # per-group ranking window
    assert "Window" not in plan
    assert "partial_max" in plan or "partial_count" in plan


def test_gini_rank_never_single_partition(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q206_skew_gini

    plan = plan_of(q206_skew_gini(spark, SF))
    # ranking rides the range-partitioned scan: any Window in the plan
    # must be partitioned by the physical partition id, not global
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*\]", plan):
        frag = m.group(0)
        assert "_pid" in frag, f"global window found: {frag}"


def test_zorder_layout_map_only_placement(spark):
    from sensor_data_pipeline_spark.plans.layout import q213_zorder_layout

    plan = plan_of(q213_zorder_layout(spark, SF))
    # file placement is fixed z-space tiling: no global sort before the
    # stats aggregation, and the stats combine map-side
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan and "partial_max" in plan
    # the predicate-grid join rides a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bloom_semijoin_probe_is_map_only(spark):
    from sensor_data_pipeline_spark.plans.layout import q214_bloom_semijoin

    plan = plan_of(q214_bloom_semijoin(spark, SF))
    # the 100 TB probe side must not shuffle before the bloom filter:
    # the bitmap arrives by broadcast, membership is array_contains
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # final per-flag aggregation combines map-side
    assert "partial_sum" in plan


def test_phash_neardup_banded_not_allpairs(spark):
    from sensor_data_pipeline_spark.plans.multimodal import q215_media_phash_neardup

    plan = plan_of(q215_media_phash_neardup(spark, SF))
    # candidate generation is an equi-join on (band_idx, band_val)
    # posting lists — never an all-pairs cross product
    assert "CartesianProduct" not in plan
    # signatures come from ONE Arrow pass over the blobs, pinned: the
    # final plan reads the checkpointed band table (the MapInPandas ran
    # inside the pin), so four consumers cost one signature pass
    assert "Scan ExistingRDD" in plan
    assert "MapInPandas" not in plan


def test_pagerank_single_dag_no_cartesian(spark):
    from sensor_data_pipeline_spark.plans.iterative import q216_pagerank_integer

    plan = plan_of(q216_pagerank_integer(spark, SF))
    # 3 unrolled iterations stay one declarative DAG: equi-joins plus
    # map-side-combinable sums, never a cross product or driver loop
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    # top-k is a per-partition heap + driver merge, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_kmeans_centroids_broadcast_per_iteration(spark):
    from sensor_data_pipeline_spark.plans.iterative import q217_kmeans_quantized

    plan = plan_of(q217_kmeans_quantized(spark, SF))
    # each assignment scores against the k-row centroid table by
    # broadcast; the vector corpus never shuffles for scoring
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_retrieve_rerank_stage1_map_only(spark):
    from sensor_data_pipeline_spark.plans.northstar import q220_retrieve_rerank

    plan = plan_of(q220_retrieve_rerank(spark, SF))
    # the query panel is broadcast: stage-1 scoring shuffles nothing
    # but the per-query ranking window; no cross product anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_video_segments_blob_dies_at_signature(spark):
    from sensor_data_pipeline_spark.plans.multimodal import q219_video_scene_segments

    plan = plan_of(q219_video_scene_segments(spark, SF))
    # frame features come from one Arrow pass; windows run on the
    # integer signature table, partitioned by media_id (never global)
    assert "MapInPandas" in plan
    assert "Window" in plan
    import re as _re

    for m in _re.finditer(r"Window \[[^\]]*partitionBy=\[\]", plan):
        raise AssertionError(f"global window: {m.group(0)}")


def test_bm25_takeordered_and_broadcasts(spark):
    from sensor_data_pipeline_spark.plans.curation import q223_bm25_retrieval

    plan = plan_of(q223_bm25_retrieval(spark, SF))
    # top-10 via per-partition heaps, never a global row_number window
    assert "TakeOrderedAndProject" in plan
    # query terms and corpus constants ride broadcasts
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_only_within_clusters(spark):
    from sensor_data_pipeline_spark.pins import observing
    from sensor_data_pipeline_spark.plans.curation import q226_semdedup

    # the multi-consumer frames (qz / centcell / assign / side) are
    # pinned, so the argmin trees execute inside the pin builds: assert
    # the shape properties across the final plan and every pin build
    pin_plans: list[str] = []
    with observing(lambda df, lazy: pin_plans.append(plan_of(df))):
        plan = plan_of(q226_semdedup(spark, SF))
    # the only nested-loop is against broadcast (centroids / k scalar);
    # the pair join itself is hash-keyed on the cluster id
    for p in [plan, *pin_plans]:
        assert "CartesianProduct" not in p
    # argmin is a partial-aggregable min(struct), not a per-vector window
    # (it now lives in the centcell/assign pin builds)
    assert any("partial_min" in p for p in pin_plans)
    # the pair join reads the pinned side table, not a recomputed tree
    assert "Scan ExistingRDD" in plan


def test_span_dedup_no_global_window(spark):
    from sensor_data_pipeline_spark.plans.curation import q236_span_dedup_audit

    plan = plan_of(q236_span_dedup_audit(spark, SF))
    # island windows are keyed by document — no unpartitioned window
    # (every Window node's partition spec must be non-empty)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "doc_id" in line, line
    assert "CartesianProduct" not in plan


def test_equidepth_uses_distributed_scan_not_global_window(spark):
    from sensor_data_pipeline_spark.plans.curation import q235_equidepth_histogram

    plan = plan_of(q235_equidepth_histogram(spark, SF))
    # the rank comes from the two-pass prefix scan: the range exchange
    # runs inside the eager pin (frozen _pid in the
    # ExistingRDD scan), then pid-keyed window + broadcast offsets join
    assert "Scan ExistingRDD" in plan and "_pid" in plan
    assert "BroadcastHashJoin" in plan


def test_cdc_deletes_partial_aggregable(spark):
    from sensor_data_pipeline_spark.plans.curation import q253_cdc_changelog_deletes

    plan = plan_of(q253_cdc_changelog_deletes(spark, SF))
    # last-writer-wins via max(struct): map-side combine, no window
    assert "partial_max" in plan
    assert "window" not in plan.lower()


def test_triangle_wedge_join_degree_oriented(spark):
    from sensor_data_pipeline_spark.plans.curation import q229_triangle_count

    plan = plan_of(q229_triangle_count(spark, SF))
    # wedge join pairs out-edges by source with destinations ordered by
    # the (deg, id) total order — the degree columns must appear in the
    # join condition, proving orientation survived optimization
    assert "b_deg" in plan and "c_deg" in plan, plan[:2000]
    # the wedge join itself must be hash-keyed on the shared source
    # with the degree ordering as a post-condition, never a cross join
    assert re.search(r"Join \[a#\d+L?\], \[a2#\d+L?\], Inner, .*b_deg", plan), plan[:2000]
    # no unoriented all-pairs expansion anywhere in the closure (the
    # single BroadcastNestedLoopJoin is the 1-row n_triangles_total
    # broadcast cross — a k-row panel, not a data-sized side)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_bloom_semijoin_bitmap_broadcast_and_partial_bitor(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q261_bloom_semijoin

    plan = plan_of(q261_bloom_semijoin(spark, SF))
    # the bitmap combines map-side (partial_bit_or) before its one tiny
    # exchange, rides an identity broadcast, and the exact match join is
    # a broadcast hash join — the probe side never shuffles
    assert "partial_bit_or" in plan
    assert "IdentityBroadcastMode" in plan or "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # probe-side filter predicate keeps the custkey test inline (the
    # bloom test is the nested-loop join condition over the 1-row bitmap)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_decayed_engagement_single_shuffle_partial_sum(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q262_decayed_engagement

    plan = plan_of(q262_decayed_engagement(spark, SF))
    # anchor is a broadcast 1-row aggregate; score is a plain
    # partial-aggregable sum — exactly one data-sized shuffle (user_id)
    assert "partial_sum" in plan
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_skyline_window_runs_on_domain_not_suppliers(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q263_supplier_skyline

    plan = plan_of(q263_supplier_skyline(spark, SF))
    # frontier join is broadcast; the single-partition window exchange
    # feeds only the bounded lag-domain table (post-aggregation), never
    # supplier rows — assert the window sits above a HashAggregate
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan
    # lineitem-orders join must be a shuffled hash join with partial agg
    assert "partial_sum" in plan


def test_rendezvous_assignment_is_map_only(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q264_rendezvous_shards

    plan = plan_of(q264_rendezvous_shards(spark, SF))
    # HRW placement is a projection: the ONLY exchange is the 8-key
    # groupBy for the audit counts (plus the final sort)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    assert "Generate" not in plan  # no explode — scores stay in-array


def test_funnel_single_keyed_shuffle(spark):
    from sensor_data_pipeline_spark.plans.behavior import q265_funnel_conversion

    plan = plan_of(q265_funnel_conversion(spark, SF))
    # per-user fold: ONE data-sized exchange (user_id), the stage
    # machine runs inside the collect_list aggregate, no global sort
    # of events
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ObjectHashAggregate" in plan  # collect_list fold
    assert "CartesianProduct" not in plan


def test_peak_concurrency_distributed_sweep(spark):
    from sensor_data_pipeline_spark.plans.behavior import q266_peak_concurrency

    plan = plan_of(q266_peak_concurrency(spark, SF))
    # the sweep's running sum runs on the two-pass prefix scan (frozen
    # _pid inside the eager pin), never a global window
    # over a single partition of raw boundaries
    assert "Scan ExistingRDD" in plan and "_pid" in plan
    # (the boundary groupBy's partial aggregation runs INSIDE the
    # checkpointed prefix-scan job, so it cannot appear in this final
    # plan — the ExistingRDD scan above is the evidence it already ran)
    import re as _re

    assert not _re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_random_projection_is_map_only(spark):
    from sensor_data_pipeline_spark.plans.northstar import q267_random_projection

    plan = plan_of(q267_random_projection(spark, SF))
    # projection is a pure map pass: no hash exchange at all (the only
    # exchange is the final order's range partitioning)
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Generate" in plan  # the 8-lane posexplode


def test_join_ivm_partial_aggs_no_cartesian(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q268_join_view_maintenance

    plan = plan_of(q268_join_view_maintenance(spark, SF))
    # all four delta joins + full recompute combine map-side before
    # their nation-keyed exchanges; no cartesian anywhere
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_bfs_khop_unrolled_single_dag(spark):
    from sensor_data_pipeline_spark.plans.iterative import q269_bfs_khop

    plan = plan_of(q269_bfs_khop(spark, SF))
    # the hop loop materializes per-superstep (a lazy pin: each distance table feeds both the next frontier
    # filter and the min-union, so an unpinned plan doubles per hop) —
    # the final plan therefore reads the checkpointed frontier, and
    # the layer rollup combines map-side
    assert "Scan ExistingRDD" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_hll_rollup_sketches_not_rows(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q270_hll_rollup

    plan = plan_of(q270_hll_rollup(spark, SF))
    # the nation rollup unions CELL SKETCHES (hll_union_agg over the
    # grouped cells), it must not re-aggregate base customer rows
    assert "hll_union_agg" in plan
    assert "partial_hll_sketch_agg" in plan  # cell sketches combine map-side
    assert "CartesianProduct" not in plan


def test_fuzzy_join_variant_equijoin_no_quadratic(spark):
    from sensor_data_pipeline_spark.plans.advanced import q271_fuzzy_join_deletion_blocking

    plan = plan_of(q271_fuzzy_join_deletion_blocking(spark, SF))
    # candidates come from the deletion-variant EQUI-join — never a
    # cross/nested-loop over the name space
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the raw part table collapses to name counts map-side first
    assert "partial_count" in plan


def test_fifo_matching_user_keyed_overlap_join(spark):
    from sensor_data_pipeline_spark.plans.behavior import q272_fifo_matching

    plan = plan_of(q272_fifo_matching(spark, SF))
    # the lot-overlap candidate join hashes on user_id; the only
    # windows are user-keyed cumulative sums — no global sort, no
    # cartesian expansion of the lot space
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re as _re

    assert not _re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_linear_interp_windows_are_user_keyed(spark):
    from sensor_data_pipeline_spark.plans.behavior import q273_linear_interp_resample

    plan = plan_of(q273_linear_interp_resample(spark, SF))
    # grid explode is executor-side; prev/next anchor windows are keyed
    # by user — never a single-partition global window
    assert "Generate" in plan  # the day-sequence explode
    assert "CartesianProduct" not in plan
    import re as _re

    assert not _re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_bitemporal_argmax_no_window_over_data(spark):
    from sensor_data_pipeline_spark.plans.warehouse import q274_bitemporal_snapshot

    plan = plan_of(q274_bitemporal_snapshot(spark, SF))
    # believed-state selection is a partial-aggregable max(struct) —
    # no Window over order rows, anchors ride a 1-row broadcast
    assert "partial_max" in plan or "partial_sum" in plan
    assert "Window" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_sliding_distinct_no_distinct_over_window(spark):
    from sensor_data_pipeline_spark.plans.behavior import q275_sliding_distinct_actors

    plan = plan_of(q275_sliding_distinct_actors(spark, SF))
    # the activity-day dedupe and final per-window count both combine
    # map-side; the interval expansion is an executor-side Generate
    assert "partial_count" in plan
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    # the lag window is keyed by (event_type, user) — never global
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_cusum_windows_are_series_keyed(spark):
    from sensor_data_pipeline_spark.plans.behavior import q276_cusum_shift_detector

    plan = plan_of(q276_cusum_shift_detector(spark, SF))
    # daily rollup combines map-side before the event_type exchange;
    # both CUSUM frame passes run on event_type-keyed windows
    assert "partial_sum" in plan
    assert "Window" in plan
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_kmv_intersection_joins_sketches_not_rows(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q277_kmv_intersection

    plan = plan_of(q277_kmv_intersection(spark, SF))
    # membership tests are semi-joins over 64-row sketch frames, and
    # every scalar audit rides a broadcast — raw keys never co-shuffle
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_sax_motifs_keyed_windows_takeordered(spark):
    from sensor_data_pipeline_spark.plans.behavior import q278_sax_motifs

    plan = plan_of(q278_sax_motifs(spark, SF))
    # top-20 is a partial-heap TakeOrdered, never a global sort of the
    # census; position/word windows are user-keyed
    assert "TakeOrderedAndProject" in plan
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_revenue_bridge_broadcast_dim_single_combiner_shuffle(spark):
    from sensor_data_pipeline_spark.plans.warehouse import q279_revenue_bridge

    plan = plan_of(q279_revenue_bridge(spark, SF))
    # part rides a broadcast; the brand rollup combines map-side; the
    # shipdate year filter reaches the scan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "PushedFilters" in plan or "l_shipdate" in plan
    assert "CartesianProduct" not in plan


def test_decay_attribution_user_keyed_no_cartesian(spark):
    from sensor_data_pipeline_spark.plans.behavior import q280_decay_attribution

    plan = plan_of(q280_decay_attribution(spark, SF))
    # the purchase x click pair join is an equi-join on user_id with
    # the lookback as a residual predicate — never a cartesian; the
    # share denominator is a keyed window, aggregates combine map-side
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_gram_matrix_partials_combine_before_shuffle(spark):
    from sensor_data_pipeline_spark.plans.northstar import q281_gram_matrix

    plan = plan_of(q281_gram_matrix(spark, SF))
    # Python sees Arrow batches once (MapInArrow), each emitting a
    # d x d partial; partials combine map-side before the (i, j)
    # exchange — the shuffle carries summaries, not row-level products
    assert "MapInArrow" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_twap_single_keyed_window_combiner_agg(spark):
    from sensor_data_pipeline_spark.plans.behavior import q282_time_weighted_average

    plan = plan_of(q282_time_weighted_average(spark, SF))
    # one user-keyed lead window; integral sums combine map-side
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_bounded_inventory_jvm_fold_no_python(spark):
    from sensor_data_pipeline_spark.plans.behavior import q283_bounded_inventory

    plan = plan_of(q283_bounded_inventory(spark, SF))
    # the clamp fold runs in Catalyst expressions over the per-user
    # sorted array — no Python evaluation node, one keyed shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_asof_nearest_one_copartition_no_join(spark):
    from sensor_data_pipeline_spark.plans.sensor import q284_asof_nearest

    plan = plan_of(q284_asof_nearest(spark, SF))
    # both directions come from frames over ONE keyed sort of the
    # union — no pairwise join node, no cartesian, one hash exchange
    # for the window (plus the final order's range exchange)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_exact_auc_domain_scan_no_data_sort(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q285_exact_auc

    plan = plan_of(q285_exact_auc(spark, SF))
    # midranks come from the checkpointed distributed prefix scan over
    # the score DOMAIN; raw rows are never globally sorted or ranked
    assert "Scan ExistingRDD" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_calibration_bins_single_combiner_groupby(spark):
    from sensor_data_pipeline_spark.plans.scale_ops import q286_calibration_bins

    plan = plan_of(q286_calibration_bins(spark, SF))
    # the max rides a 1-row broadcast; the 10-bin rollup combines
    # map-side — calibration is one summary shuffle at any scale
    assert "BroadcastExchange" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_benford_nine_group_combine(spark):
    from sensor_data_pipeline_spark.plans.inference import q288_benford_digit_audit

    plan = plan_of(q288_benford_digit_audit(spark, SF))
    # digit census combines map-side into <=9 groups; the total rides a
    # 1-row broadcast — the shuffle payload is 9 rows at any scale
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_welch_single_combiner_shuffle(spark):
    from sensor_data_pipeline_spark.plans.inference import q289_welch_ttest

    plan = plan_of(q289_welch_ttest(spark, SF))
    # conditional moments combine map-side into 3 segments; one scan,
    # one 3-row shuffle, no second pass for the variance
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1


def test_grid_nn_equijoin_no_cartesian(spark):
    from sensor_data_pipeline_spark.plans.inference import q293_grid_nn_join

    plan = plan_of(q293_grid_nn_join(spark, SF))
    # candidates come from the 9-cell neighborhood equi-join on the cell
    # id — never an inequality join or cross product; the nearest pick
    # is a partial-aggregable min-struct, not a per-key sort
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan


def test_association_rules_apriori_broadcast_prune(spark):
    from sensor_data_pipeline_spark.plans.inference import q294_association_rules

    plan = plan_of(q294_association_rules(spark, SF))
    # frequent-item pruning rides broadcasts BEFORE pair generation;
    # pairs come from the basket-keyed self-join, never all item pairs
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # deterministic integer-ppm ranking: top-50 is a TakeOrdered, not a sort
    assert "TakeOrderedAndProject" in plan


def test_weighted_quantiles_no_single_partition_window(spark):
    from sensor_data_pipeline_spark.plans.inference import q292_weighted_quantiles

    plan = plan_of(q292_weighted_quantiles(spark, SF))
    # cumulative weights run on flag-keyed windows over the (flag, cents)
    # domain — the raw rows collapse in a partial-agg shuffle first and
    # nothing ever moves to a single partition
    assert "SinglePartition" not in plan
    assert "partial_sum" in plan


def test_rrf_topk_reductions_no_full_sort(spark):
    from sensor_data_pipeline_spark.plans.inference import q295_rrf_fusion

    plan = plan_of(q295_rrf_fusion(spark, SF))
    # each ranking truncates via TakeOrderedAndProject before fusion;
    # the global Sort only ever sees the <=100-row shortlists
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_mutual_information_single_scan_pinned_joint(spark):
    from sensor_data_pipeline_spark.plans.inference import q296_mutual_information

    plan = plan_of(q296_mutual_information(spark, SF))
    # the joint histogram is pinned: marginals, total and
    # level counts all read the tiny pinned frame — events is scanned ONCE
    # (at checkpoint time), never re-scanned per consumer
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_sorted_neighborhood_keyed_windows(spark):
    from sensor_data_pipeline_spark.plans.northstar import q297_sorted_neighborhood_dedup

    plan = plan_of(q297_sorted_neighborhood_dedup(spark, SF))
    # the neighbor windows partition on the block key — candidate
    # generation is O(w*N) inside blocks, never a global sort or a join
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_holt_single_keyed_shuffle_jvm_fold(spark):
    from sensor_data_pipeline_spark.plans.inference import q298_holt_linear

    plan = plan_of(q298_holt_linear(spark, SF))
    # one scan, one user-keyed exchange; the recurrence folds JVM-side
    # inside aggregate() — no Python workers in the plan
    assert plan.count("Scan parquet") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_acf_keyed_window_then_combine(spark):
    from sensor_data_pipeline_spark.plans.inference import q299_autocorrelation

    plan = plan_of(q299_autocorrelation(spark, SF))
    # lag windows are user-keyed; moments combine map-side onto (user, lag)
    assert "SinglePartition" not in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_apportionment_heavy_reduce_before_tiny_window(spark):
    from sensor_data_pipeline_spark.plans.inference import q300_largest_remainder_alloc

    plan = plan_of(q300_largest_remainder_alloc(spark, SF))
    # the revenue reduce partial-combines before its exchange; the ordered
    # remainder logic only ever sees the 25-row nation frame
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_ols_single_combiner_shuffle(spark):
    from sensor_data_pipeline_spark.plans.inference import q311_grouped_ols_trend

    plan = plan_of(q311_grouped_ols_trend(spark, SF))
    # all six sufficient sums partial-aggregate before the 3-group shuffle
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_chi2_marginals_from_cells_not_base(spark):
    from sensor_data_pipeline_spark.plans.inference import q312_chi2_independence

    plan = plan_of(q312_chi2_independence(spark, SF))
    # one parquet scan only: marginals are window sums over the cell rows
    # (the broadcast-join form re-derived the cell frame per marginal,
    # re-scanning the base table 4x)
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan


def test_markov_counts_partial_agg_after_window(spark):
    from sensor_data_pipeline_spark.plans.behavior import q313_markov_transitions

    plan = plan_of(q313_markov_transitions(spark, SF))
    # the lag window is user-partitioned (never a global single-partition
    # sort): no SinglePartition exchange anywhere in the plan, and the
    # user_id hash exchange that feeds the lag window is present
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_bootstrap_no_row_fanout(spark):
    from sensor_data_pipeline_spark.plans.inference import q316_poisson_bootstrap_ci

    plan = plan_of(q316_poisson_bootstrap_ci(spark, SF))
    # the fused-aggregate form: the only Generate (the stack() unpivot)
    # sits DOWNSTREAM of the aggregation, i.e. on the 1-row result —
    # never a x17 fan-out of the scan; partial aggregation carries all
    # 34 sums map-side (tree prints output-first, so downstream nodes
    # appear EARLIER in the string)
    assert "partial_sum" in plan
    # compare against the scan-side partial_sum aggregate specifically:
    # the downstream collect_list ObjectHashAggregate also contains the
    # substring "HashAggregate" and prints before the Generate
    assert plan.index("Generate") < plan.index("partial_sum"), plan


def test_psi_fences_broadcast(spark):
    from sensor_data_pipeline_spark.plans.inference import q319_psi_drift_audit

    plan = plan_of(q319_psi_drift_audit(spark, SF))
    # the 9 fences and the split point ride broadcasts; binning is not a
    # shuffled range join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_erasure_fused_probe_chain(spark):
    from sensor_data_pipeline_spark.plans.warehouse import q322_erasure_cascade_audit

    plan = plan_of(q322_erasure_cascade_audit(spark, SF))
    # the cohort and the cascaded order-key set are pinned (ExistingRDD
    # scans); each probe is ONE marked left join + fused total/hit
    # aggregate — never an IN re-execution or a second per-table scan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    # table scans: events + customer + orders + lineitem, once each
    assert plan.count("Scan parquet") <= 4, plan


def test_contract_scalar_rules_single_scan(spark):
    from sensor_data_pipeline_spark.plans.warehouse import (
        q323_data_contract_validation,
    )

    plan = plan_of(q323_data_contract_validation(spark, SF))
    # the four range/null rules fuse into ONE conditional-aggregate scan;
    # only the uniqueness census scans again (2 scans total, not 5)
    assert plan.count("Scan parquet") <= 2, plan


def test_feature_hashing_vocab_bounded_shuffles(spark):
    from sensor_data_pipeline_spark.plans.corpus_quality import (
        q321_feature_hashing_census,
    )

    plan = plan_of(q321_feature_hashing_census(spark, SF))
    # distinct tokens reduce map-side first (partial aggregate on the gram
    # key); census joins ride broadcasts
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_rfm_ntile_is_distributed(spark):
    """q318's quintiles must be the prefix-scan arithmetic form, never
    a global Window.orderBy ntile (single-partition sort over
    unbounded user cardinality — round-4 ADVICE)."""
    from sensor_data_pipeline_spark.plans.behavior import q318_rfm_segmentation

    plan = plan_of(q318_rfm_segmentation(spark, SF))
    assert "ntile(" not in plan, plan
    # the pins show up as ExistingRDD scans
    assert "Scan ExistingRDD" in plan, plan


def test_prefix_filter_join_no_cartesian(spark):
    """q326: candidates come from the prefix-token equi-join — never a
    cross join — and the multiply-consumed token frame is pinned."""
    from sensor_data_pipeline_spark.plans.frontier import q326_prefix_filter_simjoin

    plan = plan_of(q326_prefix_filter_simjoin(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # pin of tok


def test_snapshot_dedup_single_fp_join(spark):
    """q330: classification is ONE fingerprint equi-join (left) against
    the deduplicated old index — nothing pairwise."""
    from sensor_data_pipeline_spark.plans.frontier import (
        q330_incremental_snapshot_dedup,
    )

    plan = plan_of(q330_incremental_snapshot_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fellegi_sunter_blocked_join(spark):
    """q327: candidate pairs ride the nation-block equi-join; the score
    is pure codegen CASE algebra (no UDF, no python)."""
    from sensor_data_pipeline_spark.plans.frontier import q327_fellegi_sunter_linkage

    plan = plan_of(q327_fellegi_sunter_linkage(spark, SF))
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_variant_shredding_partial_agg(spark):
    """q324: the VARIANT blob dies at the shredding projection; only
    (type, band, k) integers reach the exchange (partial agg present)."""
    from sensor_data_pipeline_spark.plans.frontier import q324_variant_shredding

    plan = plan_of(q324_variant_shredding(spark, SF))
    assert "partial_sum" in plan or "partial_count" in plan


def test_weighted_jaccard_posting_join(spark):
    """q331: pairs from the fingerprint posting join, never all-pairs;
    the bag frame is pinned (3 consumers)."""
    from sensor_data_pipeline_spark.plans.frontier import q331_weighted_jaccard

    plan = plan_of(q331_weighted_jaccard(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan


def test_weighted_minhash_verifies_candidates_only(spark):
    """q332: the exact-verify join is keyed on (sh, doc_b) AFTER the
    candidate join — no corpus-wide posting-pair generation — and only
    banded signatures feed candidate generation."""
    from sensor_data_pipeline_spark.plans.frontier import q332_weighted_minhash_lsh

    plan = plan_of(q332_weighted_minhash_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_audit_and_digest_regressions(spark):
    """ONE plan build per query feeds two gates:

    1. Absolute anti-patterns (tools/plan_audit.py): cartesian
       products, global windows, row-wise Python UDFs, >RESCAN_MAX
       same-table rescans. Round 5 made this a gate and found 6 real
       rescan shapes; round 6 pinned the whole >3-scan cluster and
       dropped RESCAN_MAX 6 -> 3.
    2. Regressions vs the COMMITTED PLAN_SUMMARY.json digest: any
       query whose plan got worse than the committed baseline (a table
       scanned more often, more python ops, more exchanges, a
       cartesian appearing) fails even if it stays under the absolute
       thresholds — so a deleted pin can't land silently. A lazy
       pin under a limit-style consumer is its own never-allowed
       finding (`lazy_pin_partial_consumer`).
       Seeded-mutant check: removing q167's pairs pin flips its
       embeddings scans 1 -> >1 and this test fails. After an
       intentional plan improvement, regenerate the baseline with
       `python tools/plan_summary.py`.
    """
    from tools.plan_audit import audit_digests, unexplained_findings
    from tools.plan_summary import load_baseline, regressions, summarize

    digests = summarize(SF)
    unexplained = unexplained_findings(audit_digests(digests))
    assert not unexplained, f"unexplained plan anti-patterns: {unexplained}"
    regr = regressions(digests, load_baseline())
    assert not regr, f"plan digests regressed vs committed PLAN_SUMMARY.json: {regr}"


def test_global_window_bound_is_machine_checked(spark):
    """The ALLOW contract for `global_window` entries (round-6 VERDICT
    item 6): the digest itself must verify that every empty-partition
    window's input path is dominated by an aggregate/limit/pin — prose
    comments are not a bound. Seeded mutant: q337's census window
    swapped onto raw documents rows (the distinct() removed) must
    classify `global_windows_unbounded`, which plan_audit emits as a
    reason no ALLOW entry may name."""
    from pyspark.sql.window import Window as W

    from sensor_data_pipeline_spark.plans.frontier import q337_curriculum_interleave
    from sensor_data_pipeline_spark.sources.tables import load_table
    from tools.plan_audit import findings_from_digest
    from tools.plan_summary import digest_jplan

    # the real q337: both global windows run over the distinct-source
    # census (aggregate-dominated) -> flagged but bounded
    real = digest_jplan(
        q337_curriculum_interleave(spark, SF)._jdf.queryExecution().executedPlan()
    )
    assert real["global_window"] is True
    assert real["global_windows_unbounded"] == 0
    assert "global_window" in findings_from_digest(real)

    # the mutant: same window, corpus rows (no distinct) -> unbounded
    d = load_table(spark, "documents", SF)
    mutant_df = d.select("source").withColumn(
        "src_idx", F.row_number().over(W.orderBy("source"))
    )
    mutant = digest_jplan(mutant_df._jdf.queryExecution().executedPlan())
    assert mutant["global_windows_unbounded"] > 0
    assert findings_from_digest(mutant) == ["global_window_unbounded"]


def test_limit_exemption_requires_every_path_bounded(spark):
    """Round-6 ADVICE: a global limit on the SMALL side of a join must
    not exempt a window sorting the corpus-sized other side; the
    ranked-top-k idiom (limit below the window on the row path) still
    auto-exempts."""
    from pyspark.sql.window import Window as W

    from sensor_data_pipeline_spark.sources.tables import load_table
    from tools.plan_summary import digest_jplan

    d = load_table(spark, "documents", SF).select("doc_id", "source", "n_chars")
    # ranked-top-k: limit(5) bounds the only input path -> auto-exempt
    topk = d.orderBy(F.col("n_chars").desc()).limit(5).withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("n_chars").desc()))
    )
    dt = digest_jplan(topk._jdf.queryExecution().executedPlan())
    assert dt["global_window"] is False and dt["bounded_global_windows"] >= 1

    # limit on the small side of a join, corpus on the other: the old
    # any-node-in-subtree rule exempted this; the every-path rule flags
    small = d.limit(3).select(F.col("source").alias("s2"))
    joined = d.join(small, d["source"] == small["s2"]).withColumn(
        "rk", F.row_number().over(W.orderBy("doc_id"))
    )
    dj = digest_jplan(joined._jdf.queryExecution().executedPlan())
    assert dj["global_windows_unbounded"] > 0


# --- round-7 frontier family plan shapes ----------------------------------


def test_repetition_gate_is_pure_map(spark):
    """q340: no join, no Python, one tiny lang-keyed aggregation — the
    n-gram statistics are per-row array expressions."""
    from sensor_data_pipeline_spark.plans.frontier2 import q340_repetition_signals

    plan = plan_of(q340_repetition_signals(spark, SF))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_token_budget_selection_uses_prefix_scan(spark):
    """q341: the cumulative token spend is the distributed two-pass
    prefix scan (frozen _pid in the checkpointed frame), budget rides
    a broadcast, never a single-partition window over the corpus."""
    from sensor_data_pipeline_spark.plans.frontier2 import q341_token_budget_selection

    plan = plan_of(q341_token_budget_selection(spark, SF))
    assert "Scan ExistingRDD" in plan and "_pid" in plan
    assert "BroadcastExchange" in plan
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Window", plan
    ), plan


def test_centroid_migration_broadcast_panel_no_selfjoin(spark):
    """q342: the centroid panel rides a broadcast; the two epochs fold
    in ONE conditional aggregation (no self-join of the scored frame,
    which would re-scan embeddings per side)."""
    from sensor_data_pipeline_spark.plans.frontier2 import q342_centroid_migration

    plan = plan_of(q342_centroid_migration(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # the 16-row panel cross
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # no assign-assign self join
    assert plan.count("Scan parquet") <= 2


def test_split_leakage_one_scan_one_cluster_shuffle(spark):
    """q343: one documents scan (both strategies explode executor-side)
    and the cluster census is the only data-sized shuffle."""
    from sensor_data_pipeline_spark.plans.frontier2 import q343_split_leakage_audit

    plan = plan_of(q343_split_leakage_audit(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Generate" in plan  # the 2-strategy explode
    assert "CartesianProduct" not in plan


def test_decontamination_bench_builds_shuffle_hash_semi(spark):
    """q344 (round-7 ADVICE): the benchmark gram set is pinned and is
    the BUILD side of a shuffle-hash LEFT SEMI — NOT a forced
    broadcast, because the fixture's bench rule scales with the corpus
    and 1% of 100 TB of grams is far past broadcastable (the q335/q332
    driver-OOM class). For a left-semi the build side is the right
    (bench) by construction; the corpus postings stream through the
    probe unsorted. AQE may still upgrade to broadcast at runtime when
    the panel is genuinely small."""
    from sensor_data_pipeline_spark.plans.frontier2 import q344_decontamination_curve

    plan = plan_of(q344_decontamination_curve(spark, SF))
    assert "Scan ExistingRDD" in plan  # pinned bench set
    shj = re.findall(r"ShuffledHashJoin [^\n]*LeftSemi[^\n]*", plan)
    assert shj, plan[:800]
    assert all("BuildRight" in line for line in shj), shj
    # the corpus probe side is never sorted for the flagging join
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_padding_waste_stack_is_downstream(spark):
    """q345: all four sufficient statistics combine map-side in one
    aggregate; the 3-strategy unpivot runs on the 1-row result (tree
    prints output-first, so Generate appears before partial_)."""
    from sensor_data_pipeline_spark.plans.frontier2 import q345_padding_waste_audit

    plan = plan_of(q345_padding_waste_audit(spark, SF))
    assert "partial_sum" in plan
    assert "Generate" in plan
    assert plan.index("Generate") < plan.index("partial_sum"), plan


def test_waterfill_census_pinned_windows_bounded(spark):
    """q346: the census is pinned (three consumers) and its global
    windows are machine-classified as bounded (agg/pin-dominated)."""
    from sensor_data_pipeline_spark.plans.frontier2 import q346_waterfill_source_caps
    from tools.plan_summary import digest_jplan

    df = q346_waterfill_source_caps(spark, SF)
    plan = plan_of(df)
    assert "Scan ExistingRDD" in plan
    d = digest_jplan(df._jdf.queryExecution().executedPlan())
    assert d["global_window"] is True and d["global_windows_unbounded"] == 0


def test_ivf_curve_single_pinned_scan(spark):
    """q347: embeddings is physically read once (the pin); panels ride
    broadcasts; no cartesian; all ranking windows are keyed."""
    from sensor_data_pipeline_spark.plans.frontier2 import q347_ivf_probe_recall_curve
    from tools.plan_summary import digest_jplan

    df = q347_ivf_probe_recall_curve(spark, SF)
    plan = plan_of(df)
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    d = digest_jplan(df._jdf.queryExecution().executedPlan())
    assert d["scans"] == {}, d["scans"]  # everything reads the pin
    assert d["global_windows_unbounded"] == 0


def test_pin_capture_counts_persist_inside_pin(spark):
    """Round-7 review finding: a persist() consumed only INSIDE a
    pin build appears in neither the final plan (whose
    leaf is the pin's ExistingRDD) nor the pin plan's parquet leaves
    (whose leaf is the InMemoryTableScan) — the capture must walk the
    cached relation's build plan too, or a 2x rescan hidden behind
    persist-then-pin commits scans={} and dodges the audit."""
    from pyspark.sql import functions as F2

    from sensor_data_pipeline_spark.pins import pin
    from sensor_data_pipeline_spark.sources.tables import load_table
    from tools.plan_summary import combined_scans, digest_full

    def build():
        cached = load_table(spark, "nation", SF).select("n_nationkey", "n_name").persist()
        pinned = (
            cached.join(
                cached.select(F2.col("n_nationkey").alias("k2")),
                F2.col("n_nationkey") == F2.col("k2"),
            )
            .select("n_nationkey", "n_name")
            .transform(pin)
        )
        return pinned.groupBy("n_name").count()

    d = digest_full(build)
    # the final plan reads only the pin; the persist's parquet scan is
    # visible ONLY through the cache walk inside the pin capture
    assert d["scans"] == {}, d["scans"]
    assert combined_scans(d).get("nation", 0) >= 1, d
    # cleanup: drop the cached relation so later tests see a cold cache
    spark.catalog.clearCache()


def test_q335_builds_candidates_not_corpus(spark):
    """Round-7 review finding, gated: with one side hinted Spark
    builds the hash map on the HINTED relation — q335's shuffle_hash
    hints must ride the candidate-derived LEFT sides, so every
    ShuffledHashJoin in the plan is BuildLeft (candidates build, the
    corpus-sized bigram/doc frames stream) and nothing corpus-sized is
    ever broadcast."""
    from sensor_data_pipeline_spark.plans.frontier import q335_rouge_candidate_f1

    plan = plan_of(q335_rouge_candidate_f1(spark, SF))
    shj = re.findall(r"ShuffledHashJoin [^\n]*", plan)
    assert len(shj) >= 4, plan[:500]
    for line in shj:
        assert "BuildLeft" in line, line


def test_template_mining_one_scan_no_join(spark):
    """q348: the skeleton is a per-row map folding into one map-side-
    combinable aggregation — one documents scan, no join, and the
    grouping key is the bounded prefix skeleton (never full text)."""
    from sensor_data_pipeline_spark.plans.frontier3 import q348_template_skeleton_mining

    plan = plan_of(q348_template_skeleton_mining(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_zipf_octave_window_bounded(spark):
    """q349: the lag window is global but domain-bounded — it runs on
    the PINNED octave frame (<= 64 rows), with an aggregate on every
    input path; documents is physically read exactly once (inside the
    pin build — both the total and the profile read the pin)."""
    from sensor_data_pipeline_spark.plans.frontier3 import q349_zipf_octave_profile
    from tools.plan_summary import combined_scans, digest_full

    d = digest_full(lambda: q349_zipf_octave_profile(spark, SF))
    assert combined_scans(d).get("documents", 0) == 1, combined_scans(d)
    assert d["scans"] == {}, d["scans"]  # final plan reads only the pin
    assert d["global_window"] is True and d["global_windows_unbounded"] == 0


def test_kanonymity_ladder_rides_broadcast(spark):
    """q350: the k ladder joins the PINNED class frame (post-
    aggregation), never row-scale data, and rides a broadcast;
    customer is physically read exactly once (inside the pin)."""
    from sensor_data_pipeline_spark.plans.frontier3 import q350_kanonymity_audit
    from tools.plan_summary import combined_scans, digest_full

    d = digest_full(lambda: q350_kanonymity_audit(spark, SF))
    assert combined_scans(d).get("customer", 0) == 1, combined_scans(d)
    assert d["scans"] == {}, d["scans"]
    assert d["broadcasts"] >= 1
    assert d["cartesian"] is False


def test_kappa_one_scan_one_shuffle(spark):
    """q351: the 2x2 confusion folds map-side in one pass; the kappa
    arithmetic is per-row on the per-language frame — no join."""
    from sensor_data_pipeline_spark.plans.frontier3 import q351_rater_agreement_kappa

    plan = plan_of(q351_rater_agreement_kappa(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial_sum" in plan


def test_gate_cofire_single_agg_row(spark):
    """q353: all 10 sufficient sums combine map-side in ONE aggregate;
    the 6-pair unpivot (Generate) runs on the 1-row result, and there
    is no join and no second scan."""
    from sensor_data_pipeline_spark.plans.frontier3 import q353_gate_cofire_matrix

    plan = plan_of(q353_gate_cofire_matrix(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial_sum" in plan
    assert "Generate" in plan
    assert plan.index("Generate") < plan.index("partial_sum"), plan


def test_oov_stat_pinned_vocab_broadcast(spark):
    """q354: the per-(token, lang, source) count is pinned (the corpus
    tokenizes exactly once — both the vocab top-K and the roll-up read
    the pin) and the 16-row vocabulary rides a broadcast join."""
    from sensor_data_pipeline_spark.plans.frontier3 import q354_oov_rate_audit
    from tools.plan_summary import combined_scans, digest_full

    d = digest_full(lambda: q354_oov_rate_audit(spark, SF))
    total = combined_scans(d)
    assert total.get("documents", 0) == 1, total  # one physical read, inside the pin
    assert d["scans"] == {}, d["scans"]  # final plan reads only the pin
    assert d["broadcasts"] >= 1
    assert d["global_windows_unbounded"] == 0  # top-K window is pin-bounded


def test_split_chisq_predicate_pushdown(spark):
    """q355: one physical documents read (inside the stratum pin —
    the totals and the chi-square both read the pin), no sort-merge
    join, and the totals ride a broadcast."""
    from sensor_data_pipeline_spark.plans.frontier3 import q355_split_balance_chisq
    from tools.plan_summary import combined_scans, digest_full

    d = digest_full(lambda: q355_split_balance_chisq(spark, SF))
    assert combined_scans(d).get("documents", 0) == 1, combined_scans(d)
    assert d["scans"] == {}, d["scans"]
    assert d["broadcasts"] >= 1
    assert d["cartesian"] is False


def test_epoch_budget_panel_pinned(spark):
    """q352: the source panel is pinned (the budget row and the
    per-source arithmetic both read it) — one physical documents
    read, inside the pin."""
    from sensor_data_pipeline_spark.plans.frontier3 import q352_epoch_repeat_budget
    from tools.plan_summary import combined_scans, digest_full

    d = digest_full(lambda: q352_epoch_repeat_budget(spark, SF))
    assert combined_scans(d).get("documents", 0) == 1, combined_scans(d)
    assert d["scans"] == {}, d["scans"]
    assert d["broadcasts"] >= 1


def test_s_curve_pair_space_is_banded(spark):
    """q356: candidate pairs come from LSH banding (the q86 pipeline) —
    no cartesian, no nested-loop join; the signature table is cached
    (three consumers) so documents is physically read once."""
    from sensor_data_pipeline_spark.plans.frontier3 import q356_lsh_s_curve_audit
    from tools.plan_summary import combined_scans, digest_full

    d = digest_full(lambda: q356_lsh_s_curve_audit(spark, SF))
    assert d["cartesian"] is False
    assert combined_scans(d).get("documents", 0) <= 1, combined_scans(d)


def test_tv_divergence_tokenizes_once(spark):
    """q357: the per-(source, token) count is pinned (three consumers)
    — the corpus tokenizes exactly once; the census join runs on the
    token key, never a cartesian."""
    from sensor_data_pipeline_spark.plans.frontier3 import q357_source_tv_divergence
    from tools.plan_summary import combined_scans, digest_full

    d = digest_full(lambda: q357_source_tv_divergence(spark, SF))
    assert combined_scans(d).get("documents", 0) == 1, combined_scans(d)
    assert d["scans"] == {}, d["scans"]
    assert d["cartesian"] is False


def test_auc_window_is_keyed(spark):
    """q358: the cumulative rank walk is partitioned by lang — never a
    global window; one scan, no join."""
    from sensor_data_pipeline_spark.plans.frontier3 import q358_quality_auc_ranksum
    from tools.plan_summary import digest_jplan

    df = q358_quality_auc_ranksum(spark, SF)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    d = digest_jplan(df._jdf.queryExecution().executedPlan())
    assert d["global_window"] is False


def test_rater_triangulation_one_pass(spark):
    """q359: one scan, one conditional aggregation, no join/window."""
    from sensor_data_pipeline_spark.plans.frontier3 import q359_rater_error_triangulation

    plan = plan_of(q359_rater_error_triangulation(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_yield_forecast_keyed_window_one_scan(spark):
    """q360: rank-within-fingerprint is a keyed window (bounded by
    cluster sizes); all policy points from one aggregate row."""
    from sensor_data_pipeline_spark.plans.frontier3 import q360_dedup_yield_forecast
    from tools.plan_summary import digest_jplan

    df = q360_dedup_yield_forecast(spark, SF)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    d = digest_jplan(df._jdf.queryExecution().executedPlan())
    assert d["global_window"] is False
    assert "Generate" in plan  # 3-policy unpivot off the single agg row


def test_context_overflow_single_agg(spark):
    """q361: nine sufficient sums combine map-side in one aggregate;
    the width unpivot runs on the 1-row result."""
    from sensor_data_pipeline_spark.plans.frontier3 import q361_context_overflow_audit

    plan = plan_of(q361_context_overflow_audit(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "partial_sum" in plan
    assert plan.index("Generate") < plan.index("partial_sum"), plan


def test_datacard_one_pass(spark):
    """q362: the whole data card is one conditional aggregation on the
    source key — no join, no window, one scan."""
    from sensor_data_pipeline_spark.plans.frontier3 import q362_datacard_census

    plan = plan_of(q362_datacard_census(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_sample_sizing_one_pass(spark):
    """q363: sizing arithmetic is per-row on the bounded source panel;
    one scan, no join."""
    from sensor_data_pipeline_spark.plans.frontier3 import q363_eval_sample_sizing

    plan = plan_of(q363_eval_sample_sizing(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
