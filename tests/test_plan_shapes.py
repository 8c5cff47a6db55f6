"""Physical-plan audits: correctness tests prove WHAT the queries return;
these prove the plans have the shapes that survive a 100x scale-up —
filters reaching the parquet scan, column-pruned reads, broadcast joins
for small sides, TakeOrderedAndProject for top-k (no global sort), and no
more shuffles than the algorithm requires."""

from __future__ import annotations

import contextlib
import io

import pytest

from project_crypto_data_engineering_gcp_spark.plans import all_queries

from .conftest import SF_ORACLE

QUERIES = all_queries()


def plan_of(df, mode: str = "simple") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q1_filter_pushdown_and_column_pruning(spark):
    df = QUERIES["q1_pricing_summary"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: the unused l_suppkey/l_partkey columns never leave parquet
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_suppkey" not in read_schema and "l_partkey" not in read_schema
    assert "HashAggregate" in plan  # partial/final agg, not a sort-based path


def test_o3_topk_uses_take_ordered(spark):
    plan = plan_of(QUERIES["o3_top_bottom_orders"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_j1_dashboard_broadcasts_dims(spark):
    plan = plan_of(QUERIES["j1_customer_dashboard"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    # the scalar subquery compiles to a subquery/aggregate, not a collect
    assert "Subquery" in plan or "ReusedSubquery" in plan


def test_w1_latest_single_shuffle(spark):
    plan = plan_of(QUERIES["w1_latest_event_per_user"].fn(spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1  # exactly the window shuffle
    assert "Window" in plan


def test_a4_share_of_total_no_driver_roundtrip(spark):
    df = QUERIES["a4_customer_market_dominance"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    # the global total arrives via broadcast join of a 1-row aggregate,
    # not via collect()+lit() like the reference (3:204-209)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_asof_single_key_shuffle(spark):
    plan = plan_of(QUERIES["asof_purchase_last_view"].fn(spark, SF_ORACLE))
    # union-tag + window composition: shuffles on the join key only
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dedup_exact_partial_aggregation(spark):
    plan = plan_of(QUERIES["dedup_exact"].fn(spark, SF_ORACLE))
    # map-side combine: two HashAggregates around one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_silver_scan_prunes_partitions(spark, tmp_path):
    """A dt filter on Silver reaches its one parquet scan as a pushed
    filter, where row-group statistics skip the other dates (Silver is
    unpartitioned, as the reference writes it)."""
    from project_crypto_data_engineering_gcp_spark.plans.runner import (
        read_silver,
        run_silver,
    )
    from .fixtures_crypto import write_fixture_landing

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    for n_snapshots in (2, 3):  # two commits, two staging dirs
        write_fixture_landing(landing, n_snapshots=n_snapshots)
        run_silver(spark, f"{landing}/coincap_data_*.json", out)
    df = read_silver(spark, out).filter("dt = '2025-05-24'")
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    assert "EqualTo(dt,2025-05-24)" in plan.split("PushedFilters", 1)[1][:200]


def test_q3_broadcasts_filtered_dim(spark):
    plan = plan_of(QUERIES["q3_shipping_priority"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # the mktsegment filter reaches the customer parquet scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_star_join_broadcasts_all_dims(spark):
    plan = plan_of(QUERIES["q5_nation_volume"].fn(spark, SF_ORACLE))
    # region, nation, and the customer-side dim bundle all broadcast:
    # lineitem/orders never shuffle for the dim joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(r_name,ASIA)" in plan


def test_w5_range_frame_single_shuffle(spark):
    plan = plan_of(QUERIES["w5_sliding_hour_total"].fn(spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_q4_exists_compiles_to_semi_join(spark):
    plan = plan_of(QUERIES["q4_priority_with_returns"].fn(spark, SF_ORACLE))
    # EXISTS shape: LeftSemi (never widens orders), returnflag filter at scan
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q10_topk_pruned_star(spark):
    plan = plan_of(QUERIES["q10_returned_revenue_topk"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # lineitem scan pruned to the 4 needed columns
    li_schema = [
        l for l in plan.splitlines() if "ReadSchema" in l and "l_orderkey" in l
    ][0]
    assert "l_shipdate" not in li_schema and "l_partkey" not in li_schema


def test_q19_disjuncts_push_to_both_scans(spark):
    plan = plan_of(QUERIES["q19_disjunctive_predicates"].fn(spark, SF_ORACLE), "formatted")
    # Catalyst splits the OR bands per side: the quantity-band union reaches
    # the lineitem scan, the brand/size union reaches the part scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    li_pushed = [l for l in pushed if "l_quantity" in l]
    part_pushed = [l for l in pushed if "p_brand" in l]
    assert li_pushed and "Or(" in li_pushed[0]
    assert part_pushed and "Or(" in part_pushed[0]


def test_q6_all_predicates_reach_scan(spark):
    plan = plan_of(QUERIES["q6_forecast_revenue"].fn(spark, SF_ORACLE), "formatted")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    # date range, discount band, and quantity cap all push to parquet
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert plan.count("Exchange hashpartitioning") == 0  # scan -> 2-phase agg only


def test_q9_broadcasts_all_dims(spark):
    plan = plan_of(QUERIES["q9_product_profit"].fn(spark, SF_ORACLE))
    # part/supplier/nation all broadcast; lineitem-orders is the only big join
    assert plan.count("BroadcastHashJoin") >= 3
    # the name filter reaches the part scan
    assert "Contains(p_name,red)" in plan or "p_name" in plan


def test_q21_semi_and_anti_self_joins(spark):
    plan = plan_of(QUERIES["q21_sole_returning_supplier"].fn(spark, SF_ORACLE))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_curation_windows_single_shuffle(spark):
    # packing and quality cut each need exactly the one lang-window shuffle
    for name in ("curate_pack_sequences", "curate_quality_cut"):
        plan = plan_of(QUERIES[name].fn(spark, SF_ORACLE))
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "Window" in plan, name


def test_decontaminate_broadcasts_test_slice(spark):
    plan = plan_of(QUERIES["curate_decontaminate"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan


def test_merge_upsert_single_join(spark):
    from project_crypto_data_engineering_gcp_spark.operators.merge import merge_upsert

    t = spark.range(5).selectExpr("id", "id * 2 AS v")
    s = spark.range(3, 8).selectExpr("id", "id * 3 AS v")
    plan = plan_of(merge_upsert(t, s, ["id"], ["v"]))
    assert "FullOuter" in plan
    assert plan.count("Join") == 1  # one join, no re-scan per action


def test_tfidf_broadcasts_df_and_scalar(spark):
    plan = plan_of(QUERIES["text_tfidf_topk"].fn(spark, SF_ORACLE))
    # term-df map and corpus-size scalar both broadcast; only tf shuffles
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_forward_fill_single_shuffle(spark):
    plan = plan_of(QUERIES["w6_forward_fill"].fn(spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_q22_anti_join_and_broadcast_scalar(spark):
    plan = plan_of(QUERIES["q22_dormant_rich_customers"].fn(spark, SF_ORACLE))
    assert "LeftAnti" in plan
    # the global-average threshold arrives as a broadcast 1-row frame,
    # never via a driver collect
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # orders scan pruned to the join key only
    orders_schema = [
        l for l in plan.splitlines() if "ReadSchema" in l and "o_custkey" in l
    ][0]
    assert "o_totalprice" not in orders_schema


def test_ann_lsh_is_bucket_equijoin(spark):
    """LSH ANN must prune IN THE JOIN: candidates from a broadcast hash
    equi-join on the bucket id, no cartesian/nested-loop all-pairs stage,
    and no whole-index collect (the plan is lazy — building it runs no
    job)."""
    plan = plan_of(QUERIES["sim_ann_lsh_topk"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_ivf_is_cell_equijoin(spark):
    """IVF ANN: probe->cell broadcast hash equi-join; compute scales with
    n_probe/n_cells, never a full N^2 stage."""
    plan = plan_of(QUERIES["sim_ann_ivf_topk"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_pairs_grid_no_collect_and_bounded_shuffle(spark):
    """The exact all-pairs grid: plan builds lazily (no driver collect of
    the index) and the shuffle is the block-grid groupBy, not an N^2
    pair materialization."""
    plan = plan_of(QUERIES["sim_cosine_pairs"].fn(spark, SF_ORACLE))
    assert "FlatMapGroupsInPandas" in plan  # tiled applyInPandas compute
    assert "CartesianProduct" not in plan


def test_blockwise_closure_guard():
    """The closure fast path must refuse an index larger than
    MAX_CLOSURE_INDEX_ROWS instead of collecting it to the driver."""
    from project_crypto_data_engineering_gcp_spark.operators import similarity as s

    class FakeRows(list):
        pass

    class FakeDF:
        def select(self, *cols):
            return self

        def collect(self):
            return [None] * (s.MAX_CLOSURE_INDEX_ROWS + 1)

    with pytest.raises(ValueError, match="MAX_CLOSURE_INDEX_ROWS"):
        s._collect_index(FakeDF(), ["vec_id"])


def test_crypto_dashboard_broadcasts_gold_tables(spark):
    """The reference-parity dashboard joins the four gold tables: all
    equi-joins broadcast (gold tables are output-sized), the global
    market total arrives as a broadcast 1-row aggregate, and nothing
    degenerates into a cartesian product or sort-merge join."""
    plan = plan_of(QUERIES["crypto_dashboard"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_crypto_scd2_single_shuffle(spark):
    """SCD2 history (lead-interval form): exactly one hash shuffle (the
    per-asset window), no join at all."""
    plan = plan_of(QUERIES["crypto_scd2_history"].fn(spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_no_cartesian_product_anywhere(spark):
    """Corpus-wide invariant: no query's physical plan may contain a
    CartesianProduct — every pairwise/join stage must be gated on an
    equality key (or an intentional broadcast nested loop against a
    bounded side). Streaming queries are excluded (building them runs
    the stream end-to-end, and their join shapes are pinned by their own
    tests)."""
    from .conftest import SF_SMOKE

    offenders = {}
    for name, q in QUERIES.items():
        if name.startswith("streaming_"):
            continue
        plan = plan_of(q.fn(spark, SF_SMOKE))
        n = plan.count("CartesianProduct")
        if n:
            offenders[name] = n
    assert not offenders, f"cartesian products in: {offenders}"


def test_spread_leaves_partitioned_input_alone(spark):
    """_spread must repartition ONLY under-partitioned scans: a frame
    already at/above the target keeps its partitioning (a production
    multi-file scan is never re-shuffled), a single-partition frame gets
    spread."""
    from project_crypto_data_engineering_gcp_spark.operators.similarity import _spread

    wide = spark.range(1000).repartition(20)
    assert _spread(wide, cap=16) is wide
    narrow = spark.range(1000).coalesce(1)
    assert _spread(narrow, cap=16).rdd.getNumPartitions() >= min(
        16, spark.sparkContext.defaultParallelism
    )


def test_kmeans_broadcast_assignment_and_rank_pruning(spark):
    """k-means assignment must be a broadcast nested-loop against the
    k-row centroid frame (vectors never shuffle for assignment) with the
    argmax rank pre-pruned per partition (WindowGroupLimit), and the
    centroid update a partial-aggregated groupBy."""
    plan = plan_of(QUERIES["cluster_kmeans_embeddings"].fn(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_pq_broadcast_codebook_and_lut(spark):
    """PQ encode and ADC scoring must both be broadcast hash joins (the
    codebook and the per-query LUT are the bounded sides); top-k comes
    from a rank window with per-partition pruning."""
    plan = plan_of(QUERIES["sim_pq_topk"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "WindowGroupLimit" in plan


def test_semantic_blocked_pairs_are_hash_gated(spark):
    """The blocked-dedup pair stage must join on the cluster key via a
    hash-based equi-join — never an unkeyed pairwise product."""
    from project_crypto_data_engineering_gcp_spark.plans.queries_similarity import (
        dedup_semantic_blocked,
    )

    plan = plan_of(dedup_semantic_blocked(spark, SF_ORACLE))
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_funnel_stage_joins_on_user(spark):
    """Funnel stages must chain hash equi-joins on user_id; the three
    scalar stage counts are assembled via broadcast (1-row frames), not
    a driver collect."""
    plan = plan_of(QUERIES["events_funnel_conversion"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "collect" not in plan.lower()


def test_cohort_normalizer_broadcast(spark):
    """The cohort week-0 normalizer (one row per cohort) must arrive via
    broadcast join, not a second full shuffle of the matrix."""
    plan = plan_of(QUERIES["events_retention_cohorts"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan


def test_containment_broadcast_sizes(spark):
    """Containment scoring joins the per-doc size table via broadcast on
    both sides, like the jaccard skeleton it shares."""
    plan = plan_of(QUERIES["dedup_containment"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2


def test_semantic_capped_window_on_join_key(spark):
    """The per-cluster population cap must run as a row_number window
    PARTITIONED ON cid — the same key the pair self-join shuffles on —
    so the cap adds filtering, not a new shuffle shape; pairs stay
    hash-equi-join-gated."""
    plan = plan_of(QUERIES["dedup_semantic_blocked_capped"].fn(spark, SF_ORACLE))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_hash_embedding_single_doc_shuffle(spark):
    """The feature-hashing embedding is one map-side-combinable agg on
    doc_id; the L2 window runs on the SAME doc_id partitioning, so the
    whole query needs exactly one hash shuffle (plus zero cartesians) —
    the stack unpivot and the 16 conditional sums are scan-stage work."""
    plan = plan_of(QUERIES["text_hash_embedding"].fn(spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    assert "Generate" in plan  # token explode + stack stay in-plan (no UDF)


def test_boilerplate_hot_grams_broadcast(spark):
    """text_boilerplate_ngrams: the hot-gram set (the only globally
    aggregated frame) must ship back as a broadcast — covered positions
    are computed without shuffling the corpus — and the pairwise stage
    is equi-join-gated (no cartesian)."""
    plan = plan_of(QUERIES["text_boilerplate_ngrams"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # excision is an array-lambda filter in the projection, not a
    # per-token anti-join (the oracle's readable form)
    assert "filter(t" in plan or "lambdafunction" in plan


def test_pq_refined_rerank_is_equijoin_fetch(spark):
    """sim_pq_refined: stage 2 reads true vectors ONLY via equi-joins
    (qid broadcast, vec_id fetch) — no all-pairs stage anywhere, and the
    ADC front half keeps its broadcast codebook/LUT shape."""
    plan = plan_of(QUERIES["sim_pq_refined"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_scan_is_partition_local_matmul(spark):
    """sim_sq8_topk: the linear code sweep is a partition-local Arrow
    matmul over the pooled code table with the bounded query codes in
    the task closure — no pairwise join stage at all; only k x
    n_partitions scalar rows reach the ranking window."""
    plan = plan_of(QUERIES["sim_sq8_topk"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "InMemoryTableScan" in plan  # serves from the pooled codes
    assert "Window" in plan


def test_triangles_all_joins_equality_gated(spark):
    """Wedge enumeration and closure must be hash joins on equality keys
    (degree orientation makes the fan-out bounded; an OR-predicate
    closure would degrade to a nested loop)."""
    plan = plan_of(QUERIES["graph_triangles"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan  # support filter + per-node counts


def test_skyline_window_rides_price_aggregate(spark):
    """The skyline window must consume the distinct-price aggregate (a
    dimension-sized frame) and the frontier join back to parts must
    broadcast it — the O(n log n) sort-scan plan, not the quadratic
    NOT EXISTS the oracle states."""
    plan = plan_of(QUERIES["skyline_pareto_parts"].fn(spark, SF_ORACLE))
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_merge_is_planside_split(spark):
    """Base/delta split must come from a broadcast 1-row aggregate (no
    driver collect) and the merge from a union of two partial
    aggregates."""
    plan = plan_of(QUERIES["a12_incremental_merge"].fn(spark, SF_ORACLE))
    assert "Union" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_rolling_anomaly_single_shuffle(spark):
    """The bounded-frame window is the whole algorithm: exactly one hash
    shuffle (by user), one Window node, filter on top."""
    plan = plan_of(QUERIES["events_rolling_anomaly"].fn(spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_gapfill_spine_is_distributed_explode(spark):
    """The hourly spine must be generated executor-side (Generate/explode
    of sequence), never a driver loop; the forward-fill window and the
    spine join share the user partitioning."""
    plan = plan_of(QUERIES["events_hourly_gapfill"].fn(spark, SF_ORACLE))
    assert "Generate explode" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_names_blocked_equijoin(spark):
    """Pairwise levenshtein must be gated on the blocking-key equality
    join — the plan's join is hash-based, the distance filter sits above
    it."""
    plan = plan_of(QUERIES["dedup_fuzzy_names"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_bloom_prune_broadcasts_bitmap_before_semi_join(spark):
    """The bloom pre-filter must be a BroadcastHashJoin on the bucket
    (fixed 128 KiB side) sitting under the exact semi-join — survivors
    only reach the shuffle."""
    plan = plan_of(QUERIES["bloom_semi_revenue"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_mmr_rounds_run_on_checkpointed_bounded_frames(spark):
    """The greedy MMR loop must consume the checkpointed shortlist/pair
    frames (ExistingRDD scans) — lineage is cut per round, so the final
    plan is a shallow union of bounded picks, not an exponentially
    nested join tree; and the pair stage is the intentional broadcast
    nested loop over the 32-row shortlist, never a CartesianProduct."""
    df = QUERIES["sim_mmr_rerank"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert df.count() == 8


def test_minhash_incremental_reads_persisted_index(spark):
    """The incremental batch's candidate join must read the OLD corpus
    through the persisted band index (parquet scan of band columns), and
    every pairwise stage stays equality-gated."""
    df = QUERIES["dedup_minhash_incremental"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "spark_graft_lshidx" in plan  # parquet index scan, not re-shingling
    assert "CartesianProduct" not in plan
    assert "band_key" in plan


def test_a14_ratios_ride_dimension_aggregate(spark):
    """The percent-of-parent windows must consume the (region, nation)
    aggregate (25 rows), with every dim join a broadcast."""
    plan = plan_of(QUERIES["a14_share_of_parent"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Window" in plan


def test_knn_classify_broadcasts_labels(spark):
    """The vote join ships only the (vec_id, label) dim — broadcast —
    and the argmax is a per-query ranking window."""
    plan = plan_of(QUERIES["sim_knn_classify"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_link_prediction_wedge_gated(spark):
    """Candidates must come from the shared-neighbor equi-join (never
    all non-edges) and the existing-edge removal must be an anti-join."""
    plan = plan_of(QUERIES["graph_link_prediction"].fn(spark, SF_ORACLE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pack_offsets_single_window_pass(spark):
    """The byte-offset manifest is exactly one hash-partitioned window
    (the shard partitioning the writer itself uses)."""
    plan = plan_of(QUERIES["curate_pack_offsets"].fn(spark, SF_ORACLE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_corpus_report_is_broadcast_assembly(spark):
    """The health report combines 1-row aggregates by broadcast — no
    wide join anywhere."""
    plan = plan_of(QUERIES["curate_corpus_report"].fn(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_cusum_window_rides_daily_aggregate(spark):
    """The CUSUM running sum must consume the per-day aggregate (calendar
    -sized) with the (n, total) scalars broadcast back."""
    plan = plan_of(QUERIES["a15_cusum_drift"].fn(spark, SF_ORACLE))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_rfm_windows_over_customer_aggregate(spark):
    """All three NTILEs must ride the per-customer aggregate — the fact
    table is collapsed before any window runs."""
    plan = plan_of(QUERIES["a16_rfm_segments"].fn(spark, SF_ORACLE))
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 2  # pre-agg + final rollup


def test_category_drift_broadcasts_week_totals(spark):
    """Week totals are dimension-sized — broadcast to the share join;
    the lag rides a per-type window; top-k is a TakeOrdered cut."""
    plan = plan_of(QUERIES["events_category_drift"].fn(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_bpe_pairs_single_aggregate(spark):
    """Pair extraction must stay an in-place array lambda (one Generate
    per explode level) feeding a map-combinable aggregate and a
    TakeOrdered cut — no join, no extra shuffle."""
    plan = plan_of(QUERIES["text_bpe_pair_counts"].fn(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_a16_no_global_window_funnel(spark):
    """a16's quintiles must never run an UNPARTITIONED window over the
    customer dimension (the 100 TB chokepoint the global_rank rewrite
    removed): every windowspecdefinition in the plan must carry a
    partition column before its first sort-order argument."""
    import re

    df = QUERIES["a16_rfm_segments"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert specs, "expected window nodes in the a16 plan"
    unpartitioned = [
        s for s in specs
        if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
    ]
    assert not unpartitioned, unpartitioned


def test_binary_hamming_codegen_scan(spark):
    """The binary ANN scan must stay JVM-side (xor+popcount inside the
    scan stage, no Python), broadcast the query codes, and prune the
    rank window partition-locally (WindowGroupLimit) so the global
    shuffle carries k x n_partitions rows, not N x n_queries."""
    plan = plan_of(QUERIES["sim_binary_hamming_topk"].fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "mapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_o6_global_rank_no_window_funnel(spark):
    """Full-table rank must never run an unpartitioned window (the
    single-task funnel global_rank exists to remove)."""
    import re

    df = QUERIES["o6_orders_global_rank"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert specs
    assert not [
        s for s in specs
        if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
    ]


def test_a18_no_low_cardinality_window_funnel(spark):
    """a18's per-priority ranks ride grouped_global_rank: every window
    in the plan must carry the range-partition id, never PARTITION BY
    the 5-value priority column alone."""
    import re

    df = QUERIES["a18_winsorized_stats"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert specs
    for s in specs:
        assert "__gr_pid" in s, s


def test_a19_no_low_cardinality_window_funnel(spark):
    """a19's per-nation ranks ride grouped_global_rank: every window in
    the plan must carry the range-partition id, never PARTITION BY the
    25-value nation key alone."""
    import re

    df = QUERIES["a19_gini_by_nation"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert specs
    for s in specs:
        assert "__gr_pid" in s, s


def test_countmin_probe_broadcast(spark):
    """The CM probe must join the bounded sketch broadcast (never
    shuffle the token stream against it) and the build must stay
    window-free (pure hash aggregate)."""
    df = QUERIES["approx_countmin_tokens"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_kcore_round_shape(spark):
    """One peel round is aggregates + broadcast equi-joins only — built
    inline (the corpus query localCheckpoints each round, truncating
    the lineage the assertions need to see): no window, no cartesian,
    survivor joins broadcast."""
    from pyspark.sql import functions as F

    from project_crypto_data_engineering_gcp_spark.plans.queries_graph import (
        KCORE_K,
        _basket_edges,
    )

    edges = _basket_edges(spark, SF_ORACLE).select("u", "v")
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    keep = deg.filter(F.col("d") >= KCORE_K).select("u")
    nxt = (
        sym.join(F.broadcast(keep), "u")
        .join(F.broadcast(keep.withColumnRenamed("u", "v")), "v")
        .select("u", "v")
    )
    plan = plan_of(nxt)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_a20_and_stratified_no_global_window_funnel(spark):
    """The two r6 grouped_global_rank consumers must never compile an
    UNPARTITIONED window (the PERCENTILE_DISC / per-stratum-rank funnel
    their designs exist to avoid): every windowspecdefinition carries a
    partition column before its first sort-order argument."""
    import re

    for name in ("a20_exact_percentiles", "curate_stratified_sample"):
        plan = plan_of(QUERIES[name].fn(spark, SF_ORACLE), "extended")
        specs = re.findall(
            r"windowspecdefinition\([^)]*?specifiedwindowframe", plan
        )
        assert specs, f"expected window nodes in the {name} plan"
        unpartitioned = [
            s
            for s in specs
            if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
        ]
        assert not unpartitioned, (name, unpartitioned)


def test_frame_fingerprint_match_equi_join(spark):
    """The frame-match self-join must be an equality join on the
    (frame_idx, fingerprint) inverted index — hash-partitioned or
    sort-merge, never a nested loop — with the pair count a partial
    aggregate."""
    plan = plan_of(QUERIES["mm_frame_fingerprint_match"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or (
        "ShuffledHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_mm_simhash_band_join_is_capped_equi_join(spark):
    """The r6 block-banded simhash candidate join: equality on
    (combo_id, packed block triple), hot-band cap window present, no
    nested loop anywhere."""
    plan = plan_of(QUERIES["mm_simhash_payload"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan  # the hot-band bucket-size cap


def test_weighted_sample_window_group_limit(spark):
    """curate_weighted_sample's per-lang top-k must ride WindowGroupLimit
    (map-side per-task top-k heaps before the shuffle) — a plain
    partitioned window with a post-filter would funnel each language's
    full corpus through one task."""
    plan = plan_of(QUERIES["curate_weighted_sample"].fn(spark, SF_ORACLE))
    assert "WindowGroupLimit" in plan


def test_sales_cube_expand_once_broadcast_nation(spark):
    """a22_sales_cube: the CUBE compiles to exactly ONE Expand (4 grouping
    sets materialized map-side, not 4 passes over the fact table), the
    25-row nation dim is broadcast, and the aggregate is hash-based with
    partial aggregation (no sort-based fallback)."""
    plan = plan_of(QUERIES["a22_sales_cube"].fn(spark, SF_ORACLE))
    assert plan.count("Expand") >= 1
    # formatted mode counts physical operators exactly once
    formatted = plan_of(
        QUERIES["a22_sales_cube"].fn(spark, SF_ORACLE), "formatted"
    )
    assert formatted.count("Expand (") == 1
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan


def test_table_diff_is_single_equi_join(spark):
    """dq_table_diff: the A-vs-B comparison is ONE full-outer sort-merge
    equi-join on the key — no window, no nested-loop, no cartesian."""
    plan = plan_of(QUERIES["dq_table_diff"].fn(spark, SF_ORACLE))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_table_checksum_never_joins_the_snapshots(spark):
    """dq_table_checksum: each snapshot reduces independently to 16 rows
    (map-combinable partial aggs); the only join in the plan is
    summary-vs-summary ON bucket. The snapshots themselves are never
    joined — that is the whole point of the checksum gate."""
    plan = plan_of(QUERIES["dq_table_checksum"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan  # partial/final checksum reduction
    join_lines = [
        l for l in plan.splitlines() if "Join" in l and "FullOuter" in l
    ]
    assert len(join_lines) == 1, join_lines
    assert "bucket" in join_lines[0]  # joined on bucket, not on the key


def test_bpe_encode_report_is_equi_join_no_cartesian(spark):
    """text_bpe_encode_stats: the report stage is two map-combinable
    per-doc counts + ONE equi-join on doc_id over the (checkpointed)
    token frames; no window, no cartesian in the final plan."""
    plan = plan_of(QUERIES["text_bpe_encode_stats"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "doc_id" in plan and "HashAggregate" in plan


def test_bootstrap_ci_shuffle_is_replica_bounded(spark):
    """a23_bootstrap_ci (r13 wide form): NO row fan-out — replica
    membership is computed as conditional aggregates inside ONE
    map-combinable groupBy (partial HashAggregate before the exchange;
    shuffle = n_groups rows x 96 columns, 2 x _BOOT_REPLICAS), the
    tiny wide frame is unpivoted with stack(), and the order-statistic
    window runs over replica-count-row partitions. No explode, no
    cartesian anywhere."""
    plan = plan_of(QUERIES["a23_bootstrap_ci"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    assert "Generate explode" not in plan  # the pre-r13 16x fan-out
    assert "Generate stack" in plan  # unpivot of the n_groups-row frame
    assert "Window" in plan


def test_target_encoding_single_fact_pass(spark):
    """feat_target_encoding: ONE fact-x-dim equi-join and ONE
    map-combinable groupBy over the fact table; the out-of-fold
    subtraction means no window, no second fact scan, no per-fold
    filter fan-out. The (cat, fold) frame is localCheckpoint'd before
    its three consumers (the rank.py single-evaluation discipline), so
    the final plan contains NO fact scan at all — every consumer reads
    the materialized n_cats x n_folds frame."""
    plan = plan_of(QUERIES["feat_target_encoding"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # single evaluation: no consumer re-derives the fact scan+join+agg
    scans = [l for l in plan.splitlines() if "orders.parquet" in l and "Scan" in l]
    assert len(scans) == 0, scans
    assert "ExistingRDD" in plan


def test_roc_auc_no_window_funnel_no_cartesian(spark):
    """a24_roc_auc: the single global rank rides the range-partitioned
    operator (no unpartitioned window anywhere — the only windowspec is
    partitioned by the range-partition id), and the class/tie-group
    aggregations are map-combinable groupBys joined on the score value —
    never an n_pos x n_neg pairwise stage."""
    import re

    df = QUERIES["a24_roc_auc"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert not [
        s for s in specs
        if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
    ]


def test_ks_test_no_window_funnel(spark):
    """a25_ks_test: the CDFs ride global_prefix_sum — every windowspec in
    the plan is partitioned by the range-partition id, never a global
    ORDER BY funnel; no cartesian beyond the 1-row broadcast totals."""
    import re

    df = QUERIES["a25_ks_test"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert not [
        s for s in specs
        if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
    ]
    # single fact pass (code-review r7): totals from the checkpointed
    # scan frame — no second events scan in the executed plan
    simple = plan_of(df)
    scans = [
        l for l in simple.splitlines() if "events.parquet" in l and "Scan" in l
    ]
    assert len(scans) == 0, scans


def test_calibration_bins_no_ntile_funnel(spark):
    """a26_calibration_bins: deciles come from ntile_from_rank over the
    range-partitioned global rank — no unpartitioned window (the a16
    invariant), no cartesian beyond the 1-row count broadcast."""
    import re

    df = QUERIES["a26_calibration_bins"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert not [
        s for s in specs
        if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
    ]


def test_pr_auc_no_window_funnel(spark):
    """a27_pr_auc: the cumulative TP/total curves ride global_prefix_sum
    — every windowspec is partitioned by the range-partition id, never a
    global ORDER BY funnel (the naive per-positive precision@rank would
    be exactly that funnel)."""
    import re

    df = QUERIES["a27_pr_auc"].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    assert not [
        s for s in specs
        if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
    ]
    # single fact pass: totals derive from the checkpointed prefix-sum
    # frame, so the executed plan contains NO events scan at all
    simple = plan_of(df)
    scans = [
        l for l in simple.splitlines() if "events.parquet" in l and "Scan" in l
    ]
    assert len(scans) == 0, scans


def test_welch_single_fact_scan(spark):
    """a29_welch_ttest: the complement-group moments come from summing
    the 5-row group frame, NOT a second pass over orders — exactly one
    fact scan in the plan (the localCheckpoint materializes the group
    frame for its two consumers)."""
    df = QUERIES["a29_welch_ttest"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    scans = [
        l for l in plan.splitlines() if "orders.parquet" in l and "Scan" in l
    ]
    assert len(scans) <= 1, scans


def test_chi_square_single_fact_scan(spark):
    """a28_chi_square: row totals, column totals, and the grand total are
    aggregates OF the localCheckpointed cell frame — one events scan."""
    df = QUERIES["a28_chi_square"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    scans = [
        l for l in plan.splitlines() if "events.parquet" in l and "Scan" in l
    ]
    assert len(scans) == 0, scans  # cells is an ExistingRDD checkpoint
    assert "ExistingRDD" in plan


def test_distinctive_terms_window_group_limit(spark):
    """text_distinctive_terms: the per-language top-5 is a WindowGroupLimit
    (map-side k-heaps), and the vocabulary-sized frames never re-scan
    documents — one scan feeds the localCheckpointed (lang, term) counts."""
    df = QUERIES["text_distinctive_terms"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "WindowGroupLimit" in plan
    scans = [
        l for l in plan.splitlines() if "documents.parquet" in l and "Scan" in l
    ]
    assert len(scans) == 0, scans  # per_lang is an ExistingRDD checkpoint


def test_r8_rank_consumers_no_unpartitioned_window(spark):
    """The five r8 queries riding the global rank/prefix machinery must
    never compile an UNPARTITIONED window (the funnel the machinery
    exists to avoid): every windowspecdefinition carries a partition
    column before its first sort-order argument."""
    import re

    for name in (
        "a30_mann_whitney_u",
        "a31_spearman_spend_orders",
        "a33_user_hhi_deciles",
        "o7_pareto_skyline_orders",
        "text_token_rank_curve",
    ):
        plan = plan_of(QUERIES[name].fn(spark, SF_ORACLE), "extended")
        specs = re.findall(
            r"windowspecdefinition\([^)]*?specifiedwindowframe", plan
        )
        if not specs:
            # the rank stage was checkpoint-materialized at build time
            # (a30 checkpoints its ranked frame): the window already
            # EXECUTED inside global_rank — whose pid-partitioned spec
            # the operator-level tests pin — and the returned plan
            # reads the result as an RDD scan
            assert "ExistingRDD" in plan, name
            continue
        unpartitioned = [
            s
            for s in specs
            if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
        ]
        assert not unpartitioned, (name, unpartitioned)


def test_benford_and_fk_audit_single_pass_shapes(spark):
    """a34 must be one map-combinable aggregate over a scan-stage
    projection (partial_count before the exchange, broadcast expected
    table); dq_referential_integrity must gate every edge on an
    equality key (anti joins, no nested loop)."""
    plan = plan_of(QUERIES["a34_benford_first_digit"].fn(spark, SF_ORACLE))
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["dq_referential_integrity"].fn(spark, SF_ORACLE))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_r9_rank_consumers_no_unpartitioned_window(spark):
    """The r9 queries riding the rank machinery (grouped_global_rank in
    a36, global_rank in the version-drift boundary extraction and the
    time-to-convert percentiles) must never compile an UNPARTITIONED
    window — same pin as the r8 set."""
    import re

    for name in (
        "a36_gini_drift_by_nation",
        "dq_version_quantile_drift",
        "events_time_to_convert",
    ):
        plan = plan_of(QUERIES[name].fn(spark, SF_ORACLE), "extended")
        specs = re.findall(
            r"windowspecdefinition\([^)]*?specifiedwindowframe", plan
        )
        if not specs:
            assert "ExistingRDD" in plan, name  # rank ran inside the
            # checkpoint-materialized operator (whose spec the
            # operator-level tests pin)
            continue
        unpartitioned = [
            s
            for s in specs
            if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
        ]
        assert not unpartitioned, (name, unpartitioned)


def test_r10_radius_and_reach_no_cartesian(spark):
    """The r10 pairwise shapes must stay gated on equi-join keys: the
    radius search's candidates come from a BROADCAST hash equi-join on
    the probed cell id (never a cartesian against the index), and the
    two-hop wedge expansion is a hash self-join on the middle node."""
    plan = plan_of(QUERIES["sim_radius_search_ivf"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    plan = plan_of(QUERIES["graph_two_hop_reach"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_r10_survival_fold_and_rolling_expansion_shapes(spark):
    """KM survival: the at-risk prefix sum rides the range-partitioned
    operator (no unpartitioned data-sized window; the only windows run
    inside the checkpoint-materialized prefix operator) and the two
    1-row broadcasts (max ts, total) stay broadcasts. Rolling distinct:
    the coverage explode must feed a partial aggregate (map-side
    distinct), never a window."""
    plan = plan_of(QUERIES["events_survival_curve"].fn(spark, SF_ORACLE))
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan  # the 1-row crossJoins compile
    # to BroadcastNestedLoopJoin over literally-one-row frames, which is
    # the intended shape for scalar broadcasts — but never a data-sized
    # cartesian; the explode feeds the final fold only
    plan = plan_of(QUERIES["events_rolling_distinct_users"].fn(spark, SF_ORACLE))
    assert "Generate explode" in plan or "Expand" in plan or "explode" in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def _unpartitioned_window_specs(plan: str) -> list[str]:
    """Every windowspecdefinition must carry a partition column before
    its first sort-order argument — the a16 detector, reusable."""
    import re

    specs = re.findall(r"windowspecdefinition\([^)]*?specifiedwindowframe", plan)
    return [
        s for s in specs
        if re.match(r"windowspecdefinition\(\w+#\d+L? (ASC|DESC)", s)
    ]


@pytest.mark.parametrize(
    "name",
    [
        "o9_weighted_median_skewed",
        "a39_tail_shares_by_nation",
        "events_peak_concurrency",
        "curate_reservoir_per_source",
    ],
)
def test_r11_no_unpartitioned_windows(spark, name):
    """The four window-bearing r11 additions must never run an
    UNPARTITIONED window: o9's windows ride domain-bounded band frames
    partitioned by group; a39/reservoir rank via grouped_global_rank
    (pid-partitioned); peak concurrency scans via global_prefix_sum
    (pid-partitioned). A bare ORDER BY window anywhere is the 100 TB
    single-task funnel."""
    df = QUERIES[name].fn(spark, SF_ORACLE)
    plan = plan_of(df, "extended")
    assert "windowspecdefinition" in plan, f"{name}: expected window nodes"
    bad = _unpartitioned_window_specs(plan)
    assert not bad, f"{name}: unpartitioned windows {bad}"


def test_o9_value_grain_single_scan(spark):
    """r13: o9's domain ([100, 5000] centi-quantities) is a config
    constant, so the value-grain degenerate case of the wmedian
    operator applies — ONE map-combinable fact scan, zero joins, and
    windows only over the domain-bounded (group, value) frame."""
    plan = plan_of(QUERIES["o9_weighted_median_skewed"].fn(spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 1  # was 3 before r13
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # partial+final aggregate pairs: the fact reduces map-side
    assert plan.count("HashAggregate") >= 2


def test_reconciliation_no_cartesian_single_fact_join(spark):
    """Order-total reconciliation collapses lineitem per order BEFORE
    the join (partial aggregation pushdown) and joins order-grain frames
    — no cartesian, no window, HashAggregates on both sides."""
    plan = plan_of(QUERIES["dq_order_total_reconciliation"].fn(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (li agg, report)


def test_hapax_two_phase_aggregation(spark):
    """Hapax counting is pure map-combinable aggregation: two grouping
    stages, each with partial+final HashAggregate, no window, no join."""
    plan = plan_of(QUERIES["text_hapax_ratio_by_source"].fn(spark, SF_ORACLE))
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("HashAggregate") >= 4


def test_a40_bitmap_two_level_aggregate_no_distinct_expand(spark):
    """The bitmap exact-distinct idiom must compile to two hash
    aggregates over bitmap partials — never a count-distinct Expand or
    a per-key distinct shuffle (the shape whose shuffle carries every
    (group, key) pair at 100 TB)."""
    plan = plan_of(QUERIES["a40_bitmap_distinct_users"].fn(spark, SF_ORACLE))
    assert "bitmap_construct_agg" in plan and "bitmapCount" in plan
    assert "Expand" not in plan
    # one shuffle per aggregate level, nothing else
    assert plan.count("Exchange hashpartitioning") == 2


def test_w9_session_window_single_shuffle_no_window_exec(spark):
    """Native batch session_window: one hash shuffle on the user key,
    session merging inside the aggregate — no WindowExec over raw
    events (the serial-per-key funnel the hand-rolled sessionizer
    pays), no second exchange."""
    plan = plan_of(QUERIES["w9_session_window_native"].fn(spark, SF_ORACLE))
    assert "session_window" in plan or "SessionWindow" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window " not in plan  # WindowExec node (UpdatingSessions rides the agg)


def test_p15_variant_projection_no_shuffle_no_python(spark):
    """VARIANT pack/parse/extract is a pure row-local projection:
    zero exchanges, zero Python evals — whole-stage expressions over
    the pruned scan."""
    df = QUERIES["p15_variant_extract"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF fallback
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "value" not in read_schema  # unused column pruned at the scan


def test_o10_weighted_p90_refinement_shape(spark):
    """The p90 quantile must keep the refinement cost model: the fact
    is scanned once per level + once for the value-grain exact pass
    (r13: 2 scans — the former width-1e3 middle level only re-shrank a
    frame already domain-bounded at <= 1e5 distinct values per group,
    at the price of a third full fact scan), the state join arrives
    BROADCAST (per group, one band of the domain), and no window
    function ever sees fact-sized input."""
    plan = plan_of(QUERIES["o10_weighted_p90_prices"].fn(spark, SF_ORACLE))
    assert plan.count("Scan parquet") == 2  # was 3 before r13
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    # windows run over the band frames (bounded) — count them to pin
    # the shape: level-0 cumulation + level-0 group total + exact pass
    assert plan.count("Window") == 3


def test_dedup_chain_single_shuffle_arrow_fanout(spark):
    """The anchor-chain batch twin: one hash shuffle on user_id + a
    partition-LOCAL sort feeding ONE batched Arrow Python stage
    (MapInPandas, the measured 14x winner over per-key
    FlatMapGroupsInPandas — see the query docstring) — no extra
    exchange, no range-partitioned global sort, no row-at-a-time
    PythonUDF, and the click filter reaches the parquet scan."""
    df = QUERIES["dedup_within_watermark_batch"].fn(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # sort stays local
    assert "BatchEvalPython" not in plan  # no row-at-a-time fallback
    assert "PushedFilters" in plan and "EqualTo(event_type,click)" in plan
