"""Physical-plan audits (SURVEY.md §4): the plans must not merely be
correct — they must be the plans we'd want at 100 TB. These tests pin
the load-bearing properties so a refactor can't silently regress them.
"""

import ast
import re

import pytest

from flink_kmeans_spark.plans.registry import specs
from flink_kmeans_spark.sources import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_parquet_pushdown_and_pruning(spark, sf_dir):
    df = specs()["scan_parquet"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "c_mktsegment" in plan.split("PushedFilters:")[1][:200]
    # column pruning: ReadSchema carries only the needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_acctbal" in read_schema and "c_name" in read_schema
    assert "c_nationkey" not in read_schema


def test_project_filter_pushdown(spark, sf_dir):
    plan = plan_of(specs()["project_filter"].fn(spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "l_shipdate" in pushed and "l_discount" in pushed


def test_join_broadcast_is_broadcast(spark, sf_dir):
    plan = plan_of(specs()["join_broadcast"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_shuffle_no_cartesian(spark, sf_dir):
    plan = plan_of(specs()["join_shuffle"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)


def test_kmeans_assign_is_shuffle_free(spark, sf_dir):
    """The assign step must be a pure map: its only exchange is the
    single-row centroid broadcast — no hash/range repartitioning of the
    points, at any scale."""
    from flink_kmeans_spark.operators import kmeans as km

    e = load_table(spark, sf_dir, "embeddings")
    cents = km.init_centroids(e, 10)
    plan = plan_of(km.assign(e, cents))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # single-row build side


def test_kmeans_iteration_single_aggregation_shuffle(spark, sf_dir):
    """assign + recompute = exactly one hash-partition exchange (the
    k-group aggregate), nothing else."""
    from pyspark.sql import functions as F

    from flink_kmeans_spark.operators import kmeans as km

    e = load_table(spark, sf_dir, "embeddings")
    cents = km.init_centroids(e, 10)
    assigned = km.assign(e, cents)
    vec = F.col("embedding").cast("array<double>")
    agg = assigned.groupBy("cid").agg(
        *[F.sum(vec[i]).alias(f"s{i}") for i in range(64)], F.count(F.lit(1)).alias("n")
    )
    plan = plan_of(agg)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial" in plan.lower()  # map-side combine present


def test_sort_limit_is_take_ordered(spark, sf_dir):
    plan = plan_of(specs()["sort_limit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_window_rank_has_group_limit_pushdown(spark, sf_dir):
    """rn<=3 must push a WindowGroupLimit below the sort (Spark 3.5+)
    so per-key only the top rows survive."""
    plan = plan_of(specs()["window_rank"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_agg_hash_partial_aggregation(spark, sf_dir):
    plan = plan_of(specs()["agg_hash"].fn(spark, sf_dir))
    assert "HashAggregate" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_cosine_topk_corpus_not_shuffled_before_scoring(spark, sf_dir):
    """Scoring happens map-side against broadcast queries; the only
    hash exchange is the per-query top-k window."""
    plan = plan_of(specs()["sim_cosine_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_whole_stage_codegen_everywhere_cheap(spark, sf_dir):
    """Scalar pipelines must run inside WholeStageCodegen spans."""
    for key in ["project_filter", "scalar_math", "scalar_string"]:
        plan = plan_of(specs()[key].fn(spark, sf_dir))
        # executedPlan().toString() renders WholeStageCodegen spans as a
        # leading "*(n) " on each fused operator
        assert re.search(r"\*\(\d+\) ", plan), key


def test_tpch_q4_semi_join_and_pushdown(spark, sf_dir):
    """EXISTS must compile to a semi join (each order counted once) and
    the order-date quarter must reach the orders scan."""
    plan = plan_of(specs()["tpch_q4"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "o_orderdate" in pushed


def test_tpch_q10_nation_broadcast_topn(spark, sf_dir):
    """Nation must broadcast (never shuffle a 25-row dim) and the
    top-20 must be TakeOrderedAndProject, not a global sort."""
    plan = plan_of(specs()["tpch_q10"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q6_all_predicates_pushed(spark, sf_dir):
    plan = plan_of(specs()["tpch_q6"].fn(spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_scalar_explode_no_shuffle(spark, sf_dir):
    """Generate (explode) is a map-side operator — no exchange at all."""
    plan = plan_of(specs()["scalar_explode"].fn(spark, sf_dir))
    assert "Generate explode" in plan or "Generate posexplode" in plan
    assert "Exchange" not in plan


def test_text_ngram_freq_is_join_free(spark, sf_dir):
    """Bigrams come from zip_with inside codegen — the plan must contain
    no join and only the aggregation exchange + top-50."""
    plan = plan_of(specs()["text_ngram_freq"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_join_null_aware_anti_compiles_to_anti_joins(spark, sf_dir):
    plan = plan_of(specs()["join_null_aware_anti"].fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_join_range_binned_no_nested_loop(spark, sf_dir):
    """The binning must turn the pure range join into an equi-join —
    any nested-loop operator in this plan is a scale regression."""
    plan = plan_of(specs()["join_range_binned"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)


def test_embedding_near_dups_cogroup_no_packed_rows(spark, sf_dir):
    """Round-2 rework pin: exact all-pairs cosine runs as a block-pair
    COGROUP over ordinary rows (FlatMapCoGroupsInPandas) — never the
    round-1 one-row-per-block packing (applyInPandas pack + crossJoin of
    packed mega-rows, which hits the ~2 GiB single-value limit at scale).
    """
    p = plan_of(specs()["dedup_embedding_cosine"].fn(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in p
    # the packed form showed TWO python stages: pack (FlatMapGroups) then
    # score (MapInPandas) — neither may reappear
    assert "MapInPandas" not in p
    assert "FlatMapGroupsInPandas" not in p


def test_tpch_q15_single_fact_scan(spark, sf_dir):
    """The scalar-MAX-via-window rewrite must keep lineitem to ONE scan
    (the naive two-reference form scans it twice — Spark does not reuse
    the exchange)."""
    p = plan_of(specs()["tpch_q15"].fn(spark, sf_dir))
    assert p.count("lineitem.parquet") == 1
    assert "Window" in p


def test_tpch_q7_q16_broadcast_no_cartesian(spark, sf_dir):
    for key in ("tpch_q7", "tpch_q16"):
        p = plan_of(specs()[key].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, key
        assert "BroadcastHashJoin" in p, key
    # q16's NOT IN exclusion must be an anti join, not a filter-after-join
    p16 = plan_of(specs()["tpch_q16"].fn(spark, sf_dir))
    assert "LeftAnti" in p16


def test_text_chunk_and_pack_shapes(spark, sf_dir):
    """Chunking is explode-only (no shuffle, no Python); packing is one
    window shuffle on the shard key (never a global sort)."""
    pc = plan_of(specs()["text_chunk"].fn(spark, sf_dir))
    assert "Exchange" not in pc
    assert "Generate" in pc  # posexplode
    assert "InPandas" not in pc and "BatchEvalPython" not in pc
    pp = plan_of(specs()["text_pack"].fn(spark, sf_dir))
    assert pp.count("Exchange") == 1
    assert "Sort" in pp and "rangepartitioning" not in pp


def test_sink_partition_prune_reads_only_matching_partitions(spark, sf_dir):
    """The year predicate must resolve as PartitionFilters on the
    partitioned read-back — directory pruning, not row filtering."""
    df = specs()["sink_partition_prune"].fn(spark, sf_dir)
    p = plan_of(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "o_year" in m.group(1), p[:1500]


def test_agg_grouping_sets_single_expand_pass(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    p = plan_of(_specs()["agg_grouping_sets"].fn(spark, sf_dir))
    # all four grouping sets from ONE Expand + one aggregate exchange,
    # customer broadcast — not a UNION ALL of separate GROUP BYs
    assert p.count("Expand") == 1
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in p


def test_sim_range_search_zero_shuffle(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    p = plan_of(_specs()["sim_range_search"].fn(spark, sf_dir))
    # queries broadcast, threshold filter inside the corpus scan stage:
    # nothing shuffles at all
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_text_boilerplate_is_wordcount_shape(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    p = plan_of(_specs()["text_boilerplate_ngrams"].fn(spark, sf_dir))
    # map-side shingle Generate + ONE count exchange, no join anywhere
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Generate") == 1
    assert "Join" not in p.replace("BroadcastHashJoin", "") or "BroadcastHashJoin" not in p


def test_text_repetition_no_self_join_for_bigrams(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    p = plan_of(_specs()["text_repetition"].fn(spark, sf_dir))
    # bigrams built map-side (zip_with), counted with two doc-keyed
    # exchanges; the only join is the broadcast join back to the base
    assert p.count("Exchange hashpartitioning") == 2
    assert p.count("SortMergeJoin") == 0
    assert p.count("CartesianProduct") == 0


def test_retention_and_quality_no_cartesian(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    for key in ("events_retention", "data_quality_checks"):
        p = plan_of(_specs()[key].fn(spark, sf_dir))
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_scd2_single_user_exchange(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    p = plan_of(_specs()["scd2_intervals"].fn(spark, sf_dir))
    # lag + running-sum + run-agg + lead all share ONE user_id exchange
    # (prefix-compatible partitionings — no re-shuffle per window)
    assert p.count("Exchange hashpartitioning") == 1


def test_bucket_colocated_join_has_no_join_exchange(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    p = plan_of(_specs()["join_bucket_colocated"].fn(spark, sf_dir))
    # both sides bucketed on the join key: sort-merge join directly over
    # bucket files; the ONLY exchange in the whole plan is the final agg
    assert p.count("SortMergeJoin") == 1
    assert p.count("BroadcastHashJoin") == 0
    assert p.count("Exchange hashpartitioning") == 1


def test_tpch_q21_aggregate_rewrite_shape(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    p = plan_of(_specs()["tpch_q21"].fn(spark, sf_dir))
    # aggregate rewrite: no EXISTS/NOT-EXISTS self-join cascade —
    # no cartesian, supplier dim broadcast, orderkey work co-partitioned
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_bloom_runtime_filter_injected(spark, sf_dir):
    from flink_kmeans_spark.plans.analytics import _BLOOM_CONFS, _bloom_pruned_agg
    from flink_kmeans_spark.session import conf_scope

    with conf_scope(spark, _BLOOM_CONFS):
        p = plan_of(_bloom_pruned_agg(spark, sf_dir))
    # the selective orders predicate ships to the lineitem side as a
    # runtime bloom filter probed BEFORE the shuffle
    assert "might_contain" in p
    # and outside the scope the same plan must NOT carry the filter
    p2 = plan_of(_bloom_pruned_agg(spark, sf_dir))
    assert "might_contain" not in p2


def test_events_streaks_and_transitions_join_free(spark, sf_dir):
    from flink_kmeans_spark.plans.registry import specs as _specs

    for key in ("events_streaks", "events_transitions"):
        p = plan_of(_specs()[key].fn(spark, sf_dir))
        assert "SortMergeJoin" not in p
        assert "CartesianProduct" not in p


def test_window_count_distinct_single_exchange(spark, sf_dir):
    """Both window passes must share ONE user_id shuffle: hash on the
    subset key satisfies the (user_id, event_type) clustering, so only
    in-partition sorts separate the two Window nodes."""
    plan = plan_of(specs()["window_count_distinct"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") >= 2


def test_cdc_merge_single_key_shuffle(spark, sf_dir):
    """The changelog union must shuffle ONCE on the merge key (the
    max-seq window); the only other exchange is the group-sized final
    aggregate. No join of snapshot vs changes appears at all."""
    plan = plan_of(specs()["cdc_merge_apply"].fn(spark, sf_dir))
    key_exchanges = plan.count("Exchange hashpartitioning(o_orderkey")
    assert key_exchanges == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pipeline_curation_shapes(spark, sf_dir):
    """The composed pipeline keeps its stage shapes: length gates reach
    the documents parquet scan, the centroid block rides in as the
    single-row broadcast (no point shuffle for assignment), and no
    cartesian product anywhere."""
    plan = plan_of(specs()["pipeline_curation"].fn(spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "n_chars" in pushed
    assert "BroadcastNestedLoopJoin" in plan  # one-row centroid build
    assert "CartesianProduct" not in plan


def test_unpivot_is_expand_no_extra_shuffle(spark, sf_dir):
    """unpivot compiles to Expand over the aggregated wide table — the
    only exchanges are the aggregate's own."""
    plan = plan_of(specs()["reshape_unpivot"].fn(spark, sf_dir))
    assert "Expand" in plan


def test_synthetic_partsupp_shape(spark, sf_dir):
    """partsupp derivation: exactly 4 DISTINCT suppliers per part, keys
    inside the supplier range, supplycost exact binary quarters."""
    from flink_kmeans_spark.plans.tpch_extra import synthetic_partsupp

    ps = synthetic_partsupp(spark, sf_dir).toPandas()
    n_part = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    n_supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").count()
    assert len(ps) == n_part * 4
    per = ps.groupby("ps_partkey")["ps_suppkey"].nunique()
    assert (per == 4).all()  # dbgen-style rotation never collides
    assert ps["ps_suppkey"].between(0, n_supp - 1).all()
    assert ((ps["ps_supplycost"] * 4) % 1 == 0).all()  # exact quarters
    assert ps["ps_availqty"].between(1, 9999).all()


def test_tpch_q9_profit_includes_supplycost_term(spark, sf_dir):
    """Faithful Q9 must charge ps_supplycost * l_quantity: total profit
    is strictly below the revenue-only (round-1 adapted) total."""
    q9 = specs()["tpch_q9"].fn(spark, sf_dir).toPandas()
    import pyspark.sql.functions as F
    from flink_kmeans_spark.sources import load_table

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    rev = (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .collect()[0][0]
    )
    assert q9["sum_profit"].sum() < rev


def test_bm25_broadcast_stats_and_topk(spark, sf_dir):
    """BM25: df/avgdl sides broadcast (never a shuffle join against the
    posting list), top-20 is TakeOrderedAndProject, and nothing
    degenerates to a CartesianProduct."""
    p = plan_of(specs()["text_bm25_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_decontam_benchmark_broadcasts(spark, sf_dir):
    """Decontamination: the benchmark shingle set broadcasts; the
    CORPUS never re-partitions by shingle. The only two exchanges are
    the tiny benchmark-side distinct (pre-broadcast) and the final
    doc-grain count."""
    p = plan_of(specs()["decontam_ngram_overlap"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 2
    # the corpus side of the join is exchange-free: between the corpus
    # FileScan and the BroadcastHashJoin there is no Exchange node
    corpus_branch = p.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert "Exchange" not in corpus_branch


def test_sim_filtered_topk_predicate_in_scan(spark, sf_dir):
    """Filtered vector search must PRE-filter: the label predicate is
    pushed into the candidate parquet scan, not applied after pairing."""
    p = plan_of(specs()["sim_filtered_topk"].fn(spark, sf_dir))
    assert "PushedFilters:" in p
    assert "label" in p.split("PushedFilters:")[1][:200]
    assert "CartesianProduct" not in p


def test_windowed_topk_group_limit(spark, sf_dir):
    p = plan_of(specs()["events_windowed_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_degree_dist_join_free_straight_line(spark, sf_dir):
    """Degree distribution is three collapsing aggregates — no joins,
    and the distinct + degree-count share the l_partkey exchange."""
    p = plan_of(specs()["graph_degree_dist"].fn(spark, sf_dir))
    assert "Join" not in p


def test_rolling_median_single_user_exchange(spark, sf_dir):
    p = plan_of(specs()["window_rolling_median"].fn(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1


def test_scalar_url_zero_shuffle(spark, sf_dir):
    p = plan_of(specs()["scalar_url"].fn(spark, sf_dir))
    assert "Exchange" not in p


def test_join_dpp_injects_dynamic_pruning(spark, sf_dir):
    """The fact scan must carry a dynamicpruningexpression in its
    PartitionFilters — runtime directory pruning from the dim filter."""
    p = plan_of(specs()["join_dynamic_partition_prune"].fn(spark, sf_dir))
    assert "dynamicpruning" in p


def test_twavg_single_user_exchange(spark, sf_dir):
    """LEAD window and the final user aggregate share ONE user_id
    exchange (prefix-compatible partitionings)."""
    p = plan_of(specs()["events_time_weighted_avg"].fn(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1


def test_url_canonical_single_aggregate(spark, sf_dir):
    p = plan_of(specs()["dedup_url_canonical"].fn(spark, sf_dir))
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_mix_rebalance_totals_broadcast(spark, sf_dir):
    """The 1-row totals frame must come back as a broadcast nested-loop
    (single build row), never a shuffle join."""
    p = plan_of(specs()["domain_mix_rebalance"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_gdpr_erasure_is_broadcast_anti(spark, sf_dir):
    """The deletion list must broadcast; the fact table never shuffles
    for the erase itself (anti join is a map-side filter)."""
    p = plan_of(specs()["gdpr_user_erasure"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_table_fingerprint_no_data_shuffle(spark, sf_dir):
    """Fingerprinting is map-side hashing + 1-row partial aggregates:
    no hash-partition exchange of data anywhere in the plan."""
    p = plan_of(specs()["table_fingerprint"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in p


def test_inverted_index_single_term_aggregate(spark, sf_dir):
    """df and the sorted postings assemble in ONE term-keyed aggregate
    (one exchange), never a join."""
    p = plan_of(specs()["text_inverted_index"].fn(spark, sf_dir))
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_join_skew_aqe_takes_skew_path_and_restores_confs(spark, sf_dir):
    """The AQE skew key must (a) actually take the skew-join path (the
    callable raises if 'skew=true' is absent from the final adaptive
    plan — executed here), (b) restore every conf it touched, and
    (c) produce one row per dim key present in the fact."""
    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.forceOptimizeSkewedJoin",
        )
    }
    out = specs()["join_skew_aqe"].fn(spark, sf_dir).collect()
    after = {k: spark.conf.get(k, None) for k in before}
    assert before == after, f"confs leaked: {before} vs {after}"
    from flink_kmeans_spark.sources import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    n_keys = (
        e.select(
            F.when(F.col("user_id") % 10 != 0, F.lit(0))
            .otherwise((F.col("user_id") / F.lit(10)).cast("long") % 49 + 1)
            .alias("k")
        )
        .distinct()
        .count()
    )
    assert len(out) == n_keys
    hot = {r["k"]: r["n"] for r in out}
    assert hot[0] > sum(v for k, v in hot.items() if k != 0)  # skew is real


def test_epoch_shuffle_no_single_partition_stage(spark, sf_dir):
    """The epoch shuffle must never route the corpus through one
    partition: shard assignment is map-side, ordering is a
    (epoch, shard)-partitioned window — no SinglePartition exchange,
    no global sort."""
    plan = plan_of(specs()["data_epoch_shuffle"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "hashpartitioning(epoch" in plan


def test_pareto_skyline_windows_are_bounded(spark, sf_dir):
    """Two-phase running max: the only SinglePartition window runs over
    the B-row bucket-carry table (bounded by the bucket constant, never
    data-sized); the data-sized window is bucket-partitioned; the base
    rows join the verdict table broadcast."""
    plan = plan_of(specs()["pareto_skyline"].fn(spark, sf_dir))
    assert "hashpartitioning(bk" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dsir_broadcasts_ratio_table_and_takes_ordered(spark, sf_dir):
    """DSIR: the per-bucket log-ratio table must broadcast (never
    shuffle the corpus by bucket against it) and the top-k selection
    must be TakeOrderedAndProject, not a full sort."""
    plan = plan_of(specs()["data_dsir_select"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange rangepartitioning" not in plan


def test_kmeans_parallel_init_weight_shuffle_only(spark, sf_dir):
    """kmeans||: distance passes are map-side against literal candidate
    arrays; the only data-sized exchange is the ~|C|-group weight
    aggregate (hash partitioning on cand_id) with a partial aggregate
    below it (map-side combine)."""
    plan = plan_of(specs()["kmeans_parallel_init"].fn(spark, sf_dir))
    assert "hashpartitioning(cand_id" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_sequence_pack_single_exchange_no_joins(spark, sf_dir):
    """data_sequence_pack: ONE (shard, class) hash exchange feeding the
    row_number window; slot math is pure projection — no joins, no
    range partitioning, no second shuffle."""
    plan = plan_of(specs()["data_sequence_pack"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(shard" in plan
    assert "Join" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_substring_cut_touched_joins_never_broadcast(spark, sf_dir):
    """dedup_substring_cut: the touched-doc set scales with the corpus
    on dup-heavy data, so its three joins (two semi, one anti) must be
    shuffle-hash, never broadcast — the 100x all-dup replica OOMed the
    driver's broadcast build before the hint was pinned."""
    plan = plan_of(specs()["dedup_substring_cut"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin LeftSemi" not in plan
    assert "BroadcastHashJoin LeftAnti" not in plan


def test_semantic_kmeans_pair_join_salted(spark, sf_dir):
    """dedup_semantic_kmeans: the within-cluster pair join must carry
    the fragment-replicate band in its equi-key — (cid, jb) on both
    sides — so parallelism is k*B and one skewed cluster cannot own a
    single task."""
    plan = plan_of(specs()["dedup_semantic_kmeans"].fn(spark, sf_dir))
    m = re.search(r"SortMergeJoin \[cid#\d+, jb#\d+L?\], \[cid#\d+, jb#\d+L?\]", plan)
    bcast = re.search(r"BroadcastHashJoin \[cid#\d+, jb#\d+L?\]", plan)
    assert m or bcast, "pair join equi-key is not (cid, jb)"


def test_quantile_sketch_bucket_grain_aggregate(spark, sf_dir):
    """The DDSketch build must be ONE hash aggregate at bucket grain
    with a map-side partial (the mergeable-summaries shape) — no sort
    of the value column, no window over raw rows."""
    plan = plan_of(specs()["agg_quantile_sketch"].fn(spark, sf_dir))
    # partial + final aggregate pair on the bucket key
    assert plan.count("HashAggregate") >= 2
    # the only Sort is the <=233-row cumulative window over the sketch,
    # never a rangepartitioning (global sort) of lineitem rows
    assert "Exchange rangepartitioning" not in plan


def test_cdc_chunks_boundary_filter_is_map_side(spark, sf_dir):
    """dedup_cdc_chunks' position explode must stay map-side: the
    1/64 boundary filter runs in the same stage as the Generate, BEFORE
    any exchange — the corpus never shuffles at position grain."""
    plan = plan_of(specs()["dedup_cdc_chunks"].fn(spark, sf_dir))
    # tree printing is parent-first: the boundary Filter (parent) prints
    # BEFORE its Generate child, and no Exchange may sit between them —
    # that is exactly "the filter runs in the Generate's stage"
    flt = plan.index("% 64) = 0")
    gen = plan.index("Generate explode")
    assert flt < gen, "boundary filter is not the Generate's parent"
    assert "Exchange" not in plan[flt:gen]
    # no pairwise anything
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_reservoir_is_take_ordered(spark, sf_dir):
    """A-Res selection must be a TakeOrderedAndProject (every task
    forwards <= k rows), never a global sort of the corpus."""
    plan = plan_of(specs()["sample_weighted_reservoir"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_cdc_incremental_probe_single_delta_exchange(spark, sf_dir):
    """The store probe's executed plan (captured via the on_probe_plan
    hook — the localCheckpoint right after it truncates lineage, so
    this is the ONLY place the join plan is observable) carries exactly
    ONE hash Exchange: the delta side shuffling into the store's bucket
    layout. The bucketed index scan must be exchange-free — that is
    the 'store never re-shuffles however large it grows' contract.
    (Moved here from the hot path per ADVICE r10: the exact count is a
    plan pin, not a runtime invariant across Spark versions.)"""
    from flink_kmeans_spark.plans.llm import dedup_cdc_incremental

    plans = []
    dedup_cdc_incremental(
        spark, sf_dir, on_probe_plan=plans.append
    ).collect()
    assert len(plans) == 1
    p = plans[0]
    assert p.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" not in p


def test_text_containment_df_cap_is_bounded_window(spark, sf_dir):
    """r12 bounded-state pin (VERDICT r11 item 1): the df <= 50 cap
    must run as a WINDOW COUNT over the shingle-keyed exchange and
    filter rows BEFORE the posting-list collect_list — so a hot
    shingle streams through WindowExec's spillable buffer instead of
    materializing an unbounded array in one aggregate group. Pins:
    (a) a Window node is present, (b) the plan still carries the
    single shingle-grain aggregation pipeline (no extra g-keyed
    exchange reintroduced: the window and the collect_list share one
    hashpartitioning on the shingle column)."""
    plan = plan_of(specs()["text_containment"].fn(spark, sf_dir))
    w_pos = plan.find("Window")
    agg_pos = plan.find("collect_list")
    assert w_pos != -1 and agg_pos != -1
    # toString prints consumers above producers: the collect_list
    # aggregate must CONSUME the window's filtered output, i.e. appear
    # earlier in the listing than the Window node it reads from
    assert agg_pos < w_pos, "collect_list does not sit above the window cap"
    # exactly one exchange keyed on the shingle column g feeds both
    g_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(g#" in ln
    ]
    assert len(g_exchanges) == 1, g_exchanges


def test_on_disk_state_has_one_owner():
    """Only session.py may derive the repo root or name the .scratch and
    .index dirs; every other module goes through scratch_dir/index_dir."""
    import pathlib

    import flink_kmeans_spark

    pkg = pathlib.Path(flink_kmeans_spark.__file__).parent
    owned = re.compile(
        r"""["']\.(scratch|index)\b|dirname\((os\.path\.)?dirname\((os\.path\.)?dirname\("""
    )
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "session.py" or path.parent != pkg
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if owned.search(line)
    ]
    assert offenders == []


def test_bucketed_tables_have_one_owner():
    """Only operators/bucketed.py may write a bucketed table, clone a
    probe session for one or check its bucket pruning; every other
    module goes through BucketedIndex."""
    import pathlib

    import flink_kmeans_spark

    pkg = pathlib.Path(flink_kmeans_spark.__file__).parent
    owned = re.compile(r"saveAsTable\(|\.bucketBy\(|autoBucketedScan|SelectedBucketsCount")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "operators" / "bucketed.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if owned.search(line)
    ]
    assert offenders == []


def test_table_reads_have_one_owner():
    """Only sources/tables.py may build a table's path from sf_dir,
    normalize events.ts or probe a path's layout; every other module
    reads a table through load_table, stream_table or table_path."""
    import pathlib

    import flink_kmeans_spark
    from flink_kmeans_spark.sources import TABLES

    pkg = pathlib.Path(flink_kmeans_spark.__file__).parent
    owned = re.compile(
        rf"(\b({'|'.join(TABLES)})|\{{name\}})\.parquet\b"
        r"|sf_dir\b.*\.parquet|\.parquet\b.*\bsf_dir"
        r"|_normalize_event_ts|hadoop\.fs\.Path"
    )
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "sources" / "tables.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if owned.search(line)
    ]
    assert offenders == []


def test_bucket_pruning_guard_compares_selected_buckets(spark):
    """BucketedIndex.pruned passes a probe only if every scan of the
    table reads fewer buckets than it has: an unfiltered probe and a
    filter on a non-key column still print SelectedBucketsCount
    ("16 out of 16") and must raise, as must a join whose second scan
    is unpruned."""
    from pyspark.sql import functions as F

    from flink_kmeans_spark.operators.bucketed import BucketedIndex

    index = BucketedIndex.per_call(spark, "test_prune_guard", 16, "bucket")
    index.overwrite(
        spark.range(64).selectExpr("id AS vec_id", "CAST(id % 16 AS int) AS bucket")
    )
    idx = index.probe()
    cand = idx.where("bucket IN (1, 2)")
    assert index.pruned(cand, "cells") is cand
    unpruned = {
        "unfiltered": idx,
        "vec_id only": idx.where("vec_id < 5"),
        "one side of a join": cand.join(
            idx.selectExpr("vec_id AS v"), F.expr("vec_id = v")
        ),
    }
    for who, frame in unpruned.items():
        with pytest.raises(RuntimeError, match=f"{who}: bucket pruning did not engage"):
            index.pruned(frame, who)


def test_ann_cell_topk_ranks_without_a_shuffle(spark, sf_dir):
    """The ANN probe's per-query top-k window partitions by
    (q_bucket, q_id): a query's id fixes its cell, and the broadcast
    join's output is already hash-partitioned on the bucketed scan's
    cell, so the broadcast of the queries is the plan's only exchange.
    Both index scans stay bucket-pruned."""
    import flink_kmeans_spark.plans.llm as L

    index = L._ann_index_ensure(spark, sf_dir)
    rows = L._ann_queries(spark, sf_dir)[:5]
    top = L._ann_cell_topk(index, index.probe(), rows, "plan test")
    plan = plan_of(top)
    exchanges = re.findall(r"(\w*Exchange) ", plan)
    assert "BroadcastExchange" in exchanges, plan
    assert set(exchanges) == {"BroadcastExchange"}, plan
    assert "Window " in plan, plan
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and f".{index.name}[" in ln.lower()
    ]
    assert len(scans) == 2, plan
    assert index.pruned(top, "plan test") is top


def test_streaming_drains_and_conf_scopes_have_one_owner():
    """Only streaming/jobs.py may start, wait on or time a drain, or
    build the ordered landing reader; only session.py may unset a conf.
    Every other module goes through arrivals/drain and conf_scope."""
    import pathlib

    import flink_kmeans_spark

    pkg = pathlib.Path(flink_kmeans_spark.__file__).parent
    owners = {
        pkg / "streaming" / "jobs.py": re.compile(
            r"awaitTermination\(|availableNow|maxFilesPerTrigger"
            r"|SPARK_GRAFT_STREAM_TIMEOUT|PHASE_WALLS\["
        ),
        pkg / "session.py": re.compile(r"conf\.unset\("),
    }
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for owner, owned in owners.items()
        for path in sorted(pkg.rglob("*.py"))
        if path != owner
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if owned.search(line)
    ]
    assert offenders == []


# worker-side entry points: a call's function argument, a processor's
# per-batch method, a decorated UDF/UDTF, a data source reader's read
_WORKER_CALLS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
    "applyInPandasWithState", "transformWithStateInPandas",
    "foreachPartition", "udf", "pandas_udf",
}
_WORKER_DECORATORS = {"udf", "pandas_udf", "udtf"}
_READER_BASES = {
    "DataSourceReader", "DataSourceStreamReader", "SimpleDataSourceStreamReader",
}


def _name_of(node):
    """``f`` for ``f``, ``F.f``, ``f(...)`` and ``F.f(...)``, else None."""
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _worker_functions(tree):
    """(site line, the function a Python worker runs or None if the
    site's argument does not resolve to a def) for every worker-side
    entry point in ``tree``."""

    def method(cls, name):
        return next(
            (s for s in cls.body if isinstance(s, ast.FunctionDef) and s.name == name),
            None,
        )

    def resolve(scope, arg):
        if isinstance(arg, ast.Call):  # a processor instance: UserCounter()
            arg = arg.func
        if not isinstance(arg, ast.Name):
            return None
        for node in ast.walk(scope):  # breadth-first: the nearest def wins
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and node.name == arg.id:
                return method(node, "handleInputRows") if isinstance(node, ast.ClassDef) else node
        return None

    def visit(scope, node):
        for child in ast.iter_child_nodes(node):
            inner = child if isinstance(child, ast.FunctionDef) else scope
            if isinstance(child, ast.Call) and _name_of(child) in _WORKER_CALLS:
                arg = child.args[0] if child.args else next(
                    (k.value for k in child.keywords if k.arg in ("func", "f", "statefulProcessor")),
                    None,
                )
                # udf/pandas_udf with only a return type is a decorator
                if _name_of(child) not in ("udf", "pandas_udf") or isinstance(arg, (ast.Name, ast.Lambda)):
                    yield child.lineno, resolve(scope, arg)
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                decorators = {_name_of(d) for d in child.decorator_list}
                if decorators & _WORKER_DECORATORS:
                    fn = method(child, "eval") if isinstance(child, ast.ClassDef) else child
                    yield child.lineno, fn
                if isinstance(child, ast.ClassDef) and {_name_of(b) for b in child.bases} & _READER_BASES:
                    yield child.lineno, method(child, "read")
            yield from visit(inner, child)

    yield from visit(tree, tree)


def _starts_with_install(fn) -> bool:
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # the docstring
    first = body[0].value if body and isinstance(body[0], ast.Expr) else None
    return (
        isinstance(first, ast.Call)
        and isinstance(first.func, ast.Name)
        and first.func.id == "install"
        and not first.args
    )


def test_python_boundary_has_one_owner():
    """boundary.py is the one Python-boundary mechanism: no module sets a
    worker daemon or a worker environment, only boundary.py touches
    zipimport, and every function handed to a Python worker starts with
    boundary's ``install()`` (imported from boundary, not redefined)."""
    import pathlib

    import flink_kmeans_spark

    pkg = pathlib.Path(flink_kmeans_spark.__file__).parent
    owned = re.compile(r"spark\.python\.daemon\.module|spark\.executorEnv|zipimport")
    offenders = []
    sites = 0
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        text = path.read_text()
        if path != pkg / "boundary.py":
            offenders += [
                f"{rel}:{n}"
                for n, line in enumerate(text.splitlines(), 1)
                if owned.search(line)
            ]
        tree = ast.parse(text)
        found = list(_worker_functions(tree))
        sites += len(found)
        offenders += [
            f"{rel}:{line} does not start with install()"
            for line, fn in found
            if fn is None or not _starts_with_install(fn)
        ]
        imports_install = any(
            isinstance(s, ast.ImportFrom)
            and (s.module or "").split(".")[-1] == "boundary"
            and any(a.name == "install" and a.asname is None for a in s.names)
            for s in ast.walk(tree)
        )
        if found and not imports_install:
            offenders.append(f"{rel}: install is not imported from boundary")
    assert sites >= 35
    assert offenders == []
