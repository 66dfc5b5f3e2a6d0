"""Regenerate PLANS.md: formatted physical plans for the headline
queries, with the property each plan is meant to exhibit. Run after
changing any query:  python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHOWCASE = [
    ("scan_parquet", "predicate pushdown + column pruning at the parquet reader"),
    ("project_filter", "all four predicates pushed; WholeStageCodegen project"),
    ("join_broadcast", "dimension join → BroadcastHashJoin, zero probe-side shuffle"),
    ("join_shuffle", "fact join; AQE broadcasts the small sides, one agg exchange"),
    ("agg_hash", "partial → final HashAggregate, single exchange of ~6 groups"),
    ("window_rank", "WindowGroupLimit pushes top-3 below the sort"),
    ("sort_limit", "global top-N → TakeOrderedAndProject, no full sort"),
    ("tpch_q5", "6-table star: dimension chain broadcast, one fact shuffle"),
    ("tpch_q4", "EXISTS → LeftSemi join; order-date quarter pushed to scan"),
    ("tpch_q14", "broadcast part → shuffle-free scan + conditional agg"),
    ("tpch_q17", "decorrelated scalar subquery: filtered avg side broadcast back"),
    ("tpch_q18", "HAVING pre-aggregation shrinks lineitem before any join"),
    ("tpch_q19", "disjunction common-conjunct extraction pushed below the join"),
    ("dedup_edit_distance", "blocking equi-join bounds the quadratic levenshtein work"),
    ("sim_cosine_topk", "corpus scored map-side vs broadcast queries"),
    ("tpch_q7", "disjunctive nation-pair dims broadcast; one orderkey shuffle"),
    ("tpch_q8", "8-table star: every dim broadcast, conditional-sum market share"),
    ("tpch_q13", "outer join preserves zero-order customers; two-level agg"),
    ("tpch_q15", "single lineitem scan: scalar MAX as window over the aggregated view"),
    ("tpch_q16", "NOT IN → broadcast anti join; count-distinct on the bridge key"),
    ("tpch_q22", "scalar-avg broadcast filter + left-anti join on custkey"),
    ("window_rollup", "hourly tier aggregates the 10-min tier's partials, not raw rows"),
    ("events_funnel", "left-semi theta join: no pair blowup on hot users"),
    ("dedup_embedding_cosine", "block-pair cogroup (FlatMapCoGroupsInPandas), ordinary rows"),
    ("agg_percentile", "sort-based exact percentile: rank windows, no ObjectHashAgg buffering"),
    ("window_count_distinct", "ONE user_id exchange feeds both window passes (subset-key clustering)"),
    ("cdc_merge_apply", "changelog union → single o_orderkey shuffle → max-seq window; no snapshot-vs-changes join"),
    ("pipeline_curation", "five composed stages: pushed length gates, one dedup window, broadcast centroid assign"),
    ("reshape_unpivot", "unpivot = Expand over the aggregated wide table; no extra exchange"),
    ("join_lateral_topn", "LATERAL decorrelated to window rank + broadcast nation join"),
    ("sql_recursive_cte", "recursive month spine (UnionLoop) broadcast into the orders aggregate"),
    ("sim_maxsim_topk", "nested higher-order MaxSim scoring vs broadcast queries; per-query WindowGroupLimit"),
    ("events_active_users", "explode fan-out + broadcast equality spine join — no BNLJ range scan"),
    ("join_point_in_time", "PIT join = backward as-of on interval starts; single user shuffle"),
    ("events_attribution_linear", "user-keyed time-bounded join; touch count windowed over joined pairs"),
    ("text_bm25_topk", "tf explode carries doc length (no doc-grain join); df + avgdl broadcast; top-20 TakeOrdered"),
    ("decontam_ngram_overlap", "benchmark shingles broadcast; corpus never re-partitions by shingle"),
    ("sim_filtered_topk", "metadata predicate pushed INTO the candidate scan before pairing (pre-filter ANN)"),
    ("join_dynamic_partition_prune", "dynamicpruningexpression in PartitionFilters: runtime directory pruning"),
    ("sim_knn_graph", "block-pair cogroup emits per-vector partial top-k; N^2 never materializes as rows"),
    ("window_rolling_median", "holistic rolling median as bounded collect_list frame; one user exchange"),
    ("data_skew_report", "per-key collapse then tiny stats agg; exact p99 sorts keys, not rows"),
    ("gdpr_user_erasure", "broadcast anti-join erase at scan speed; audits share the scans"),
    ("table_fingerprint", "map-side hashing + 1-row partials; zero data shuffle"),
    ("text_inverted_index", "postings assemble in ONE term-keyed aggregate; no join"),
    ("events_cusum_drift", "day-grain collapse first; CUSUM = prefix-sum minus running-min windows"),
    ("events_time_weighted_avg", "LEAD window and final aggregate share one user exchange"),
    # round-4 additions
    ("events_rfm", "three exact NTILEs via range-partitioned windows + broadcast offset tables; NO single-partition WindowExec"),
    ("events_pareto_share", "fused global rank + running share over one range stage; offset table broadcast"),
    ("events_survival_curve", "lifetime-grain KM curve; at-risk = suffix sum window, no total-users pass"),
    ("agg_kmv_distinct", "distinct-collapse shuffle then per-group rank; sketch estimate from k-th smallest hash"),
    ("udf_arrow_grouped", "FlatMapGroupsInArrow grouped-map: Arrow batches, no pandas conversion"),
    # round-8 third-pass additions
    ("data_dsir_select", "broadcast log-ratio table; fixed-order fold; TakeOrderedAndProject top-k"),
    ("data_epoch_shuffle", "map-side salted shard + (epoch,shard)-partitioned windows; no global sort"),
    ("pareto_skyline", "two-phase bucket-prefix running max; only the B-row carry is single-partition"),
    ("sample_reservoir_group", "per-stratum WindowGroupLimit: map tasks forward <= k rows per stratum"),
    ("sim_hard_negatives", "band filter map-side BEFORE the per-anchor WindowGroupLimit rank"),
    ("multimodal_phash_dedup", "distinct-hash collapse -> band bucket join; hamming as bit_count(xor) codegen"),
    ("kmeans_parallel_init", "weights aggregate is the ONLY keyed exchange; distances are literal-array map passes"),
    # round-9 additions
    ("data_sequence_pack", "ONE (shard, class) exchange; slot math rides the row_number window, no joins"),
    ("dedup_substring_cut", "clean docs pass through without token explode; touched-set joins pinned shuffle-hash"),
    ("dedup_semantic_kmeans", "pair join salted to (cid, band): parallelism k*B, skewed cluster cannot own one task"),
    ("dedup_bloom_prefilter", "bit set broadcast by construction; exact confirm only over bloom-positive grams"),
    ("data_temperature_mix", "two map-side corpus passes; |domains|-row rate table broadcast, checkpointed once"),
    ("agg_dp_laplace", "one hash aggregate; noise transform at |groups| grain, zero extra exchanges"),
    ("ts_holt_linear", "one map-side bucket count; recursion at series grain inside FlatMapGroupsInPandas"),
    ("sample_coreset_kmeans", "two corpus passes (mean, d2-checkpoint); selection map-side, no point-grain shuffle"),
    ("agg_ttest_welch", "both arms' moments in ONE conditional hash aggregate; no arm join"),
    # round-10 additions
    ("agg_quantile_sketch", "bucket-grain partial+final hash agg; window/probe touch <=233 sketch rows"),
    ("dedup_cdc_chunks", "boundary filter map-side in the Generate stage; disjoint union, no distinct exchange"),
    ("graph_kcore", "per-round alive set broadcast into the checkpointed edge relation; one count agg per peel"),
    ("dedup_cdc_incremental", "per-lang accounting over the checkpointed probe; single delta-side Exchange asserted in-key"),
    ("sample_weighted_reservoir", "A-Res key map-side in the scan stage; global top-k is TakeOrderedAndProject"),
]


def main() -> None:
    from flink_kmeans_spark.plans.registry import specs
    from flink_kmeans_spark.session import get_spark
    from flink_kmeans_spark.operators import kmeans as km
    from flink_kmeans_spark.sources import load_table

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    all_specs = specs()

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `tools/dump_plans.py` at sf0.01 (plans are",
        "scale-invariant in shape; AQE may re-plan exchanges at runtime).",
        "Each section states the property the plan is built to exhibit;",
        "`tests/test_plans.py` asserts these properties in CI.",
        "",
    ]
    for key, why in SHOWCASE:
        df = all_specs[key].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out += [f"## {key}", "", f"**Property:** {why}", "", "```", plan.strip(), "```", ""]

    # the K-Means iteration plan (not a registry key)
    e = load_table(spark, sf_dir, "embeddings")
    cents = km.init_centroids(e, 10)
    assigned = km.assign(e, cents)
    plan = assigned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    out += [
        "## kmeans assign (iteration hot path)",
        "",
        "**Property:** pure map — the only 'join' is the single-row",
        "centroid-block broadcast; no hash/range exchange of the points.",
        "",
        "```",
        plan.strip(),
        "```",
        "",
    ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")


if __name__ == "__main__":
    main()
