"""Write PLANS.md: the formatted physical plan + plan-quality assertions
for the headline queries — evidence that filters reach the scan, scope
joins broadcast, the relational core stays in whole-stage codegen, and
no accidental cartesian products exist.

Usage: python scripts_spark/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

HEADLINE = [
    "q_pricing_summary", "q_filter_revenue", "q_revenue_by_nation",
    "q_semi_join", "q_referral_edges", "q_dedup_exact", "q_ann_cosine",
    "q_frontier_schedule", "q_seen_filter", "q_head_topk",
    "q_minhash_candidates", "q_embedding_neardup",
    "q_decontaminate", "q_line_dedup", "q_stratified_sample",
    "q_pii_redact", "q_c4_clean", "q_seq_pack", "q_training_pipeline",
    "q_text_profile", "q_contamination_report", "q_holdout_split",
    "q_pagerank", "q_neardup_keep_best",
    "q_asof_join", "q_token_budget", "q_recrawl",
    "q_range_join", "q_temperature_sample", "q_crawl_delta",
    "q_group_quantiles", "q_sitemap_scan", "q_quality_classifier",
    "q_html_main_text", "q_anchor_profile", "q_passage_dedup", "q_warc_scan",
    "q_url_traps", "q_robots_txt",
    "q_hits", "q_redirect_resolve", "q_domain_mix", "q_inverted_index",
    "q_bm25", "q_cocitation", "q_host_graph", "q_adaptive_quality",
    "q_hll_rollup", "q_hll_incremental", "q_theta_overlap",
    "q_kll_quantiles", "q_collocations", "q_media_phash",
    "q_script_profile", "q_weighted_sample", "q_edit_verify",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from post_processor_spark import plans
    from post_processor_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    qs = e.queries()
    out = [
        "# PLANS — physical-plan evidence for the headline queries\n",
        "Generated by scripts_spark/dump_plans.py. Checks: PushedFilters",
        "reach the parquet scan, ReadSchema is pruned, scope/dim joins are",
        "BroadcastHashJoin, no CartesianProduct, WholeStageCodegen spans",
        "cover the relational core.\n",
    ]
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        # execute THIS DataFrame's own queryExecution first: with AQE the
        # pre-execution plan has no final stages or codegen ids, and a
        # noop WRITE builds a separate execution, leaving df's plan
        # unfinalized (every span then reads 0). collect() is safe here —
        # headline queries return small frames at sf0.01 by design.
        df.collect()
        plan = plans.physical_plan(df)
        out.append(f"\n## {name}\n")
        out.append(
            f"- broadcast joins: {plans.count_broadcast_joins(df)}, "
            f"shuffles: {plans.count_shuffles(df)}, "
            f"wholestage-codegen spans: {plans.wholestage_codegen_spans(df)}, "
            f"cartesian: {plans.has_cartesian(df)}\n"
        )
        out.append("```\n" + plan[:4000] + ("\n... (truncated)" if len(plan) > 4000 else "") + "\n```\n")

    # bucketed seen-table anti-join: the storage-partitioned join evidence
    # (state.SnapshotStore bucketed mode) — the seen side must scan with
    # Bucketed: true and NO exchange; only the candidate side shuffles.
    import tempfile

    from pyspark.sql import functions as F

    from post_processor_spark.state import SnapshotStore

    with tempfile.TemporaryDirectory() as d:
        st = SnapshotStore(d)
        seen_rows = spark.range(0, 200_000).select(
            F.xxhash64("id").alias("url_hash"),
            (F.col("id") % 97).alias("host_hash"),
            F.lit(0).cast("int").alias("generation"),
        )
        st.write_bucketed("seen", seen_rows, 0, n_buckets=32)
        cand = spark.range(100_000, 300_000).select(
            F.xxhash64("id").alias("url_hash"), F.col("id").alias("payload")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            join = cand.join(
                st.read(spark, "seen").select("url_hash"), "url_hash", "left_anti"
            )
            join.write.format("noop").mode("overwrite").save()
            plan = plans.physical_plan(join)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        out.append("\n## bucketed_seen_anti_join (storage-partitioned, not a query() — store-backed)\n")
        out.append(
            f"- shuffles: {plans.count_shuffles(join)} (candidate side only; "
            f"seen side scans in place), bucketed scan: {'Bucketed: true' in plan}\n"
        )
        out.append("```\n" + plan[:4000] + ("\n... (truncated)" if len(plan) > 4000 else "") + "\n```\n")

    # fused seed scheduling (frontier.schedule_seed_list): the seed
    # payload must cross exactly ONE exchange — the dedupe window fuses
    # into the politeness host exchange, the seen filter is the narrow
    # 'prebuilt' pandas UDF, and no standalone dedupe (SortAggregate /
    # url_hash hashpartitioning) appears anywhere.
    from post_processor_spark import fixtures, frontier

    seeds = fixtures.synthetic_seed_frontier(
        spark, 50_000, n_hosts=200, mega_host_share=0.3, seed=11
    )
    seen_small = frontier.seed_candidates(seeds).filter(
        F.col("seq") % 5 == 0
    ).select("url_hash", "host_hash", F.lit(0).alias("generation"))
    sched = frontier.schedule_seed_list(
        seeds, seen_small, generation=1, budget_per_host=8, salt_parts=16
    )
    sched.write.format("noop").mode("overwrite").save()
    plan = plans.physical_plan(sched)
    out.append("\n## schedule_seed_list (fused one-exchange seed scheduling — store-independent, not a query())\n")
    out.append(
        f"- shuffles: {plans.count_shuffles(sched)}, "
        f"broadcast joins: {plans.count_broadcast_joins(sched)}, "
        f"standalone-dedupe SortAggregate: {'SortAggregate' in plan}, "
        f"url_hash exchange: {'hashpartitioning(url_hash' in plan}\n"
    )
    out.append("```\n" + plan[:4000] + ("\n... (truncated)" if len(plan) > 4000 else "") + "\n```\n")
    spark.catalog.clearCache()  # schedule_seed_list's internal persist

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
