"""Decompose the frontier scheduling pass's fixed (non-scaling) overhead.

Times, in one warm JVM at a given core count:
  (a) bloom collect+broadcast alone (8 MB bitmaps)
  (b) exact-side broadcast relation build alone (seen keys -> noop join)
  (c) the full fused pass (schedule_seed_list, prebuilt, with the exact
      index built outside the timed region like the bloom)
  (d) the branch pass: bloom tag + shuffle-hash exact anti-join on the
      maybe-seen subset (no serial broadcast build)

Usage: python scripts_spark/overhead_probe.py [cores] [n_urls]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from post_processor_spark import canon, fixtures, frontier  # noqa: E402
from post_processor_spark import seen as seen_mod  # noqa: E402
from post_processor_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_urls = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000
    spark = get_spark(cores=cores, app_name=f"probe-{cores}",
                      shuffle_partitions=cores * 2)
    n_hosts = max(200, n_urls // 50)

    def seeds():
        return fixtures.synthetic_seed_frontier(
            spark, n_urls, n_hosts=n_hosts, mega_host_share=0.3, seed=99
        )

    seen_tbl = (
        canon.with_canonical(seeds().filter(F.col("seq") % 5 == 0))
        .select("url_hash", "host_hash", F.lit(0).alias("generation"))
        .persist()
    )
    bloom_df = seen_mod.build_bloom(seen_tbl).persist()
    bloom_df.count()
    idx_df = seen_mod.build_exact_index(seen_tbl).persist()
    idx_df.count()
    n_seen = seen_tbl.count()

    out = {"cores": cores, "n_urls": n_urls, "n_seen": n_seen}

    # (a) bloom collect + sc.broadcast
    t0 = time.time()
    import numpy as np
    bitmaps = {
        int(r["bucket"]): np.frombuffer(r["bitmap"], dtype=np.uint8)
        for r in bloom_df.collect()
    }
    bc = spark.sparkContext.broadcast(bitmaps)
    out["a_bloom_collect_bcast_s"] = round(time.time() - t0, 2)
    bc.destroy()

    # (b) exact-side broadcast relation build: join a 1-row probe against
    # the broadcast seen side; the measured time is dominated by
    # collect+build of the relation
    probe = spark.range(1).select(F.lit(123).cast("long").alias("_mk"))
    t0 = time.time()
    probe.join(
        F.broadcast(seen_tbl.select(F.col("url_hash").alias("_mk"))),
        "_mk", "left_anti",
    ).count()
    out["b_exact_bcast_build_s"] = round(time.time() - t0, 2)

    def reforce():
        # clearCache at the end of each rep evicts the persisted state
        # too (persist marks survive, entries don't) — re-force so the
        # timed region never rebuilds state lineage
        bloom_df.count()
        idx_df.count()
        seen_tbl.count()

    # warm-up full pass at small n (codegen, python workers)
    r, _ = _fused_pass(spark, 100_000, n_hosts=2000)
    # (c) fused pass
    for rep in range(2):
        reforce()
        rate, n_sched = _fused_pass(spark, n_urls, n_hosts=n_hosts,
                                    seen_tbl=seen_tbl, bloom_df=bloom_df,
                                    idx_df=idx_df)
        out[f"c_fused_rate_rep{rep}"] = round(rate)
    out["n_scheduled"] = n_sched

    # (d) branch pass with shuffle-hash exact join on the maybe subset
    for rep in range(2):
        reforce()
        rate, n2 = _branch_pass(spark, n_urls, n_hosts=n_hosts,
                                seen_tbl=seen_tbl, bloom_df=bloom_df)
        out[f"d_branch_rate_rep{rep}"] = round(rate)
    assert n2 == n_sched, (n2, n_sched)
    print(json.dumps(out))
    spark.stop()


def _fused_pass(spark, n_urls, n_hosts, seen_tbl=None, bloom_df=None, idx_df=None):
    seeds = fixtures.synthetic_seed_frontier(
        spark, n_urls, n_hosts=n_hosts, mega_host_share=0.3, seed=99)
    if seen_tbl is None:
        seen_tbl = (
            canon.with_canonical(seeds.filter(F.col("seq") % 5 == 0))
            .select("url_hash", "host_hash", F.lit(0).alias("generation"))
        )
        bloom_df = seen_mod.build_bloom(seen_tbl)
    t0 = time.time()
    sched = frontier.schedule_seed_list(
        seeds, seen_tbl, generation=1, budget_per_host=64, salt_parts=64,
        bloom=bloom_df, exact_index=idx_df,
    ).filter(F.col("status") == "scheduled")
    n = sched.count()
    dt = time.time() - t0
    spark.catalog.clearCache()
    return n / dt, n


def _branch_pass(spark, n_urls, n_hosts, seen_tbl, bloom_df):
    """Same output as schedule_seed_list but exact resolve = shuffle-hash
    anti-join on ONLY the maybe-seen subset (no serial broadcast build)."""
    seeds = fixtures.synthetic_seed_frontier(
        spark, n_urls, n_hosts=n_hosts, mega_host_share=0.3, seed=99)
    t0 = time.time()
    cand = frontier.seed_candidates(seeds)
    tagged = seen_mod.bloom_filter_candidates(cand, bloom_df)
    definitely = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = (
        tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        .join(
            seen_tbl.select("url_hash").hint("shuffle_hash"),
            "url_hash", "left_anti",
        )
    )
    unseen = definitely.unionByName(maybe).persist()
    sched = frontier.politeness_schedule(
        unseen, generation=1, budget_per_host=64, crawl_delay_sec=1,
        salt_parts=64, dedupe=True,
    ).filter(F.col("status") == "scheduled")
    n = sched.count()
    dt = time.time() - t0
    unseen.unpersist()
    spark.catalog.clearCache()
    return n / dt, n


if __name__ == "__main__":
    main()
