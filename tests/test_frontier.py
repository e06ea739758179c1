"""Frontier engine tests: seen-set (bloom == exact), politeness
budget/ordering, skew balance, snapshot resume equality (SURVEY.md §5)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from post_processor_spark import fixtures, frontier, seen as seen_mod
from post_processor_spark.state import SnapshotStore


def test_bloom_matches_exact(spark):
    cands = frontier.canonicalize_candidates(
        fixtures.synthetic_seed_frontier(spark, 3000, n_hosts=40, seed=1)
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    )
    # half the candidates are 'seen'
    seen_tbl = cands.filter(F.col("seq") % 2 == 0).select(
        "url_hash", "host_hash", F.lit(0).alias("generation")
    )
    exact = seen_mod.filter_unseen(cands, seen_tbl, use_bloom=False)
    bloom = seen_mod.filter_unseen(cands, seen_tbl, use_bloom=True)
    a = sorted(r["url_hash"] for r in exact.select("url_hash").collect())
    b = sorted(r["url_hash"] for r in bloom.select("url_hash").collect())
    assert a == b
    assert len(a) == cands.filter(F.col("seq") % 2 == 1).count()


def test_prebuilt_index_matches_exact(spark):
    """The 'prebuilt' strategy (bloom + sorted-shard searchsorted in one
    narrow UDF) must select exactly the rows of the plain exact
    anti-join — bloom false positives resolved, no row lost."""
    cands = frontier.canonicalize_candidates(
        fixtures.synthetic_seed_frontier(spark, 3000, n_hosts=40, seed=7)
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    ).persist()
    seen_tbl = cands.filter(F.col("seq") % 3 == 0).select(
        "url_hash", "host_hash", F.lit(0).alias("generation")
    )
    exact = seen_mod.filter_unseen(cands, seen_tbl, use_bloom=False)
    pre = seen_mod.filter_unseen(
        cands, seen_tbl, use_bloom=True, exact_join="prebuilt"
    )
    a = sorted(r["url_hash"] for r in exact.select("url_hash").collect())
    b = sorted(r["url_hash"] for r in pre.select("url_hash").collect())
    assert a == b
    cands.unpersist()


def test_merge_exact_index_unions_deltas(spark):
    """Per-generation sorted-shard deltas, union-merged, must be
    byte-identical to an index built over the full seen table."""
    cands = frontier.canonicalize_candidates(
        fixtures.synthetic_seed_frontier(spark, 2000, n_hosts=20, seed=3)
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    ).persist()
    a = cands.filter(F.col("seq") % 2 == 0).select("url_hash")
    b = cands.filter(F.col("seq") % 2 == 1).select("url_hash")
    deltas = seen_mod.build_exact_index(a).unionByName(seen_mod.build_exact_index(b))
    merged = {
        r["bucket"]: r["keys"]
        for r in seen_mod.merge_exact_index(deltas).collect()
    }
    full = {
        r["bucket"]: r["keys"]
        for r in seen_mod.build_exact_index(cands.select("url_hash")).collect()
    }
    assert merged == full
    cands.unpersist()


def test_schedule_seed_list_prebuilt_matches_branch(spark):
    """schedule_seed_list output is strategy-invariant: the prebuilt
    narrow-UDF seen filter must schedule the identical set (url_hash,
    status, not_before) as the branch-path bloom tag + anti-join."""
    seeds = fixtures.synthetic_seed_frontier(spark, 4000, n_hosts=30, seed=11)
    seen_tbl = frontier.canonicalize_candidates(
        fixtures.synthetic_seed_frontier(spark, 4000, n_hosts=30, seed=11)
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    ).filter(F.col("seq") % 5 == 0).select(
        "url_hash", "host_hash", F.lit(0).alias("generation")
    ).persist()
    outs = {}
    for strat in ("branch", "prebuilt"):
        out = frontier.schedule_seed_list(
            seeds, seen_tbl, generation=1, budget_per_host=4, salt_parts=4,
            exact_join=strat,
        )
        outs[strat] = sorted(
            (r["url_hash"], r["status"], str(r["not_before"]))
            for r in out.select("url_hash", "status", "not_before").collect()
        )
        spark.catalog.clearCache()
    assert outs["branch"] == outs["prebuilt"]
    seen_tbl.unpersist()


@pytest.mark.parametrize("strat", ["broadcast_fused", "shuffle_hash", "no_such_plan"])
def test_filter_unseen_rejects_unknown_exact_join(spark, strat):
    """Only the 'branch' and 'prebuilt' plans exist; any other name —
    including the removed strategies — fails loudly instead of silently
    running a default plan."""
    cands = spark.range(3).select(F.col("id").alias("url_hash"))
    with pytest.raises(ValueError, match="exact_join"):
        seen_mod.filter_unseen(cands, cands, exact_join=strat)


def test_merge_bloom_or_reduces_deltas(spark):
    """OR-merging per-generation delta bitmaps must equal a bloom built
    over the union of keys (associativity of the incremental design)."""
    cands = frontier.canonicalize_candidates(
        fixtures.synthetic_seed_frontier(spark, 2000, n_hosts=20, seed=3)
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    ).persist()
    a = cands.filter(F.col("seq") % 2 == 0).select("url_hash")
    b = cands.filter(F.col("seq") % 2 == 1).select("url_hash")
    deltas = seen_mod.build_bloom(a).unionByName(seen_mod.build_bloom(b))
    merged = {
        r["bucket"]: r["bitmap"] for r in seen_mod.merge_bloom(deltas).collect()
    }
    full = {
        r["bucket"]: r["bitmap"]
        for r in seen_mod.build_bloom(cands.select("url_hash")).collect()
    }
    assert merged == full
    cands.unpersist()


def test_incremental_bloom_matches_full_rebuild(spark):
    """After several generations the store's delta-log bloom, OR-merged,
    must be byte-identical to a bloom rebuilt from the full seen table at
    the store's recorded geometry — proof the per-generation O(|seen|)
    rescan is gone without changing membership semantics."""
    docs = fixtures.synthetic_documents(spark, 400, n_hosts=12, seed=31).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(60)
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        frontier.run_generations(
            spark, store, docs, seeds, n_generations=3, budget_per_host=4,
            use_bloom=True, compact_every=2,  # exercises the compact fold too
        )
        merged = {
            r["bucket"]: r["bitmap"]
            for r in seen_mod.merge_bloom(store.read(spark, "bloom")).collect()
        }
        bits = store.table_meta("bloom")["bits_per_bucket"]
        full = {
            r["bucket"]: r["bitmap"]
            for r in seen_mod.build_bloom(
                store.read(spark, "seen"), bits_per_bucket=bits
            ).collect()
        }
        assert merged == full
    docs.unpersist()


def _bloom_fpr(spark, store, n_probe: int = 20_000) -> float:
    """False-positive rate of the store's merged bloom on n_probe hashed
    keys that are not in its seen table."""
    probe = spark.range(n_probe).select(
        F.xxhash64(F.col("id"), F.lit("non-member")).alias("url_hash")
    ).join(store.read(spark, "seen").select("url_hash"), "url_hash", "left_anti")
    tagged = seen_mod.bloom_filter_candidates(
        probe, seen_mod.merge_bloom(store.read(spark, "bloom"))
    )
    row = tagged.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("maybe_seen").cast("long")).alias("fp")
    ).first()
    return row["fp"] / row["n"]


def test_bloom_sized_from_key_count_with_resize(spark):
    """The store bloom is sized from its key count: bootstrap sizes it for
    twice the seeds, and a generation that would fill it past the target
    FPR rebuilds it at twice the new count. After bootstrap plus three
    generations the manifest's key count equals the seen rows, the merged
    bloom is within 4x of bloom_bits(n), and the FPR on non-members stays
    near BLOOM_FPR. A run resumed after generation 1, whose resumed span
    includes the resize, ends in the same frontier, seen set and bloom."""
    docs = fixtures.synthetic_documents(spark, 1000, n_hosts=20, seed=37).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(100)
    opts = dict(budget_per_host=6, compact_every=0, exact_join="prebuilt")
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        s_full = SnapshotStore(d1)
        out = frontier.run_generations(spark, s_full, docs, seeds, 3, **opts)
        s_resume = SnapshotStore(d2)
        frontier.run_generations(spark, s_resume, docs, seeds, 1, **opts)
        before = s_resume.table_meta("bloom")["bits_per_bucket"]
        resumed = frontier.run_generations(
            spark, s_resume, docs, None, 2, start_generation=1, **opts
        )
        assert s_resume.table_meta("bloom")["bits_per_bucket"] > before  # resized
        assert [(g["scheduled"], g["new"]) for g in out[2:]] == [
            (g["scheduled"], g["new"]) for g in resumed
        ]
        for table in ("frontier", "seen", "bloom"):
            a, b = s_full.read(spark, table), s_resume.read(spark, table)
            assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0, table
        assert s_full.table_meta("bloom") == s_resume.table_meta("bloom")

        n = s_full.read(spark, "seen").count()
        assert s_full.table_meta("bloom")["keys"] == n
        bloom = seen_mod.merge_bloom(s_full.read(spark, "bloom")).collect()
        assert sum(len(r["bitmap"]) for r in bloom) <= 4 * seen_mod.bloom_bits(n) / 8
        assert _bloom_fpr(spark, s_full) <= 0.03
    docs.unpersist()


def test_legacy_unsized_bloom_is_rebuilt_at_next_admit(spark):
    """A store from before the bloom was sized (a 64 x 1 Mbit bloom, no
    key count in the manifest) runs exactly like a fresh one, and its
    first admit rebuilds the bloom at the sized geometry in compact mode,
    so no delta of another size is ever appended to the legacy bitmaps."""
    docs = fixtures.synthetic_documents(spark, 400, n_hosts=12, seed=31).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(60)
    runs = {}
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        for kind, d in (("fresh", d1), ("legacy", d2)):
            store = SnapshotStore(d)
            frontier.bootstrap(spark, store, seeds)
            if kind == "legacy":
                # the bloom pre-sizing code wrote, with no manifest record
                store.write_many([(
                    "bloom", seen_mod.build_bloom(store.read(spark, "seen")), 0,
                    "compact",
                )])
                assert store.table_meta("bloom") == {}
            runs[kind] = [
                frontier.run_generation(
                    spark, store, docs, g, budget_per_host=4, compact_every=0,
                    exact_join="prebuilt",
                )
                for g in (1, 2)
            ]
            if kind == "legacy":
                meta = store.table_meta("bloom")
                assert meta["keys"] == store.read(spark, "seen").count()
                assert meta["bits_per_bucket"] < 1 << 20
                # generation 1 rebuilt (compacted) the table, generation 2
                # appended one delta at the recorded geometry
                assert store.generations("bloom") == [1, 2]
                lengths = {
                    len(r["bitmap"]) for r in store.read(spark, "bloom").collect()
                }
                assert lengths == {meta["bits_per_bucket"] // 8}
    assert [(g["scheduled"], g["new"]) for g in runs["legacy"]] == [
        (g["scheduled"], g["new"]) for g in runs["fresh"]
    ]
    docs.unpersist()


def test_seen_side_admits_into_a_fresh_store(spark):
    """SeenSide takes a store that holds no tables yet: admit writes the
    seen rows and a bloom sized for twice their count, and no exact
    index — the seen side bootstrap writes."""
    rows = spark.range(300).select(
        F.xxhash64("id").alias("url_hash"), (F.col("id") % 7).alias("host_hash")
    )
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        store.write_many(seen_mod.SeenSide(spark, store).admit(rows, 300, 0))
        seen = store.read(spark, "seen")
        assert seen.count() == 300
        assert seen.select("url_hash", "host_hash").subtract(rows).count() == 0
        assert store.table_meta("bloom") == {
            "keys": 300, "bits_per_bucket": seen_mod.bloom_bits(600) // 64,
        }
        assert store.read_or_none(spark, "exact_index") is None
        bloom = seen_mod.merge_bloom(store.read(spark, "bloom"))
        tagged = seen_mod.bloom_filter_candidates(rows, bloom)
        assert tagged.filter(~F.col("maybe_seen")).count() == 0


def test_collect_bitmap_rejects_mixed_geometries(spark):
    """A bloom frame mixing bitmap lengths has no single geometry to probe
    with: the collect names the lengths instead of failing on a numpy
    shape error."""
    keys = spark.range(200).select(F.xxhash64("id").alias("url_hash"))
    mixed = seen_mod.build_bloom(keys, bits_per_bucket=1 << 10).unionByName(
        seen_mod.build_bloom(keys, bits_per_bucket=1 << 12)
    )
    with pytest.raises(ValueError, match=r"\[128, 512\]"):
        seen_mod.filter_unseen(keys, keys, bloom=mixed)


def test_politeness_budget_and_order(spark):
    rows = [
        # (url, priority, seq) — one busy host, one quiet host
        *[(f"https://busy.com/{i}", 5 if i else 1, i) for i in range(10)],
        ("https://quiet.com/x", 5, 100),
    ]
    df = spark.createDataFrame(rows, "url string, priority int, seq long")
    pending = frontier.seeds_to_frontier(df)
    out = frontier.politeness_schedule(pending, generation=1, budget_per_host=3,
                                       crawl_delay_sec=2, salt_parts=4)
    sched = out.filter(F.col("status") == "scheduled").collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r)
    # budget respected per host
    assert len(by_host["busy.com"]) == 3
    assert len(by_host["quiet.com"]) == 1
    # crawl order: priority asc then seq asc — busy.com seq0 has priority 1
    busy = sorted(by_host["busy.com"], key=lambda r: r["not_before"])
    assert [r["seq"] for r in busy] == [0, 1, 2]
    # crawl-delay slots: not_before spaced by delay within the host... slots
    # are global ranks, so just check they're strictly increasing + distinct
    nb = [r["not_before"] for r in busy]
    assert nb == sorted(nb) and len(set(nb)) == 3
    # overflow stays pending
    assert out.filter(F.col("status") == "pending").count() == 11 - 4


def test_slim_dedupe_matches_generic(spark):
    """_dedupe_candidates_slim (delta-encoded exchange payload) must
    reproduce dedupe_candidates exactly — including on adversarial URLs
    where the post-shuffle host recovery would be wrong and the encode
    must fall back to carrying the explicit value: scheme-less URLs with
    an embedded '://' in the query, userinfo/port/fragment variants,
    uppercase hosts, bare trailing '?'."""
    rows = [
        ("https://a.example.com/p1", 1),
        ("https://a.example.com/p1#frag", 2),          # dup of seq 1 post-canon
        ("HTTPS://A.Example.COM/p1", 3),               # dup (case)
        ("https://user:pw@b.example.com:443/x?q=1", 4),
        ("b.example.com/redirect?u=https://evil.com/x", 5),  # scheme-less + embedded ://
        ("c.example.com/plain", 6),
        ("mailto:someone@d.example.com", 7),
        ("https://e.example.com/y?", 8),               # bare trailing ?
        ("https://e.example.com/y", 9),                # dup of seq 8
        ("ftp://f.example.com:2121/z", 10),
    ]
    seeds = spark.createDataFrame(rows, "url string, seq long").select(
        "url", F.lit(5).alias("priority"), "seq",
        F.lit(0).alias("generation"), F.lit(0).cast("long").alias("sub"),
    )
    slim = frontier.canonicalize_candidates(seeds).select(*frontier._DEDUP_COLS)
    cols = frontier._DEDUP_COLS
    generic = sorted(
        tuple(r[c] for c in cols)
        for r in frontier.dedupe_candidates(slim).collect()
    )
    slim_out = sorted(
        tuple(r[c] for c in cols)
        for r in frontier._dedupe_candidates_slim(slim).select(*cols).collect()
    )
    assert slim_out == generic
    # the dedupe itself worked: 3 url_hash-duplicates collapsed
    assert len(slim_out) == 7


def test_politeness_slim_exchange_roundtrip(spark):
    """politeness_schedule's slim exchange (url/host ride as NULL when
    recoverable from canonical_url, re-derived post-window) must return
    byte-identical url/host — including adversarial URLs where naive
    post-shuffle recovery is wrong and the encode must carry explicit
    values (scheme-less + embedded '://', userinfo/port, uppercase
    hosts, bare trailing '?', mailto/ftp schemes)."""
    rows = [
        ("https://a.example.com/p1", 1),
        ("HTTPS://A.Example.COM/p2", 2),
        ("https://user:pw@b.example.com:443/x?q=1", 3),
        ("b.example.com/redirect?u=https://evil.com/x", 4),
        ("c.example.com/plain", 5),
        ("mailto:someone@d.example.com", 6),
        ("https://e.example.com/y?", 7),
        ("ftp://f.example.com:2121/z", 8),
    ]
    seeds = spark.createDataFrame(rows, "url string, seq long").select(
        "url", F.lit(5).alias("priority"), "seq",
        F.lit(0).alias("generation"), F.lit(0).cast("long").alias("sub"),
    )
    pending = frontier.canonicalize_candidates(seeds).select(*frontier._DEDUP_COLS)
    out = frontier.politeness_schedule(pending, generation=1, budget_per_host=2)
    got = sorted((r["url"], r["host"]) for r in out.collect())
    want = sorted((r["url"], r["host"]) for r in pending.collect())
    assert got == want
    assert len(got) == len(rows)


def test_fused_schedule_matches_standalone(spark):
    """schedule_seed_list (one-exchange fused dedupe+politeness + the
    default 'prebuilt' narrow seen filter) must reproduce the standalone
    pipeline (seeds_to_frontier dedupe → filter_unseen branch path →
    politeness) row-for-row on a duplicate-heavy, mega-host-skewed seed
    list — the
    skew_threshold is forced low so the salted branch's fused dedupe is
    exercised too."""
    from post_processor_spark import seen as seen_mod

    base = fixtures.synthetic_seed_frontier(
        spark, 4000, n_hosts=10, mega_host_share=0.4, seed=7
    )
    # 1/3 of URLs appear twice with a LATER crawl-order key — the dedupe
    # must keep the original row
    dup = base.filter(F.col("seq") % 3 == 0).withColumn(
        "seq", F.col("seq") + 100_000
    )
    seeds = base.unionByName(dup)
    seen_tbl = (
        frontier.seed_candidates(base)
        .filter(F.col("seq") % 5 == 0)
        .select("url_hash", "host_hash", F.lit(0).alias("generation"))
    )

    old = frontier.politeness_schedule(
        seen_mod.filter_unseen(
            frontier.seeds_to_frontier(seeds), seen_tbl, use_bloom=True
        ),
        generation=1, budget_per_host=4, salt_parts=4, skew_threshold=64,
    )
    new = frontier.schedule_seed_list(
        seeds, seen_tbl, generation=1, budget_per_host=4, salt_parts=4,
        skew_threshold=64,
    )
    cols = frontier.FRONTIER_COLS
    rows_old = sorted(tuple(r[c] for c in cols) for r in old.select(*cols).collect())
    rows_new = sorted(tuple(r[c] for c in cols) for r in new.select(*cols).collect())
    assert rows_new == rows_old
    assert len(rows_new) > 0
    # both skew branches actually scheduled something
    sched = [r for r in rows_new if r[cols.index("status")] == "scheduled"]
    assert len(sched) > 0

    # plan evidence: the fused path has NO standalone dedupe — no
    # SortAggregate (the min_by struct fallback) and no url_hash-keyed
    # exchange anywhere; candidate payload crosses only host exchanges
    new.count()
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "hashpartitioning(url_hash" not in plan


def test_skew_two_phase_topk(spark):
    """Mega-host: per-host budget still exact under salted two-phase."""
    df = fixtures.synthetic_seed_frontier(spark, 5000, n_hosts=50,
                                          mega_host_share=0.8, seed=3)
    pending = frontier.seeds_to_frontier(df)
    out = frontier.politeness_schedule(pending, generation=1, budget_per_host=5,
                                       salt_parts=8)
    counts = (
        out.filter(F.col("status") == "scheduled").groupBy("host").count().collect()
    )
    assert all(r["count"] <= 5 for r in counts)
    mega = [r for r in counts if r["host"] == "host0.example.com"]
    assert mega and mega[0]["count"] == 5
    # exactness: scheduled set == naive global top-5 per host
    naive = (
        pending.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark").sql.Window.partitionBy("host_hash").orderBy(
                    *frontier.ORDER_COLS
                )
            ),
        )
        .filter(F.col("rn") <= 5)
        .select("url_hash")
    )
    got = out.filter(F.col("status") == "scheduled").select("url_hash")
    assert got.subtract(naive).count() == 0 and naive.subtract(got).count() == 0


@pytest.mark.slow
def test_generations_and_resume(spark):
    docs = fixtures.synthetic_documents(spark, 400, n_hosts=20, seed=11).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(50)

    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        s_full = SnapshotStore(d1)
        full = frontier.run_generations(
            spark, s_full, docs, seeds, n_generations=3, budget_per_host=4,
            use_bloom=False,
        )
        assert full[0]["seeded"] == 50
        assert all(g["scheduled"] > 0 for g in full[1:])

        # resume: replay gens 1..2 into a second store, stop, resume gen 3
        s_resume = SnapshotStore(d2)
        frontier.run_generations(
            spark, s_resume, docs, seeds, n_generations=2, budget_per_host=4,
            use_bloom=False,
        )
        frontier.run_generations(
            spark, s_resume, docs, None, n_generations=1,
            start_generation=2, budget_per_host=4, use_bloom=False,
        )
        for table in ("frontier", "seen"):
            a = s_full.read(spark, table, 3)
            b = s_resume.read(spark, table, 3)
            assert a.count() == b.count()
            assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0

        # crawl ordering contract: scheduled set per generation identical
        fa = s_full.read(spark, "frontier", 3).filter("status != 'pending'")
        fb = s_resume.read(spark, "frontier", 3).filter("status != 'pending'")
        cols = ["url_hash", "sched_gen", "not_before"]
        assert fa.select(cols).subtract(fb.select(cols)).count() == 0


@pytest.mark.slow
def test_generation_loop_prebuilt_matches_branch(spark):
    """run_generation with exact_join='prebuilt' must produce the same
    per-generation scheduled/new counts and pending view as the branch
    path, AND the store's merged exact-index delta log must equal a full
    rebuild from the seen table (incremental maintenance is lossless)."""
    docs = fixtures.synthetic_documents(spark, 400, n_hosts=20, seed=13).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(50)

    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        s_branch = SnapshotStore(d1)
        branch = frontier.run_generations(
            spark, s_branch, docs, seeds, n_generations=4, budget_per_host=4,
            compact_every=2,
        )
        s_pre = SnapshotStore(d2)
        pre = frontier.run_generations(
            spark, s_pre, docs, seeds, n_generations=4, budget_per_host=4,
            compact_every=2, exact_join="prebuilt",
        )
        assert [g.get("scheduled") for g in branch] == [
            g.get("scheduled") for g in pre
        ]
        assert [g.get("new") for g in branch if "new" in g] == [
            g.get("new") for g in pre if "new" in g
        ]
        pv_a = frontier.pending_view(spark, s_branch).select("url_hash")
        pv_b = frontier.pending_view(spark, s_pre).select("url_hash")
        assert pv_a.subtract(pv_b).count() == 0
        assert pv_b.subtract(pv_a).count() == 0

        merged = {
            r["bucket"]: r["keys"]
            for r in seen_mod.merge_exact_index(
                s_pre.read(spark, "exact_index")
            ).collect()
        }
        full = {
            r["bucket"]: r["keys"]
            for r in seen_mod.build_exact_index(
                s_pre.read(spark, "seen")
            ).collect()
        }
        assert merged == full
    docs.unpersist()


@pytest.mark.slow
def test_branch_generation_keeps_existing_exact_index_current(spark):
    """A 'branch' generation on a store whose exact index a 'prebuilt'
    generation already built must add its admitted keys to that index.
    Otherwise a later 'prebuilt' generation merges an index missing those
    keys: a rediscovered key passes the bloom as 'maybe', misses the
    searchsorted probe, and is re-admitted as new."""
    docs = fixtures.synthetic_documents(spark, 300, n_hosts=10, seed=43).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(60)
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        frontier.bootstrap(spark, store, seeds)
        for g, plan in enumerate(["prebuilt", "branch", "prebuilt", "prebuilt"], 1):
            frontier.run_generation(
                spark, store, docs, g, budget_per_host=3, compact_every=0,
                exact_join=plan,
            )
        merged = {
            r["bucket"]: r["keys"]
            for r in seen_mod.merge_exact_index(store.read(spark, "exact_index")).collect()
        }
        full = {
            r["bucket"]: r["keys"]
            for r in seen_mod.build_exact_index(store.read(spark, "seen")).collect()
        }
        assert sorted(merged) == sorted(full)
        for bucket, keys in full.items():
            assert merged[bucket] == keys, bucket
    docs.unpersist()


@pytest.mark.slow
def test_compaction_preserves_state_and_resume(spark):
    """Delta-log frontier with compaction must be indistinguishable from
    the pure append log: same scheduled sets, same pending view, and a
    resume from a compacted store must continue identically."""
    docs = fixtures.synthetic_documents(spark, 400, n_hosts=20, seed=11).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(50)

    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        s_plain = SnapshotStore(d1)
        plain = frontier.run_generations(
            spark, s_plain, docs, seeds, n_generations=4, budget_per_host=4,
            use_bloom=False, compact_every=0,
        )
        s_comp = SnapshotStore(d2)
        comp = frontier.run_generations(
            spark, s_comp, docs, seeds, n_generations=4, budget_per_host=4,
            use_bloom=False, compact_every=2,
        )
        assert [g.get("scheduled") for g in plain] == [g.get("scheduled") for g in comp]

        pv_a = frontier.pending_view(spark, s_plain).select("url_hash")
        pv_b = frontier.pending_view(spark, s_comp).select("url_hash")
        assert pv_a.subtract(pv_b).count() == 0 and pv_b.subtract(pv_a).count() == 0

        cols = ["url_hash", "sched_gen", "not_before"]
        done_a = s_plain.read(spark, "frontier").filter("status != 'pending'").select(cols)
        done_b = s_comp.read(spark, "frontier").filter("status != 'pending'").select(cols)
        assert done_a.subtract(done_b).count() == 0 and done_b.subtract(done_a).count() == 0

        # compaction actually dereferenced old deltas (4 gens, compacted at 4)
        assert s_comp.generations("frontier") == [4]

        # resume one more generation from the compacted store — must match
        # resuming from the plain store
        more_a = frontier.run_generations(
            spark, s_plain, docs, None, n_generations=1, start_generation=4,
            budget_per_host=4, use_bloom=False, compact_every=0,
        )
        more_b = frontier.run_generations(
            spark, s_comp, docs, None, n_generations=1, start_generation=4,
            budget_per_host=4, use_bloom=False, compact_every=0,
        )
        assert more_a[0]["scheduled"] == more_b[0]["scheduled"]
        assert more_a[0]["new"] == more_b[0]["new"]


def test_head_cache_schedules_exactly_like_full_rank(spark):
    """The head cache must schedule EXACTLY the rows a full-pending rank
    would, per generation, including hosts whose backlog overflows the
    head (cap K·B = (compact_every+1)·B = 6 here vs a 40-row host)."""
    docs = fixtures.synthetic_documents(spark, 500, n_hosts=8, seed=41).persist()
    # one mega-host backlog: many seeds on host0, few elsewhere
    seeds = docs.select(
        "url", F.lit(1).alias("priority"), F.col("seq")
    ).limit(120)
    results = {}
    # compact_every=0 turns the head cache off: the full-rank reference
    for mode, compact_every in ((True, 2), (False, 0)):
        with tempfile.TemporaryDirectory() as d:
            store = SnapshotStore(d)
            out = frontier.run_generations(
                spark, store, docs, seeds, n_generations=7, budget_per_host=2,
                use_bloom=False, compact_every=compact_every,
            )
            done = sorted(
                r["url_hash"]
                for r in store.read(spark, "frontier")
                .filter("status = 'done'")
                .select("url_hash")
                .collect()
            )
            results[mode] = ([(g["scheduled"], g["new"]) for g in out[1:]], done)
    assert results[True][0] == results[False][0]
    assert results[True][1] == results[False][1]
    docs.unpersist()


def test_head_cache_resume_identical(spark):
    """Resume must restore the head snapshot: continuing a head-cache run
    schedules the same rows as the uninterrupted run."""
    docs = fixtures.synthetic_documents(spark, 300, n_hosts=10, seed=43).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(60)
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        s_full = SnapshotStore(d1)
        full = frontier.run_generations(
            spark, s_full, docs, seeds, n_generations=5, budget_per_host=3,
            use_bloom=False, compact_every=2,
        )
        s_resume = SnapshotStore(d2)
        frontier.run_generations(
            spark, s_resume, docs, seeds, n_generations=3, budget_per_host=3,
            use_bloom=False, compact_every=2,
        )
        resumed = frontier.run_generations(
            spark, s_resume, docs, None, n_generations=2, start_generation=3,
            budget_per_host=3, use_bloom=False, compact_every=2,
        )
        assert [(g["scheduled"], g["new"]) for g in full[4:]] == [
            (g["scheduled"], g["new"]) for g in resumed
        ]
    docs.unpersist()


def test_apply_robots(spark):
    rows = [
        ("https://a.com/private/x", 5, 0),
        ("https://a.com/public/y", 5, 1),
        ("https://b.com/private/z", 5, 2),   # no robots entry for b.com
        ("https://a.com/priv", 5, 3),        # prefix of '/private' itself not matched
    ]
    cands = frontier.canonicalize_candidates(
        spark.createDataFrame(rows, "url string, priority int, seq long")
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private/", "/tmp/"])], "host string, disallow array<string>"
    )
    out = {r["url"]: r["robots_blocked"] for r in frontier.apply_robots(cands, robots).collect()}
    assert out["https://a.com/private/x"] is True
    assert out["https://a.com/public/y"] is False
    assert out["https://b.com/private/z"] is False
    assert out["https://a.com/priv"] is False


def test_apply_robots_allow_overrides(spark):
    """REP longest-match: a longer Allow beats a shorter Disallow; a
    longer Disallow beats a shorter Allow; on equal length the Allow wins
    (RFC 9309 §2.2.2 least-restrictive tie-break)."""
    rows = [
        ("https://a.com/private/pub/x", 5, 0),   # allow /private/pub/ wins
        ("https://a.com/private/other", 5, 1),   # disallow /private/ wins
        ("https://a.com/tie", 5, 2),             # /tie in both → allow wins
        ("https://a.com/open", 5, 3),            # no rule matches
    ]
    cands = frontier.canonicalize_candidates(
        spark.createDataFrame(rows, "url string, priority int, seq long")
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private/", "/tie"], ["/private/pub/", "/tie"])],
        "host string, disallow array<string>, allow array<string>",
    )
    out = {
        r["url"]: r["robots_blocked"]
        for r in frontier.apply_robots(cands, robots).collect()
    }
    assert out["https://a.com/private/pub/x"] is False
    assert out["https://a.com/private/other"] is True
    assert out["https://a.com/tie"] is False
    assert out["https://a.com/open"] is False


def test_robots_block_is_sticky_across_generations(spark):
    docs = fixtures.synthetic_documents(spark, 200, n_hosts=10, seed=21).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(40)
    robots = spark.createDataFrame(
        [("host0.example.com", ["/"])], "host string, disallow array<string>"
    )
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        out = frontier.run_generations(
            spark, store, docs, seeds, n_generations=2, budget_per_host=4,
            use_bloom=False, robots=robots,
        )
        assert out[1]["blocked"] > 0
        # nothing on the blocked host is ever scheduled
        sched = (
            store.read(spark, "frontier")
            .filter("status = 'done'")
            .filter(F.col("host") == "host0.example.com")
        )
        assert sched.count() == 0
        # the robots gate runs at schedule time, so anything on the
        # blocked host discovered BEFORE the last generation has been
        # converted to 'blocked'; only final-generation discoveries may
        # still sit pending (they'd be gated next generation)
        pv = frontier.pending_view(spark, store)
        assert (
            pv.filter(F.col("host") == "host0.example.com")
            .filter(F.col("generation") < 2)
            .count()
            == 0
        )


def test_robots_head_refill_matches_full_pending_oracle(spark):
    """A robots rule introduced mid-crawl blocks an entire host's head:
    every generation's scheduled set must still equal the full-pending
    oracle (top-B non-blocked pending rows in crawl order). The
    run_generation head-refill (robots × head_cache fix) is what makes
    this hold — without it, the blocked head rows drain the host's head
    below B and the host under-schedules until the next compaction
    refill, even though its pending set has plenty of schedulable rows."""
    docs = fixtures.synthetic_documents(spark, 10, n_hosts=3, seed=7)
    rows = [(f"https://x.com/a/{i}", 1, i) for i in range(100)] + [
        (f"https://x.com/b/{i}", 1, 100 + i) for i in range(100)
    ]
    seeds = spark.createDataFrame(rows, "url string, priority int, seq long")
    robots = spark.createDataFrame(
        [("x.com", ["/a"])], "host string, disallow array<string>"
    )
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        out1 = frontier.run_generations(
            spark, store, docs, seeds, n_generations=1, budget_per_host=4,
            compact_every=4, use_bloom=False,
        )
        assert out1[1]["scheduled"] == 4
        # robots appear at generation 2 — the whole remaining head
        # (16 /a rows, head_cap=20 minus 4 scheduled) is now blocked
        out2 = frontier.run_generations(
            spark, store, docs, None, n_generations=3,
            start_generation=1, budget_per_host=4, compact_every=4,
            use_bloom=False, robots=robots,
        )
        assert out2[0]["blocked"] > 0
        assert [o["scheduled"] for o in out2] == [4, 4, 4]
        done = store.read(spark, "frontier").filter(F.col("status") == "done")
        got1 = sorted(r["url"] for r in done.filter("sched_gen = 1").collect())
        assert got1 == sorted(f"https://x.com/a/{i}" for i in range(4))
        # gens 2-4 (gen 4 is a compaction generation — the full-rank
        # path must agree): oracle top-4 non-blocked pending rows are
        # the next four /b rows each generation
        for g, lo in ((2, 0), (3, 4), (4, 8)):
            got = sorted(r["url"] for r in done.filter(f"sched_gen = {g}").collect())
            want = sorted(f"https://x.com/b/{i}" for i in range(lo, lo + 4))
            assert got == want, (g, got, want)


def test_per_host_crawl_delay(spark):
    rows = [(f"https://slow.com/{i}", 5, i) for i in range(3)] + [
        (f"https://fast.com/{i}", 5, 10 + i) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "url string, priority int, seq long")
    pending = frontier.seeds_to_frontier(df)
    delays = spark.createDataFrame(
        [("slow.com", 5)], "host string, crawl_delay_sec int"
    ).select(
        F.xxhash64("host").alias("host_hash"), "crawl_delay_sec"
    )
    out = frontier.politeness_schedule(
        pending, generation=1, budget_per_host=3, crawl_delay_sec=1,
        host_delays=delays,
    ).filter("status = 'scheduled'")
    by_host = {}
    for r in out.collect():
        by_host.setdefault(r["host"], []).append(r["not_before"])
    slow = sorted(by_host["slow.com"])
    fast = sorted(by_host["fast.com"])
    assert (slow[1] - slow[0]).total_seconds() == 5.0
    assert (fast[1] - fast[0]).total_seconds() == 1.0


def test_per_host_crawl_delay_across_generations(spark):
    """The crawl-delay guarantee must hold across the generation boundary:
    a host whose delay exceeds the global one gets its own epoch spacing,
    so generation g's last slot and g+1's first slot are >= delay apart."""
    rows = [(f"https://slow.com/{i}", 5, i) for i in range(8)]
    df = spark.createDataFrame(rows, "url string, priority int, seq long")
    pending = frontier.seeds_to_frontier(df).persist()
    delays = spark.createDataFrame(
        [("slow.com", 60)], "host string, crawl_delay_sec int"
    ).select(F.xxhash64("host").alias("host_hash"), "crawl_delay_sec")

    def slots(gen):
        out = frontier.politeness_schedule(
            pending, generation=gen, budget_per_host=3, crawl_delay_sec=1,
            host_delays=delays,
        ).filter("status = 'scheduled'")
        return sorted(r["not_before"] for r in out.collect())

    g1, g2 = slots(1), slots(2)
    assert (g1[1] - g1[0]).total_seconds() == 60.0
    assert (g2[0] - g1[-1]).total_seconds() >= 60.0
    pending.unpersist()


def test_apply_robots_embedded_url_in_query(spark):
    """A '://' inside the query string must not be parsed as the scheme
    separator (it produced a garbage path that under-blocked)."""
    rows = [
        ("https://a.com/private/go?u=https://x.com/y", 5, 0),  # blocked
        ("https://a.com/ok?u=https://x.com/private/z", 5, 1),  # allowed
        ("https://a.com", 5, 2),  # empty path == root
    ]
    cands = frontier.canonicalize_candidates(
        spark.createDataFrame(rows, "url string, priority int, seq long")
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private/"])], "host string, disallow array<string>"
    )
    out = {r["seq"]: r["robots_blocked"] for r in frontier.apply_robots(cands, robots).collect()}
    assert out[0] is True
    assert out[1] is False
    assert out[2] is False
    root = spark.createDataFrame(
        [("a.com", ["/"])], "host string, disallow array<string>"
    )
    out2 = {r["seq"]: r["robots_blocked"] for r in frontier.apply_robots(cands, root).collect()}
    assert out2[2] is True  # bare host = root path, '/' disallow blocks it


def test_bucketed_seen_layout_matches_append(spark):
    """seen_layout='bucketed' must be semantically invisible: identical
    per-generation scheduled/new counts, identical seen membership, and an
    exact resume that auto-detects the layout from the store manifest."""
    docs = fixtures.synthetic_documents(spark, 400, n_hosts=20, seed=11).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(50)
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        s_app = SnapshotStore(d1)
        app = frontier.run_generations(
            spark, s_app, docs, seeds, n_generations=3, budget_per_host=4,
        )
        s_buck = SnapshotStore(d2)
        buck = frontier.run_generations(
            spark, s_buck, docs, seeds, n_generations=2, budget_per_host=4,
            seen_layout="bucketed", seen_buckets=4,
        )
        # resume detects the bucketed layout from the manifest
        buck += frontier.run_generations(
            spark, s_buck, docs, None, n_generations=1, start_generation=2,
            budget_per_host=4,
        )
        assert [g.get("scheduled") for g in app] == [g.get("scheduled") for g in buck]
        assert [g.get("new") for g in app] == [g.get("new") for g in buck]
        a = s_app.read(spark, "seen").select("url_hash", "generation")
        b = s_buck.read(spark, "seen").select("url_hash", "generation")
        assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
        assert s_buck.table_mode("seen") == "bucketed"


def test_bootstrap_rejects_unknown_seen_layout(spark):
    docs = fixtures.synthetic_documents(spark, 10, n_hosts=2, seed=1)
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq"))
    with tempfile.TemporaryDirectory() as d:
        with pytest.raises(ValueError):
            frontier.bootstrap(spark, SnapshotStore(d), seeds, seen_layout="bucket")


def test_trap_gate_blocks_discovered_traps(spark):
    """trap_gate=True: a discovered outlink matching a crawl-trap signal
    (session-id marker here) never enters the frontier or seen state;
    the clean outlink from the same page does. Without the gate the trap
    URL is admitted — pinning that the flag is the only difference."""
    import tempfile

    from post_processor_spark import frontier
    from post_processor_spark.state import SnapshotStore

    trap = "https://host1.example.com/page;jsessionid=deadbeef"
    good = "https://host1.example.com/ok"
    docs = spark.createDataFrame(
        [(
            "d0",
            [("text", "body", "", 0),
             ("link", "a", trap, 1),
             ("link", "b", good, 2)],
            "https://host0.example.com/doc/0", "host0.example.com", 0,
        )],
        "doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "url string, host string, seq long",
    )
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq"))
    for gate, expect_trap in ((False, True), (True, False)):
        with tempfile.TemporaryDirectory() as d:
            store = SnapshotStore(d)
            frontier.run_generations(
                spark, store, docs, seeds, n_generations=1,
                budget_per_host=4, use_bloom=False, trap_gate=gate,
            )
            fr_urls = {r["url"] for r in
                       store.read(spark, "frontier", 1).collect()}
            assert good in fr_urls
            assert (trap in fr_urls) is expect_trap


def test_generation_metrics_rollup_contract(spark):
    """The metrics table written by run_generation must carry, per
    generation: one summary row (partition_id -1) whose scheduled count
    equals BOTH the sum of the per-partition rows and the scheduled
    count the driver reported — pinning the observation+rollup plumbing
    that replaced the per-generation collect."""
    import tempfile

    from post_processor_spark import frontier
    from post_processor_spark.state import SnapshotStore

    docs = fixtures.synthetic_documents(spark, 300, n_hosts=15, seed=23).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(40)
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        stats = frontier.run_generations(
            spark, store, docs, seeds, n_generations=2, budget_per_host=4,
            use_bloom=False,
        )
        m = store.read(spark, "metrics").collect()
        for g in (1, 2):
            rows = [r for r in m if r["generation"] == g]
            summary = [r for r in rows if r["partition_id"] == -1]
            parts = [r for r in rows if r["partition_id"] >= 0]
            assert len(summary) == 1
            assert summary[0]["scheduled"] == sum(r["scheduled"] for r in parts)
            assert summary[0]["scheduled"] == stats[g]["scheduled"]
            assert summary[0]["rows_in"] == stats[g]["rows_in"]
            assert all(r["rows_in"] == summary[0]["rows_in"] for r in parts)
            # the commit is timed apart from wall_ms, which the row carries
            assert stats[g]["commit_ms"] > 0
    docs.unpersist()


def test_generation_job_count_constant_in_g(spark):
    """Steady-state generations must launch the SAME number of Spark
    jobs regardless of how many generations preceded them — the delta-
    log + head-cache + incremental-index design's 'no O(G) driver work'
    claim, pinned structurally (job counts, not wall time: this box's
    throughput swings too much to time-gate). Job counts may SHRINK as
    the crawl dries up (AQE eliminates stages over empty inputs), so the
    pin is monotone: a later generation must never need MORE jobs than
    an earlier one at the same loop position — an O(G) term in the loop
    (per-delta jobs, per-generation collects) would grow it."""
    def job_count():
        # the status store keeps only the newest spark.ui.retainedJobs
        # jobs, so after earlier tests it evicts entries mid-test; job ids
        # are sequential, so the newest id (listed first) counts every job
        jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    docs = fixtures.synthetic_documents(spark, 800, n_hosts=40, seed=13).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(80)
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        frontier.run_generations(
            spark, store, docs, seeds, n_generations=4, budget_per_host=4,
            compact_every=4, use_bloom=True, exact_join="prebuilt",
        )
        counts, plans = [], []
        for g in (5, 6):
            j0 = job_count()
            r = frontier.run_generation(
                spark, store, docs, g, budget_per_host=4, compact_every=4,
                use_bloom=True, exact_join="prebuilt",
            )
            counts.append(job_count() - j0)
            plans.append(r["rank_plans"])
        # like with like: both generations rank in the same plans
        assert plans[0] == plans[1] == {"schedule": "window", "head": "window"}, plans
        assert counts[1] <= counts[0], counts
    docs.unpersist()


def test_zero_scheduled_generation_still_writes_summary_metrics(spark):
    """A generation that schedules NOTHING (robots blocks every pending
    row) must still write its partition_id=-1 summary metrics row — a
    grouping-set aggregation over empty input emits no rows, so without
    the literal-fallback union the generation would vanish from the
    metrics table (rows_in / wall_ms / blocked lineage lost)."""
    docs = fixtures.synthetic_documents(spark, 60, n_hosts=3, seed=31).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(12)
    robots = spark.createDataFrame(
        [(f"host{i}.example.com", ["/"]) for i in range(3)],
        "host string, disallow array<string>",
    )
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        out = frontier.run_generations(
            spark, store, docs, seeds, n_generations=1, budget_per_host=4,
            use_bloom=False, robots=robots,
        )
        assert out[1]["scheduled"] == 0
        assert out[1]["blocked"] > 0
        assert out[1]["rows_in"] > 0
        m = [r for r in store.read(spark, "metrics").collect()
             if r["generation"] == 1]
        summary = [r for r in m if r["partition_id"] == -1]
        assert len(summary) == 1
        assert summary[0]["scheduled"] == 0
        assert summary[0]["rows_in"] == out[1]["rows_in"]
    docs.unpersist()


def test_state_dirs_hold_one_file_each_and_split_by_rows(spark, monkeypatch):
    """Every state write of a small crawl lands in ONE parquet file: the
    frontier and seen deltas are coalesced from their row counts, and
    the head, metrics and seen-index writes end in a shuffle AQE sizes.
    With a small ROWS_PER_FILE, a counted write splits into
    ceil(rows / ROWS_PER_FILE) files and reads back unchanged."""
    import math

    from post_processor_spark import state

    docs = fixtures.synthetic_documents(spark, 400, n_hosts=20, seed=17).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(60)
    tables = ("frontier", "seen", "metrics", "head", "bloom", "exact_index")
    with tempfile.TemporaryDirectory() as d:
        store = SnapshotStore(d)
        frontier.run_generations(
            spark, store, docs, seeds, n_generations=3, budget_per_host=4,
            compact_every=3, exact_join="prebuilt",
        )
        manifest = store._read_manifest()["tables"]
        assert store.generations("frontier") == [3]  # generation 3 compacted
        for t in tables:
            dirs = [p for ps in manifest[t]["dirs"].values() for p in ps]
            assert dirs, t
            for p in dirs:
                assert len(state._part_files(p)) == 1, (t, p, state._part_files(p))

        fr = store.read(spark, "frontier")
        n = fr.count()
        monkeypatch.setattr(state, "ROWS_PER_FILE", math.ceil(n / 3))
        store.write_many([state.Write("split", fr.repartition(8), 0, "append", rows=n)])
        [path] = store._read_manifest()["tables"]["split"]["dirs"]["0"]
        assert len(state._part_files(path)) == 3
        back = store.read(spark, "split")
        assert store.rows("split") == back.count() == n
        assert back.subtract(fr).count() == 0 and fr.subtract(back).count() == 0
    docs.unpersist()


def test_row_count_records_match_tables(spark, caplog):
    """SnapshotStore.rows(t) equals the table's row count after bootstrap,
    a generation, a compaction and a resume — the counts come from the
    writes' own Observations, with no count job. A store whose manifest
    lacks the records (written before them) reads None, never 0, and its
    next compaction still writes the same frontier."""
    import json
    import logging
    import os

    docs = fixtures.synthetic_documents(spark, 300, n_hosts=15, seed=29).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(40)
    opts = dict(budget_per_host=4, compact_every=2, exact_join="prebuilt")

    def check(store):
        for t in store._read_manifest()["tables"]:
            assert store.rows(t) == store.read(spark, t).count(), t

    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        store = SnapshotStore(d1)
        frontier.bootstrap(spark, store, seeds)
        check(store)
        with caplog.at_level(logging.INFO, logger="post_processor_spark.state"):
            g1 = frontier.run_generation(spark, store, docs, 1, **opts)
        check(store)
        # one log record per commit, naming each table's rows and files
        [rec] = [r for r in caplog.records if r.name == "post_processor_spark.state"]
        for t, n in g1["rows_written"].items():
            assert f"{t}@1 {n} rows/1 files" in rec.getMessage()
        assert g1["rows_written"]["frontier"] == g1["scheduled"] + g1["new"]
        assert g1["rows_written"]["seen"] == g1["new"]
        frontier.run_generation(spark, store, docs, 2, **opts)  # compacts
        assert store.generations("frontier") == [2]
        check(store)
        frontier.run_generations(
            spark, store, docs, None, n_generations=1, start_generation=2, **opts
        )
        check(store)

        # a store from before the records: the same manifest, stripped
        with open(os.path.join(d1, "manifest.json")) as f:
            manifest = json.load(f)
        for t in manifest["tables"].values():
            t.pop("rows", None)
        with open(os.path.join(d2, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        legacy = SnapshotStore(d2)
        assert all(legacy.rows(t) is None for t in manifest["tables"])
        a = frontier.run_generation(spark, store, docs, 4, **opts)
        b = frontier.run_generation(spark, legacy, docs, 4, **opts)
        assert {k: a[k] for k in ("scheduled", "new")} == {
            k: b[k] for k in ("scheduled", "new")
        }
        fa, fb = store.read(spark, "frontier"), legacy.read(spark, "frontier")
        assert fa.count() == fb.count() == legacy.rows("frontier")
        assert fa.subtract(fb).count() == 0 and fb.subtract(fa).count() == 0
        assert legacy.rows("seen") is None  # its old deltas have no record
        check(store)
    docs.unpersist()


def _skewed_pending(spark):
    """A mega-host seed frontier (one host holds about half the rows),
    checkpointed so plans start at a scan; with its largest host's rows."""
    base = fixtures.synthetic_seed_frontier(
        spark, 2000, n_hosts=10, mega_host_share=0.5, seed=7
    )
    pending = frontier.seeds_to_frontier(base).localCheckpoint()
    most = pending.groupBy("host_hash").count().agg(F.max("count")).first()[0]
    return pending, most


def test_rank_plans_select_the_same_rows(spark):
    """With a per-host row bound under the skew threshold, politeness
    (plain and with fused dedupe) and top_per_host rank in one window; with
    no bound they take the census plan. Both return the same rows in the
    same column order. A bound over the threshold still takes the split,
    here with a non-empty salted branch (threshold 64 < the mega-host)."""
    pending, most = _skewed_pending(spark)
    dup = pending.withColumn("seq", F.col("seq") + 100_000).filter(F.col("seq") % 3 == 0)

    def outputs(bound, threshold=None):
        opts = dict(salt_parts=4, skew_threshold=threshold, max_host_rows=bound)
        return {
            "schedule": frontier.politeness_schedule(
                pending, 1, budget_per_host=4, **opts),
            "fused": frontier.politeness_schedule(
                pending.unionByName(dup), 1, budget_per_host=4, dedupe=True, **opts),
            "head": frontier.top_per_host(pending, 12, **opts),
        }

    window, split, salted = outputs(most), outputs(None), outputs(most, threshold=64)
    for name, w in window.items():
        assert (w.rank_plan, split[name].rank_plan, salted[name].rank_plan) == (
            "window", "split", "split"), name
        rows = sorted(tuple(r) for r in w.collect())
        assert rows, name
        for other in (split[name], salted[name]):
            assert other.columns == w.columns, name
            assert sorted(tuple(r) for r in other.collect()) == rows, name
    for out in (*split.values(), *salted.values()):
        for df in getattr(out, "persisted", []):
            df.unpersist()


def test_rank_plan_pins(spark):
    """The window plan has no host census: no aggregate, broadcast or
    semi-join in its physical plan. Without a bound the census plan keeps
    all three."""
    pending, most = _skewed_pending(spark)
    for bound, want in ((most, False), (None, True)):
        sched = frontier.politeness_schedule(
            pending, 1, budget_per_host=4, salt_parts=4, max_host_rows=bound)
        head = frontier.top_per_host(pending, 12, salt_parts=4, max_host_rows=bound)
        for out in (sched, head):
            plan = out._jdf.queryExecution().executedPlan().toString()
            census = ("HashAggregate", "BroadcastExchange", "LeftSemi")
            assert [n in plan for n in census] == [want] * 3, (bound, plan)


def test_generation_leaves_cache_as_found(spark, caplog):
    """run_generation releases every frame it persists, the split plan's
    shard pre-rank included, in both regimes. The window regime is a
    store whose manifest records its rows; the split regime is the same
    store without the records (a store from before them, rows unknown).
    Each ranking's plan is logged and returned in rank_plans."""
    import json
    import logging
    import os
    import shutil

    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)

    def entries():
        return field.get(cm).size()

    docs = fixtures.synthetic_documents(spark, 300, n_hosts=15, seed=29).persist()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).limit(40)
    opts = dict(budget_per_host=4, compact_every=2, exact_join="prebuilt")
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        store = SnapshotStore(d1)
        frontier.bootstrap(spark, store, seeds)
        shutil.rmtree(d2)
        shutil.copytree(d1, d2)
        with open(os.path.join(d2, "manifest.json")) as f:
            manifest = json.load(f)
        for t in manifest["tables"].values():
            t.pop("rows", None)
        with open(os.path.join(d2, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        results = {}
        for regime, s in (("window", store), ("split", SnapshotStore(d2))):
            before = entries()
            caplog.clear()
            with caplog.at_level(logging.INFO, logger="post_processor_spark.frontier"), \
                    caplog.at_level(logging.INFO, logger="post_processor_spark.seen"):
                results[regime] = frontier.run_generation(spark, s, docs, 1, **opts)
            assert entries() == before, regime
            assert results[regime]["rank_plans"] == {"schedule": regime, "head": "window"}
            msgs = [r.getMessage() for r in caplog.records
                    if r.name == "post_processor_spark.frontier"]
            assert len(msgs) == 2 and all("skew threshold 4096" in m for m in msgs), msgs
            assert f"politeness_schedule: {regime} plan" in msgs[0], msgs
            # one seen-side record a generation: the plan and what it merged
            [seen_msg] = [r.getMessage() for r in caplog.records
                          if r.name == "post_processor_spark.seen"]
            assert "prebuilt plan, merged bloom, exact_index; bloom delta" in seen_msg
        keep = ("scheduled", "discovered", "new", "rows_written")
        assert [results["window"][k] for k in keep] == [results["split"][k] for k in keep]
    docs.unpersist()
