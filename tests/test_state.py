"""SnapshotStore contract: snapshot vs append modes, versioned dirs,
same-generation merges, mode safety (SURVEY.md §2.1 S10 / north_rule
checkpointing)."""

import tempfile

import pytest

from post_processor_spark.state import SnapshotStore


def _df(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "v long")


def test_snapshot_mode_replaces(spark):
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write("t", _df(spark, [1, 2]), 0)
        s.write("t", _df(spark, [3]), 1)
        assert sorted(r["v"] for r in s.read(spark, "t").collect()) == [3]
        assert sorted(r["v"] for r in s.read(spark, "t", 0).collect()) == [1, 2]


def test_append_mode_unions_deltas(spark):
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_append("t", _df(spark, [1]), 0)
        s.write_append("t", _df(spark, [2]), 1)
        s.write_append("t", _df(spark, [3]), 2)
        assert sorted(r["v"] for r in s.read(spark, "t").collect()) == [1, 2, 3]
        # time travel: generation 1 excludes later deltas
        assert sorted(r["v"] for r in s.read(spark, "t", 1).collect()) == [1, 2]


def test_append_same_generation_merges(spark):
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_append("t", _df(spark, [1]), 0)
        s.write_append("t", _df(spark, [2]), 0)
        assert sorted(r["v"] for r in s.read(spark, "t", 0).collect()) == [1, 2]


def test_mode_mismatch_raises(spark):
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write("t", _df(spark, [1]), 0)
        with pytest.raises(ValueError):
            s.write_append("t", _df(spark, [2]), 1)


def test_snapshot_rewrite_keeps_lazy_reader_valid(spark):
    """A lazy plan over generation g stays readable after g is rewritten
    (dirs are never overwritten — the streaming merge path relies on it)."""
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write("t", _df(spark, [1, 2]), 0)
        lazy = s.read(spark, "t", 0)  # not collected yet
        s.write("t", lazy.unionByName(_df(spark, [3])), 0)
        assert sorted(r["v"] for r in s.read(spark, "t", 0).collect()) == [1, 2, 3]


def test_double_rewrite_same_generation_never_reuses_dir(spark):
    """Two consecutive rewrites of the SAME generation must use fresh dirs:
    deriving the suffix from the referenced-dir count regenerated the same
    path on the second rewrite and overwrote the dir a lazy reader of the
    first rewrite still held."""
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write("t", _df(spark, [1]), 0)
        s.write("t", _df(spark, [1, 2]), 0)  # rewrite #1
        lazy = s.read(spark, "t", 0)
        s.write("t", _df(spark, [9]), 0)  # rewrite #2 — must not clobber #1's dir
        assert sorted(r["v"] for r in lazy.collect()) == [1, 2]
        assert sorted(r["v"] for r in s.read(spark, "t", 0).collect()) == [9]


def test_compaction_then_write_never_reuses_dir(spark):
    """Compaction shrinks the referenced-dir set; a later append must still
    get a fresh dir (monotone next_id, not a count-derived suffix)."""
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_append("t", _df(spark, [1]), 0)
        s.write_append("t", _df(spark, [2]), 1)
        merged = s.read(spark, "t")
        s.write_many([("t", merged, 1, "compact")])
        lazy = s.read(spark, "t")
        s.write_append("t", _df(spark, [3]), 1)
        assert sorted(r["v"] for r in lazy.collect()) == [1, 2]
        assert sorted(r["v"] for r in s.read(spark, "t").collect()) == [1, 2, 3]


def test_write_many_all_or_nothing(spark):
    """A failure on any entry of a multi-table transaction must leave NO
    table advanced (one manifest commit at the end)."""
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write("a", _df(spark, [1]), 0)
        s.write("b", _df(spark, [1]), 0)
        with pytest.raises(ValueError):
            # second entry violates b's snapshot mode -> whole txn aborts
            s.write_many(
                [
                    ("a", _df(spark, [2]), 1, "snapshot"),
                    ("b", _df(spark, [2]), 1, "append"),
                ]
            )
        assert s.current_generation("a") == 0
        assert s.current_generation("b") == 0
        assert sorted(r["v"] for r in s.read(spark, "a").collect()) == [1]


def test_write_many_concurrent_failure_leaves_manifest_intact(spark):
    """The table writes launch concurrently (one thread per table); a
    write that fails at EXECUTION time — not validation time — must
    abort the transaction before the single manifest commit, even while
    sibling writes succeed on disk (their dirs stay unreferenced)."""
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write("a", _df(spark, [1]), 0)
        boom = _df(spark, [1]).select(
            F.assert_true(F.col("v") > 99).alias("v")  # fails per-row at runtime
        )
        with pytest.raises(Exception):
            s.write_many(
                [
                    ("a", _df(spark, [2]), 1, "snapshot"),
                    ("c", boom, 1, "snapshot"),
                ]
            )
        assert s.current_generation("a") == 0
        assert sorted(r["v"] for r in s.read(spark, "a").collect()) == [1]
        with pytest.raises(FileNotFoundError):
            s.read(spark, "c")


def test_write_many_failure_leaves_no_bucketed_rows(spark):
    """A bucketed append writes into the live table (there is no dir for
    the manifest to leave unreferenced), so it must run only after every
    directory write has succeeded: a failing sibling leaves the bucketed
    table's rows untouched, and they stay absent once a later commit at a
    higher generation widens visibility past the failed generation."""
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_bucketed("seen", _seen_df(spark, 0, 100, 0), 0, n_buckets=4)
        name = s._read_manifest()["tables"]["seen"]["bucketed"]["name"]
        boom = _df(spark, [1]).select(
            F.assert_true(F.col("v") > 99).alias("v")  # fails per-row at runtime
        )
        with pytest.raises(Exception):
            s.write_many(
                [
                    ("seen", _seen_df(spark, 100, 150, 1), 1, "bucketed"),
                    ("c", boom, 1, "snapshot"),
                ]
            )
        assert spark.table(name).count() == 100
        s.write_bucketed("seen", _seen_df(spark, 150, 160, 2), 2)
        assert s.read(spark, "seen").count() == 110
        assert s.read(spark, "seen").filter("generation = 1").count() == 0


def test_write_many_commits_together(spark):
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_many(
            [
                ("a", _df(spark, [1]), 0, "snapshot"),
                ("b", _df(spark, [9]), 0, "append"),
            ]
        )
        assert s.current_generation("a") == 0 and s.current_generation("b") == 0
        assert [r["v"] for r in s.read(spark, "b").collect()] == [9]


def _seen_df(spark, lo, hi, gen):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.xxhash64("id").alias("url_hash"),
        (F.col("id") % 7).alias("host_hash"),
        F.lit(gen).cast("int").alias("generation"),
    )


def test_bucketed_append_and_time_travel(spark):
    """Bucketed mode: deltas accumulate in one external bucketed table;
    visibility is gated by generation <= requested (the crash contract —
    orphan rows from a failed commit stay invisible until a later commit
    covers their generation)."""
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_bucketed("seen", _seen_df(spark, 0, 100, 0), 0, n_buckets=4)
        s.write_bucketed("seen", _seen_df(spark, 100, 150, 1), 1)
        assert s.table_mode("seen") == "bucketed"
        assert s.read(spark, "seen").count() == 150
        assert s.read(spark, "seen", 0).count() == 100
        with pytest.raises(ValueError):
            s.write_append("seen", _seen_df(spark, 150, 160, 2), 2)


def test_bucketed_reregisters_after_catalog_loss(spark):
    """A fresh session's catalog has no memory of the table: read() and
    append must re-register it from the manifest spec (DDL with the same
    bucket layout) and keep appending into the same location."""
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_bucketed("seen", _seen_df(spark, 0, 80, 0), 0, n_buckets=4)
        name = s._read_manifest()["tables"]["seen"]["bucketed"]["name"]
        spark.sql(f"DROP TABLE {name}")  # simulate a new session
        assert s.read(spark, "seen").count() == 80
        spark.sql(f"DROP TABLE {name}")
        s.write_bucketed("seen", _seen_df(spark, 80, 90, 1), 1)
        assert s.read(spark, "seen").count() == 90


def test_bucketed_anti_join_no_seen_exchange(spark):
    """The point of the layout: an exact anti-join against the seen table
    must NOT exchange (or re-shuffle) the seen side — only the small
    candidate side is shuffled into the bucket partitioning. At 10^10 seen
    rows the per-generation seen shuffle is the scale-killer this removes."""
    from pyspark.sql import functions as F

    from post_processor_spark import plans

    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_bucketed("seen", _seen_df(spark, 0, 5000, 0), 0, n_buckets=4)
        seen = s.read(spark, "seen").select("url_hash")
        cand = spark.range(2500, 7500).select(
            F.xxhash64("id").alias("url_hash"), F.col("id").alias("payload")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = cand.join(seen, "url_hash", "left_anti")
            plan = plans.physical_plan(out)
            assert "Bucketed: true" in plan
            assert plans.count_shuffles(out) == 1  # candidate side only
            assert out.count() == 2500
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_rebucket_in_place_raises(spark):
    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        s.write_bucketed("seen", _seen_df(spark, 0, 10, 0), 0, n_buckets=4)
        with pytest.raises(ValueError):
            s.write_bucketed("seen", _seen_df(spark, 10, 20, 1), 1, n_buckets=8)
        # same spec keeps appending fine
        s.write_bucketed("seen", _seen_df(spark, 10, 20, 1), 1, n_buckets=4)
        assert s.read(spark, "seen").count() == 20


def test_bucketed_store_recreated_at_same_root_is_fresh(spark):
    """A store recreated at a previously used root must NOT resolve to the
    old catalog entry (stale file index over the defunct store)."""
    with tempfile.TemporaryDirectory() as d:
        s1 = SnapshotStore(d)
        s1.write_bucketed("seen", _seen_df(spark, 0, 50, 0), 0, n_buckets=4)
        assert s1.read(spark, "seen").count() == 50
        import shutil

        shutil.rmtree(d)
        s2 = SnapshotStore(d)
        s2.write_bucketed("seen", _seen_df(spark, 0, 7, 0), 0, n_buckets=4)
        assert s2.read(spark, "seen").count() == 7


def test_bucketed_append_sized_by_rows(spark):
    """A bucketed append that carries its row count writes one file per
    bucket at this size (ceil(rows / ROWS_PER_FILE) write tasks) instead
    of one per input partition and bucket; rows() of a bucketed table is
    None, since a failed commit can leave appended rows visible later."""
    from post_processor_spark.state import Write, _part_files

    with tempfile.TemporaryDirectory() as d:
        s = SnapshotStore(d)
        df = spark.range(200, numPartitions=8).selectExpr("id AS v", "0 AS generation")
        s.write_many(
            [Write("b", df, 0, "bucketed", rows=200)], bucket_specs={"b": (["v"], 4)}
        )
        loc = s._read_manifest()["tables"]["b"]["bucketed"]["location"]
        assert len(_part_files(loc)) == 4
        assert s.read(spark, "b").count() == 200
        assert s.rows("b") is None
