"""Structured Streaming front-end for the frontier (SURVEY.md §2.9).

The reference is batch-with-restart-loop (master.py:10-18); the
generation loop in frontier.py reproduces that contract. This module adds
the Spark-native streaming idiom on top: a readStream source of seed
batches driving the SAME generation logic through foreachBatch — state
(frontier/seen/metrics) lives in the SnapshotStore between micro-batches
exactly as between batch generations, so streaming and batch runs are
interchangeable and equally resumable.

No watermarks/late-data semantics exist to reproduce (the reference has
none); event-time windowing over crawl metrics is provided for
monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import frontier
from .state import SnapshotStore

SEED_SCHEMA = "url string, priority int, seq long"


def seed_stream(spark: SparkSession, seed_dir: str) -> DataFrame:
    """Micro-batch source: JSON seed files dropped into a directory —
    the streaming analog of the reference's input-dir frontier
    (getURLs.py:112-116)."""
    return spark.readStream.schema(SEED_SCHEMA).json(seed_dir)


def start_frontier_stream(
    spark: SparkSession,
    store: SnapshotStore,
    documents: DataFrame,
    seed_dir: str,
    checkpoint_dir: str,
    **sched_kwargs,
):
    """foreachBatch: each micro-batch of new seed URLs is merged into the
    frontier and one generation is run. Streaming checkpoint handles
    source offsets; SnapshotStore handles engine state — both resume."""

    seen_layout = sched_kwargs.pop("seen_layout", "append")
    seen_buckets = sched_kwargs.pop("seen_buckets", 32)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        gen_now = store.current_generation("frontier")
        if gen_now is None:
            frontier.bootstrap(spark, store, batch_df, seen_layout, seen_buckets)
            gen_now = 0
        elif batch_df.take(1):
            # frontier + seen-side tables are delta logs: merging a seed
            # batch is one atomic append of the genuinely-new rows (and a
            # head merge), not a rewrite
            frontier.admit_seeds(
                spark, store, batch_df, gen_now, frontier.head_cap(**sched_kwargs)
            )
        frontier.run_generation(spark, store, documents, gen_now + 1, **sched_kwargs)

    return (
        seed_stream(spark, seed_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_politeness_stream(
    spark: SparkSession,
    seed_dir: str,
    budget_per_host: int = 8,
    crawl_delay_sec: int = 1,
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): a
    per-host slot counter that survives across micro-batches, so
    consecutive fetches to a host stay crawl_delay apart even when the
    host's URLs arrive in different batches — the cross-batch politeness
    guarantee foreachBatch gets from the SnapshotStore, expressed in
    Spark's native streaming-state machinery (state lives in the
    streaming checkpoint; a restarted query resumes the counters).

    Per-group state = one long (next slot index); each batch's rows are
    assigned consecutive slots in deterministic (priority, seq) order,
    not_before = BASE_EPOCH + slot*delay. Arrow-batched; no per-row
    Python. Returns the streaming DataFrame (caller attaches the sink)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from . import canon

    cand = canon.with_canonical(seed_stream(spark, seed_dir), "url").select(
        "url", "host_hash", "priority", "seq"
    )
    out_schema = (
        "host_hash long, url string, slot long, not_before timestamp"
    )
    base = frontier._BASE_EPOCH
    delay = crawl_delay_sec

    def assign(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        (next_slot,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            pdf = pdf.sort_values(["priority", "seq"], kind="mergesort")
            n = len(pdf)
            slots = np.arange(next_slot, next_slot + n, dtype=np.int64)
            next_slot += n
            yield pd.DataFrame(
                {
                    "host_hash": pdf["host_hash"].to_numpy(),
                    "url": pdf["url"].to_numpy(),
                    "slot": slots,
                    "not_before": pd.to_datetime(base + slots * delay, unit="s"),
                }
            )
        state.update((int(next_slot),))

    return cand.groupBy("host_hash").applyInPandasWithState(
        assign,
        outputStructType=out_schema,
        stateStructType="next_slot long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_url_dedup(
    spark: SparkSession,
    seed_dir: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-side URL dedup: dropDuplicatesWithinWatermark on the
    canonical url_hash — the bounded-state streaming analog of the
    bloom + exact seen filter (seen.py). The batch path keeps the seen
    set FOREVER (exactness across the whole crawl, delta-log + bloom);
    this operator is the complementary in-flight guard: duplicates of a
    URL arriving within the watermark horizon are dropped inside the
    stream with state Spark can EVICT once the watermark passes, so
    state stays bounded by (arrival rate × horizon) instead of growing
    O(crawl). Use both at scale: in-stream dedup collapses the bursty
    duplicates (a URL discovered by thousands of pages in the same
    minute) before they ever hit the store; the snapshot seen-filter
    guarantees global exactness behind it.

    Event time is the deterministic politeness epoch derived from seq
    (BASE + seq seconds) — same clock discipline as metrics_window; a
    processing-time watermark would make results run-dependent.

    Returns the deduped streaming frame (url, priority, seq,
    canonical_url, url_hash, host_hash, event_ts); caller attaches the
    sink."""
    from . import canon

    seeds = seed_stream(spark, seed_dir)
    cand = canon.with_canonical(seeds, "url").withColumn(
        "event_ts",
        F.timestamp_seconds(F.lit(frontier._BASE_EPOCH) + F.col("seq")),
    )
    return (
        cand.select(
            "url", "priority", "seq", "canonical_url", "url_hash",
            "host_hash", "event_ts",
        )
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["url_hash"])
    )


def metrics_window(
    metrics: DataFrame,
    minutes: int = 1,
    budget_per_host: int = 8,
    crawl_delay_sec: int = 1,
) -> DataFrame:
    """Monitoring: windowed aggregation over per-generation metrics,
    keyed by EVENT time — the deterministic politeness epoch of each
    generation (epoch(g) = BASE + g*B*delay, the same clock the
    not_before slots use). A current_timestamp() window would collapse
    every row into one bucket (all rows evaluate to the same constant)."""
    epoch = F.timestamp_seconds(
        F.lit(frontier._BASE_EPOCH)
        + F.col("generation") * F.lit(budget_per_host * crawl_delay_sec)
    )
    return (
        metrics.filter(F.col("partition_id") == -1)  # generation totals
        .groupBy(F.window(epoch, f"{minutes} minutes"))
        .agg(
            F.sum("scheduled").alias("scheduled"),
            F.sum("rows_out").alias("discovered_new"),
        )
    )


def start_host_cardinality_stream(
    spark: SparkSession,
    store: SnapshotStore,
    seed_dir: str,
    checkpoint_dir: str,
    lgk: int = 14,
):
    """foreachBatch sketch maintenance: every seed micro-batch is
    canonicalized and folded into a per-host HLL sketch table
    ('host_hll' snapshot table) — distinct-URLs-per-host crawl metrics
    maintained incrementally across micro-batches AND restarts, without
    ever rescanning history (sketches.merge_hll_tables).

    Exactly-once accounting for free: foreachBatch is at-least-once
    under failure/recovery, which breaks additive counters (a replayed
    batch double-counts) — but HLL union is IDEMPOTENT (register max:
    folding the same batch twice changes nothing), so the sketch table
    is correct under replay with no dedup bookkeeping. That is the
    reason the metric is a sketch rather than a count even where exact
    counting would fit in memory.

    Read side: sketches.hll_estimate(store.read(spark, 'host_hll')).
    The snapshot-mode write is a full rewrite of |hosts| rows — tiny
    (one fixed-size binary per host); the raw URL traffic never lands
    in state."""
    from . import canon
    from .analytics import sketches

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        batch = canon.with_canonical(batch_df).select("host_hash", "url_hash")
        delta = sketches.hll_sketch_table(batch, ["host_hash"], "url_hash", lgk)
        cur = store.current_generation("host_hll")
        gen = (cur if cur is not None else 0) + 1
        prev = store.read_or_none(spark, "host_hll")
        merged = (
            delta if prev is None
            else sketches.merge_hll_tables(prev, delta, ["host_hash"])
        )
        store.write("host_hll", merged, gen)

    return (
        seed_stream(spark, seed_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
