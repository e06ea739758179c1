"""Frontier + per-host politeness scheduler (the north_rule core).

Reference analog being re-expressed: the getAllUrls crawl loop — a
directory of pending URLs, workers fetching pages, extracting <a>
outlinks, merging new URLs, restart until drained
(archived/utils/getAllUrls/master.py:10-18, getURLs.py:49-166) — plus its
round-robin work assignment (archived/Post-Processor/processor.py:798-827).

Spark-first design:
- frontier/seen/metrics are snapshot tables (state.SnapshotStore), one
  snapshot per generation → exact resume (north_rule).
- crawl ordering is an explicit deterministic sort key
  (priority, generation_discovered, seq, sub) — reproducing the
  reference's insertion-order processing (SURVEY.md §2.6 O3) as a defined
  contract instead of dict-iteration order.
- politeness: per-host budget B per generation + crawl-delay slots. The
  top-B-per-host selection picks its plan from a row bound the caller
  already holds (_rank_plan): when no host can hold more rows than the
  skew threshold it is ONE per-host window. Otherwise it is TWO-PHASE
  to stay balanced under skew (north_rule mega-domain salting): a host
  census splits off the hosts over the threshold; phase 1 ranks those
  within (host, salt=pmod(url_hash, S)) shards and keeps ≤B per shard —
  any row in the global per-host top-B survives its shard's top-B —
  phase 2 ranks the ≤B*S survivors per host. A mega-host's millions of
  pending rows are ranked in S balanced shards; only B*S rows reach the
  final per-host window. Both plans select the same rows. The
  per-generation budget B is the capped token bucket.
- fetch is simulated by joining scheduled URLs back to the documents
  corpus (sandbox has no network; the fetch stage is injectable — S11).
- not_before timestamps are deterministic: epoch(g) = BASE + g*B*delay,
  slot i → epoch(g) + i*delay. No wall clock in data.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from . import canon
from .seen import SeenSide
from .state import SnapshotStore, Write, observed

log = logging.getLogger(__name__)

# fixed, documented epoch for deterministic not_before timestamps
_BASE_EPOCH = 1_700_000_000  # 2023-11-14T22:13:20Z
DEFAULT_PRIORITY = 5

ORDER_COLS = ["priority", "generation", "seq", "sub"]

# Packed rank key: lexicographic (priority, generation) equals numeric
# order of (priority << 32 | generation) for the documented domain —
# both are non-negative ints (priority is a small scheduling class,
# generation a monotone counter), so the pack/unpack round-trip is exact.
# One long replaces two ints in every politeness sort + exchange row
# (UnsafeRow stores each field in an 8-byte slot, so this saves 8 bytes
# per row in the job's dominant shuffle) and collapses one comparator
# level out of the rank sort.
_PACKED_ORDER = ["_pg", "seq", "sub"]


def _pack_order(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "_pg", F.shiftleft(F.col("priority").cast("long"), 32) + F.col("generation")
    ).drop("priority", "generation")


def _unpack_order(df: DataFrame) -> DataFrame:
    return (
        df.withColumn("priority", F.shiftright(F.col("_pg"), 32).cast("int"))
        .withColumn(
            "generation",
            F.col("_pg").bitwiseAND(F.lit(0xFFFFFFFF)).cast("int"),
        )
        .drop("_pg")
    )


def canonicalize_candidates(df: DataFrame) -> DataFrame:
    """(url, priority, generation, seq, sub) → + canonical/host/hashes."""
    return canon.with_canonical(df, "url")


def dedupe_candidates(df: DataFrame) -> DataFrame:
    """First occurrence per url_hash in crawl order (P6 analog, exact,
    deterministic under parallelism).

    min_by hash aggregation, not a row_number window: a window needs a
    full sort within every hash partition; min_by is a partial-aggregating
    hash agg (map-side combine shrinks the shuffle to one row per distinct
    url per mapper). The crawl-order tuple is unique, so min_by is
    deterministic."""
    cols = df.columns
    key = F.struct(*[F.col(c) for c in ORDER_COLS])
    return (
        df.groupBy("url_hash")
        .agg(F.min_by(F.struct(*[F.col(c) for c in cols]), key).alias("_r"))
        .select("_r.*")
    )


def _host_from_canonical(canon_url):
    """Authority of a canon.with_canonical canonical URL: the canonical
    form embeds `host` verbatim between the first '://' (when present)
    and the next '/' or '?', so recovery is substring cuts — no re-parse.
    NOT total (a scheme-less URL with an empty authority, or one whose
    path embeds '://', recovers wrongly) — callers must delta-encode:
    compare recovered vs actual at encode time and carry the explicit
    host for the rare rows where they differ."""
    pos = F.locate("://", canon_url)
    after = F.when(pos > 0, F.substr(canon_url, pos + 3)).otherwise(canon_url)
    return F.substring_index(F.substring_index(after, "/", 1), "?", 1)


def _slim_encode(df: DataFrame) -> DataFrame:
    """Delta-encode url/host against canonical_url: both ride as NULL
    whenever recoverable (url equals its canonical form; host equals the
    canonical authority — the overwhelmingly common case). IDEMPOTENT
    (null in → null out), so encoded frames can flow through
    politeness_schedule's own encode unchanged. Decode is
    F.coalesce(url, canonical_url) / the _host_from_canonical coalesce.
    Applied BEFORE a .persist() this also slims the cache build — the
    columnar cache otherwise materializes three full string columns per
    row that the rank path never reads."""
    rec_host = _host_from_canonical(F.col("canonical_url"))
    return df.withColumn(
        "url",
        F.when(F.col("url") == F.col("canonical_url"), F.lit(None))
        .otherwise(F.col("url")),
    ).withColumn(
        "host",
        F.when(rec_host.eqNullSafe(F.col("host")), F.lit(None))
        .otherwise(F.col("host")),
    )


def _dedupe_candidates_slim(df: DataFrame) -> DataFrame:
    """dedupe_candidates specialised to canonicalized frames
    (_DEDUP_COLS): the exchange carries a DELTA-ENCODED payload — `url`
    and `host` ride as NULL whenever they are recoverable from
    canonical_url (the overwhelmingly common case: url differs from its
    canonical form only for fragment / userinfo / port / case variants)
    and host_hash is re-derived after the shuffle. Cuts dedupe exchange
    bytes ~40% on URL-shaped rows; the re-derivation is substring cuts +
    one xxhash64 — CPU-side work, which scales better than the
    DRAM-bandwidth-bound exchange it replaces (BENCH/BASELINE.md
    hardware calibrations: cpu 0.87 vs bandwidth 0.67 at 4->16 workers).
    Exact: the encode compares recovered vs actual per row, so any row
    where recovery would be wrong carries the explicit value."""
    rec_host = _host_from_canonical(F.col("canonical_url"))
    slim = _pack_order(
        df.select(
            "url_hash",
            F.when(F.col("url") == F.col("canonical_url"), F.lit(None))
            .otherwise(F.col("url"))
            .alias("_url_d"),
            "canonical_url",
            F.when(rec_host.eqNullSafe(F.col("host")), F.lit(None))
            .otherwise(F.col("host"))
            .alias("_host_d"),
            "priority", "generation", "seq", "sub",
        )
    )
    key = F.struct(*[F.col(c) for c in _PACKED_ORDER])
    payload = [c for c in slim.columns if c != "url_hash"]
    deduped = _unpack_order(
        slim.groupBy("url_hash")
        .agg(F.min_by(F.struct(*[F.col(c) for c in payload]), key).alias("_r"))
        .select("url_hash", "_r.*")
    )
    host = F.coalesce(
        F.col("_host_d"), _host_from_canonical(F.col("canonical_url"))
    )
    return deduped.select(
        F.coalesce(F.col("_url_d"), F.col("canonical_url")).alias("url"),
        "canonical_url",
        "url_hash",
        host.alias("host"),
        canon.host_hash(host).alias("host_hash"),
        "priority", "generation", "seq", "sub",
    )


def _rank_plan(
    where: str,
    max_host_rows: int | None,
    cap: int,
    salt_parts: int,
    skew_threshold: int | None,
) -> tuple[str, int]:
    """(plan, threshold) of the per-host top-`cap` rank `where`, logged
    once. The skew threshold defaults to max(cap·S, 4096). The plan is
    'window' (one per-host window) when max_host_rows, an upper bound on
    the rows any one host holds in the input, is at most the threshold:
    no host can reach the salted branch, so the census that looks for
    one is skipped. With no bound (None) it is 'split', the census plan
    of _skew_split. Both plans select the same rows from any input, so
    the bound decides only how the rank is balanced."""
    if skew_threshold is None:
        skew_threshold = max(cap * salt_parts, 4096)
    bounded = max_host_rows is not None and max_host_rows <= skew_threshold
    plan = "window" if bounded else "split"
    log.info(
        "%s: %s plan (at most %s rows a host, skew threshold %d)",
        where, plan, max_host_rows, skew_threshold,
    )
    return plan, skew_threshold


def _host_first(df: DataFrame) -> DataFrame:
    """df with host_hash as its first column: the column order of
    _skew_split's joins, which the window plan keeps too."""
    return df.select("host_hash", *[c for c in df.columns if c != "host_hash"])


def _skew_split(df: DataFrame, skew_threshold: int) -> tuple[DataFrame, DataFrame]:
    """(norm, big): rows of hosts with at most / more than skew_threshold
    rows, from one cheap hash-agg census, host_hash first. The big branch
    is the one worth a salted pre-rank: it caps any single sort partition
    at ~threshold rows."""
    big_hosts = F.broadcast(
        df.groupBy("host_hash")
        .count()
        .filter(F.col("count") > skew_threshold)
        .select("host_hash")
    )
    return (
        df.join(big_hosts, "host_hash", "left_anti"),
        df.join(big_hosts, "host_hash", "left_semi"),
    )


def _first_per_url(df: DataFrame, *keys) -> DataFrame:
    """The first row per url_hash in crawl order, by a window partitioned
    by (keys, url_hash): exact under a repartition on keys, since every
    duplicate of a url_hash shares its host_hash and its salt shard."""
    w = Window.partitionBy(*keys, "url_hash").orderBy(*_PACKED_ORDER)
    return df.withColumn("_dn", F.row_number().over(w)).filter(F.col("_dn") == 1).drop("_dn")


def politeness_schedule(
    pending: DataFrame,
    generation: int,
    budget_per_host: int = 8,
    crawl_delay_sec: int = 1,
    salt_parts: int = 16,
    skew_threshold: int | None = None,
    host_delays: DataFrame | None = None,
    dedupe: bool = False,
    max_host_rows: int | None = None,
) -> DataFrame:
    """Tag pending rows: the per-host top-B in crawl order get
    status='scheduled' + a not_before slot; the rest stay 'pending'.

    The plan follows max_host_rows, an upper bound on the rows any one
    host holds in `pending` (_rank_plan). When it is at most the skew
    threshold, every row is ranked in ONE per-host window: no host can be
    skewed, so there is no census, broadcast or salted branch. Without a
    bound (None, the default) the plan is skew-adaptive two-phase top-B:
    hosts with more pending rows than skew_threshold (detected with one
    cheap hash-agg count) go through a salted pre-rank that caps any
    single sort partition at ~threshold rows; everyone else gets a single
    per-host window. Sorting everything twice — the naive
    always-two-phase plan — costs a full extra sort of the 99% of rows
    that aren't skewed; always-one-phase serializes the mega-host in one
    task. The selection is EXACT either way (any global per-host top-B
    row is in its salt shard's top-B), and both plans return the same
    rows in the same column order.

    Each branch is ranked SEPARATELY (a host lives entirely in one
    branch, so per-branch windows see every row of their hosts): ranking
    norm ∪ survivors in one window — the earlier plan — destroys the
    union's partitioning and re-exchanges the full norm payload a second
    time for nothing.

    dedupe=True fuses first-in-crawl-order url_hash dedupe (P6) INTO the
    politeness exchange: every duplicate of a url_hash shares its
    canonical_url, hence its host_hash AND its salt shard
    (salt = pmod(url_hash, S)), so a dedupe window partitioned by
    (host_hash[, salt], url_hash) is exact under the same explicit
    repartition the rank window uses — the input payload crosses ONE
    exchange total. The standalone alternative (dedupe_candidates before
    scheduling) costs a full extra url_hash exchange plus two
    SortAggregate sorts (min_by over a struct buffer is not
    hash-aggregatable). Input may omit status/not_before/sched_gen
    (implicitly all-pending, e.g. a fresh seed list); they are
    synthesized in the output either way.

    Returns the full frame with updated status/not_before/sched_gen. Its
    `rank_plan` attribute names the plan taken; its `persisted` attribute
    lists the frames the split plan persisted (empty for the window
    plan), which the caller unpersists after its last action on the
    result."""
    has_status = "status" in pending.columns
    plan, threshold = _rank_plan(
        "politeness_schedule", max_host_rows, budget_per_host, salt_parts, skew_threshold
    )

    # Slim exchange: url/host ride as NULL whenever recoverable from
    # canonical_url (_slim_encode, idempotent) and are re-derived AFTER
    # the windows. The rank/dedupe window exchanges are this job's
    # dominant shuffle and the high-parallelism level is
    # DRAM-bandwidth-bound (BENCH/BASELINE.md calibrations), so exchange
    # bytes are the scaling lever; the re-derivation is substring cuts —
    # CPU-side work. Exact: encode compares recovered vs actual per row,
    # so unrecoverable rows carry explicit values.
    pending = _slim_encode(pending)
    # pack (priority, generation) into one rank long for the sort +
    # exchange; unpacked after the windows (exact — see _pack_order)
    pending = _pack_order(pending)

    w_host = Window.partitionBy("host_hash").orderBy(*_PACKED_ORDER)
    salt = F.pmod(F.col("url_hash"), F.lit(salt_parts))
    w_shard = Window.partitionBy("host_hash", salt).orderBy(*_PACKED_ORDER)

    if plan == "window":
        norm, big = _host_first(pending), None
    else:
        norm, big = _skew_split(pending, threshold)
    if dedupe:
        # explicit repartition so the dedupe window (whose partition spec
        # is a SUPERSET of the repartition keys — satisfied without a new
        # exchange) and the rank window share one exchange per branch
        norm = _first_per_url(norm.repartition("host_hash"), "host_hash")
        if big is not None:
            big = _first_per_url(big.repartition(F.col("host_hash"), salt), "host_hash", salt)

    ranked = norm.withColumn("_rn", F.row_number().over(w_host))
    persisted = []
    shard_overflow = None
    if big is not None:
        # skewed hosts: shard pre-rank (persisted — feeds survivors + overflow)
        pre = big.withColumn("_shard_rn", F.row_number().over(w_shard)).persist()
        persisted.append(pre)
        survivors = pre.filter(F.col("_shard_rn") <= budget_per_host).drop("_shard_rn")
        shard_overflow = pre.filter(F.col("_shard_rn") > budget_per_host).drop("_shard_rn")
        ranked = ranked.unionByName(survivors.withColumn("_rn", F.row_number().over(w_host)))
    # per-host crawl-delay override (north_rule: robots crawl-delay):
    # host_delays(host_hash, crawl_delay_sec) — broadcast; default global
    if host_delays is not None:
        ranked = ranked.join(
            F.broadcast(
                host_delays.select(
                    "host_hash", F.col("crawl_delay_sec").alias("_hd")
                )
            ),
            "host_hash",
            "left",
        )
        delay = F.coalesce(F.col("_hd"), F.lit(crawl_delay_sec))
    else:
        delay = F.lit(crawl_delay_sec)
    # Epoch spacing uses the HOST'S delay, not the global one: slot i of
    # generation g lands at BASE + (g*B + i-1)*d(host), so consecutive
    # slots are d apart both within a generation AND across the
    # generation boundary. (With a global-delay epoch, a host whose
    # robots delay exceeds the global delay had generation-g slots
    # extending past epoch(g+1), violating its declared crawl-delay.)
    epoch = F.lit(_BASE_EPOCH) + F.lit(generation * budget_per_host) * delay
    is_sched = F.col("_rn") <= budget_per_host
    prev_status = F.col("status") if has_status else F.lit("pending")
    prev_sched_gen = F.col("sched_gen") if has_status else F.lit(None).cast("int")
    prev_not_before = (
        F.col("not_before") if has_status else F.lit(None).cast("timestamp")
    )
    out = (
        ranked.withColumn(
            "status", F.when(is_sched, F.lit("scheduled")).otherwise(prev_status)
        )
        .withColumn(
            "sched_gen",
            F.when(is_sched, F.lit(generation)).otherwise(prev_sched_gen),
        )
        .withColumn(
            "not_before",
            F.when(
                is_sched,
                F.timestamp_seconds(epoch + (F.col("_rn") - 1) * delay),
            ).otherwise(prev_not_before),
        )
        .drop("_rn", *(["_hd"] if host_delays is not None else []))
    )
    if shard_overflow is not None:
        if not has_status:
            shard_overflow = (
                shard_overflow.withColumn("status", F.lit("pending"))
                .withColumn("sched_gen", F.lit(None).cast("int"))
                .withColumn("not_before", F.lit(None).cast("timestamp"))
            )
        out = out.unionByName(shard_overflow.select(*out.columns))
    # decode the slim exchange (post-shuffle, narrow)
    out = out.withColumn(
        "url", F.coalesce(F.col("url"), F.col("canonical_url"))
    ).withColumn(
        "host",
        F.coalesce(F.col("host"), _host_from_canonical(F.col("canonical_url"))),
    )
    out = _unpack_order(out)
    out.rank_plan, out.persisted = plan, persisted
    return out


def top_per_host(
    df: DataFrame,
    cap: int,
    salt_parts: int = 16,
    skew_threshold: int | None = None,
    max_host_rows: int | None = None,
) -> DataFrame:
    """EXACT top-`cap` rows per host in crawl order. Used to maintain the
    scheduler head cache. The plan follows max_host_rows as in
    politeness_schedule (_rank_plan): one per-host window when no host can
    pass the skew threshold; without a bound, the same skew-adaptive
    two-phase salted pattern (shard pre-rank caps any single sort
    partition, global rank finalizes ≤cap*S rows). The result's
    `rank_plan` attribute names the plan taken."""
    plan, threshold = _rank_plan("top_per_host", max_host_rows, cap, salt_parts, skew_threshold)
    ranked = _host_first(_pack_order(df))
    if plan == "split":
        norm, big = _skew_split(ranked, threshold)
        salt = F.pmod(F.col("url_hash"), F.lit(salt_parts))
        w_shard = Window.partitionBy("host_hash", salt).orderBy(*_PACKED_ORDER)
        survivors = (
            big.withColumn("_srn", F.row_number().over(w_shard))
            .filter(F.col("_srn") <= cap)
            .drop("_srn")
        )
        ranked = norm.unionByName(survivors)
    w_host = Window.partitionBy("host_hash").orderBy(*_PACKED_ORDER)
    out = _unpack_order(
        ranked.withColumn("_rn", F.row_number().over(w_host))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )
    out.rank_plan = plan
    return out


def apply_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Tag candidates blocked by robots.txt rules (north_rule: per-domain
    politeness with robots budget).

    robots(host, disallow: array<string>[, allow: array<string>]) —
    per-host rules as the crawler would fetch them (injectable; the
    sandbox has no network). REP longest-match semantics: the most
    specific (longest) matching rule wins; on a tie the Allow wins
    (least-restrictive, per the REP RFC 9309 §2.2.2) — so a candidate is
    blocked iff its longest matching disallow prefix is strictly longer
    than its longest matching allow prefix. Without an allow column this
    degrades to 'any disallow prefix matches'. Pure column expressions:
    broadcast rules join + filter/aggregate over the prefix arrays, no
    per-row Python. Returns candidates + `robots_blocked` boolean."""
    # Path via the same parse that produced `host` — an instr('://') scan
    # would take a mid-string '://' embedded in a query (e.g.
    # 'host.com/redirect?u=https://x') for a scheme separator and derive a
    # garbage path that silently under-blocks. An empty path is the root.
    cu = F.col("canonical_url")
    rest = canon._parse_url(cu)["rest"]
    path = F.when(rest == "", F.lit("/")).otherwise(rest)
    with_path = candidates.withColumn("_path", path)
    has_allow = "allow" in robots.columns
    rule_cols = [
        F.col("host").alias("_rhost"),
        F.col("disallow").alias("_disallow"),
    ]
    if has_allow:
        rule_cols.append(F.col("allow").alias("_allow"))
    rules = robots.select(*rule_cols)

    def longest_match(rules_col):
        return F.aggregate(
            F.filter(rules_col, lambda p: F.startswith(F.col("_path"), p)),
            F.lit(0),
            lambda s, p: F.greatest(s, F.length(p)),
        )

    joined = with_path.join(
        F.broadcast(rules), with_path.host == F.col("_rhost"), "left"
    )
    dis_len = F.coalesce(longest_match(F.col("_disallow")), F.lit(0))
    if has_allow:
        alw_len = F.coalesce(longest_match(F.col("_allow")), F.lit(0))
        blocked = dis_len > alw_len
    else:
        blocked = dis_len > F.lit(0)
    return joined.withColumn("robots_blocked", blocked).drop(
        "_rhost", "_disallow", "_path", *(["_allow"] if has_allow else [])
    )


def extract_outlinks(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans, url, seq) → one row per link/media span:
    (url, parent_seq, sub). The vectorized span-explosion the north_rule
    asks for — link extraction happened once at ingest (spans are the
    canonical representation), so frontier expansion is a pure explode."""
    return (
        documents.select(
            F.col("url").alias("parent_url"),
            F.col("seq").alias("parent_seq"),
            F.explode("spans").alias("s"),
        )
        .filter(F.col("s.kind").isin("link", "media"))
        .select(
            F.col("s.media_ref").alias("url"),
            F.col("parent_seq"),
            F.col("s.offset").cast("long").alias("sub"),
        )
    )


_DEDUP_COLS = [
    "url", "canonical_url", "url_hash", "host", "host_hash",
    "priority", "generation", "seq", "sub",
]


def seed_candidates(seeds: DataFrame) -> DataFrame:
    """(url, priority, seq) → canonicalized generation-0 candidate rows
    (_DEDUP_COLS), not yet deduped: the narrow front half shared by
    seeds_to_frontier and the fused scheduling path."""
    base = seeds.withColumn("generation", F.lit(0)).withColumn(
        "sub", F.lit(0).cast("long")
    )
    return canonicalize_candidates(base).select(*_DEDUP_COLS)


def schedule_seed_list(
    seeds: DataFrame,
    seen: DataFrame,
    generation: int = 1,
    budget_per_host: int = 8,
    crawl_delay_sec: int = 1,
    salt_parts: int = 16,
    bloom: DataFrame | None = None,
    skew_threshold: int | None = None,
    exact_join: str = "prebuilt",
    exact_index: DataFrame | None = None,
) -> DataFrame:
    """One-exchange scheduling of a fresh seed list against an existing
    seen set — the bench-headline composition, and the fast path for
    'here are N new URLs, schedule the polite top-B per host':

      canonicalize (narrow) → bloom + exact seen filter (narrow) →
      politeness with FUSED dedupe (dedupe + rank windows share one
      host-partitioned exchange per skew branch).

    The seed payload crosses exactly ONE exchange. The default
    exact_join='prebuilt' takes the incrementally maintained sorted-shard
    exact index (seen.build_exact_index; built from `seen` when
    exact_index is omitted) and resolves bloom + exact membership in one
    narrow pandas UDF — no join operator, no per-pass hash-relation
    build. It requires the index to fit executor memory; at a
    10^10-row seen set use exact_join='branch' + the bucketed layout
    (see seen.filter_unseen). Result rows are persisted (the politeness
    census + both skew branches consume them); callers own
    unpersist/clearCache."""
    from .seen import filter_unseen as _filter_unseen

    # delta-encode BEFORE the persist: the cached unseen frame then
    # carries null url/host for the common case instead of three full
    # string columns per row (the cache build was the largest remaining
    # per-row byte cost of this pass; politeness re-encodes idempotently)
    cand = _slim_encode(seed_candidates(seeds))
    unseen = _filter_unseen(
        cand, seen, use_bloom=True, bloom=bloom, exact_join=exact_join,
        exact_index=exact_index,
    ).persist()
    return politeness_schedule(
        unseen,
        generation=generation,
        budget_per_host=budget_per_host,
        crawl_delay_sec=crawl_delay_sec,
        salt_parts=salt_parts,
        skew_threshold=skew_threshold,
        dedupe=True,
    )


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """(url, priority, seq) → generation-0 pending frontier rows.

    Constant columns (status/not_before/sched_gen) are attached AFTER the
    dedupe — shuffling them through the min_by aggregation is pure
    payload."""
    slim = seed_candidates(seeds)
    return (
        _dedupe_candidates_slim(slim)
        .withColumn("status", F.lit("pending"))
        .withColumn("not_before", F.lit(None).cast("timestamp"))
        .withColumn("sched_gen", F.lit(None).cast("int"))
    )


FRONTIER_COLS = [
    "url", "canonical_url", "url_hash", "host", "host_hash",
    "priority", "generation", "seq", "sub", "status", "not_before", "sched_gen",
]


def _cached_counts(obs: Observation, frame: DataFrame, aggs: list) -> dict:
    """The counts `aggs` that `obs` observed below the persist of `frame`.

    The observation completes with the first job whose plan holds it:
    the job that fills the cache. When that job dropped the cache scan
    (AQE replaced a subtree above it that it proved empty at runtime,
    e.g. a generation that discovers nothing), the counts are lost, not
    zero; they are then taken from the cache by one job."""
    got = observed(obs, None)
    return got if got is not None else frame.agg(*aggs).first().asDict()


def _pending(fr: DataFrame) -> DataFrame:
    """Merge-on-read pending rows of a frontier delta log.

    Discovery writes a url's row once with status='pending' (the
    seen-filter guarantees at-most-once discovery) and scheduling writes
    it once more with status='done' (or robots, 'blocked'). Latest-wins
    therefore reduces to an anti-join against the non-pending keys — no
    window, no full-table rewrite per generation (the O(frontier) write
    the snapshot design paid; at 10^10 pending rows that write IS the
    job)."""
    done_keys = fr.filter(F.col("status") != "pending").select("url_hash")
    return fr.filter(F.col("status") == "pending").join(
        done_keys, "url_hash", "left_anti"
    )


def pending_view(
    spark: SparkSession, store: SnapshotStore, generation: int | None = None
) -> DataFrame:
    """Merge-on-read pending state of the append-mode frontier table."""
    return _pending(store.read(spark, "frontier", generation).select(*FRONTIER_COLS))


# run_generation's defaults for the two options that size the head cache
BUDGET_PER_HOST = 8
COMPACT_EVERY = 8


def head_cap(
    budget_per_host: int = BUDGET_PER_HOST, compact_every: int = COMPACT_EVERY, **_
) -> int:
    """Rows per host the scheduler head cache keeps: K·B with
    K = compact_every + 1 (see run_generation). Accepts run_generation's
    keyword options as given to it; the others are ignored."""
    return (compact_every + 1) * budget_per_host


def run_generation(
    spark: SparkSession,
    store: SnapshotStore,
    documents: DataFrame,
    generation: int,
    budget_per_host: int = BUDGET_PER_HOST,
    crawl_delay_sec: int = 1,
    salt_parts: int = 16,
    use_bloom: bool = True,
    compact_every: int = COMPACT_EVERY,
    robots: DataFrame | None = None,
    exact_join: str = "branch",
    trap_gate: bool = False,
) -> dict:
    """One frontier generation: robots gate → schedule → fetch(sim) →
    expand → dedupe → seen-filter → delta commit. Returns driver-side
    metrics: rows_in, scheduled, discovered, new, blocked, wall_ms (up to
    the commit — the value the metrics row carries, since a row cannot
    contain its own commit), commit_ms (the write_many commit),
    rows_written (table → rows this commit wrote, as the manifest records
    them; the commit also logs each table's rows and files) and
    rank_plans (ranking → 'window' or 'split', see _rank_plan: 'schedule',
    'head' for the head write when the head cache is on, and 'refill'
    when the robots head refill ran).

    Each ranking's plan comes from a per-host row bound the generation
    already holds, at no job cost: head_cap for a head generation's
    scheduler input (the head and the robots refill are both top-head_cap
    per host); the frontier's recorded rows (SnapshotStore.rows, None
    without a record) for a full rank and the refill; the scheduler
    input's rows (head_cap on a head generation) plus the new rows for
    the head write.

    Every count is known before the commit without a job of its own
    (save _cached_counts' recount in a generation that discovers
    nothing): rows_in, blocked, scheduled and discovered are Observations
    placed below the persists of the scheduler input, the schedule and
    the seen filter's result, so they fire in the seen filter's
    materialize job that fills those caches; new is that job's count.
    The metrics summary row takes them as literals, and the frontier
    delta (scheduled + new + blocked rows) is written in files sized by
    its row count (write_many `rows`); a compaction is sized by the
    recorded frontier rows plus the delta's.

    trap_gate: apply canon.is_crawl_trap as an admission filter on
    discovered outlinks, BEFORE the in-batch dedupe and the seen
    anti-join — trap URL families never enter the frontier, bloom, or
    seen state.

    robots (optional): per-host disallow rules (see apply_robots). Blocked
    rows are committed with status='blocked' — in the merge-on-read view a
    non-pending status is a done-key, so they never re-enter the frontier.
    With the head cache active, any host that blocks ≥1 head row this
    generation gets its schedulable head slice rebuilt exactly from the
    full pending view BEFORE scheduling (see the inline refill note) —
    without this, blocked rows drain a host's head faster than the
    ≤ B/generation the head-exactness argument allows, and a rule
    blocking most of a head could under-schedule that host until the
    next compaction refill.

    The frontier commit is a DELTA (finished + newly discovered rows),
    cost ∝ scheduled+new instead of O(frontier); every `compact_every`
    generations the merged state is compacted into one dir so the
    read-side delta union and done-key anti-join stay bounded. The seen
    side (seen.SeenSide) runs the seen filter — merging the index tables
    its plan reads — and admits the new URLs.

    Head cache, active whenever compact_every > 0: schedule from a
    generation-carried HEAD table — per host the top head_cap = K·B
    pending rows in crawl order, K = compact_every+1 — so a
    non-compaction generation ranks only O(head + new) rows instead of
    the full pending set (at a 10^10-row frontier, ranking all pending
    to schedule ~B·hosts rows is the scale-killer). EXACTNESS: a row
    demoted from the head had ≥ K·B better-ranked rows at its host, at
    most B of which are scheduled per generation, so it cannot reach the
    true top-B within the ≤ compact_every (= K-1) generations before the
    next full refill — and newly discovered rows always merge through
    the head, so the head's top-B equals the full-pending top-B every
    generation. The refill rides the compaction pass (which already
    scans the full delta log). compact_every=0 ranks the full pending
    view every generation. With the head active, the rows_in metric
    counts the scheduler's input rows (head size), not the full pending
    set — counting 10^10 pending rows per generation would defeat the
    point."""
    t0 = time.time()
    frontier = store.read(spark, "frontier").select(*FRONTIER_COLS)
    side = SeenSide(spark, store)

    is_compact = bool(compact_every) and generation % compact_every == 0
    cap = head_cap(budget_per_host, compact_every)
    # None on the first generation / a pre-head store → full rank
    head_df = (
        store.read_or_none(spark, "head")
        if compact_every and not is_compact else None
    )
    # recorded frontier rows: a bound on any host's pending rows (full
    # rank, refill) and the size of a compaction; None without a record
    n_frontier = store.rows("frontier")
    # the most rows any one host can bring to the scheduler
    sched_bound = n_frontier if head_df is None else cap
    rank_plans = {}
    # persist: politeness's split plan consumes pending three times (skew
    # census + norm/big splits) — uncached that's three delta-log
    # re-merges. Head generations never build the merge-on-read pending
    # view at all: the head IS the schedulable set.
    # rows_in (the scheduler's input, robots-blocked rows included) and
    # n_blocked are observed BELOW the persist of that input (`gated`
    # when robots are given, else `pending`): they fire in the
    # materialize job that fills the cache.
    in_obs = Observation()
    in_aggs = [F.count(F.lit(1)).alias("n")]
    pending = (
        _pending(frontier) if head_df is None else head_df.select(*FRONTIER_COLS)
    )
    if robots is None:
        pending = pending.observe(in_obs, *in_aggs)
    pending = pending.persist()

    gated = blocked = refill = None
    schedulable = pending
    if robots is not None:
        in_aggs.append(F.count_if(F.col("robots_blocked")).alias("b"))
        gated = apply_robots(pending, robots).observe(in_obs, *in_aggs).persist()
        blocked = (
            gated.filter(F.col("robots_blocked"))
            .drop("robots_blocked")
            .withColumn("status", F.lit("blocked"))
            .withColumn("sched_gen", F.lit(generation))
            .select(*FRONTIER_COLS)
        )
        schedulable = gated.filter(~F.col("robots_blocked")).drop("robots_blocked")
        # The head-refill decision below is RELATIONAL: the refill plan is
        # always built, and degenerates to the identity at runtime when
        # nothing was blocked (blocked_hosts is empty → AQE's
        # empty-relation propagation replaces the broadcast semi-join with
        # an empty relation and the anti-join with its stream side) — no
        # synchronous driver action before the commit.
        if head_df is not None:
            # Head-cache × robots exactness fix: the head-exactness
            # argument assumes ≤ B rows leave a host's head per
            # generation, but robots-blocked head rows ALSO leave (they
            # commit non-pending and never return) — a rule that blocks
            # most of a host's head would leave it with fewer than B
            # schedulable head rows until the next compaction refill,
            # under-scheduling the host even within THIS generation
            # (the true top-B schedulable rows may sit below the head).
            # Whenever a host blocked ≥1 head row this generation, its
            # schedulable slice is rebuilt EXACTLY from the full pending
            # view (delta-log merge filtered to the affected hosts via a
            # broadcast semi-join), with current robots applied first —
            # so scheduling and the post-generation head write both see
            # the exact schedulable top again. Robots-blocked rows BELOW
            # the head stay pending in the log (they are gated — and
            # committed blocked — at the next full-rank generation).
            blocked_hosts = F.broadcast(
                gated.filter(F.col("robots_blocked")).select("host_hash").distinct()
            )
            affected = (
                apply_robots(
                    _pending(frontier).join(blocked_hosts, "host_hash", "left_semi"),
                    robots,
                )
                .filter(~F.col("robots_blocked"))
                .drop("robots_blocked")
            )
            refreshed = top_per_host(
                affected.select(*FRONTIER_COLS), cap, salt_parts, max_host_rows=n_frontier
            )
            rank_plans["refill"] = refreshed.rank_plan
            refill = (
                schedulable.join(blocked_hosts, "host_hash", "left_anti")
                .unionByName(refreshed.select(*schedulable.columns))
                .persist()
            )
            schedulable = refill

    # per-host crawl-delay from the robots table when provided
    host_delays = None
    if robots is not None and "crawl_delay_sec" in robots.columns:
        host_delays = robots.select(
            canon.host_hash(F.col("host")).alias("host_hash"), "crawl_delay_sec"
        )
    # pending rows carry CONSTANT status/not_before/sched_gen by
    # construction (discovery writes them exactly once as
    # pending/null/null; the merge-on-read view and the head exclude
    # everything else) — dropping them keeps three dead 8-byte slots out
    # of the rank exchange; politeness re-synthesizes them.
    sched_obs = Observation()
    sched_agg = F.count_if(F.col("status") == "scheduled").alias("n")
    ranked = politeness_schedule(
        schedulable.drop("status", "not_before", "sched_gen"),
        generation, budget_per_host, crawl_delay_sec, salt_parts,
        host_delays=host_delays, max_host_rows=sched_bound,
    )
    rank_plans["schedule"] = ranked.rank_plan
    updated = ranked.observe(sched_obs, sched_agg).persist()
    scheduled = updated.filter(F.col("status") == "scheduled")
    still_pending = updated.filter(F.col("status") == "pending").select(*FRONTIER_COLS)

    # fetch simulation (S11): scheduled URL → its document in the corpus
    docs_canon = documents.select(
        canon.canonical_url(F.col("url")).alias("doc_canonical_url"),
        "url", "spans", "seq",
    )
    fetched = scheduled.select("canonical_url", F.col("seq").alias("parent_rank")).join(
        docs_canon, F.col("canonical_url") == F.col("doc_canonical_url"), "inner"
    ).select("url", "spans", F.col("seq"))

    discovered = (
        extract_outlinks(fetched)
        .withColumn("priority", F.lit(DEFAULT_PRIORITY))
        .withColumn("generation", F.lit(generation))
        .withColumn("seq", F.col("parent_seq"))
        .drop("parent_seq")
    )
    if trap_gate:
        # crawl-trap ADMISSION gate (canon.is_crawl_trap): applied to raw
        # discovered URLs BEFORE canonicalize/dedupe/seen — trap families
        # (session-id aliases, calendar loops, parameter explosions)
        # never enter the pending set, the bloom, or the seen table, so
        # at 10^10 scale an adversarial site can't inflate the state
        # tables. Map-only (the signal struct carries ONE copy of the
        # URL parse tree); rows dropped here are intentionally absent
        # from every downstream count.
        discovered = discovered.filter(~canon.is_crawl_trap(F.col("url")))
    # constants attached after the dedupe shuffle (see seeds_to_frontier)
    disc_obs = Observation(f"disc_{generation}")
    discovered = (
        _dedupe_candidates_slim(canonicalize_candidates(discovered).select(*_DEDUP_COLS))
        .withColumn("status", F.lit("pending"))
        .withColumn("not_before", F.lit(None).cast("timestamp"))
        .withColumn("sched_gen", F.lit(None).cast("int"))
        .select(*FRONTIER_COLS)
        # the seen filter is the only reader: its materialize job runs
        # this CollectMetrics node once, below the persist of its result
        .observe(disc_obs, F.count(F.lit(1)).alias("n"))
    )
    new_base = side.unseen(discovered, use_bloom, exact_join)
    new_rows = new_base.select(*FRONTIER_COLS)
    n_new = new_base.materialized_count
    # the materialize job above filled the pending/gated, updated and
    # seen-filter caches and so fired their observations: no job runs here
    n_discovered = int(observed(disc_obs, {"n": 0})["n"])
    inputs = _cached_counts(in_obs, pending if gated is None else gated, in_aggs)
    n_rows_in, n_blocked = int(inputs["n"]), int(inputs.get("b", 0))
    n_scheduled = int(_cached_counts(sched_obs, updated, [sched_agg])["n"])

    # Driver-side actions are per-generation FIXED overhead that caps the
    # headline rate and scaling efficiency, so the only count job before
    # the commit is the seen filter's materialize job, which every later
    # count rides.
    wall_ms = int((time.time() - t0) * 1000)
    # per-partition lineage (A6/north_rule): one lazy aggregate of the
    # scheduled rows' partition ids that rides the metrics write, plus
    # the summary row (partition_id -1) from the counts already known —
    # written even when nothing was scheduled. coalesce(1): the rows
    # (at most partitions + 1) land in one file, not one per union side.
    per_part = scheduled.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count(F.lit(1)).alias("scheduled"), F.lit(0).cast("long").alias("filtered_seen")
    )
    summary = spark.range(1).select(
        F.lit(-1).alias("partition_id"), F.lit(n_scheduled).cast("long").alias("scheduled"),
        F.lit(n_discovered - n_new).cast("long").alias("filtered_seen"),
    )
    metrics = per_part.unionByName(summary).coalesce(1).select(
        F.lit(generation).cast("int").alias("generation"), "partition_id",
        F.lit(n_rows_in).cast("long").alias("rows_in"),
        F.lit(n_new).cast("long").alias("rows_out"), "scheduled", "filtered_seen",
        F.lit(wall_ms).cast("long").alias("wall_ms"),
    )
    # ONE atomic commit for every table: a crash mid-generation must
    # never leave the frontier at g with the seen set at g-1. All are
    # append-mode — only this generation's delta is written (a full
    # rewrite is O(10^10) I/O per generation at target scale). Every
    # compact_every generations the frontier delta log is folded into one
    # merged dir instead (still the same atomic commit).
    # scheduled rows are fetched within the generation → status done
    delta = scheduled.withColumn("status", F.lit("done")).select(
        *FRONTIER_COLS
    ).unionByName(new_rows)
    n_delta = n_scheduled + n_new + n_blocked
    if blocked is not None:
        delta = delta.unionByName(blocked)
    if is_compact:
        merged = (
            frontier.filter(F.col("status") != "pending")
            .unionByName(delta)
            .unionByName(still_pending)
        )
        # sized from an upper bound on the merged rows (still_pending is
        # part of the recorded frontier); without a record (a store from
        # before the counts) the write keeps its plan's partitioning
        frontier_entry = Write(
            "frontier", merged, generation, "compact",
            rows=None if n_frontier is None else n_frontier + n_delta,
        )
    else:
        frontier_entry = Write("frontier", delta, generation, "append", rows=n_delta)
    writes = [frontier_entry, ("metrics", metrics, generation, "append")]
    writes += side.admit(new_rows, n_new, generation, is_compact)
    if compact_every:
        # head' = top-K·B per host of (this generation's unscheduled
        # input ∪ new discoveries). On a head generation the input was
        # the old head (cost O(head+new)); on a refill/compaction
        # generation it was the full pending view, so this IS the exact
        # refill. Demoted rows need no write — they already sit in the
        # frontier delta log as pending. A host's unscheduled input rows
        # are at most its scheduler input rows: head_cap on a head
        # generation, else at most every input row.
        head_bound = (n_rows_in if head_df is None else cap) + n_new
        head_new = top_per_host(
            still_pending.unionByName(new_rows), cap, salt_parts, max_host_rows=head_bound
        )
        rank_plans["head"] = head_new.rank_plan
        writes.append(("head", head_new, generation, "snapshot"))
    t_commit = time.time()
    rows_written = store.write_many(writes)
    commit_ms = int((time.time() - t_commit) * 1000)
    for h in (updated, pending, new_base, gated, refill, *ranked.persisted):
        if h is not None:
            h.unpersist()
    return {
        "generation": generation,
        "rows_in": n_rows_in,
        "scheduled": n_scheduled,
        "discovered": n_discovered,
        "new": n_new,
        "blocked": n_blocked,
        "wall_ms": wall_ms,
        "commit_ms": commit_ms,
        "rows_written": rows_written,
        "rank_plans": rank_plans,
    }


def admit_seeds(
    spark: SparkSession,
    store: SnapshotStore,
    seeds: DataFrame,
    generation: int,
    cap: int,
    seen_layout: str = "append",
    seen_buckets: int = 32,
) -> int:
    """Admit seed URLs (url, priority, seq) at `generation` in one atomic
    commit; returns how many were new. The unseen seeds (all of them on a
    fresh store) go to the frontier as pending rows, to the seen side
    (seen.SeenSide.admit) and into the head cache when the store has one
    — the head must see every pending row that could make a host's top-B
    before the next full refill. `cap` is head_cap of the run's options.
    seen_layout/seen_buckets lay out a fresh store's seen table (see
    bootstrap)."""
    side = SeenSide(spark, store, seen_layout)
    new = side.unseen(seeds_to_frontier(seeds).select(*FRONTIER_COLS), use_bloom=False)
    n_new = new.materialized_count
    writes = [Write("frontier", new, generation, "append", rows=n_new)]
    writes += side.admit(new, n_new, generation)
    head = store.read_or_none(spark, "head")
    if head is not None:
        merged = top_per_host(
            head.select(*FRONTIER_COLS).unionByName(new), cap, max_host_rows=cap + n_new
        )
        writes.append(("head", merged, generation, "snapshot"))
    store.write_many(
        writes,
        bucket_specs=None if side.seen is not None else {"seen": (["url_hash"], seen_buckets)},
    )
    new.unpersist()
    return n_new


def bootstrap(
    spark: SparkSession,
    store: SnapshotStore,
    seeds: DataFrame,
    seen_layout: str = "append",
    seen_buckets: int = 32,
) -> dict:
    """Generation 0: seed a fresh store's frontier and seen side
    (admit_seeds; the bloom is sized for twice the seeded URLs).

    seen_layout='bucketed' stores the seen set as a url_hash-bucketed
    external table (state.SnapshotStore bucketed mode): every later
    generation's exact anti-join then scans the 10^10-row seen side IN
    PLACE — no per-generation shuffle of the seen set, only the small
    maybe-seen side is exchanged into the bucket partitioning. At cluster
    scale pick seen_buckets ~ total cores (e.g. 4096); the Iceberg analog
    is a bucket(N, url_hash) partition transform + storage-partitioned
    joins. Any other layout name raises ValueError."""
    # a fresh store has no head cache yet, so the cap is never used
    n = admit_seeds(spark, store, seeds, 0, head_cap(), seen_layout, seen_buckets)
    return {"generation": 0, "seeded": n}


def run_generations(
    spark: SparkSession,
    store: SnapshotStore,
    documents: DataFrame,
    seeds: DataFrame | None,
    n_generations: int,
    start_generation: int | None = None,
    seen_layout: str = "append",
    seen_buckets: int = 32,
    **kwargs,
) -> list[dict]:
    """Drive the generation loop (the reference's master.py restart loop).

    With start_generation=None: bootstrap from seeds then run 1..n.
    With start_generation=k: exact resume from snapshot k (seeds ignored;
    the seen layout is read back from the store manifest)."""
    out = []
    if start_generation is None:
        assert seeds is not None, "seeds required for a fresh run"
        out.append(bootstrap(spark, store, seeds, seen_layout, seen_buckets))
        gens = range(1, n_generations + 1)
    else:
        gens = range(start_generation + 1, start_generation + 1 + n_generations)
    for g in gens:
        out.append(run_generation(spark, store, documents, g, **kwargs))
    return out
