"""Graph analytics over the citation/referral edge graph.

The reference ranks sources by raw citation in-degree ("interest
output": number of referrals per source,
/root/reference/processor/post_processor/processor.py:81-97, surfaced
sorted in the archived notebook explorer). In-degree is a fine first
cut, but at web scale it is trivially gamed by one prolific referrer;
PageRank over the same referral edge set answers the question the
in-degree count approximates — which sources does the WHOLE graph point
at — and is the standard authority score a crawl scheduler feeds back
into frontier priority. No reference analog beyond the in-degree count;
this is the builder-spec scale extension (same relationship to
interest_ranking as neardup_clusters has to drop_duplicates).

Execution shape (designed for |E| >> |V| >> memory):
- out-degree shares are computed once (one shuffle over edges) and the
  per-edge contribution weight carried as a column — iterations never
  recompute degrees;
- each iteration is one equi-join of the rank frame (|V| rows) against
  the share table plus one groupBy(dst) sum with map-side partial
  aggregation — two shuffles per iteration, both keyed on node id, so
  pre-bucketing nodes and edges by id makes them exchange-free;
- the dangling-node mass (rank parked on nodes with no out-edges) is a
  one-row aggregate broadcast back into the update expression — never a
  driver-side collect;
- lineage is cut per iteration with localCheckpoint (same discipline as
  dedup.neardup_clusters: an iterative plan otherwise grows by two
  shuffles per round and re-executes from the source on every action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import canon

__all__ = [
    "pagerank", "rank_priority", "redirect_resolve", "hits", "cocitation",
    "host_graph",
]


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    id_col: str = "id",
) -> DataFrame:
    """Power-iteration PageRank with uniform teleport and dangling-mass
    redistribution.

    nodes(id_col) — one row per node (must cover every src/dst);
    edges(src, dst) — directed, parallel edges count double (a doc
    citing the same source twice contributes twice, matching the
    reference's referral list semantics before its dict.fromkeys dedupe,
    processor.py:36 — pass edges.distinct() for the deduped variant).

    Returns (id_col, rank); ranks sum to 1 every iteration (teleport
    (1-d)/N + d * (in-edge shares + dangling mass spread uniformly)).

    iterations is fixed (not convergence-tested): rank feedback for
    scheduling wants a bounded, deterministic cost — and a fixed unroll
    is what the DuckDB oracle can express (q_pagerank unrolls the same
    three rounds as chained CTEs).
    """
    n = nodes.count()
    if n == 0:
        return nodes.select(F.col(id_col), F.lit(0.0).alias("rank"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_outdeg"))
    shares = (
        edges.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("_outdeg")).alias("share"))
        .persist()
    )
    has_out = outdeg.select(F.col("src").alias(id_col))
    ranks = nodes.select(id_col).withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        # rank mass sitting on dangling nodes (no out-edges): one-row
        # aggregate, broadcast into the update — spread uniformly like
        # the original formulation (keeps sum(rank) == 1 exactly).
        dangling = (
            ranks.join(has_out, id_col, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            ranks.join(shares, ranks[id_col] == shares.src)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("_contrib"))
            .withColumnRenamed("dst", id_col)
        )
        ranks = (
            nodes.select(id_col)
            .join(contrib, id_col, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                id_col,
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_contrib"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    shares.unpersist()
    return ranks


def redirect_resolve(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int | None = None,
) -> DataFrame:
    """Resolve HTTP-redirect chains to their final destination by pointer
    doubling — the step a crawler runs over the (url → redirect target)
    edge set before seen-set insertion, so the frontier dedupes on final
    URLs instead of re-fetching every hop (the reference expands short
    URLs one driver-side request at a time,
    /root/reference/processor/post_processor/utils.py:129-141; this is
    the set-at-once graph formulation of the same normalization).

    edges(src_col, dst_col): functional — at most one out-edge per src
    (duplicate srcs are collapsed to min(dst) for determinism). Returns
    one row per src: (src_col, final string|null, hops int|null,
    is_cycle) where is_cycle marks chains that never reach a terminal
    (the src is on, or leads into, a redirect loop) — final/hops are
    null for those, mirroring a crawler marking the URL dead.

    Execution shape: each round is ONE equi-join of the chain frame
    against itself keyed on the current pointer (ptr(x) ← ptr(ptr(x)),
    hops additive), so a chain of length L resolves in ceil(log2 L)
    rounds — never O(L) sequential lookups; lineage is cut per round
    with localCheckpoint. The round count is fixed up front at
    ceil(log2(#srcs)) + 1: the graph is functional, so a terminal chain
    can never be longer than the source count — any row whose pointer
    still lands on a source after those rounds must sit on (or feed
    into) a cycle, detected without per-node visited state or an
    unbounded loop. A no-progress round short-circuits early (an
    acyclic edge set finishes as soon as every pointer is terminal).

    max_hops: crawler policy bound (the max-redirects limit every real
    fetcher enforces). When set, the round count is ceil(log2(max_hops))
    + 1 instead of depending on the source count, and any chain longer
    than max_hops is flagged is_cycle=true — the same "mark the URL
    dead" outcome a fetcher gives a redirect loop OR an over-limit
    chain. With max_hops ≥ the true longest terminal chain the output
    is identical to the exact mode; each skipped doubling round saves
    two fixed job launches (checkpoint + progress probe), which at
    typical data sizes IS the operator's cost."""
    step = (
        edges.groupBy(F.col(src_col).alias("_src"))
        .agg(F.min(dst_col).alias("_ptr"))
        .select("_src", "_ptr", F.lit(1).cast("long").alias("_hops"))
        .localCheckpoint()
    )
    srcs = step.select(F.col("_src").alias("_s"))
    cur = step
    if max_hops is not None:
        if max_hops < 1:
            raise ValueError(f"max_hops must be >= 1: {max_hops}")
        rounds = max(1, (max(max_hops, 2) - 1).bit_length()) + 1
    else:
        n_src = step.count()
        rounds = max(1, (max(n_src, 2) - 1).bit_length()) + 1
    for _ in range(rounds):
        hop = cur.select(
            F.col("_src").alias("_jsrc"),
            F.col("_ptr").alias("_jptr"),
            F.col("_hops").alias("_jhops"),
        )
        nxt = (
            cur.join(hop, F.col("_ptr") == F.col("_jsrc"), "left")
            .select(
                "_src",
                F.coalesce("_jptr", "_ptr").alias("_ptr"),
                (F.col("_hops") + F.coalesce("_jhops", F.lit(0))).alias("_hops"),
                F.col("_jptr").isNotNull().alias("_moved"),
            )
            .localCheckpoint()
        )
        cur = nxt.drop("_moved")
        # cheap on the checkpointed frame; cycle rows keep "moving"
        # forever, so this only fires (and saves rounds) when acyclic
        if nxt.where("_moved").isEmpty():
            break
    flagged = cur.join(
        srcs.select(F.col("_s"), F.lit(True).alias("_cyc")),
        F.col("_ptr") == F.col("_s"),
        "left",
    )
    return flagged.select(
        F.col("_src").alias(src_col),
        F.when(F.col("_cyc").isNull(), F.col("_ptr")).alias("final"),
        F.when(F.col("_cyc").isNull(), F.col("_hops")).cast("int").alias("hops"),
        F.coalesce("_cyc", F.lit(False)).alias("is_cycle"),
    )


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    id_col: str = "id",
) -> DataFrame:
    """HITS hubs-and-authorities over the referral edge graph — the
    two-sided complement of `pagerank` (a page can matter as a *hub*
    that links out to good sources without being cited itself; the
    reference's in-degree interest ranking, processor.py:81-97, only
    sees the authority side).

    L1-normalized variant: each half-step sums neighbor scores then
    divides by the total (one-row aggregate broadcast back in — the
    classic L2 norm would add a sqrt for no analytical benefit and
    break exact SQL-oracle parity). Fixed `iterations` like `pagerank`,
    so the DuckDB oracle can unroll the same rounds as chained CTEs.

    Returns (id_col, authority, hub), both summing to 1. Per iteration:
    two equi-joins + two groupBy sums, all keyed on node id — the same
    two-shuffle-per-round, bucketable shape as pagerank; lineage cut per
    round with localCheckpoint.
    """
    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col(id_col), F.lit(0.0).alias("authority"), F.lit(0.0).alias("hub")
        )
    e = edges.select("src", "dst").persist()
    hub = nodes.select(id_col).withColumn("h", F.lit(1.0 / n))
    auth = None
    for _ in range(iterations):
        a_raw = (
            e.join(hub, e.src == hub[id_col])
            .groupBy("dst")
            .agg(F.sum("h").alias("_raw"))
            .withColumnRenamed("dst", id_col)
        )
        auth = _l1_normalized(nodes, a_raw, id_col, "a")
        h_raw = (
            e.join(auth, e.dst == auth[id_col])
            .groupBy("src")
            .agg(F.sum("a").alias("_raw"))
            .withColumnRenamed("src", id_col)
        )
        hub = _l1_normalized(nodes, h_raw, id_col, "h")
    e.unpersist()
    return (
        auth.join(hub, id_col)
        .select(id_col, F.col("a").alias("authority"), F.col("h").alias("hub"))
    )


def host_graph(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    drop_self: bool = True,
) -> DataFrame:
    """Collapse the URL-level citation graph to the registrable-domain
    webgraph: (src_domain, dst_domain, weight) with weight = number of
    URL-level links. This is the graph the crawl scheduler actually
    ranks (pagerank/hits over 10^10 URLs is noise; over 10^8 domains it
    is signal), and the domain-level edge list the reference's
    interest/citation outputs aggregate toward (processor.py:81-97 keys
    by source domain).

    Both endpoints resolve their registrable domain via
    canon.attach_registrable_domain, canon's one public-suffix rule
    (broadcast joins against the suffix dimensions), so `www.a.com/x`
    and `a.com/y` fold into one node; derivation is those joins + ONE
    domain-pair-keyed aggregation with map-side partials; self-edges
    (intra-domain links) are dropped by default — they dominate raw link
    counts and carry no cross-site authority.
    """
    g = edges.select(
        canon.url_host(F.col(src_col)).alias("_sh"),
        canon.url_host(F.col(dst_col)).alias("_dh"),
    )
    g = canon.attach_registrable_domain(g, "_sh", "src_domain")
    g = canon.attach_registrable_domain(g, "_dh", "dst_domain")
    out = g.groupBy("src_domain", "dst_domain").agg(
        F.count("*").cast("long").alias("weight")
    )
    if drop_self:
        out = out.where(F.col("src_domain") != F.col("dst_domain"))
    return out


def cocitation(
    edges: DataFrame,
    min_count: int = 1,
    max_out: int = 64,
) -> DataFrame:
    """Co-citation counting: how often two targets are cited by the SAME
    source — the edge weight of the media co-citation network that is
    the reference project's analytical end product (its interest output
    counts citations per single source, processor.py:81-97; co-citation
    is the pairwise structure those counts flatten away).

    edges(src, dst), parallel edges collapsed (a doc citing the same
    target twice is one citation). Returns (dst_a, dst_b, cocitations)
    with dst_a < dst_b.

    Scale guard: pair generation is quadratic in a source's out-degree,
    so sources citing more than `max_out` distinct targets are dropped
    ENTIRELY (not truncated — a truncated pair set would depend on
    partition order). That is the df-cap discipline of the shingle/LSH
    paths: a link-farm page citing 10k domains contributes no curation
    signal, only an O(10k²) hot key. Pairs are generated JVM-side from
    each source's sorted target array (one groupBy(src), no self-join
    of the edge table), then counted with one pair-keyed aggregation —
    two shuffles total.
    """
    per_src = (
        edges.select("src", "dst")
        .distinct()
        .groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("_ts"))
        .where(F.size("_ts").between(2, max_out))
    )
    pairs = per_src.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_ts"),
                    lambda a, i: F.transform(
                        F.slice(F.col("_ts"), i + 2, F.size("_ts")),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("_p")
    )
    out = (
        pairs.groupBy(
            F.col("_p.a").alias("dst_a"), F.col("_p.b").alias("dst_b")
        )
        .agg(F.count("*").cast("long").alias("cocitations"))
    )
    if min_count > 1:
        out = out.where(F.col("cocitations") >= min_count)
    return out


def _l1_normalized(
    nodes: DataFrame, raw: DataFrame, id_col: str, out: str
) -> DataFrame:
    """Spread `raw` over all nodes (missing → 0) and divide by the grand
    total: one broadcast one-row aggregate, zero driver collects. An
    all-zero round (no edges) keeps zeros instead of dividing by 0."""
    total = raw.agg(F.coalesce(F.sum("_raw"), F.lit(0.0)).alias("_tot"))
    return (
        nodes.select(id_col)
        .join(raw, id_col, "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.when(
                F.col("_tot") > 0, F.coalesce("_raw", F.lit(0.0)) / F.col("_tot")
            ).otherwise(F.lit(0.0)).alias(out),
        )
        .localCheckpoint()
    )


def rank_priority(
    ranks: DataFrame,
    n_nodes: int | None = None,
    base: int = 5,
    lo: int = 0,
    hi: int = 9,
    id_col: str = "id",
) -> DataFrame:
    """Authority feedback into the crawl scheduler: map PageRank scores
    to frontier scheduling classes (frontier.ORDER_COLS sorts priority
    ASCENDING — lower schedules earlier; DEFAULT_PRIORITY = 5 is `base`).

    priority = clamp(base - floor(log2(rank * N)), lo, hi): a node at
    the uniform baseline rank 1/N keeps `base`; every doubling of
    authority moves it one class earlier. Assignment is by VALUE, not by
    quantile — an ntile/percent_rank assignment would funnel the whole
    rank frame through one global sort task, while this is a map-only
    expression with no shuffle at any scale, and is reproducible
    independent of partitioning (crawl-ordering determinism,
    BASELINE.json north_rule). Returns (id_col, priority int).
    """
    if n_nodes is None:
        n_nodes = ranks.count()
    ratio = F.col("rank") * F.lit(float(n_nodes))
    cls = F.lit(base) - F.floor(F.log2(ratio))
    return ranks.select(
        F.col(id_col),
        F.least(F.lit(hi), F.greatest(F.lit(lo), cls)).cast("int").alias("priority"),
    )
