"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship citation/frontier pipeline on sf0.001.
queries(): one entry per implemented operator family from SURVEY.md §2 +
the training-data operators (dedup / similarity / text / multimodal).
oracle_sql(): DuckDB-equivalent SQL for every SQL-expressible query —
including the frontier scheduler and bloom seen-filter, whose salted /
bloom-bypass physical strategies produce exactly-SQL-expressible results.
Only hash-implementation-specific ops (minhash/simhash signatures) and
stubbed media decode are rows-only.

Column-name parity rule: every computed column is aliased identically in
the Spark plan and the SQL text.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from post_processor_spark import canon, frontier  # noqa: E402
from post_processor_spark.analytics import (  # noqa: E402
    clean, decontam, dedup, graph, index, multimodal, packing, pii, report,
    sampling, similarity, text,
)

SF_DEFAULT = "/root/testdata/sf0.001"


def _seq1(k):
    """sequence(1..k), EMPTY when k < 1 — Spark's sequence(1, 0) yields a
    descending [1, 0], unlike SQL generate_series; guard it."""
    return F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship: documents table → interleaved spans → citation/referral pipeline
# --------------------------------------------------------------------------

def _spans_from_documents(docs: DataFrame, n_docs: int) -> tuple[DataFrame, DataFrame]:
    """Derive the canonical (doc_id, spans) interleaved table from the
    driver's flat documents table, deterministically: each doc gets a text
    span plus k=doc_id%4 link spans at (doc_id*7+k) % n_docs — the same
    rule the oracle-checked q_referral_* queries use."""
    k = (F.col("doc_id") % 4).cast("int")
    links = F.transform(
        _seq1(k),
        lambda i: F.struct(
            F.lit("link").alias("kind"),
            F.concat(F.lit("anchor"), i.cast("string")).alias("text"),
            F.concat(
                F.lit("https://corpus.example.com/doc/"),
                ((F.col("doc_id") * 7 + i) % n_docs).cast("string"),
            ).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    spans = F.concat(
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ),
        links,
    )
    url = F.concat(F.lit("https://corpus.example.com/doc/"), F.col("doc_id").cast("string"))
    documents = docs.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))
    meta = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        url.alias("url"),
        F.lit("article").alias("doc_type"),
        F.lit("https://corpus.example.com/").alias("domain"),
        F.col("doc_id").alias("seq"),
        F.lit("").alias("title"),
        F.lit("").alias("author"),
        F.lit("").alias("date"),
        F.col("text").alias("article_text"),
        F.lit(0).cast("long").alias("retweet_count"),
        F.lit(0).cast("long").alias("reply_count"),
        F.lit(0).cast("long").alias("like_count"),
        F.lit(0).cast("long").alias("quote_count"),
    )
    return documents, meta


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: spans → frontier outlink extraction →
    canonicalize → in-batch dedupe → per-host politeness schedule.
    Returns the scheduled batch (stable schema, deterministic)."""
    docs = _t(spark, SF_DEFAULT, "documents")
    n = docs.count()
    documents, _meta = _spans_from_documents(docs, n)
    outlinks = frontier.extract_outlinks(
        documents.join(
            docs.select(
                F.col("doc_id").cast("string").alias("doc_id"),
                F.concat(F.lit("https://corpus.example.com/doc/"), F.col("doc_id").cast("string")).alias("url"),
                F.col("doc_id").alias("seq"),
            ),
            "doc_id",
        )
    )
    cand = (
        outlinks.withColumn("priority", F.lit(5))
        .withColumn("generation", F.lit(0))
        .withColumn("seq", F.col("parent_seq"))
        .drop("parent_seq")
        .withColumn("status", F.lit("pending"))
        .withColumn("not_before", F.lit(None).cast("timestamp"))
        .withColumn("sched_gen", F.lit(None).cast("int"))
    )
    pending = frontier.dedupe_candidates(frontier.canonicalize_candidates(cand))
    return frontier.politeness_schedule(pending, generation=1, budget_per_host=64).filter(
        F.col("status") == "scheduled"
    ).select("url", "canonical_url", "host", "priority", "seq", "not_before")


# --------------------------------------------------------------------------
# oracle-checked queries
# --------------------------------------------------------------------------

def _q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_filter_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


def _q_top_orders(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.desc("total"), "o_orderkey")
        .limit(10)
    )


def _q_revenue_by_nation(spark, sf):
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


def _q_semi_join(spark, sf):
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def _q_anti_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def _q_union_by_status(spark, sf):
    o = _t(spark, sf, "orders")
    hi = o.filter(F.col("o_totalprice") > 100000).select("o_orderstatus")
    lo = o.filter(F.col("o_totalprice") <= 100000).select("o_orderstatus")
    return (
        hi.unionByName(lo).groupBy("o_orderstatus").agg(F.count("*").alias("n")).orderBy("o_orderstatus")
    )


def _q_topk_per_group(spark, sf):
    p = _t(spark, sf, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "rk", "p_partkey", F.round("p_retailprice", 2).alias("price"))
    )


def _q_first_event_per_user(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type")
    )


def _q_asof_join(spark, sf):
    """As-of temporal join (analytics/temporal.py): each event picks up
    the customer's most recent order at-or-before the event time. The
    right side is deduped to one row per (custkey, orderdate) first so
    the result is deterministic (ties broken by max orderkey)."""
    from post_processor_spark.analytics import temporal

    e = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_totalprice"),
        )
    )
    return temporal.asof_join(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        payload_cols=["last_orderkey", "last_totalprice"],
    ).select("event_id", "user_id", "last_orderkey", "last_totalprice")


def _q_sessionize(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts.cast("double") keeps sub-second precision (unix_timestamp truncates
    # to seconds, which could flip an 1800 s boundary at higher sf).
    ts_s = F.col("ts").cast("timestamp").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    sess = e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return (
        sess.groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def _q_event_minute(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.date_trunc("minute", "ts").alias("minute"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def _q_json_extract(spark, sf):
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


def _q_regexp_extract(spark, sf):
    c = _t(spark, sf, "customer")
    return (
        c.select(F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"))
        .groupBy(F.length("digits").cast("long").alias("n_digits"))
        .agg(F.count("*").alias("n"))
        .orderBy("n_digits")
    )


def _q_month_orders(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .orderBy("month")
    )


def _q_distinct_customers(spark, sf):
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("o_orderpriority")
    )


def _q_wordcount(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


def _q_referral_edges(spark, sf):
    """J1 analog over the driver documents table: deterministic edge rule
    dst=(doc_id*7+k)%N for k in 1..doc_id%4; groupBy dst with ordered
    collect (reference referral map, processor_domain.py:185-204)."""
    d = _t(spark, sf, "documents")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
    ).select("src", ((F.col("src") * 7 + F.col("k")) % n).alias("dst"))
    return (
        edges.groupBy("dst")
        .agg(
            F.count("*").alias("n_refs"),
            F.array_join(F.array_sort(F.collect_list(F.col("src").cast("string"))), ",").alias("referrers"),
        )
        .orderBy("dst")
    )


def _q_referral_probe(spark, sf):
    """J3 analog: every doc left-joined to its referrer count (zero kept)."""
    d = _t(spark, sf, "documents")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
    ).select("src", ((F.col("src") * 7 + F.col("k")) % n).alias("dst"))
    agg = edges.groupBy("dst").agg(F.count("*").alias("cnt"))
    return (
        d.join(agg, d.doc_id == agg.dst, "left")
        .select("doc_id", F.coalesce("cnt", F.lit(0)).cast("long").alias("n_referrals"))
        .orderBy("doc_id")
    )


def _q_synthetic_nodes(spark, sf):
    """J7 analog: referenced ids that don't exist in the corpus
    (dst computed WITHOUT the mod wrap → ids ≥ N are 'unknown')."""
    d = _t(spark, sf, "documents")
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
    ).select((F.col("src") * 7 + F.col("k")).alias("dst"))
    return (
        edges.join(d, edges.dst == d.doc_id, "left_anti")
        .select("dst")
        .distinct()
        .orderBy("dst")
    )


def _q_dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    return (
        d.groupBy(fp.alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
        .orderBy("keep_id")
    )


def _q_token_stats(spark, sf):
    d = _t(spark, sf, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    return (
        d.groupBy("lang")
        .agg(
            F.sum(n_tokens).alias("total_tokens"),
            F.max(n_tokens).cast("long").alias("max_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


def _q_stopword_ratio(spark, sf):
    d = _t(spark, sf, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    sw = F.lit(text.EN_STOPWORDS)
    ratio = F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double") / F.size(toks), 4
    )
    return d.select("doc_id", ratio.alias("stop_ratio")).orderBy("doc_id")


def _q_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select("lang", text.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


def _q_ngram_jaccard(spark, sf):
    d = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, text_col="text", id_col="doc_id", n=2, threshold=0.6)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard")).orderBy("id_a", "id_b")


def _q_ann_cosine(spark, sf):
    e = _t(spark, sf, "embeddings")
    dbl = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    q = dbl.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    topk = similarity.brute_force_topk(dbl, q, k=4, vec_col="embedding")
    return topk.select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id").orderBy("query_id", "rank")


def _q_embedding_neardup(spark, sf):
    """Embedding-cosine near-dup pairs (training-data dedup op): exact
    baseline, id_a < id_b, cosine >= 0.35 (the synthetic embeddings are
    near-orthogonal; 0.35 yields a non-vacuous pair set)."""
    e = _t(spark, sf, "embeddings")
    dbl = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pairs = dedup.embedding_neardup_pairs(dbl, threshold=0.35)
    return (
        pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def _q_neardup_clusters(spark, sf):
    """Connected components over the embedding near-dup pair graph
    (dedup.neardup_clusters): the keep/drop grouping step of a dedup
    pipeline — cluster_id = min reachable vec_id. Oracle = DuckDB
    recursive-CTE transitive closure over the same exact pair set."""
    e = _t(spark, sf, "embeddings")
    dbl = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pairs = dedup.embedding_neardup_pairs(dbl, threshold=0.35)
    return (
        dedup.neardup_clusters(pairs)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )
        .orderBy("doc_id")
    )


def _q_neardup_keep(spark, sf):
    """End-to-end dedup decision: near-dup pairs → connected components →
    keep one representative per cluster + all unclustered docs."""
    e = _t(spark, sf, "embeddings")
    dbl = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pairs = dedup.embedding_neardup_pairs(dbl, threshold=0.35)
    clusters = dedup.neardup_clusters(pairs)
    kept = dedup.neardup_keep(e.select("vec_id"), clusters, id_col="vec_id")
    return kept.select(F.col("vec_id").cast("long").alias("vec_id")).orderBy("vec_id")


def _q_neardup_keep_best(spark, sf):
    """Preference-weighted dedup decision: same clusters as
    q_neardup_keep, but the representative is the member with the
    highest deterministic quality score (vec_id*37 % 11; id asc ties) —
    dedup.neardup_keep_best. Oracle picks the same representative with
    an ordered-first aggregate over the recursive-CTE clusters."""
    e = _t(spark, sf, "embeddings")
    dbl = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pairs = dedup.embedding_neardup_pairs(dbl, threshold=0.35)
    clusters = dedup.neardup_clusters(pairs)
    docs = e.select("vec_id", ((F.col("vec_id") * 37) % 11).alias("quality"))
    kept = dedup.neardup_keep_best(docs, clusters, prefer="quality", id_col="vec_id")
    return kept.select(F.col("vec_id").cast("long").alias("vec_id")).orderBy("vec_id")


def _q_interest_ranking(spark, sf):
    """A5: hit-count ranking of the referral output (archived
    processor.py:943) — docs ordered by referral count desc, url asc."""
    from post_processor_spark import citations
    d = _t(spark, sf, "documents")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
    ).select("src", ((F.col("src") * 7 + F.col("k")) % n).alias("dst"))
    agg = edges.groupBy("dst").agg(F.count("*").alias("cnt"))
    out = (
        d.join(agg, d.doc_id == agg.dst, "left")
        .select(
            F.col("doc_id").cast("string").alias("url"),
            F.coalesce("cnt", F.lit(0)).cast("long").alias("number_of_referrals"),
        )
    )
    return citations.interest_ranking(out).limit(30)


def _q_pagerank(spark, sf):
    """PageRank authority over the deterministic referral edge graph
    (same edge rule as q_referral_edges / q_interest_ranking): 3 power
    iterations, damping 0.85, dangling mass redistributed uniformly.
    The scale-grade version of the reference's in-degree interest
    ranking (processor.py:81-97); oracle = the same three iterations
    unrolled as chained DuckDB CTEs. Ranks rounded to 9 decimals in
    both engines (values are exact-double reproducible; rounding only
    absorbs float sum-order noise)."""
    d = _t(spark, sf, "documents")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
    ).select("src", ((F.col("src") * 7 + F.col("k")) % n).alias("dst"))
    nodes = d.select(F.col("doc_id").alias("id"))
    ranks = graph.pagerank(nodes, edges, iterations=3, damping=0.85)
    return ranks.select(
        F.col("id").alias("doc_id"),
        F.round(F.col("rank"), 9).alias("pagerank"),
    ).orderBy("doc_id")


def _q_url_canon(spark, sf):
    """Canonicalization parity: synthesize URLs from customer names and
    canonicalize — host/registrable-domain derivation checked in SQL."""
    c = _t(spark, sf, "customer")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("c_custkey") % 50).cast("string"),
        F.lit(".COM/path/"), F.col("c_custkey").cast("string"), F.lit("?x=1#frag"),
    )
    hosts = c.select(
        "c_custkey",
        canon.canonical_url(url).alias("canonical_url"),
        canon.url_host(url).alias("host"),
    )
    return canon.attach_registrable_domain(
        hosts, "host", "registrable_domain"
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# rows-only queries (not SQL-expressible — pattern kernels, frontier,
# LSH internals, media stubs). Driver records a weaker rows-only check.
# --------------------------------------------------------------------------

def _q_record_dedup_desc(spark, sf):
    """P7: first-wins dedupe then reverse-id output order
    (scripts/cleaner/record/clean.py:41-60) — on events by user."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id")
        .orderBy(F.desc("user_id"))
    )


def _q_scope_gate(spark, sf):
    """P9: membership gate + non-empty-citations filter
    (archived/Post-Processor/processor.py:617-633) — orders whose
    customer is in a 'scope' (semi join) and that have >= 3 lineitems."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    li = _t(spark, sf, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(F.count("*").alias("n_items"))
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_semi")
        .join(cnt, o.o_orderkey == cnt.l_orderkey)
        .filter(F.col("n_items") >= 3)
        .select("o_orderkey", "n_items")
        .orderBy("o_orderkey")
    )


def _frontier_seed_docs(spark, sf):
    """Deterministic, SQL-reproducible seed frontier derived from the
    documents table: ~30% of URLs land on mega-host0 (exercises the salted
    two-phase top-B), the rest spread over 97 hosts. Pure arithmetic so the
    DuckDB oracle can regenerate the identical input."""
    d = _t(spark, sf, "documents")
    host_id = F.when(F.col("doc_id") % 10 < 3, F.lit(0)).otherwise(F.col("doc_id") % 97)
    url = F.concat(
        F.lit("https://host"), host_id.cast("string"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
    )
    return d.select(
        url.alias("url"),
        ((F.col("doc_id") * 13) % 10).cast("int").alias("priority"),
        F.col("doc_id").alias("seq"),
    )


def _q_frontier_schedule(spark, sf):
    """Politeness top-B per host in crawl order (priority, seq) with slot
    timestamps — ORACLE-CHECKED: the salted two-phase selection and slot
    assignment are optimizations whose result is exactly the per-host
    window row_number() <= B, which DuckDB can express directly.
    skew_threshold=50 forces the mega-host through the salted path."""
    seeds = _frontier_seed_docs(spark, sf)
    # status/not_before/sched_gen are synthesized constants on a fresh
    # frontier — dropping them keeps three dead slots out of the rank
    # exchange (same as run_generation's call site)
    pending = frontier.seeds_to_frontier(seeds).drop(
        "status", "not_before", "sched_gen"
    )
    return (
        frontier.politeness_schedule(
            pending, generation=1, budget_per_host=8, skew_threshold=50
        )
        .filter(F.col("status") == "scheduled")
        .select("url", "host", "not_before")
        .orderBy("url")
    )


def _q_head_topk(spark, sf):
    """top_per_host — the scheduler head-cache kernel (exact top-cap rows
    per host in crawl order, skew-adaptive two-phase rank) —
    ORACLE-CHECKED: the salted shard pre-rank is an optimization whose
    result must equal a plain per-host window row_number() <= cap.
    skew_threshold=50 forces the mega-host through the salted path."""
    seeds = _frontier_seed_docs(spark, sf)
    pending = frontier.seeds_to_frontier(seeds)
    head = frontier.top_per_host(pending, cap=12, skew_threshold=50)
    return head.select("url", "host", "priority").orderBy("url")


def _q_seen_filter(spark, sf):
    """Bloom-prefiltered + exact-resolved URL-seen filter — ORACLE-CHECKED:
    the bloom is a bypass optimization; the result must equal the plain
    anti-join complement (seq % 3 != 0 here)."""
    from post_processor_spark import seen as seen_mod
    cands = frontier.canonicalize_candidates(
        _frontier_seed_docs(spark, sf)
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    )
    seen_tbl = cands.filter(F.col("seq") % 3 == 0).select(
        "url_hash", "host_hash", F.lit(0).alias("generation")
    )
    return (
        seen_mod.filter_unseen(cands, seen_tbl, use_bloom=True)
        .select("url")
        .orderBy("url")
    )


def _q_seen_filter_prebuilt(spark, sf):
    """U4 via the incrementally-maintained sorted-shard exact index
    (seen.build_exact_index → one narrow pandas-UDF membership pass, the
    v4 bench default) — ORACLE-CHECKED against the same plain anti-join
    complement as q_seen_filter: bloom and index are lookup-structure
    optimizations and must be invisible in the result."""
    from post_processor_spark import seen as seen_mod
    cands = frontier.canonicalize_candidates(
        _frontier_seed_docs(spark, sf)
        .withColumn("generation", F.lit(0))
        .withColumn("sub", F.lit(0).cast("long"))
    )
    seen_tbl = cands.filter(F.col("seq") % 3 == 0).select(
        "url_hash", "host_hash", F.lit(0).alias("generation")
    )
    return (
        seen_mod.filter_unseen(
            cands, seen_tbl, use_bloom=True, exact_join="prebuilt"
        )
        .select("url")
        .orderBy("url")
    )


def _q_robots_gate(spark, sf):
    """Robots disallow gate (north_rule politeness) — ORACLE-CHECKED: the
    broadcast rules join + prefix match must equal the arithmetic rule
    that generated the rules. Hosts with id % 5 == 0 disallow /doc/1* and
    /doc/3* paths."""
    seeds = _frontier_seed_docs(spark, sf)
    cands = frontier.canonicalize_candidates(
        seeds.withColumn("generation", F.lit(0)).withColumn("sub", F.lit(0).cast("long"))
    )
    d = _t(spark, sf, "documents")
    host_id = F.when(F.col("doc_id") % 10 < 3, F.lit(0)).otherwise(F.col("doc_id") % 97)
    robots = (
        d.select(host_id.alias("hid"))
        .distinct()
        .filter(F.col("hid") % 5 == 0)
        .select(
            F.concat(
                F.lit("host"), F.col("hid").cast("string"), F.lit(".example.com")
            ).alias("host"),
            F.array(F.lit("/doc/1"), F.lit("/doc/3")).alias("disallow"),
        )
    )
    return (
        frontier.apply_robots(cands, robots)
        .filter(~F.col("robots_blocked"))
        .select("url")
        .orderBy("url")
    )


def _q_robots_allow(spark, sf):
    """REP Allow-override semantics (RFC 9309 §2.2.2, longest match wins;
    Allow wins ties) — ORACLE-CHECKED: hosts with id % 5 == 0 carry
    disallow ['/doc/', '/doc/3'] + allow ['/doc/1', '/doc/3'], so on rule
    hosts a path survives iff its doc id starts with '1' (allow /doc/1 is
    LONGER than disallow /doc/) or with '3' (the /doc/3 TIE goes to
    Allow); everything else on those hosts is blocked."""
    seeds = _frontier_seed_docs(spark, sf)
    cands = frontier.canonicalize_candidates(
        seeds.withColumn("generation", F.lit(0)).withColumn("sub", F.lit(0).cast("long"))
    )
    d = _t(spark, sf, "documents")
    host_id = F.when(F.col("doc_id") % 10 < 3, F.lit(0)).otherwise(F.col("doc_id") % 97)
    robots = (
        d.select(host_id.alias("hid"))
        .distinct()
        .filter(F.col("hid") % 5 == 0)
        .select(
            F.concat(
                F.lit("host"), F.col("hid").cast("string"), F.lit(".example.com")
            ).alias("host"),
            F.array(F.lit("/doc/"), F.lit("/doc/3")).alias("disallow"),
            F.array(F.lit("/doc/1"), F.lit("/doc/3")).alias("allow"),
        )
    )
    return (
        frontier.apply_robots(cands, robots)
        .filter(~F.col("robots_blocked"))
        .select("url")
        .orderBy("url")
    )


def _q_minhash_candidates(spark, sf):
    # testdata parquet is single-row-group → a 1-task scan would serialize
    # the shingling; spread the scan-bound stage across the cluster
    d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    sig = dedup.minhash_signatures(d, num_hashes=32, shingle_n=3)
    return dedup.minhash_lsh_candidates(sig, bands=8, rows_per_band=4).orderBy("id_a", "id_b")


def _q_lsh_probe(spark, sf):
    """Incremental LSH dedup: docs with even doc_id are the prebuilt
    corpus index, odd doc_id are the incoming batch; candidates touching
    the batch come from probe_lsh_index — no corpus re-scan. Runs on the
    md5-keyed signatures so DuckDB can reproduce it: the oracle computes
    whole-corpus band-tuple pairs and keeps those touching ≥1 odd id —
    exactly the probe contract (new×corpus ∪ new×new, never
    corpus×corpus). The xxhash64 default path through the same
    probe/merge code is pinned exact by test_lsh_probe_matches_batch /
    test_merge_lsh_index_unions_deltas."""
    d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    kw = dict(bands=8, rows_per_band=4)
    sig_c = dedup.minhash_signatures_md5(corpus, num_hashes=32, shingle_n=3)
    sig_b = dedup.minhash_signatures_md5(batch, num_hashes=32, shingle_n=3)
    index = dedup.build_lsh_index(sig_c, **kw)
    return dedup.probe_lsh_index(sig_b, index, **kw).orderBy("id_a", "id_b")


def _q_simhash(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.simhash(d).orderBy("id")


def _q_media_features(spark, sf):
    """Binary media payloads through the real Arrow mapInPandas decode
    plumbing, now under the full value-hash gate: synthetic_media's
    arithmetic mode derives kind/width/height from doc_id arithmetic and
    the payload from sha256, so DuckDB can recompute the 8-bucket byte
    means exactly (sums of ≤4 uint8s /4 are exact in float32 AND double —
    no cross-engine float drift)."""
    d = _t(spark, sf, "documents")
    media = multimodal.synthetic_media(d, arithmetic=True)
    # the 8 buckets ride as scalar double columns (f0..f7), not one
    # array column: the driver's compare fetches the oracle side through
    # pandas, where a DuckDB LIST lands as a numpy array and stringifies
    # differently from a Python list — scalars dodge the representation
    # trap without weakening the check (every bucket is still hashed)
    return multimodal.extract_features(media, dim=8).select(
        "media_id", "kind",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
        "n_frames",
    )


def _q_minhash_md5(spark, sf):
    """Oracle-checkable MinHash+LSH candidates: md5-keyed signatures
    (dedup.minhash_signatures_md5) through the SAME banding/pair pipeline
    as q_minhash_candidates. DuckDB reproduces the signatures exactly and
    groups on each band's value 4-tuple (bucket hashes only matter for
    equality, so the oracle never needs xxhash64). q_minhash_candidates
    (token-direct xxhash64 signatures, rows-only + recall-property
    pytest) stays the perf path."""
    d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    sig = dedup.minhash_signatures_md5(d, num_hashes=32, shingle_n=3)
    return dedup.minhash_lsh_candidates(sig, bands=8, rows_per_band=4).orderBy("id_a", "id_b")


def _q_simhash_md5(spark, sf):
    """The oracle-checkable simhash: per-token hash = first 64 bits of
    md5 carried as two 32-bit halves (dedup.simhash_md5) so DuckDB can
    reproduce the signature bit-for-bit. q_simhash (xxhash64 default,
    rows-only + python-oracle pytest) stays the perf path."""
    d = _t(spark, sf, "documents")
    return dedup.simhash_md5(d).orderBy("id")


def _q_decontaminate(spark, sf):
    """Benchmark decontamination (GPT-3/Dolma-style n-gram overlap):
    documents with doc_id % 10 == 0 act as the held-out eval set, the
    rest are the training corpus; every corpus doc is flagged with the
    number of distinct 4-grams it shares with the eval set. md5-keyed so
    DuckDB recomputes the exact gram-hash sets; the engine default
    (token-direct xxhash64, zero gram strings) runs through the same
    join shape and is pinned equal by
    test_flag_contamination_matches_python_oracle."""
    d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    out = decontam.flag_contamination(corpus, bench, n=4, hash="md5")
    return out.select(
        "doc_id", "contam_grams", F.col("contaminated").cast("int").alias("contaminated")
    ).orderBy("doc_id")


def _q_repetition(spark, sf):
    """Gopher-style within-document repetition profile — all per-row
    array expressions (zero shuffle; see decontam.repetition_profile).
    Rounded to 4 for cross-engine float parity like the other ratio
    oracles."""
    d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    prof = decontam.repetition_profile(d, ngram_n=2)
    return prof.select(
        "doc_id",
        F.round("dup_word_frac", 4).alias("dup_word_frac"),
        F.round("dup_ngram_frac", 4).alias("dup_ngram_frac"),
        F.round("top_ngram_frac", 4).alias("top_ngram_frac"),
        F.round("dup_line_frac", 4).alias("dup_line_frac"),
    ).orderBy("doc_id")


def _q_line_dedup(spark, sf):
    """Corpus-wide line dedup (CCNet-style): every repeated non-empty
    line keeps only its first (doc_id, position) occurrence; documents
    are rebuilt from surviving lines. Skew-safe plan: partial-agg
    min(struct(id,pos)) per line hash instead of a hot-partition
    row_number window (dedup.dedup_lines)."""
    d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    out = dedup.dedup_lines(d)
    return out.select("doc_id", "text").orderBy("doc_id")


def _q_stratified_sample(spark, sf):
    """Deterministic per-language rate control (training-mix rebalance):
    keep all English, half the German, a fifth of Chinese, 10% of
    everything else — no RNG, membership is md5(doc_id ‖ salt) < rate,
    so DuckDB reproduces the exact row set. Map-only, zero shuffle
    (sampling.stratified_sample)."""
    d = _t(spark, sf, "documents")
    out = sampling.stratified_sample(
        d, "lang", {"en": 1.0, "de": 0.5, "zh": 0.2},
        default_fraction=0.1, key_col="doc_id", salt="mix1",
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def _q_text_profile(spark, sf):
    """The full text-analysis surface in one pass (analytics.text.profile):
    whitespace token count, BPE-ish piece count, stopword/punct ratios,
    composite quality score, language-ID, md5 fingerprint — all JVM
    expressions, zero shuffle (map-only over the corpus; the sort is the
    oracle-comparison convention). Every value is reproduced in ANSI SQL:
    the lookaround piece split (which RE2 can't express) is re-stated as
    the exact identity |alnum runs| + |non-alnum chars| — a both-sides
    boundary split yields exactly one piece per maximal alphanumeric run
    plus one per non-alphanumeric character."""
    d = _t(spark, sf, "documents")
    prof = text.profile(d)
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        "stop_ratio",
        "punct_ratio",
        "quality",
        "lang_pred",
        "fingerprint",
    ).orderBy("doc_id")


def _q_contamination_report(spark, sf):
    """Per-benchmark-document contamination audit
    (decontam.contamination_report): for each eval doc, how many corpus
    docs and distinct 4-grams leak it. Same md5 gram contract and
    broadcast-bench shape as q_decontaminate — only hit rows shuffle."""
    d = _t(spark, sf, "documents").repartition(spark.sparkContext.defaultParallelism)
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    out = decontam.contamination_report(corpus, bench, n=4, hash="md5")
    return out.select(
        F.col("bench_id").cast("long").alias("bench_id"),
        F.col("n_docs_hit").cast("long").alias("n_docs_hit"),
        F.col("n_grams_hit").cast("long").alias("n_grams_hit"),
    ).orderBy("bench_id")


def _q_holdout_split(spark, sf):
    """Stable train/eval holdout (sampling.train_eval_split): a row's
    side is md5(doc_id ‖ salt)-derived, so membership never changes as
    the corpus grows and DuckDB recomputes the exact assignment.
    Map-only filters; the union is two passes over the same scan."""
    d = _t(spark, sf, "documents")
    train, ev = sampling.train_eval_split(
        d, eval_fraction=0.05, key_col="doc_id", salt="split"
    )
    return (
        train.select("doc_id", F.lit("train").alias("side"))
        .unionByName(ev.select("doc_id", F.lit("eval").alias("side")))
        .orderBy("doc_id")
    )


def _sfx(cond, col):
    """Conditional suffix for deterministic content synthesis — the
    oracle SQL mirrors it as `CASE WHEN cond THEN s ELSE '' END`."""
    return F.when(cond, col).otherwise(F.lit(""))


def _q_pii_redact(spark, sf):
    """PII detect + redact (analytics.pii) under the full value-hash
    gate. The synthetic corpus has no real PII, so the query plants
    deterministic emails / phones / SSNs / IPs / card numbers derived
    from doc_id — the identical concat expressions run in the oracle
    SQL, so counts AND the redacted text are hash-compared, which pins
    the Java-regex vs RE2 semantics of every pattern."""
    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    pad4 = F.lpad(F.pmod(i, 10000).cast("string"), 4, "0")
    synth_text = F.concat(
        F.col("text"),
        _sfx(i % 3 == 0, F.concat(F.lit(" contact user"), i.cast("string"),
                                  F.lit("@mail.example.com"))),
        _sfx(i % 4 == 0, F.concat(F.lit(" call 415-555-"), pad4)),
        _sfx(i % 5 == 0, F.concat(F.lit(" ssn 123-45-"), pad4)),
        _sfx(i % 6 == 0, F.concat(F.lit(" from 10.0."),
                                  F.pmod(i, 256).cast("string"),
                                  F.lit("."), F.pmod(i, 100).cast("string"))),
        _sfx(i % 7 == 0, F.concat(F.lit(" card 4111-1111-1111-"), pad4)),
    )
    synth = d.select("doc_id", synth_text.alias("text"))
    out = pii.redact_pii(pii.pii_stats(synth))
    return out.select(
        "doc_id", "n_email", "n_card", "n_ssn", "n_phone", "n_ipv4",
        F.col("has_pii").cast("int").alias("has_pii"),
        F.col("text").alias("redacted"),
    ).orderBy("doc_id")


def _c4_synth_text():
    """The synthetic multi-line page column shared by _q_c4_clean and
    _q_training_pipeline: per document, kept lines built from its own
    tokens, a short line, an unterminated line, a javascript line, plus
    lorem-ipsum / curly-brace / blocklist poison on modular doc_id
    subsets. Pure column expression over (doc_id, text)."""
    i = F.col("doc_id")
    w = F.split(F.trim(F.col("text")), r"\s+")

    def line(start, length, punct):
        return F.concat(F.array_join(F.slice(w, start, length), " "), F.lit(punct))

    return F.concat(
        F.concat_ws(
            "\n",
            line(1, 8, "."),                 # kept: 8 words + terminal punct
            line(2, 4, "!"),                 # dropped: < 5 words
            F.array_join(F.slice(w, 1, 6), " "),  # dropped: no terminal punct
            F.lit("please enable javascript to view this page."),  # dropped
            line(4, 7, "?"),                 # kept
            line(1, 7, "."),                 # kept
        ),
        _sfx(i % 13 == 0, F.lit("\nthis page uses lorem ipsum filler.")),
        _sfx(i % 17 == 0, F.lit("\nfunction f() { return 1; }")),
        _sfx(i % 11 == 0, F.lit("\nfrobnicate the widget assembly now.")),
    )


def _q_c4_clean(spark, sf):
    """C4-style cleaning (analytics.clean) under the full value-hash
    gate: synthesize a multi-line page per document from its own tokens
    (_c4_synth_text), then run the line filters, doc gates, and the
    badwords filter. Map-only end to end."""
    d = _t(spark, sf, "documents")
    synth = d.select("doc_id", _c4_synth_text().alias("text"))
    out = clean.badwords_filter(clean.c4_clean(synth), ["frobnicate"])
    return out.select("doc_id", "n_kept_lines", "text").orderBy("doc_id")


def _q_training_pipeline(spark, sf):
    """END-TO-END training-corpus recipe as ONE composed lazy plan
    (analytics/pipeline.build_training_corpus): C4 clean → exact dedup →
    3-gram benchmark decontamination (docs with doc_id % 10 == 0 act as
    the held-out eval set) → temperature sampling (alpha 0.5, half
    budget, per source) → 256-token sequence packing, over the same
    synthetic pages as q_c4_clean. decontam_hash='md5' so the DuckDB
    oracle replays the exact gram sets; every stage is also individually
    oracle-gated by its own query. The composed plan is what a real
    corpus build runs — benching it tracks cross-stage regressions
    (extra exchanges, broken pushdown) that per-stage numbers miss."""
    from post_processor_spark.analytics import pipeline as pipe

    d = _t(spark, sf, "documents")
    synth = d.select("doc_id", "lang", "source", _c4_synth_text().alias("text"))
    bench_docs = synth.filter(F.col("doc_id") % 10 == 0)
    corpus = synth.filter(F.col("doc_id") % 10 != 0)
    packed, _stages = pipe.build_training_corpus(
        corpus,
        bench_docs,
        text_col="text",
        id_col="doc_id",
        strata_col="source",
        min_words=5,
        min_lines=3,
        decontam_n=3,
        decontam_hash="md5",
        temperature_alpha=0.5,
        sample_budget_fraction=0.5,
        pack_budget=256,
        salt="tp1",
        # checkpoint, not persist: cached-plan entries from persist are
        # never GC'd (CacheManager keys outlive the DataFrame), so
        # repeated invocations (bench sweeps, oracle runs) would leak
        # cache; localCheckpoint blocks are reclaimed with the RDD
        materialize="checkpoint",
    )
    return packed.select(
        "shard", "doc_id", "n_tokens", "start_off", "end_off",
        "first_chunk", "last_chunk", "n_chunks",
    ).orderBy("shard", "doc_id")


def _q_seq_pack(spark, sf):
    """Concat-and-chunk sequence packing (analytics.packing): per-doc
    token offsets and chunk ids in the per-source concatenated stream
    at 256 tokens/sequence. The Spark plan is the two-phase prefix sum
    (bounded window partitions + broadcast bucket offsets); the oracle
    is the plain single-window SUM OVER — the value-hash gate pins
    their equivalence."""
    d = _t(spark, sf, "documents")
    out = packing.pack_sequences(d, budget=256, bucket_size=128)
    return out.select(
        "shard", "doc_id", "n_tokens", "start_off", "end_off",
        "first_chunk", "last_chunk", "n_chunks",
    ).orderBy("shard", "doc_id")


def _q_recrawl(spark, sf):
    """Recrawl scheduling (recrawl.py): events replayed as fetch
    history — user_id as the url key, per-user fetch sequence as
    generations, event_type as the content hash — change-rate estimate
    + bounded inverse-rate revisit interval."""
    from post_processor_spark import recrawl

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = e.select(
        F.col("user_id").cast("long").alias("url_hash"),
        F.row_number().over(w).cast("long").alias("generation"),
        F.col("event_type").alias("content_hash"),
    )
    rates = recrawl.estimate_change_rate(hist)
    return recrawl.schedule_recrawl(rates, min_interval=1, max_interval=16)


def _q_token_budget(spark, sf):
    """Per-source token-budget cap (analytics.packing.token_budget_cap):
    keep each source's best-quality docs until 600 tokens are spent,
    concat-and-stop semantics. Spark plan is the hot-partition-free
    two-phase prefix sum bucketed on quantized score; the oracle is the
    plain single-window running total — the value-hash gate pins the
    equivalence."""
    from post_processor_spark.analytics import text as text_mod

    d = _t(spark, sf, "documents").withColumn(
        "score", text_mod.quality_score(F.col("text"))
    )
    return packing.token_budget_cap(
        d, budget=600, score_col="score", group_col="source"
    ).orderBy("source", "doc_id")


def _q_span_extract(spark, sf):
    d = _t(spark, sf, "documents")
    n = d.count()
    documents, _ = _spans_from_documents(d, n)
    docs_with_url = documents.join(
        d.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat(F.lit("https://corpus.example.com/doc/"), F.col("doc_id").cast("string")).alias("url"),
            F.col("doc_id").alias("seq"),
        ),
        "doc_id",
    )
    return frontier.extract_outlinks(docs_with_url).orderBy("parent_seq", "sub")


def _q_range_join(spark, sf):
    """Binned range join (analytics/temporal.range_join): every 11th
    event opens a 30-minute attention window; count the same user's
    events that fall inside it. The non-equi point-in-interval predicate
    runs as an equi-join on (time-bin, user) + exact filter — hash join,
    never BNLJ (the 30-min window inside a 1800 s bin means ≤2 bins per
    interval)."""
    from post_processor_spark.analytics import temporal

    e = _t(spark, sf, "events")
    pts = e.select("event_id", "user_id", "ts", "value")
    iv = e.filter((F.col("event_id") % 11) == 0).select(
        F.col("event_id").alias("iv_event_id"),
        F.col("user_id").alias("iv_user"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    pairs = temporal.range_join(
        pts, iv, point_ts="ts", start_ts="start_ts", end_ts="end_ts",
        bin_width_s=1800.0, point_key="user_id", interval_key="iv_user",
    )
    return (
        pairs.groupBy("iv_event_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("iv_event_id")
    )


def _q_temperature_sample(spark, sf):
    """Temperature mixture sampling (analytics/sampling.temperature_sample):
    flatten the documents language mix to count^0.5 at half the corpus
    budget; membership is deterministic md5, recomputed bit-for-bit by
    the oracle."""
    d = _t(spark, sf, "documents")
    return sampling.temperature_sample(
        d, strata_col="lang", alpha=0.5, budget_fraction=0.5,
        key_col="doc_id", salt="temp1",
    ).select("doc_id", "lang").orderBy("doc_id")


def _q_crawl_delta(spark, sf):
    """Snapshot diff (recrawl.snapshot_delta): two crawl states derived
    deterministically from documents (old = doc_id%10!=0, new =
    doc_id%7!=0, every 3rd doc's content drifts) → per-status corpus
    drift counts via one full-outer join."""
    from post_processor_spark import recrawl

    d = _t(spark, sf, "documents")
    old = d.filter((F.col("doc_id") % 10) != 0).select(
        F.col("doc_id").alias("url_hash"), F.md5("text").alias("content_hash")
    )
    new = d.filter((F.col("doc_id") % 7) != 0).select(
        F.col("doc_id").alias("url_hash"),
        F.md5(
            F.concat(
                F.col("text"),
                F.when((F.col("doc_id") % 3) == 0, F.lit("v2")).otherwise(F.lit("")),
            )
        ).alias("content_hash"),
    )
    delta = recrawl.snapshot_delta(old, new)
    return (
        delta.groupBy("status")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum("url_hash").cast("long").alias("sum_key"),
        )
        .orderBy("status")
    )


def _q_group_quantiles(spark, sf):
    """Exact per-group order-statistic quantiles
    (analytics/stats.group_quantiles): per-language document length
    p50/p90/p99 at rank ceil(q·n) — single-shuffle window+agg plan, same
    rank formula in the DuckDB oracle."""
    from post_processor_spark.analytics import stats

    d = _t(spark, sf, "documents").select(
        "lang", F.length("text").cast("long").alias("len")
    )
    return stats.group_quantiles(d, "lang", "len", qs=(0.5, 0.9, 0.99)).orderBy("lang")


def _q_quality_classifier(spark, sf):
    """Model-based quality filter (text.hashed_linear_score): fasttext-
    style hashed bag-of-words linear classifier + sigmoid, fixture
    weights derived from the bucket id so the DuckDB oracle recomputes
    the full model bit-for-bit (md5 buckets, sequential fold, same
    arithmetic)."""
    from post_processor_spark.analytics import text as text_mod

    d = _t(spark, sf, "documents")
    score = text_mod.hashed_linear_score(F.col("text"), dim=1024, salt="q1")
    return d.select(
        "doc_id",
        F.round(score, 6).alias("score"),
        (score >= 0.5).alias("keep"),
    ).orderBy("doc_id")


def _q_sitemap_scan(spark, sf):
    """Sitemap ingestion (sources.parse_sitemaps): each source's docs are
    serialized into a real <urlset> XML sitemap (plus one <sitemapindex>
    over all sources), then parsed back with from_xml (JVM StAX). The
    oracle derives the same rows relationally without XML — the value
    hash pins serialize→parse as the identity."""
    from post_processor_spark import sources as src_mod

    d = _t(spark, sf, "documents")
    frag = F.concat(
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        F.lit("</loc><lastmod>2024-01-"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod>"),
        F.when(
            (F.col("doc_id") % 3) != 0,
            F.concat(
                F.lit("<changefreq>"),
                F.when((F.col("doc_id") % 2) == 0, F.lit("daily"))
                .otherwise(F.lit("weekly")),
                F.lit("</changefreq>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("<priority>0."), (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    per_src = (
        d.select("source", "doc_id", frag.alias("frag"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "frag"))),
                        lambda x: x["frag"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    index = per_src.groupBy().agg(
        F.concat(
            F.lit("<sitemapindex>"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("source"))),
                    lambda x: F.concat(
                        F.lit("<sitemap><loc>https://"), x["source"],
                        F.lit(".example.com/sitemap.xml</loc>"),
                        F.lit("<lastmod>2024-02-01</lastmod></sitemap>"),
                    ),
                ),
                "",
            ),
            F.lit("</sitemapindex>"),
        ).alias("xml")
    ).select(F.lit("_index").alias("sitemap_id"), "xml")
    sitemaps = per_src.select(
        F.col("source").alias("sitemap_id"), "xml"
    ).unionByName(index)
    parsed = src_mod.parse_sitemaps(sitemaps)
    # coalesce to the sitemap-spec default priority 0.5: keeps the
    # nullable-double column out of the hash compare (pandas turns a
    # NULL double into NaN on the DuckDB side)
    return parsed.select(
        "sitemap_id", "kind", "loc", "lastmod", "changefreq",
        F.coalesce("priority", F.lit(0.5)).alias("priority"),
    ).orderBy("kind", "loc")


def _q_html_main_text(spark, sf):
    """Boilerplate removal (html.main_text): each doc is serialized into
    a full HTML page (head/title/style/script, nav link bar, h1, body
    paragraph, HTML comment, anchor-bearing footer), then main text is
    re-extracted with the columnar block-split + link-density heuristic.
    The oracle derives the surviving blocks relationally — the value
    hash pins serialize→extract as the designed identity (title/nav/
    script/style/comment dropped, h1 + paragraph + footer kept)."""
    from post_processor_spark.analytics import html as html_mod

    d = _t(spark, sf, "documents")
    page = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit(
            "</title><style>p{color:red}</style>"
            "<script>var x=1; if(x<2){x++;}</script></head><body>"
            '<nav><a href="https://'
        ),
        F.col("source"),
        F.lit('.example.com/">home</a> <a href="https://'), F.col("source"),
        F.lit('.example.com/about">about</a></nav><h1>'),
        F.col("lang"), F.lit(" document "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit(
            '</p><!-- hidden <p>x</p> --><div class="footer">'
            'Contact &amp; imprint: <a href="mailto:ed@'
        ),
        F.col("source"),
        F.lit('.example.com">mail me</a></div></body></html>'),
    )
    pages = d.select("doc_id", page.alias("html"))
    return (
        html_mod.main_text(pages)
        .select(
            "doc_id",
            "main_text",
            F.col("n_blocks_kept").cast("long").alias("n_blocks_kept"),
        )
        .orderBy("doc_id")
    )


def _q_anchor_profile(spark, sf):
    """Anchor/outlink analytics (html.extract_anchors + anchor_profile):
    docs are serialized into small link pages (three anchors each, hrefs
    keyed by doc_id mod so targets collide across docs and one href
    repeats within a page), anchors are re-extracted from the markup,
    and the per-target profile (inlink count, distinct linking docs,
    dominant anchor text with deterministic tie-break) is aggregated.
    The oracle derives the anchor set relationally and aggregates with
    a window."""
    from post_processor_spark.analytics import html as html_mod

    d = _t(spark, sf, "documents")
    page = F.concat(
        F.lit('<div><a href="https://t'), (F.col("doc_id") % 7).cast("string"),
        F.lit('.example.com/">site '), (F.col("doc_id") % 3).cast("string"),
        F.lit('</a> <a href="https://t'),
        ((F.col("doc_id") + 1) % 7).cast("string"),
        F.lit('.example.com/">visit '), (F.col("doc_id") % 2).cast("string"),
        F.lit('</a> <a href="https://t'), (F.col("doc_id") % 7).cast("string"),
        F.lit('.example.com/"><b>again</b></a></div>'),
    )
    pages = d.select("doc_id", page.alias("html"))
    anchors = html_mod.extract_anchors(pages)
    return html_mod.anchor_profile(anchors).orderBy("href")


def _q_passage_dedup(spark, sf):
    """Cross-document duplicated-passage spans (dedup.duplicate_passages):
    a fixed 9-token passage is appended to every 5th document so copied
    passages exist at known offsets alongside any natural 8-gram
    collisions; the oracle recomputes the rolling md5 window keys, the
    skew-immune min!=max duplicate test, and the gaps-and-islands span
    merge in SQL."""
    from post_processor_spark.analytics import dedup as dedup_mod

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" alpha beta gamma delta epsilon zeta eta theta iota"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = dedup_mod.duplicate_passages(d, k=8, stride=2)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_windows").cast("long").alias("n_windows"),
    ).orderBy("doc_id", "span_start")


def _q_warc_scan(spark, sf):
    """WARC ingestion (sources.parse_warc): each source's docs are
    serialized into a real multi-record WARC file (one warcinfo record +
    one CRLF-framed response record per doc), then parsed back with the
    columnar record/header algebra. The oracle derives the same rows
    relationally — the value hash pins serialize→parse as the identity,
    including the declared Content-Length."""
    from post_processor_spark import sources as src_mod

    d = _t(spark, sf, "documents")
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://"),
        F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nWARC-Date: 2024-03-"),
        F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
        F.lit("T00:00:00Z\r\nContent-Length: "),
        F.length("text").cast("string"),
        F.lit("\r\n\r\n"), F.col("text"), F.lit("\r\n\r\n"),
    )
    files = (
        d.select("source", "doc_id", rec.alias("rec"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit(
                    "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 25"
                    "\r\n\r\nsoftware: pps-crawler/1.0\r\n\r\n"
                ),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                        lambda x: x["rec"],
                    ),
                    "",
                ),
            ).alias("content")
        )
        .select(F.col("source").alias("warc_id"), "content")
    )
    parsed = src_mod.parse_warc(files)
    return parsed.select(
        "warc_id",
        F.col("rec_idx").cast("long").alias("rec_idx"),
        "rec_type", "target_uri", "warc_date", "content_length",
        F.md5("payload").alias("payload_md5"),
    ).orderBy("warc_id", "rec_idx")


def _q_url_traps(spark, sf):
    """Crawl-trap URL scoring (canon.url_trap_signals / is_crawl_trap):
    synthesized URLs exercise every signal — repeated path segments,
    parameter explosions, session-id markers — and the oracle derives
    each signal relationally from the same construction, so the value
    hash pins the columnar URL-shape parse."""
    from post_processor_spark import canon as canon_mod

    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.com/"),
        F.repeat(F.lit("sec/"), (F.col("doc_id") % 8).cast("int")),
        F.lit("page"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(";jsessionid=x9"))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit("?"),
                F.repeat(F.lit("a=1&"), (F.col("doc_id") % 13).cast("int")),
                F.lit("z=9"),
            ),
        ).otherwise(F.lit("")),
    )
    u = d.select(
        "doc_id",
        url.alias("url"),
    ).withColumn("_sig", canon_mod.url_trap_signal_struct(F.col("url")))
    # one projection boundary: the URL parse tree is analyzed once; the
    # signal columns and the trap verdict are field reads of _sig
    s = F.col("_sig")
    return u.select(
        "doc_id", "url",
        s["depth"].cast("long").alias("depth"),
        s["max_repeat"].cast("long").alias("max_repeat"),
        s["n_params"].cast("long").alias("n_params"),
        s["url_len"].cast("long").alias("url_len"),
        s["has_session"].alias("has_session"),
        canon_mod.trap_verdict(s).alias("is_trap"),
    ).orderBy("doc_id")


def _q_robots_txt(spark, sf):
    """robots.txt ingestion (sources.parse_robots_txt): one synthetic
    robots.txt per source — wildcard group with Allow/Disallow/
    Crawl-delay, a mediacat-specific group on every even source, and a
    host-global Sitemap line — parsed for agent='mediacat'. The oracle
    derives the selected-group output relationally; the value hash pins
    group splitting, agent selection (specific replaces wildcard), and
    the robots→sitemap bridge."""
    from post_processor_spark import sources as src_mod

    hosts = _t(spark, sf, "documents").select("source").distinct()
    n = F.substring("source", 4, 10).cast("int")
    content = F.concat(
        F.lit(
            "# synthetic robots\nUser-agent: *\nDisallow: /private\n"
            "Allow: /private/ok\nCrawl-delay: "
        ),
        ((n % 5) + 1).cast("string"),
        F.lit("\n\n"),
        F.when(
            n % 2 == 0,
            F.lit("User-agent: mediacat\nDisallow: /mc-only\n\n"),
        ).otherwise(F.lit("")),
        F.lit("Sitemap: https://"), F.col("source"),
        F.lit(".example.com/sitemap.xml\n"),
    )
    df = hosts.select(F.col("source").alias("host"), content.alias("content"))
    p = src_mod.parse_robots_txt(df, agent="mediacat")
    # arrays joined to strings and the nullable double coalesced: the
    # driver compare fetches DuckDB through pandas, where LIST becomes a
    # numpy array and a NULL double becomes NaN (same convention as
    # q_sitemap_scan's priority coalesce)
    return p.select(
        "host",
        F.array_join("disallow", "|").alias("disallow"),
        F.array_join("allow", "|").alias("allow"),
        F.coalesce("crawl_delay", F.lit(-1.0)).alias("crawl_delay"),
        F.array_join("sitemaps", "|").alias("sitemaps"),
    ).orderBy("host")


def _q_redirect_resolve(spark, sf):
    """Redirect-chain resolution (graph.redirect_resolve, pointer
    doubling): doc ids at multiples of 5 are terminals, every other id
    redirects one step down (chains of length ≤ 4); three synthetic
    hosts form a pure 3-cycle plus one tail edge leading into it. The
    oracle walks the same edge set with a recursive CTE; cycle rows
    surface as final=''/hops=-1 (coalesced — the driver compare turns
    a nullable int into NaN through pandas)."""
    d = _t(spark, sf, "documents")
    chain = d.where(F.col("doc_id") % 5 != 0).select(
        F.concat(F.lit("u"), F.col("doc_id")).alias("src"),
        F.concat(F.lit("u"), F.col("doc_id") - 1).alias("dst"),
    )
    extra = spark.createDataFrame(
        [("c0", "c1"), ("c1", "c2"), ("c2", "c0"), ("t0", "c0")],
        "src string, dst string",
    )
    # max_hops=8 is the crawler policy bound: the synthetic chains are
    # ≤ 4 hops, so the output is identical to exact mode while the round
    # count drops from log2(#srcs) to log2(8) (each round is two fixed
    # job launches — the operator's real cost at this size)
    res = graph.redirect_resolve(chain.unionByName(extra), max_hops=8)
    return res.select(
        "src",
        F.coalesce("final", F.lit("")).alias("final"),
        F.coalesce("hops", F.lit(-1)).cast("long").alias("hops"),
        "is_cycle",
    ).orderBy("src")


def _q_hits(spark, sf):
    """HITS hubs/authorities (graph.hits) over the deterministic
    referral edge graph (same rule as q_pagerank): 3 iterations,
    L1-normalized half-steps. Oracle = the same rounds unrolled as
    chained DuckDB CTEs; round(9) on both sides absorbs float sum-order
    noise exactly as in q_pagerank."""
    d = _t(spark, sf, "documents")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
    ).select("src", ((F.col("src") * 7 + F.col("k")) % n).alias("dst"))
    nodes = d.select(F.col("doc_id").alias("id"))
    hh = graph.hits(nodes, edges, iterations=3)
    return hh.select(
        F.col("id").alias("doc_id"),
        F.round("authority", 9).alias("authority"),
        F.round("hub", 9).alias("hub"),
    ).orderBy("doc_id")


def _q_domain_mix(spark, sf):
    """Corpus composition report (report.domain_mix_report): per-source
    doc/token/char totals, token share of the whole corpus, language
    count and dominant language (ties to the smallest code)."""
    return report.domain_mix_report(_t(spark, sf, "documents")).orderBy("source")


def _q_bm25(spark, sf):
    """BM25 ranked retrieval (index.bm25_scores): five queries built
    deterministically from the first five tokens of docs 0–4, top-10
    per query. Scores rounded to 6 decimals BEFORE ranking on both
    sides so near-ties rank identically across engines."""
    d = _t(spark, sf, "documents")
    qs = d.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(index.index_tokens(F.col("text")), 1, 5)
        ).alias("query"),
    )
    out = index.bm25_scores(d, qs, top_k=10, round_scores=6)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("score"),
    ).orderBy("query_id", "rank")


def _q_cocitation(spark, sf):
    """Co-citation network (graph.cocitation) over the deterministic
    referral edge graph: pairs of targets cited by the same source,
    per-source out-degree capped at 64 (no effect at this rule's ≤3
    out-degree — the cap's semantics are pinned by the unit test)."""
    d = _t(spark, sf, "documents")
    n = d.count()
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
    ).select("src", ((F.col("src") * 7 + F.col("k")) % n).alias("dst"))
    return (
        graph.cocitation(edges)
        .select(
            F.col("dst_a").cast("long").alias("dst_a"),
            F.col("dst_b").cast("long").alias("dst_b"),
            "cocitations",
        )
        .orderBy("dst_a", "dst_b")
    )


def _q_adaptive_quality(spark, sf):
    """Adaptive per-language quality gate (sampling.quality_gate_per_
    group): keep docs at or above their own language's median n_chars —
    the per-group threshold filter curation pipelines use instead of a
    global cutoff. Same rank-at-ceil(q·n) quantile convention as
    q_group_quantiles."""
    d = _t(spark, sf, "documents")
    kept = sampling.quality_gate_per_group(d, "lang", "n_chars", q=0.5)
    return kept.select(F.col("doc_id").cast("long").alias("doc_id")).orderBy(
        "doc_id"
    )


def _q_host_graph(spark, sf):
    """Domain-level webgraph rollup (graph.host_graph): URL edges
    synthesized with predictable hosts (src www.site{id%40}.com, dst
    cdn.site{(id*7+k)%40}.org, k=1..id%4), collapsed through the real
    canonicalization + PSL path to registrable-domain edges. The oracle
    derives the domains from the same modular arithmetic directly."""
    d = _t(spark, sf, "documents")
    edges = d.select(
        F.concat(
            F.lit("https://www.site"), (F.col("doc_id") % 40).cast("string"),
            F.lit(".com/p/"), F.col("doc_id").cast("string"),
        ).alias("src"),
        F.explode(_seq1((F.col("doc_id") % 4).cast("int"))).alias("k"),
        F.col("doc_id"),
    ).select(
        "src",
        F.concat(
            F.lit("http://cdn.site"),
            ((F.col("doc_id") * 7 + F.col("k")) % 40).cast("string"),
            F.lit(".org/x/"), F.col("k").cast("string"),
        ).alias("dst"),
    )
    return graph.host_graph(edges).orderBy("src_domain", "dst_domain")


def _q_inverted_index(spark, sf):
    """Inverted-index build (index.inverted_index): token → df/tf +
    sorted posting list over documents, min_df=5. Postings serialized
    to JSON on both sides for the array-safe driver compare."""
    idx = index.inverted_index(_t(spark, sf, "documents"), min_df=5)
    return idx.select(
        "token", "df", "tf", F.to_json("postings").alias("postings")
    ).orderBy("token")


def _q_url_templates(spark, sf):
    """Route-template mining (canon.url_template /
    url_template_counts): URLs synthesized with numeric ids, hex ids,
    uuid-ish segments, query strings and mixed-case schemes collapse to
    their route families; the oracle replays the same strip + collapse
    regexes (RE2 'g' flag = Java replace-all)."""
    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://www.Site"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".com/"),
        F.element_at(
            F.array(F.lit("article"), F.lit("tag"), F.lit("user")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
        F.lit("/"), F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("/"), F.sha2(F.col("doc_id").cast("string"), 256)),
        ).otherwise(F.lit("")),
        F.lit("?utm="), F.col("doc_id").cast("string"), F.lit("#frag"),
    )
    return (
        canon.url_template_counts(d.select(url.alias("url")))
        .orderBy("template")
    )


def _q_edit_verify(spark, sf):
    """Bounded edit-distance verification (dedup.edit_distance_verify):
    deterministic candidate pairs (doc_id, doc_id + N/2), banded
    Levenshtein at max_dist=30 with the length-gap short-circuit. The
    oracle computes full levenshtein and replays the -1 banding as a
    CASE — integer-exact."""
    from post_processor_spark.analytics import dedup as dedup_mod

    d = _t(spark, sf, "documents")
    n = d.count()
    pairs = d.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(n // 2)).alias("id_b"),
    ).filter(F.col("id_b") < n)
    out = dedup_mod.edit_distance_verify(pairs, d, max_dist=30)
    return out.orderBy("id_a")


def _q_weighted_sample(spark, sf):
    """Weighted sampling without replacement (sampling.weighted_sample,
    Efraimidis–Spirakis): top-10 docs per language by es_key = ln(u)/w,
    u md5-derived, w = n_chars. Deterministic, so the oracle replays the
    exact draw; round(es_key, 6) absorbs ln ulps."""
    from post_processor_spark.analytics import sampling

    d = _t(spark, sf, "documents")
    picked = sampling.weighted_sample(
        d, k=10, weight_col="n_chars", key_col="doc_id", strata_col="lang"
    )
    return picked.select(
        "doc_id", "lang", F.round("es_key", 6).alias("es_key")
    ).orderBy("lang", "doc_id")


def _q_script_profile(spark, sf):
    """Unicode script profiling (text.script_profile): per-document
    counts for 7 writing-system classes + dominant script, map-only
    regexp_count expressions. The oracle compiles the SAME codepoint
    ranges as RE2 \\x{..} classes and replays the first-max tie-break
    as a CASE walk."""
    from post_processor_spark.analytics import text as text_mod

    d = _t(spark, sf, "documents").select("doc_id", "text")
    prof = text_mod.script_profile(d)
    return prof.drop("text").orderBy("doc_id")


def _q_media_phash(spark, sf):
    """Media perceptual hash (multimodal.perceptual_hash): 64-bucket
    average-hash over the stub-decoded payload bytes, Arrow-batched
    narrow map. On the arithmetic synthetic media the payload is the
    sha256 of the id, so the oracle rebuilds every byte, the /64 mean
    (exact in float64), and the bit threshold in SQL — full value hash
    on the 64-bit signature. The near-dup pairing over this signature
    reuses dedup.simhash_near_dups (pytest
    test_media_phash_near_dup_bridge)."""
    from post_processor_spark.analytics import multimodal

    d = _t(spark, sf, "documents")
    media = multimodal.synthetic_media(d, arithmetic=True)
    return multimodal.perceptual_hash(media).orderBy("media_id")


def _q_collocations(spark, sf):
    """Collocation mining (text.collocations): adjacent-bigram PMI over
    the documents corpus, min_count=5. Counts are exact; the oracle
    recomputes pmi with the identical division tree and ln, shared
    round(·, 6) absorbing last-ulp libm differences."""
    from post_processor_spark.analytics import text as text_mod

    d = _t(spark, sf, "documents")
    return text_mod.collocations(d, min_count=5).orderBy("w1", "w2")


def _q_hll_rollup(spark, sf):
    """Mergeable HLL distinct-count rollup (sketches.hll_rollup): per-
    (event_type, day) user sketches union-merged to event_type — the
    coarse level never rescans raw rows, the incremental-maintenance
    pattern the frontier's bloom deltas use, applied to cardinality
    metrics. At oracle cardinalities (≤ a few hundred distinct users per
    type, lgK=14) the sketch is in sparse mode and the estimate equals
    the exact distinct count, which is what the DuckDB oracle asserts
    (COUNT(DISTINCT user_id)); dense-mode error bounds are pinned by
    tests/test_sketches.test_hll_large_cardinality_error_bound."""
    from post_processor_spark.analytics import sketches

    ev = _t(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    out = sketches.hll_rollup(ev, ["event_type", "day"], ["event_type"], "user_id")
    return out.select(
        "event_type",
        F.col("n_fine").cast("long").alias("n_days"),
        F.col("distinct_est").cast("long").alias("distinct_users"),
    ).orderBy("event_type")


def _q_hll_incremental(spark, sf):
    """Incremental sketch-table maintenance (sketches.hll_sketch_table /
    merge_hll_tables / hll_estimate): the events stream split into two
    batches, one stored HLL per (event_type) per batch, folded with the
    full-outer pairwise union — never rescanning batch 1 while absorbing
    batch 2. Sparse-mode estimates equal COUNT(DISTINCT) at oracle
    scale; the promotion-regime merge band is pinned by
    tests/test_sketches.test_merge_hll_tables_incremental_equals_direct."""
    from post_processor_spark.analytics import sketches

    ev = _t(spark, sf, "events")
    t1 = sketches.hll_sketch_table(
        ev.filter(F.col("event_id") % 2 == 0), ["event_type"], "user_id"
    )
    t2 = sketches.hll_sketch_table(
        ev.filter(F.col("event_id") % 2 == 1), ["event_type"], "user_id"
    )
    merged = sketches.merge_hll_tables(t1, t2, ["event_type"])
    return (
        sketches.hll_estimate(merged)
        .select(
            "event_type",
            F.col("distinct_est").cast("long").alias("distinct_users"),
        )
        .orderBy("event_type")
    )


def _q_theta_overlap(spark, sf):
    """Theta-sketch corpus set algebra (sketches.theta_overlap): |train|,
    |benchmark|, |∩|, |train \\ benchmark| over distinct texts, estimated
    from one independent single-pass scan per side — the 100 TB
    decontamination pre-check that avoids co-shuffling both corpora by
    key before analytics/decontam.py's exact join is known to be worth
    running. Below 2^lgNom distinct keys per side the theta sketch is in
    exact mode (every hashed key retained), so at oracle scale the four
    estimates equal DuckDB's exact INTERSECT/EXCEPT set algebra; the
    estimation-mode error band is pinned by
    tests/test_sketches.test_theta_overlap_estimation_mode_bound."""
    from post_processor_spark.analytics import sketches

    d = _t(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    benchmark = d.filter(F.col("doc_id") % 2 == 0)
    out = sketches.theta_overlap(corpus, benchmark, "text", lg_nom=14)
    return out.select(
        F.col("n_left_est").cast("long").alias("n_corpus"),
        F.col("n_right_est").cast("long").alias("n_benchmark"),
        F.col("n_overlap_est").cast("long").alias("n_overlap"),
        F.col("n_left_only_est").cast("long").alias("n_clean"),
    )


def _q_theta_overlap_by(spark, sf):
    """Grouped theta set algebra (sketches.theta_overlap_by): per-
    language corpus×benchmark distinct-text overlap. Exact mode at
    oracle scale (≤2^14 distinct per (lang, side)), so the estimates
    equal DuckDB's grouped INTERSECT counts; long casts are exact-mode
    integers."""
    from post_processor_spark.analytics import sketches

    d = _t(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    benchmark = d.filter(F.col("doc_id") % 2 == 0)
    out = sketches.theta_overlap_by(corpus, benchmark, "lang", "text")
    return out.select(
        "lang",
        F.col("n_left_est").cast("long").alias("n_corpus"),
        F.col("n_right_est").cast("long").alias("n_benchmark"),
        F.col("n_overlap_est").cast("long").alias("n_overlap"),
    ).orderBy("lang")


def _q_strip_boilerplate(spark, sf):
    """Per-group boilerplate removal (dedup.strip_boilerplate): lines
    synthesized so every doc carries one per-source chrome line (df =
    docs-per-source ≥ min_df) plus its unique body line; the chrome must
    vanish from every doc, bodies survive. The oracle rebuilds the same
    construction and the df-threshold filter relationally."""
    from post_processor_spark.analytics import dedup as dedup_mod

    d = _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.lit("COOKIE BANNER for "), F.col("source"),
            F.lit("\nbody "), F.col("doc_id").cast("string"),
            F.lit("\nfooter of "), F.col("source"),
        ).alias("text"),
    )
    out = dedup_mod.strip_boilerplate(d, group_col="source", min_df=5)
    return out.select("doc_id", "source", "text").orderBy("doc_id")


def _q_kll_quantiles(spark, sf):
    """KLL quantile sketch with its rank guarantee made checkable
    (sketches.kll_quantiles): per-language n_chars p50/p90 from the
    mergeable sketch, then each returned value's TRUE rank interval is
    recomputed with a join back to the corpus and compared to the rank
    bound. The sketch's value column is excluded from the output (KLL
    compaction is randomized); the oracle pins the deterministic part
    (group, n) exactly plus the bound booleans as literal TRUE. k=1024
    keeps every sf0.01 group (max ~220 rows) below the sketch's
    pre-compaction capacity — exact mode, so the booleans are
    deterministic where the oracle gate runs; at larger SFs they are
    ≥99%-confidence per the KLL guarantee (bench times, never
    value-checks, those)."""
    from post_processor_spark.analytics import sketches

    d = _t(spark, sf, "documents").select("lang", "n_chars")
    kq = sketches.kll_quantiles(d, ["lang"], "n_chars", qs=(0.5, 0.9), k=1024)
    eps = 0.0165
    j = kq.join(d.withColumnRenamed("n_chars", "x"), "lang")
    checks = []
    for q, label in [(0.5, "q0_5"), (0.9, "q0_9")]:
        below = F.sum((F.col("x") < F.col(label)).cast("long")) / F.max("n")
        at_or_below = F.sum((F.col("x") <= F.col(label)).cast("long")) / F.max("n")
        checks.append(
            ((below <= q + eps) & (at_or_below >= q - eps)).alias(f"ok_{label}")
        )
    return (
        j.groupBy("lang")
        .agg(F.max("n").cast("long").alias("n"), *checks)
        .orderBy("lang")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- first 50 = the driver's correctness window: curated so the
        # load-bearing surface (frontier/crawl core, citation graph,
        # relational essentials, the full dedup family, cleaning/decontam,
        # packing/sampling, similarity, sketches) all get driver-green
        # rows every round. Everything below the fold stays oracle-gated
        # via scripts_spark/check_oracle.py and pytest. ---
        "q_frontier_schedule": _q_frontier_schedule,
        "q_head_topk": _q_head_topk,
        "q_seen_filter": _q_seen_filter,
        "q_robots_gate": _q_robots_gate,
        "q_url_canon": _q_url_canon,
        "q_url_traps": _q_url_traps,
        "q_recrawl": _q_recrawl,
        "q_warc_scan": _q_warc_scan,
        "q_robots_txt": _q_robots_txt,
        "q_html_main_text": _q_html_main_text,
        "q_referral_edges": _q_referral_edges,
        "q_referral_probe": _q_referral_probe,
        "q_interest_ranking": _q_interest_ranking,
        "q_pricing_summary": _q_pricing_summary,
        "q_revenue_by_nation": _q_revenue_by_nation,
        "q_semi_join": _q_semi_join,
        "q_topk_per_group": _q_topk_per_group,
        "q_sessionize": _q_sessionize,
        "q_asof_join": _q_asof_join,
        "q_json_extract": _q_json_extract,
        "q_dedup_exact": _q_dedup_exact,
        "q_minhash_md5": _q_minhash_md5,
        "q_lsh_probe": _q_lsh_probe,
        "q_simhash_md5": _q_simhash_md5,
        "q_ngram_jaccard": _q_ngram_jaccard,
        "q_edit_verify": _q_edit_verify,
        "q_embedding_neardup": _q_embedding_neardup,
        "q_neardup_clusters": _q_neardup_clusters,
        "q_neardup_keep": _q_neardup_keep,
        "q_line_dedup": _q_line_dedup,
        "q_passage_dedup": _q_passage_dedup,
        "q_strip_boilerplate": _q_strip_boilerplate,
        "q_decontaminate": _q_decontaminate,
        "q_repetition": _q_repetition,
        "q_pii_redact": _q_pii_redact,
        "q_c4_clean": _q_c4_clean,
        "q_text_profile": _q_text_profile,
        "q_quality_classifier": _q_quality_classifier,
        "q_lang_id": _q_lang_id,
        "q_seq_pack": _q_seq_pack,
        "q_training_pipeline": _q_training_pipeline,
        "q_token_budget": _q_token_budget,
        "q_stratified_sample": _q_stratified_sample,
        "q_temperature_sample": _q_temperature_sample,
        "q_holdout_split": _q_holdout_split,
        "q_weighted_sample": _q_weighted_sample,
        "q_ann_cosine": _q_ann_cosine,
        "q_hll_rollup": _q_hll_rollup,
        "q_kll_quantiles": _q_kll_quantiles,
        "q_theta_overlap": _q_theta_overlap,
        # --- below the fold: redundant-evidence variants + the long tail ---
        "q_pagerank": _q_pagerank,
        "q_filter_revenue": _q_filter_revenue,
        "q_top_orders": _q_top_orders,
        "q_anti_join": _q_anti_join,
        "q_union_by_status": _q_union_by_status,
        "q_first_event_per_user": _q_first_event_per_user,
        "q_event_minute": _q_event_minute,
        "q_regexp_extract": _q_regexp_extract,
        "q_month_orders": _q_month_orders,
        "q_distinct_customers": _q_distinct_customers,
        "q_wordcount": _q_wordcount,
        "q_synthetic_nodes": _q_synthetic_nodes,
        "q_token_stats": _q_token_stats,
        "q_stopword_ratio": _q_stopword_ratio,
        "q_neardup_keep_best": _q_neardup_keep_best,
        "q_hits": _q_hits,
        "q_redirect_resolve": _q_redirect_resolve,
        "q_domain_mix": _q_domain_mix,
        "q_inverted_index": _q_inverted_index,
        "q_bm25": _q_bm25,
        "q_cocitation": _q_cocitation,
        "q_host_graph": _q_host_graph,
        "q_adaptive_quality": _q_adaptive_quality,
        "q_record_dedup_desc": _q_record_dedup_desc,
        "q_scope_gate": _q_scope_gate,
        "q_seen_filter_prebuilt": _q_seen_filter_prebuilt,
        "q_robots_allow": _q_robots_allow,
        "q_contamination_report": _q_contamination_report,
        "q_sitemap_scan": _q_sitemap_scan,
        "q_anchor_profile": _q_anchor_profile,
        "q_range_join": _q_range_join,
        "q_crawl_delta": _q_crawl_delta,
        "q_group_quantiles": _q_group_quantiles,
        "q_collocations": _q_collocations,
        "q_media_phash": _q_media_phash,
        "q_script_profile": _q_script_profile,
        "q_url_templates": _q_url_templates,
        "q_hll_incremental": _q_hll_incremental,
        "q_theta_overlap_by": _q_theta_overlap_by,
        "q_media_features": _q_media_features,
        # rows-only (non-SQL-expressible: xxhash64-keyed signatures)
        "q_minhash_candidates": _q_minhash_candidates,
        "q_simhash": _q_simhash,
        "q_span_extract": _q_span_extract,
    }


_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in text.EN_STOPWORDS) + "]"

_EDGES_CTE = """
WITH edges AS (
  SELECT d.doc_id AS src,
         (d.doc_id * 7 + k.k) % (SELECT count(*) FROM documents) AS dst
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, CAST(d.doc_id % 4 AS BIGINT))) AS k) k
)
"""


def _pagerank_oracle_sql(iterations: int = 3) -> str:
    """q_pagerank oracle: the same power iterations unrolled as chained
    CTEs. Arithmetic mirrors graph.pagerank's double ops exactly —
    1.0::DOUBLE casts keep DuckDB out of DECIMAL math, and the
    contribution is r * (1.0/c) (two roundings), not r/c (one), because
    Spark multiplies the precomputed share column; sum-order noise is
    absorbed by the shared round(..., 9)."""
    parts = [
        _EDGES_CTE.rstrip(),
        ", nn AS (SELECT count(*) AS n FROM documents)",
        ", outdeg AS (SELECT src, count(*) AS c FROM edges GROUP BY src)",
        ", r0 AS (SELECT doc_id AS id, 1.0::DOUBLE / (SELECT n FROM nn) AS r"
        "  FROM documents)",
    ]
    prev = "r0"
    for i in range(iterations):
        nxt = f"r{i + 1}"
        parts.append(f"""
            , d{i} AS (SELECT coalesce(sum({prev}.r), 0) AS dm
                       FROM {prev} LEFT JOIN outdeg o ON o.src = {prev}.id
                       WHERE o.src IS NULL)
            , c{i} AS (SELECT e.dst AS id,
                              sum({prev}.r * (1.0::DOUBLE / o.c)) AS contrib
                       FROM edges e
                       JOIN {prev} ON {prev}.id = e.src
                       JOIN outdeg o ON o.src = e.src
                       GROUP BY e.dst)
            , {nxt} AS (SELECT b.id,
                           (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                           + 0.85::DOUBLE * (coalesce(c{i}.contrib, 0)
                               + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS r
                        FROM {prev} b LEFT JOIN c{i} ON c{i}.id = b.id)""")
        prev = nxt
    parts.append(
        f"SELECT id AS doc_id, round(r, 9) AS pagerank FROM {prev} ORDER BY doc_id"
    )
    return "\n".join(parts)


def _hits_oracle_sql(iterations: int = 3) -> str:
    """q_hits oracle: the same L1-normalized half-steps unrolled as
    chained CTEs. Arithmetic mirrors graph.hits exactly — raw neighbor
    sums, then coalesce(raw,0)/total with the total as a scalar
    subquery (Spark broadcasts the same one-row aggregate); shared
    round(..., 9) absorbs sum-order noise."""
    # every CTE is MATERIALIZED: each round references the previous one
    # several times (join + scalar totals), and letting DuckDB inline
    # them re-expands the whole iteration tree per reference —
    # measured 363 s vs 0.1 s on sf0.01 without the hint
    parts = [
        _EDGES_CTE.rstrip().replace("edges AS (", "edges AS MATERIALIZED ("),
        ", nn AS (SELECT count(*) AS n FROM documents)",
        ", h0 AS MATERIALIZED (SELECT doc_id AS id,"
        "  1.0::DOUBLE / (SELECT n FROM nn) AS h FROM documents)",
    ]
    prev_h = "h0"
    prev_a = None
    for i in range(iterations):
        parts.append(f"""
            , ar{i} AS MATERIALIZED (
                       SELECT e.dst AS id, sum({prev_h}.h) AS raw
                        FROM edges e JOIN {prev_h} ON {prev_h}.id = e.src
                        GROUP BY e.dst)
            , at{i} AS MATERIALIZED (SELECT sum(raw) AS t FROM ar{i})
            , a{i} AS MATERIALIZED (
                       SELECT d.doc_id AS id,
                          CASE WHEN (SELECT t FROM at{i}) > 0
                               THEN coalesce(ar{i}.raw, 0) /
                                    (SELECT t FROM at{i})
                               ELSE 0.0 END AS a
                       FROM documents d LEFT JOIN ar{i} ON ar{i}.id = d.doc_id)
            , hr{i} AS MATERIALIZED (
                       SELECT e.src AS id, sum(a{i}.a) AS raw
                        FROM edges e JOIN a{i} ON a{i}.id = e.dst
                        GROUP BY e.src)
            , ht{i} AS MATERIALIZED (SELECT sum(raw) AS t FROM hr{i})
            , h{i + 1} AS MATERIALIZED (
                       SELECT d.doc_id AS id,
                          CASE WHEN (SELECT t FROM ht{i}) > 0
                               THEN coalesce(hr{i}.raw, 0) /
                                    (SELECT t FROM ht{i})
                               ELSE 0.0 END AS h
                       FROM documents d LEFT JOIN hr{i} ON hr{i}.id = d.doc_id)""")
        prev_h = f"h{i + 1}"
        prev_a = f"a{i}"
    parts.append(f"""
        SELECT {prev_a}.id AS doc_id,
               round({prev_a}.a, 9) AS authority,
               round({prev_h}.h, 9) AS hub
        FROM {prev_a} JOIN {prev_h} ON {prev_h}.id = {prev_a}.id
        ORDER BY doc_id""")
    return "\n".join(parts)


def oracle_sql() -> dict[str, str]:
    return {
        "q_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_filter_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q_top_orders": """
            SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            ORDER BY total DESC, o_orderkey LIMIT 10
        """,
        "q_revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "q_semi_join": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity > 45)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q_anti_join": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
        "q_union_by_status": """
            SELECT o_orderstatus, count(*) AS n FROM (
              SELECT o_orderstatus FROM orders WHERE o_totalprice > 100000
              UNION ALL
              SELECT o_orderstatus FROM orders WHERE o_totalprice <= 100000
            ) GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "q_topk_per_group": """
            SELECT p_brand, rk, p_partkey, round(p_retailprice, 2) AS price
            FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                     row_number() OVER (PARTITION BY p_brand
                                        ORDER BY p_retailprice DESC, p_partkey) AS rk
              FROM part
            ) WHERE rk <= 3
        """,
        "q_first_event_per_user": """
            SELECT user_id, event_id, event_type
            FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "q_asof_join": """
            WITH o1 AS (
              SELECT o_custkey, o_orderdate,
                     max(o_orderkey) AS last_orderkey,
                     arg_max(o_totalprice, o_orderkey) AS last_totalprice
              FROM orders GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, o1.last_orderkey, o1.last_totalprice
            FROM events e ASOF LEFT JOIN o1
              ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
        """,
        "q_sessionize": """
            SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
            FROM (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) GROUP BY user_id ORDER BY user_id
        """,
        "q_event_minute": """
            SELECT date_trunc('minute', ts) AS minute, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_regexp_extract": """
            SELECT length(digits) AS n_digits, count(*) AS n FROM (
              SELECT regexp_extract(c_name, '([0-9]+)', 1) AS digits FROM customer
            ) GROUP BY 1 ORDER BY 1
        """,
        "q_month_orders": """
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                   count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "q_distinct_customers": """
            SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q_wordcount": """
            SELECT word, count(*) AS n FROM (
              SELECT unnest(string_split(text, ' ')) AS word FROM documents
            ) WHERE word != '' GROUP BY word ORDER BY n DESC, word LIMIT 20
        """,
        "q_referral_edges": _EDGES_CTE + """
            SELECT dst, count(*) AS n_refs,
                   array_to_string(list_sort(list(CAST(src AS VARCHAR))), ',') AS referrers
            FROM edges GROUP BY dst ORDER BY dst
        """,
        "q_referral_probe": _EDGES_CTE + """
            SELECT d.doc_id, coalesce(a.cnt, 0) AS n_referrals
            FROM documents d
            LEFT JOIN (SELECT dst, count(*) AS cnt FROM edges GROUP BY dst) a
              ON d.doc_id = a.dst
            ORDER BY d.doc_id
        """,
        "q_synthetic_nodes": """
            WITH edges AS (
              SELECT (d.doc_id * 7 + k.k) AS dst
              FROM documents d,
                   LATERAL (SELECT unnest(generate_series(1, CAST(d.doc_id % 4 AS BIGINT))) AS k) k
            )
            SELECT DISTINCT dst FROM edges
            WHERE dst NOT IN (SELECT doc_id FROM documents)
            ORDER BY dst
        """,
        "q_url_canon": """
            SELECT c_custkey,
                   'https://www.example' || CAST(c_custkey % 50 AS VARCHAR)
                     || '.com/path/' || CAST(c_custkey AS VARCHAR) || '?x=1' AS canonical_url,
                   'www.example' || CAST(c_custkey % 50 AS VARCHAR) || '.com' AS host,
                   'example' || CAST(c_custkey % 50 AS VARCHAR) || '.com' AS registrable_domain
            FROM customer ORDER BY c_custkey
        """,
        "q_dedup_exact": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
                   min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1 ORDER BY keep_id
        """,
        "q_token_stats": """
            SELECT lang,
                   CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
                   max(len(regexp_split_to_array(trim(text), '\\s+'))) AS max_tokens,
                   count(*) AS n_docs
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q_stopword_ratio": f"""
            SELECT doc_id,
                   round(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                              x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                         / len(regexp_split_to_array(lower(trim(text)), '\\s+')), 4) AS stop_ratio
            FROM documents ORDER BY doc_id
        """,
        "q_lang_id": f"""
            SELECT lang,
                   CASE WHEN (CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                              / greatest(len(toks), 1)) >= 0.08
                         AND (CAST(length(regexp_replace(text, '[^a-zA-Z \\t\\n]', '', 'g')) AS DOUBLE)
                              / greatest(length(text), 1)) >= 0.6
                        THEN 'en' ELSE 'other' END AS lang_pred,
                   count(*) AS n
            FROM (SELECT lang, text,
                         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                  FROM documents)
            GROUP BY lang, lang_pred ORDER BY lang, lang_pred
        """,
        "q_ngram_jaccard": """
            WITH sh AS (
              SELECT DISTINCT doc_id AS id, g AS shingle FROM (
                SELECT doc_id,
                       array_to_string(toks[i:i+1], ' ') AS g
                FROM (SELECT doc_id,
                             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
                      FROM documents) t,
                     LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS i) s
              )
            ),
            sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.6
            ORDER BY id_a, id_b
        """,
        "q_record_dedup_desc": """
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
              FROM events
            ) WHERE rn = 1 ORDER BY user_id DESC
        """,
        "q_scope_gate": """
            SELECT o_orderkey, n_items
            FROM orders
            JOIN (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey) c
              ON o_orderkey = c.l_orderkey
            WHERE n_items >= 3
              AND EXISTS (SELECT 1 FROM customer
                          WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
            ORDER BY o_orderkey
        """,
        "q_span_extract": """
            SELECT 'https://corpus.example.com/doc/'
                     || CAST((d.doc_id * 7 + k.k) % (SELECT count(*) FROM documents) AS VARCHAR) AS url,
                   d.doc_id AS parent_seq,
                   CAST(k.k AS BIGINT) AS sub
            FROM documents d,
                 LATERAL (SELECT unnest(generate_series(1, CAST(d.doc_id % 4 AS BIGINT))) AS k) k
            ORDER BY parent_seq, sub
        """,
        "q_embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.35
            ORDER BY id_a, id_b
        """,
        "q_neardup_clusters": """
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.35
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(u, v) AS (
                SELECT u, u FROM edges
                UNION
                SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
            )
            SELECT CAST(u AS BIGINT) AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
            FROM reach GROUP BY u ORDER BY doc_id
        """,
        "q_neardup_keep": """
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.35
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(u, v) AS (
                SELECT u, u FROM edges
                UNION
                SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
            ), clusters AS (
                SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
            )
            SELECT CAST(e.vec_id AS BIGINT) AS vec_id FROM embeddings e
            WHERE e.vec_id NOT IN
                  (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
            ORDER BY vec_id
        """,
        "q_neardup_keep_best": """
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])) >= 0.35
            ), edges AS (
                SELECT id_a AS u, id_b AS v FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(u, v) AS (
                SELECT u, u FROM edges
                UNION
                SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
            ), clusters AS (
                SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
            ), best AS (
                SELECT cluster_id,
                       first(doc_id ORDER BY (doc_id * 37) % 11 DESC, doc_id ASC)
                         AS keep_id
                FROM clusters GROUP BY cluster_id
            )
            SELECT CAST(e.vec_id AS BIGINT) AS vec_id FROM embeddings e
            WHERE e.vec_id NOT IN
                  (SELECT c.doc_id FROM clusters c
                   JOIN best b USING (cluster_id)
                   WHERE c.doc_id <> b.keep_id)
            ORDER BY vec_id
        """,
        "q_interest_ranking": _EDGES_CTE + """
            SELECT CAST(d.doc_id AS VARCHAR) AS url,
                   coalesce(a.cnt, 0) AS number_of_referrals
            FROM documents d
            LEFT JOIN (SELECT dst, count(*) AS cnt FROM edges GROUP BY dst) a
              ON d.doc_id = a.dst
            ORDER BY number_of_referrals DESC, url LIMIT 30
        """,
        "q_pagerank": _pagerank_oracle_sql(3),
        "q_hits": _hits_oracle_sql(3),
        "q_redirect_resolve": """
            WITH RECURSIVE edges AS (
              SELECT 'u' || doc_id AS src, 'u' || (doc_id - 1) AS dst
              FROM documents WHERE doc_id % 5 <> 0
              UNION ALL
              SELECT * FROM (VALUES ('c0','c1'), ('c1','c2'), ('c2','c0'),
                                    ('t0','c0')) v(src, dst)
            ),
            walk(src, cur, hops) AS (
              SELECT src, dst, 1 FROM edges
              UNION ALL
              SELECT w.src, e.dst, w.hops + 1
              FROM walk w JOIN edges e ON e.src = w.cur
              WHERE w.hops < 12
            ),
            resolved AS (
              SELECT w.src, w.cur AS final, w.hops
              FROM walk w
              LEFT JOIN (SELECT DISTINCT src FROM edges) s ON s.src = w.cur
              WHERE s.src IS NULL
            )
            SELECT e.src,
                   coalesce(r.final, '') AS final,
                   coalesce(r.hops, -1)::BIGINT AS hops,
                   r.final IS NULL AS is_cycle
            FROM (SELECT DISTINCT src FROM edges) e
            LEFT JOIN resolved r ON r.src = e.src
            ORDER BY e.src
        """,
        "q_domain_mix": r"""
            WITH base AS (
              SELECT source, lang,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS tok,
                     length(text) AS chars
              FROM documents
            ),
            per_lang AS (
              SELECT source, lang, count(*) AS docs, sum(tok) AS tokens,
                     sum(chars) AS c
              FROM base GROUP BY source, lang
            ),
            per_src AS (
              SELECT source,
                     sum(docs)::BIGINT AS n_docs,
                     sum(tokens)::BIGINT AS total_tokens,
                     sum(c)::BIGINT AS total_chars,
                     count(*)::BIGINT AS n_langs
              FROM per_lang GROUP BY source
            ),
            ranked AS (
              SELECT source, lang, docs,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY docs DESC, lang) AS rn
              FROM per_lang
            )
            SELECT p.source, n_docs, total_tokens, total_chars,
                   round(total_tokens / (SELECT sum(tok)::DOUBLE FROM base),
                         9) AS token_share,
                   n_langs, t.lang AS top_lang, t.docs::BIGINT AS top_lang_docs
            FROM per_src p JOIN ranked t ON t.source = p.source AND t.rn = 1
            ORDER BY p.source
        """,
        "q_bm25": """
            WITH toks AS MATERIALIZED (
              SELECT doc_id AS _doc,
                     unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
                       AS _term
              FROM documents
            ),
            t2 AS MATERIALIZED (
              SELECT _doc, _term FROM toks WHERE _term <> ''
            ),
            dl AS MATERIALIZED (
              SELECT _doc, count(*) AS _dl FROM t2 GROUP BY _doc
            ),
            stats AS MATERIALIZED (
              SELECT count(*)::DOUBLE AS _n, avg(_dl) AS _avgdl FROM dl
            ),
            qterms AS MATERIALIZED (
              SELECT DISTINCT doc_id AS _qid, t._term
              FROM documents,
                   LATERAL (
                     SELECT unnest(list_slice(
                       list_filter(
                         string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> ''), 1, 5)) AS _term
                   ) t
              WHERE doc_id < 5
            ),
            tf AS MATERIALIZED (
              SELECT t2._doc, t2._term, count(*) AS _tf
              FROM t2
              JOIN (SELECT DISTINCT _term FROM qterms) q ON q._term = t2._term
              GROUP BY t2._doc, t2._term
            ),
            dfq AS MATERIALIZED (
              SELECT _term, count(*) AS _df FROM tf GROUP BY _term
            ),
            scored AS MATERIALIZED (
              SELECT qt._qid, tf._doc,
                     sum(
                       ln(1.0 + ((SELECT _n FROM stats) - dfq._df + 0.5)
                                / (dfq._df + 0.5))
                       * (tf._tf * (1.5 + 1.0))
                       / (tf._tf + 1.5 * (0.25 + 0.75 * dl._dl
                                          / (SELECT _avgdl FROM stats)))
                     ) AS _score
              FROM tf
              JOIN qterms qt ON qt._term = tf._term
              JOIN dl ON dl._doc = tf._doc
              JOIN dfq ON dfq._term = tf._term
              GROUP BY qt._qid, tf._doc
            ),
            r AS (
              SELECT _qid, _doc, round(_score, 6) AS score,
                     row_number() OVER (PARTITION BY _qid
                                        ORDER BY round(_score, 6) DESC,
                                                 _doc) AS rank
              FROM scored
            )
            SELECT _qid::BIGINT AS query_id, _doc::BIGINT AS doc_id,
                   rank::BIGINT AS rank, score
            FROM r WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "q_cocitation": _EDGES_CTE + """
            , e AS (SELECT DISTINCT src, dst FROM edges)
            , ok AS (SELECT src FROM e GROUP BY src
                     HAVING count(*) BETWEEN 2 AND 64)
            SELECT e1.dst::BIGINT AS dst_a, e2.dst::BIGINT AS dst_b,
                   count(*)::BIGINT AS cocitations
            FROM e e1
            JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
            JOIN ok ON ok.src = e1.src
            GROUP BY e1.dst, e2.dst
            ORDER BY dst_a, dst_b
        """,
        "q_adaptive_quality": """
            WITH r AS (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM documents
            ),
            thr AS (
              SELECT lang,
                     max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                              THEN n_chars END) AS t
              FROM r GROUP BY lang
            )
            SELECT d.doc_id::BIGINT AS doc_id
            FROM documents d JOIN thr ON thr.lang = d.lang
            WHERE d.n_chars >= thr.t
            ORDER BY doc_id
        """,
        "q_host_graph": """
            WITH e AS (
              SELECT 'site' || CAST(doc_id % 40 AS VARCHAR) || '.com'
                       AS src_domain,
                     'site' || CAST((doc_id * 7 + k.k) % 40 AS VARCHAR)
                       || '.org' AS dst_domain
              FROM documents d,
                   LATERAL (SELECT unnest(generate_series(
                     1, CAST(d.doc_id % 4 AS BIGINT))) AS k) k
            )
            SELECT src_domain, dst_domain, count(*)::BIGINT AS weight
            FROM e WHERE src_domain <> dst_domain
            GROUP BY src_domain, dst_domain
            ORDER BY src_domain, dst_domain
        """,
        "q_inverted_index": """
            WITH toks AS (
              SELECT doc_id AS _doc,
                     unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
                       AS token
              FROM documents
            ),
            per_doc AS (
              SELECT token, _doc, count(*) AS n
              FROM toks WHERE token <> '' GROUP BY token, _doc
            )
            SELECT token, count(*)::BIGINT AS df, sum(n)::BIGINT AS tf,
                   to_json(list_sort(list(_doc)))::VARCHAR AS postings
            FROM per_doc GROUP BY token HAVING count(*) >= 5
            ORDER BY token
        """,
        "q_frontier_schedule": """
            WITH seeds AS (
              SELECT 'https://host'
                       || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                       || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
                     'host' || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                       || '.example.com' AS host,
                     (doc_id * 13) % 10 AS priority,
                     doc_id AS seq
              FROM documents
            ),
            ranked AS (
              SELECT url, host,
                     row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
              FROM seeds
            )
            SELECT url, host,
                   make_timestamp((1700000008 + (rn - 1)) * 1000000) AS not_before
            FROM ranked WHERE rn <= 8 ORDER BY url
        """,
        "q_head_topk": """
            WITH seeds AS (
              SELECT 'https://host'
                       || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                       || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
                     'host' || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                       || '.example.com' AS host,
                     CAST((doc_id * 13) % 10 AS INTEGER) AS priority,
                     doc_id AS seq
              FROM documents
            )
            SELECT url, host, priority FROM (
              SELECT url, host, priority,
                     row_number() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
              FROM seeds
            ) WHERE rn <= 12 ORDER BY url
        """,
        "q_seen_filter": """
            SELECT 'https://host'
                     || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                     || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
            FROM documents WHERE doc_id % 3 <> 0 ORDER BY url
        """,
        "q_seen_filter_prebuilt": """
            SELECT 'https://host'
                     || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                     || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
            FROM documents WHERE doc_id % 3 <> 0 ORDER BY url
        """,
        "q_robots_gate": """
            WITH seeds AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS hid,
                     'https://host'
                       || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                       || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            )
            SELECT url FROM seeds
            WHERE NOT (hid % 5 = 0
                       AND (CAST(doc_id AS VARCHAR) LIKE '1%'
                            OR CAST(doc_id AS VARCHAR) LIKE '3%'))
            ORDER BY url
        """,
        "q_robots_allow": """
            WITH seeds AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS hid,
                     'https://host'
                       || CAST(CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 97 END AS VARCHAR)
                       || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            )
            SELECT url FROM seeds
            WHERE hid % 5 <> 0
               OR CAST(doc_id AS VARCHAR) LIKE '1%'
               OR CAST(doc_id AS VARCHAR) LIKE '3%'
            ORDER BY url
        """,
        "q_minhash_md5": """
            WITH toks AS (
              SELECT doc_id AS id,
                     string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     ) AS t
              FROM documents
            ),
            grams AS (
              SELECT DISTINCT id,
                     array_to_string(t[g.i + 1 : g.i + 3], ' ') AS sh
              FROM toks, unnest(generate_series(0, greatest(len(t) - 3, 0))) AS g(i)
            ),
            hs AS (
              SELECT id,
                     CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h
              FROM grams
            ),
            sig AS (
              SELECT id, f.i,
                     min(((2*f.i + 1) * h + 1000003*f.i + 12345) % 4294967311) AS mh
              FROM hs, unnest(generate_series(0, 31)) AS f(i)
              GROUP BY id, f.i
            ),
            bands AS (
              SELECT id, i // 4 AS band,
                     array_to_string(list(mh ORDER BY i), ',') AS slice_key
              FROM sig GROUP BY id, i // 4
            )
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.slice_key = b.slice_key AND a.id < b.id
            ORDER BY id_a, id_b
        """,
        "q_lsh_probe": """
            WITH toks AS (
              SELECT doc_id AS id,
                     string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     ) AS t
              FROM documents
            ),
            grams AS (
              SELECT DISTINCT id,
                     array_to_string(t[g.i + 1 : g.i + 3], ' ') AS sh
              FROM toks, unnest(generate_series(0, greatest(len(t) - 3, 0))) AS g(i)
            ),
            hs AS (
              SELECT id,
                     CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h
              FROM grams
            ),
            sig AS (
              SELECT id, f.i,
                     min(((2*f.i + 1) * h + 1000003*f.i + 12345) % 4294967311) AS mh
              FROM hs, unnest(generate_series(0, 31)) AS f(i)
              GROUP BY id, f.i
            ),
            bands AS (
              SELECT id, i // 4 AS band,
                     array_to_string(list(mh ORDER BY i), ',') AS slice_key
              FROM sig GROUP BY id, i // 4
            )
            -- the probe contract: every candidate pair TOUCHING the odd
            -- (batch) half — new x corpus and new x new, never
            -- corpus x corpus
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.slice_key = b.slice_key AND a.id < b.id
            WHERE a.id % 2 = 1 OR b.id % 2 = 1
            ORDER BY id_a, id_b
        """,
        "q_line_dedup": """
            WITH split AS (
              SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
            ),
            lines AS (
              SELECT doc_id, g.i AS pos, trim(ls[g.i]) AS line
              FROM split, unnest(generate_series(1, len(ls))) AS g(i)
              WHERE trim(ls[g.i]) != ''
            ),
            kept AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
              FROM lines
            ),
            rebuilt AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
              FROM kept WHERE rn = 1 GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(r.text, '') AS text
            FROM documents d LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY doc_id
        """,
        "q_pii_redact": """
            WITH synth AS (
              SELECT doc_id,
                text
                || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
                || CASE WHEN doc_id % 4 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                || CASE WHEN doc_id % 6 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' card 4111-1111-1111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(text, '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b')) AS INT) AS n_card,
                   CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INT) AS n_ssn,
                   CAST(len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phone,
                   CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
                   CAST((len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       + len(regexp_extract_all(text, '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b'))
                       + len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))
                       + len(regexp_extract_all(text, '\\b\\d{3}-\\d{3}-\\d{4}\\b'))
                       + len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0) AS INT) AS has_pii,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b', '<CARD>', 'g'),
                         '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
                       '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
            FROM synth
            ORDER BY doc_id
        """,
        "q_c4_clean": """
            WITH w AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
            ),
            synth AS (
              SELECT doc_id,
                array_to_string(t[1:8], ' ') || '.' || chr(10)
                || array_to_string(t[2:5], ' ') || '!' || chr(10)
                || array_to_string(t[1:6], ' ') || chr(10)
                || 'please enable javascript to view this page.' || chr(10)
                || array_to_string(t[4:10], ' ') || '?' || chr(10)
                || array_to_string(t[1:7], ' ') || '.'
                || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'this page uses lorem ipsum filler.' ELSE '' END
                || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END
                || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'frobnicate the widget assembly now.' ELSE '' END
                AS text
              FROM w
            ),
            kept AS (
              SELECT doc_id,
                list_filter(
                  list_transform(string_split(text, chr(10)), x -> trim(x)),
                  x -> regexp_matches(x, '[.!?"]$')
                       AND len(string_split_regex(trim(x), '\\s+')) >= 5
                       AND NOT contains(lower(x), 'javascript')
                ) AS k
              FROM synth
              WHERE NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(lower(text), '{')
            )
            SELECT doc_id, CAST(len(k) AS INT) AS n_kept_lines,
                   array_to_string(k, chr(10)) AS text
            FROM kept
            WHERE len(k) >= 3
              AND len(list_filter(
                    string_split_regex(trim(lower(array_to_string(k, chr(10)))), '\\s+'),
                    x -> x = 'frobnicate')) = 0
            ORDER BY doc_id
        """,
        "q_seq_pack": """
            WITH t AS (
              SELECT source AS shard, doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
              FROM t
            ),
            f AS (
              SELECT shard, doc_id, n_tokens,
                     end_off - n_tokens AS start_off, end_off,
                     (end_off - n_tokens) // 256 AS first_chunk,
                     CASE WHEN n_tokens = 0 THEN (end_off - n_tokens) // 256
                          ELSE (end_off - 1) // 256 END AS last_chunk
              FROM c
            )
            SELECT shard, doc_id, n_tokens, start_off, end_off,
                   first_chunk, last_chunk,
                   last_chunk - first_chunk + 1 AS n_chunks
            FROM f ORDER BY shard, doc_id
        """,
        # the composed recipe: every stage below replays the SAME rule its
        # standalone oracle pins (c4 lines/doc gates, md5-normalized exact
        # dedup, md5 3-gram decontam, md5-threshold temperature sampling,
        # single-window packing) chained over the q_c4_clean synth pages
        "q_training_pipeline": """
            WITH w AS (
              SELECT doc_id, lang, source,
                     string_split_regex(trim(text), '\\s+') AS t
              FROM documents
            ),
            synth AS (
              SELECT doc_id, lang, source,
                array_to_string(t[1:8], ' ') || '.' || chr(10)
                || array_to_string(t[2:5], ' ') || '!' || chr(10)
                || array_to_string(t[1:6], ' ') || chr(10)
                || 'please enable javascript to view this page.' || chr(10)
                || array_to_string(t[4:10], ' ') || '?' || chr(10)
                || array_to_string(t[1:7], ' ') || '.'
                || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'this page uses lorem ipsum filler.' ELSE '' END
                || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END
                || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'frobnicate the widget assembly now.' ELSE '' END
                AS text
              FROM w
            ),
            kept AS (
              SELECT doc_id, lang, source,
                list_filter(
                  list_transform(string_split(text, chr(10)), x -> trim(x)),
                  x -> regexp_matches(x, '[.!?"]$')
                       AND len(string_split_regex(trim(x), '\\s+')) >= 5
                       AND NOT contains(lower(x), 'javascript')
                ) AS k
              FROM synth
              WHERE doc_id % 10 != 0
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(lower(text), '{')
            ),
            cleaned AS (
              SELECT doc_id, lang, source,
                     array_to_string(k, chr(10)) AS text
              FROM kept WHERE len(k) >= 3
            ),
            dedup AS (
              SELECT doc_id, lang, source, text FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                  ORDER BY doc_id) AS rn
                FROM cleaned
              ) WHERE rn = 1
            ),
            ctoks AS (
              SELECT doc_id,
                     string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     ) AS t
              FROM dedup
            ),
            cgrams AS (
              SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(
                       md5(array_to_string(t[g.i + 1 : g.i + 3], ' ')), 1, 8
                     )) AS BIGINT) AS h
              FROM ctoks, unnest(generate_series(0, greatest(len(t) - 3, 0))) AS g(i)
            ),
            btoks AS (
              SELECT doc_id,
                     string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     ) AS t
              FROM synth WHERE doc_id % 10 = 0
            ),
            bgrams AS (
              SELECT DISTINCT
                     CAST(('0x' || substr(
                       md5(array_to_string(t[g.i + 1 : g.i + 3], ' ')), 1, 8
                     )) AS BIGINT) AS h
              FROM btoks, unnest(generate_series(0, greatest(len(t) - 3, 0))) AS g(i)
            ),
            hits AS (
              SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b USING (h)
            ),
            decon AS (
              SELECT d.* FROM dedup d LEFT JOIN hits h USING (doc_id)
              WHERE h.doc_id IS NULL
            ),
            sc AS (SELECT source, count(*) AS n FROM decon GROUP BY source),
            st AS (SELECT sum(n) AS total, sum(pow(n, 0.5)) AS wsum FROM sc),
            sr AS (SELECT sc.source,
                          least(1.0, 0.5 * st.total * pow(sc.n, 0.5)
                                / (st.wsum * sc.n)) AS fraction
                   FROM sc, st),
            sampled AS (
              SELECT d.doc_id, d.source, d.text
              FROM decon d JOIN sr ON d.source = sr.source
              WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'tp1'), 1, 8)) AS BIGINT)
                    / 4294967296.0 < sr.fraction
            ),
            pt AS (
              SELECT source AS shard, doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
              FROM sampled
            ),
            pc AS (
              SELECT shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
              FROM pt
            ),
            pf AS (
              SELECT shard, doc_id, n_tokens,
                     end_off - n_tokens AS start_off, end_off,
                     (end_off - n_tokens) // 256 AS first_chunk,
                     CASE WHEN n_tokens = 0 THEN (end_off - n_tokens) // 256
                          ELSE (end_off - 1) // 256 END AS last_chunk
              FROM pc
            )
            SELECT shard, doc_id, n_tokens, start_off, end_off,
                   first_chunk, last_chunk,
                   last_chunk - first_chunk + 1 AS n_chunks
            FROM pf ORDER BY shard, doc_id
        """,
        "q_recrawl": """
            WITH h AS (
              SELECT CAST(user_id AS BIGINT) AS url_hash,
                     CAST(row_number() OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS BIGINT) AS generation,
                     event_type AS content_hash
              FROM events
            ), c AS (
              SELECT url_hash, generation,
                     CASE WHEN lag(content_hash) OVER w IS NOT NULL
                           AND content_hash <> lag(content_hash) OVER w
                          THEN 1 ELSE 0 END AS changed
              FROM h WINDOW w AS (PARTITION BY url_hash ORDER BY generation)
            ), a AS (
              SELECT url_hash,
                     count(*) AS n_fetches,
                     CAST(sum(changed) AS BIGINT) AS n_changes,
                     max(generation) AS last_gen,
                     CASE WHEN count(*) > 1
                          THEN CAST(sum(changed) AS DOUBLE) / (count(*) - 1)
                          ELSE 0.0 END AS change_rate
              FROM c GROUP BY 1
            )
            SELECT url_hash, n_fetches, n_changes, last_gen, change_rate,
                   least(16, greatest(1,
                     CAST(floor(1.0 / (change_rate + 1.0/16)) AS BIGINT))) AS interval,
                   last_gen + least(16, greatest(1,
                     CAST(floor(1.0 / (change_rate + 1.0/16)) AS BIGINT))) AS next_fetch_gen
            FROM a
        """,
        "q_quality_classifier": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id, len(toks) AS n,
                     list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(toks, x ->
                           ((((CAST(('0x' || substr(md5(x || 'q1'), 1, 8)) AS BIGINT) % 1024)
                              * 2654435761) % 2147483648) / 2147483648.0) * 2 - 1)),
                       (acc, w) -> acc + w) AS total
              FROM t
            ), l AS (
              SELECT doc_id,
                     CASE WHEN n > 0 THEN total / n ELSE 0.0 END AS logit
              FROM s
            )
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-logit)), 6) AS score,
                   (1.0 / (1.0 + exp(-logit))) >= 0.5 AS keep
            FROM l ORDER BY doc_id
        """,
        "q_sitemap_scan": """
            WITH u AS (
              SELECT source AS sitemap_id, 'url' AS kind,
                     'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS loc,
                     '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
                     CASE WHEN doc_id % 3 = 0 THEN NULL
                          WHEN doc_id % 2 = 0 THEN 'daily' ELSE 'weekly' END AS changefreq,
                     CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) AS priority
              FROM documents
            ), s AS (
              SELECT DISTINCT '_index' AS sitemap_id, 'sitemap' AS kind,
                     'https://' || source || '.example.com/sitemap.xml' AS loc,
                     '2024-02-01' AS lastmod,
                     CAST(NULL AS VARCHAR) AS changefreq,
                     0.5 AS priority
              FROM documents
            )
            SELECT * FROM (SELECT * FROM u UNION ALL SELECT * FROM s)
            ORDER BY kind, loc
        """,
        "q_html_main_text": """
            WITH d AS (
              SELECT doc_id, lang,
                     trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
              FROM documents
            )
            SELECT doc_id,
                   lang || ' document ' || CAST(doc_id AS VARCHAR)
                   || CASE WHEN len(string_split(t, ' ')) >= 3 AND t <> ''
                           THEN chr(10) || t ELSE '' END
                   || chr(10) || 'Contact & imprint: mail me' AS main_text,
                   CAST(CASE WHEN len(string_split(t, ' ')) >= 3 AND t <> ''
                             THEN 3 ELSE 2 END AS BIGINT) AS n_blocks_kept
            FROM d ORDER BY doc_id
        """,
        "q_anchor_profile": """
            WITH a AS (
              SELECT doc_id,
                     'https://t' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/' AS href,
                     'site ' || CAST(doc_id % 3 AS VARCHAR) AS anchor_text
              FROM documents
              UNION ALL
              SELECT doc_id,
                     'https://t' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.example.com/',
                     'visit ' || CAST(doc_id % 2 AS VARCHAR)
              FROM documents
              UNION ALL
              SELECT doc_id,
                     'https://t' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/',
                     'again'
              FROM documents
            ), pt AS (
              SELECT href, anchor_text, count(*) AS n FROM a GROUP BY 1, 2
            ), tops AS (
              SELECT href, anchor_text AS top_anchor,
                     row_number() OVER (PARTITION BY href
                                        ORDER BY n DESC, anchor_text) AS rn
              FROM pt
            ), agg AS (
              SELECT href, CAST(count(*) AS BIGINT) AS n_links,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM a GROUP BY 1
            )
            SELECT agg.href, n_links, n_docs, top_anchor
            FROM agg JOIN tops USING (href) WHERE rn = 1
            ORDER BY agg.href
        """,
        "q_robots_txt": """
            WITH s AS (SELECT DISTINCT source FROM documents),
                 x AS (SELECT source, CAST(substr(source, 4) AS INT) AS n FROM s)
            SELECT source AS host,
                   CASE WHEN n % 2 = 0 THEN '/mc-only'
                        ELSE '/private' END AS disallow,
                   CASE WHEN n % 2 = 0 THEN ''
                        ELSE '/private/ok' END AS allow,
                   CASE WHEN n % 2 = 0 THEN -1.0
                        ELSE CAST(n % 5 + 1 AS DOUBLE) END AS crawl_delay,
                   'https://' || source || '.example.com/sitemap.xml' AS sitemaps
            FROM x ORDER BY host
        """,
        "q_url_traps": """
            WITH u AS (
              SELECT doc_id,
                     'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/'
                     || repeat('sec/', CAST(doc_id % 8 AS INT)) || 'page'
                     || CASE WHEN doc_id % 11 = 0 THEN ';jsessionid=x9' ELSE '' END
                     || CASE WHEN doc_id % 6 = 0
                             THEN '?' || repeat('a=1&', CAST(doc_id % 13 AS INT)) || 'z=9'
                             ELSE '' END AS url,
                     doc_id % 8 AS k,
                     CASE WHEN doc_id % 6 = 0 THEN doc_id % 13 + 1 ELSE 0 END AS np
              FROM documents
            )
            SELECT doc_id, url,
                   CAST(k + 1 AS BIGINT) AS depth,
                   CAST(greatest(k, 1) AS BIGINT) AS max_repeat,
                   CAST(np AS BIGINT) AS n_params,
                   CAST(len(url) AS BIGINT) AS url_len,
                   (doc_id % 11 = 0) AS has_session,
                   (k + 1 > 12 OR greatest(k, 1) >= 3 OR np > 10
                    OR len(url) > 512 OR doc_id % 11 = 0) AS is_trap
            FROM u ORDER BY doc_id
        """,
        "q_warc_scan": """
            WITH r AS (
              SELECT source AS warc_id,
                     CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                          AS BIGINT) AS rec_idx,
                     'response' AS rec_type,
                     'https://' || source || '.example.com/doc/'
                       || CAST(doc_id AS VARCHAR) AS target_uri,
                     '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                       || 'T00:00:00Z' AS warc_date,
                     CAST(len(text) AS BIGINT) AS content_length,
                     md5(text) AS payload_md5
              FROM documents
            ), w AS (
              SELECT DISTINCT source AS warc_id, CAST(0 AS BIGINT) AS rec_idx,
                     'warcinfo' AS rec_type, CAST(NULL AS VARCHAR) AS target_uri,
                     CAST(NULL AS VARCHAR) AS warc_date,
                     CAST(25 AS BIGINT) AS content_length,
                     md5('software: pps-crawler/1.0') AS payload_md5
              FROM documents
            )
            SELECT * FROM (SELECT * FROM w UNION ALL SELECT * FROM r)
            ORDER BY warc_id, rec_idx
        """,
        "q_passage_dedup": """
            WITH d AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 5 = 0
                                  THEN ' alpha beta gamma delta epsilon zeta eta theta iota'
                                  ELSE '' END AS text
              FROM documents
            ), t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS toks
              FROM d
            ), w0 AS (
              SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 7, 2)) AS pos
              FROM t WHERE len(toks) >= 8
            ), w AS (
              SELECT doc_id, pos,
                     md5(array_to_string(list_slice(toks, pos, pos + 7), ' ')) AS wk
              FROM w0
            ), dupkeys AS (
              SELECT wk FROM w GROUP BY wk HAVING min(doc_id) <> max(doc_id)
            ), hits AS (
              SELECT doc_id, pos FROM w WHERE wk IN (SELECT wk FROM dupkeys)
            ), isl AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(max(pos + 8) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                          THEN 1 ELSE 0 END AS new_isl
              FROM hits
            ), isl2 AS (
              SELECT doc_id, pos,
                     sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM isl
            )
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 8 AS BIGINT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM isl2 GROUP BY doc_id, island
            ORDER BY doc_id, span_start
        """,
        "q_range_join": """
            WITH iv AS (
              SELECT event_id AS iv_event_id, user_id AS iv_user, ts AS start_ts,
                     ts + INTERVAL 30 MINUTE AS end_ts
              FROM events WHERE event_id % 11 = 0
            )
            SELECT iv.iv_event_id, count(*) AS n_events,
                   round(sum(e.value), 2) AS sum_value
            FROM iv JOIN events e
              ON e.user_id = iv.iv_user AND e.ts BETWEEN iv.start_ts AND iv.end_ts
            GROUP BY 1 ORDER BY 1
        """,
        "q_temperature_sample": """
            WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            t AS (SELECT sum(n) AS total, sum(pow(n, 0.5)) AS wsum FROM c),
            r AS (SELECT c.lang,
                         least(1.0, 0.5 * t.total * pow(c.n, 0.5)
                               / (t.wsum * c.n)) AS fraction
                  FROM c, t)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN r ON d.lang = r.lang
            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'temp1'), 1, 8)) AS BIGINT)
                  / 4294967296.0 < r.fraction
            ORDER BY d.doc_id
        """,
        "q_crawl_delta": """
            WITH o AS (
              SELECT doc_id AS url_hash, md5(text) AS old_fp
              FROM documents WHERE doc_id % 10 <> 0
            ), n AS (
              SELECT doc_id AS url_hash,
                     md5(text || CASE WHEN doc_id % 3 = 0
                                      THEN 'v2' ELSE '' END) AS new_fp
              FROM documents WHERE doc_id % 7 <> 0
            ), j AS (
              SELECT coalesce(o.url_hash, n.url_hash) AS url_hash,
                     CASE WHEN o.url_hash IS NULL THEN 'added'
                          WHEN n.url_hash IS NULL THEN 'removed'
                          WHEN o.old_fp = n.new_fp THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM o FULL OUTER JOIN n ON o.url_hash = n.url_hash
            )
            SELECT status, count(*) AS n_urls,
                   CAST(sum(url_hash) AS BIGINT) AS sum_key
            FROM j GROUP BY status ORDER BY status
        """,
        "q_group_quantiles": """
            WITH b AS (
              SELECT lang, CAST(length(text) AS BIGINT) AS len FROM documents
            ), r AS (
              SELECT lang, len,
                     row_number() OVER (PARTITION BY lang ORDER BY len) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM b
            )
            SELECT lang, CAST(max(n) AS BIGINT) AS n,
                   max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN len END) AS p50,
                   max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN len END) AS p90,
                   max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN len END) AS p99
            FROM r GROUP BY lang ORDER BY lang
        """,
        "q_token_budget": f"""
            WITH m AS (
              SELECT doc_id, source, text, trim(text) AS tt, lower(trim(text)) AS lt
              FROM documents
            ), s AS (
              SELECT doc_id, source,
                CASE WHEN tt = '' THEN 0
                     ELSE len(regexp_split_to_array(tt, '\\s+')) END AS n_tokens,
                CASE WHEN tt = '' THEN 0.0
                     ELSE CAST(len(list_filter(regexp_split_to_array(lt, '\\s+'),
                               x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                          / len(regexp_split_to_array(lt, '\\s+')) END AS sw,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(regexp_replace(text,
                               '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                          / length(text) END AS pr
              FROM m
            ), q AS (
              SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
                     round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                            + (1.0 - least(abs(sw - 0.4) * 2.5, 1.0))
                            + (1.0 - least(pr * 5.0, 1.0))) / 3.0, 4) AS score
              FROM s
            ), r AS (
              SELECT source, doc_id, score, n_tokens,
                     CAST(SUM(n_tokens) OVER (PARTITION BY source
                          ORDER BY score DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM q
            )
            SELECT source, doc_id, score, n_tokens, cum_tokens
            FROM r WHERE cum_tokens <= 600 ORDER BY source, doc_id
        """,
        "q_stratified_sample": """
            SELECT doc_id, lang
            FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix1'), 1, 8)) AS BIGINT)
                  / 4294967296.0
                  < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
                              WHEN 'zh' THEN 0.2 ELSE 0.1 END
            ORDER BY doc_id
        """,
        "q_text_profile": f"""
            WITH m AS (
              SELECT doc_id, text, trim(text) AS tt, lower(trim(text)) AS lt
              FROM documents
            ), s AS (
              SELECT doc_id,
                CASE WHEN tt = '' THEN 0
                     ELSE len(regexp_split_to_array(tt, '\\s+')) END AS n_tokens,
                len(regexp_extract_all(tt, '[a-zA-Z0-9]+'))
                  + length(regexp_replace(tt, '[a-zA-Z0-9]', '', 'g')) AS n_pieces,
                CASE WHEN tt = '' THEN 0.0
                     ELSE CAST(len(list_filter(regexp_split_to_array(lt, '\\s+'),
                               x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
                          / len(regexp_split_to_array(lt, '\\s+')) END AS sw,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(regexp_replace(text,
                               '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                          / length(text) END AS pr,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(regexp_replace(text,
                               '[^a-zA-Z\\s]', '', 'g')) AS DOUBLE)
                          / length(text) END AS ar,
                md5(regexp_replace(lt, '\\s+', ' ', 'g')) AS fingerprint
              FROM m
            )
            SELECT doc_id, n_tokens, n_pieces,
                   round(sw, 4) AS stop_ratio,
                   round(pr, 4) AS punct_ratio,
                   round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                          + (1.0 - least(abs(sw - 0.4) * 2.5, 1.0))
                          + (1.0 - least(pr * 5.0, 1.0))) / 3.0, 4) AS quality,
                   CASE WHEN sw >= 0.08 AND ar >= 0.6
                        THEN 'en' ELSE 'other' END AS lang_pred,
                   fingerprint
            FROM s ORDER BY doc_id
        """,
        "q_contamination_report": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     ) AS t
              FROM documents
            ),
            grams AS (
              SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(
                       md5(array_to_string(t[g.i + 1 : g.i + 4], ' ')), 1, 8
                     )) AS BIGINT) AS h
              FROM toks, unnest(generate_series(0, greatest(len(t) - 4, 0))) AS g(i)
            )
            SELECT b.doc_id AS bench_id,
                   count(DISTINCT c.doc_id) AS n_docs_hit,
                   count(DISTINCT c.h) AS n_grams_hit
            FROM grams c JOIN grams b USING (h)
            WHERE c.doc_id % 10 != 0 AND b.doc_id % 10 = 0
            GROUP BY b.doc_id
            ORDER BY bench_id
        """,
        "q_holdout_split": """
            SELECT doc_id,
                   CASE WHEN CAST(('0x' || substr(
                            md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8
                        )) AS BIGINT) / 4294967296.0 < 0.05
                        THEN 'eval' ELSE 'train' END AS side
            FROM documents ORDER BY doc_id
        """,
        "q_decontaminate": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     ) AS t
              FROM documents
            ),
            grams AS (
              SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(
                       md5(array_to_string(t[g.i + 1 : g.i + 4], ' ')), 1, 8
                     )) AS BIGINT) AS h
              FROM toks, unnest(generate_series(0, greatest(len(t) - 4, 0))) AS g(i)
            ),
            bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 10 = 0),
            hits AS (
              SELECT c.doc_id, count(DISTINCT c.h) AS contam_grams
              FROM grams c JOIN bench b USING (h)
              WHERE c.doc_id % 10 != 0
              GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.contam_grams, 0) AS contam_grams,
                   CAST(coalesce(h.contam_grams, 0) > 0 AS INT) AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 10 != 0
            ORDER BY doc_id
        """,
        "q_repetition": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     ) AS t
              FROM documents
            ),
            tstats AS (
              SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_tok_d
              FROM toks
            ),
            grams AS (
              SELECT doc_id, array_to_string(t[g.i + 1 : g.i + 2], ' ') AS gr
              FROM toks, unnest(generate_series(0, greatest(len(t) - 2, 0))) AS g(i)
            ),
            gcnt AS (
              SELECT doc_id, gr, count(*) AS cnt FROM grams GROUP BY doc_id, gr
            ),
            gstats AS (
              SELECT doc_id, sum(cnt) AS n_gram, count(*) AS n_gram_d,
                     max(cnt) AS top_cnt
              FROM gcnt GROUP BY doc_id
            ),
            lines AS (
              SELECT doc_id, trim(l) AS line
              FROM documents, unnest(string_split(text, chr(10))) AS u(l)
              WHERE trim(l) != ''
            ),
            lcnt AS (
              SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY doc_id, line
            ),
            lstats AS (
              SELECT doc_id,
                     sum(length(line) * cnt) AS line_chars,
                     sum(CASE WHEN cnt > 1 THEN length(line) * cnt ELSE 0 END) AS dup_chars
              FROM lcnt GROUP BY doc_id
            )
            SELECT t.doc_id,
                   round(round(CASE WHEN t.n_tok = 0 THEN 0.0
                     ELSE 1.0 - CAST(t.n_tok_d AS DOUBLE) / t.n_tok END, 6), 4)
                     AS dup_word_frac,
                   round(round(CASE WHEN g.n_gram = 0 THEN 0.0
                     ELSE 1.0 - CAST(g.n_gram_d AS DOUBLE) / g.n_gram END, 6), 4)
                     AS dup_ngram_frac,
                   round(round(CASE WHEN g.n_gram = 0 THEN 0.0
                     ELSE CAST(g.top_cnt AS DOUBLE) / g.n_gram END, 6), 4)
                     AS top_ngram_frac,
                   round(round(CASE WHEN coalesce(l.line_chars, 0) = 0 THEN 0.0
                     ELSE CAST(l.dup_chars AS DOUBLE) / l.line_chars END, 6), 4)
                     AS dup_line_frac
            FROM tstats t
            JOIN gstats g USING (doc_id)
            LEFT JOIN lstats l USING (doc_id)
            ORDER BY doc_id
        """,
        "q_simhash_md5": """
            WITH toks AS (
              SELECT doc_id AS id,
                     unnest(string_split(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '
                     )) AS tok
              FROM documents
            ),
            halves AS (
              SELECT id,
                     CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
                     CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo
              FROM toks
            ),
            votes AS (
              SELECT id, g.i,
                     sum(CASE WHEN ((hi >> g.i) & 1) = 1 THEN 1 ELSE -1 END) AS vhi,
                     sum(CASE WHEN ((lo >> g.i) & 1) = 1 THEN 1 ELSE -1 END) AS vlo
              FROM halves, unnest(generate_series(0, 31)) AS g(i)
              GROUP BY id, g.i
            )
            SELECT id,
                   CAST(sum(CASE WHEN vhi > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                        AS BIGINT) AS simhash_hi,
                   CAST(sum(CASE WHEN vlo > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                        AS BIGINT) AS simhash_lo
            FROM votes GROUP BY id ORDER BY id
        """,
        "q_media_features": """
            WITH bytes AS (
              SELECT doc_id, g.i,
                     CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 2*g.i + 1, 2))
                          AS BIGINT) AS byte
              FROM documents, unnest(generate_series(0, 31)) AS g(i)
            ),
            feats AS (
              SELECT doc_id, i // 4 AS bucket, avg(byte) AS fv
              FROM bytes GROUP BY doc_id, i // 4
            )
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   max(CASE WHEN bucket = 0 THEN fv END) AS f0,
                   max(CASE WHEN bucket = 1 THEN fv END) AS f1,
                   max(CASE WHEN bucket = 2 THEN fv END) AS f2,
                   max(CASE WHEN bucket = 3 THEN fv END) AS f3,
                   max(CASE WHEN bucket = 4 THEN fv END) AS f4,
                   max(CASE WHEN bucket = 5 THEN fv END) AS f5,
                   max(CASE WHEN bucket = 6 THEN fv END) AS f6,
                   max(CASE WHEN bucket = 7 THEN fv END) AS f7,
                   CASE WHEN doc_id % 3 = 2 THEN 16 ELSE 1 END AS n_frames
            FROM feats GROUP BY doc_id ORDER BY media_id
        """,
        "q_ann_cosine": """
            SELECT query_id, rank, neighbor_id FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(c.embedding AS DOUBLE[])) DESC,
                                c.vec_id
                     ) AS rank
              FROM embeddings c
              CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
            ) WHERE rank <= 4 ORDER BY query_id, rank
        """,
        # sketch queries: sparse/exact-mode estimates equal exact set
        # sizes at oracle scale (see the _q_* docstrings); dense-mode
        # error bounds are pinned in tests/test_sketches.py
        "q_hll_rollup": """
            SELECT event_type,
                   count(DISTINCT CAST(ts AS DATE)) AS n_days,
                   count(DISTINCT user_id) AS distinct_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_hll_incremental": """
            SELECT event_type, count(DISTINCT user_id) AS distinct_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_theta_overlap": """
            SELECT
              (SELECT count(DISTINCT text) FROM documents
                WHERE doc_id % 3 <> 0) AS n_corpus,
              (SELECT count(DISTINCT text) FROM documents
                WHERE doc_id % 2 = 0) AS n_benchmark,
              (SELECT count(*) FROM (
                 SELECT DISTINCT text FROM documents WHERE doc_id % 3 <> 0
                 INTERSECT
                 SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
              )) AS n_overlap,
              (SELECT count(*) FROM (
                 SELECT DISTINCT text FROM documents WHERE doc_id % 3 <> 0
                 EXCEPT
                 SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
              )) AS n_clean
        """,
        "q_theta_overlap_by": """
            WITH l AS (SELECT DISTINCT lang, text FROM documents
                       WHERE doc_id % 3 <> 0),
            r AS (SELECT DISTINCT lang, text FROM documents
                  WHERE doc_id % 2 = 0),
            lc AS (SELECT lang, count(*) AS n FROM l GROUP BY lang),
            rc AS (SELECT lang, count(*) AS n FROM r GROUP BY lang),
            ov AS (SELECT lang, count(*) AS n FROM (
                     SELECT * FROM l INTERSECT SELECT * FROM r
                   ) GROUP BY lang)
            SELECT coalesce(lc.lang, rc.lang) AS lang,
                   coalesce(lc.n, 0) AS n_corpus,
                   coalesce(rc.n, 0) AS n_benchmark,
                   coalesce(ov.n, 0) AS n_overlap
            FROM lc FULL OUTER JOIN rc ON rc.lang = lc.lang
            LEFT JOIN ov ON ov.lang = coalesce(lc.lang, rc.lang)
            ORDER BY lang
        """,
        "q_strip_boilerplate": """
            WITH src AS (SELECT source, count(*) AS n FROM documents
                         GROUP BY source)
            SELECT d.doc_id, d.source,
                   CASE WHEN s.n >= 5
                        THEN 'body ' || CAST(d.doc_id AS VARCHAR)
                        ELSE 'COOKIE BANNER for ' || d.source || chr(10)
                             || 'body ' || CAST(d.doc_id AS VARCHAR) || chr(10)
                             || 'footer of ' || d.source
                   END AS text
            FROM documents d JOIN src s ON s.source = d.source
            ORDER BY d.doc_id
        """,
        "q_kll_quantiles": """
            SELECT lang, count(*) AS n,
                   TRUE AS ok_q0_5, TRUE AS ok_q0_9
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "q_url_templates": """
            WITH u AS (
              SELECT 'HTTPS://www.Site' || CAST(doc_id % 20 AS VARCHAR)
                || '.com/'
                || CASE doc_id % 3 WHEN 0 THEN 'article'
                        WHEN 1 THEN 'tag' ELSE 'user' END
                || '/' || CAST(doc_id AS VARCHAR)
                || CASE WHEN doc_id % 4 = 0
                        THEN '/' || sha256(CAST(doc_id AS VARCHAR))
                        ELSE '' END
                || '?utm=' || CAST(doc_id AS VARCHAR) || '#frag' AS url
              FROM documents
            ),
            t AS (
              SELECT regexp_replace(
                       regexp_replace(
                         lower(regexp_replace(
                           string_split(string_split(url, '#')[1], '?')[1],
                           '^[A-Za-z][A-Za-z0-9+.-]*://', '')),
                         '[0-9a-f]{8,}', '{h}', 'g'),
                       '[0-9]+', '{n}', 'g') AS template
              FROM u
            )
            SELECT template, count(*) AS n_urls
            FROM t GROUP BY template ORDER BY template
        """,
        "q_edit_verify": """
            WITH n AS (SELECT count(*) AS c FROM documents),
            pairs AS (
              SELECT d.doc_id AS id_a, d.doc_id + (SELECT c // 2 FROM n) AS id_b
              FROM documents d
              WHERE d.doc_id + (SELECT c // 2 FROM n) < (SELECT c FROM n)
            ),
            j AS (
              SELECT p.id_a, p.id_b,
                     length(a.text) AS len_a, length(b.text) AS len_b,
                     CASE
                       WHEN abs(length(a.text) - length(b.text)) > 30 THEN -1
                       WHEN levenshtein(a.text, b.text) <= 30
                         THEN levenshtein(a.text, b.text)
                       ELSE -1
                     END AS dist
              FROM pairs p
              JOIN documents a ON a.doc_id = p.id_a
              JOIN documents b ON b.doc_id = p.id_b
            )
            SELECT id_a, id_b, len_a, len_b, dist, dist >= 0 AS is_dup
            FROM j ORDER BY id_a
        """,
        "q_weighted_sample": """
            WITH s AS (
              SELECT doc_id, lang,
                     CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::DOUBLE
                               / 4294967296.0 > 0
                          THEN ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)::DOUBLE
                                  / 4294967296.0) / CAST(n_chars AS DOUBLE)
                          ELSE CAST('-infinity' AS DOUBLE) END AS es_key
              FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
            ),
            r AS (
              SELECT doc_id, lang, es_key,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY es_key DESC, doc_id) AS rn
              FROM s
            )
            SELECT doc_id, lang, round(es_key, 6) AS es_key
            FROM r WHERE rn <= 10 ORDER BY lang, doc_id
        """,
        "q_script_profile": """
            WITH c AS (
              SELECT doc_id,
                len(regexp_extract_all(text, '[A-Za-z\\x{00C0}-\\x{024F}]')) AS n_latin,
                len(regexp_extract_all(text, '[\\x{0400}-\\x{04FF}]')) AS n_cyrillic,
                len(regexp_extract_all(text, '[\\x{0370}-\\x{03FF}]')) AS n_greek,
                len(regexp_extract_all(text, '[\\x{0600}-\\x{06FF}\\x{0750}-\\x{077F}]')) AS n_arabic,
                len(regexp_extract_all(text, '[\\x{0590}-\\x{05FF}]')) AS n_hebrew,
                len(regexp_extract_all(text, '[\\x{0900}-\\x{097F}]')) AS n_devanagari,
                len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{AC00}-\\x{D7AF}]')) AS n_cjk
              FROM documents
            )
            SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic,
                   n_hebrew, n_devanagari, n_cjk,
                   n_latin + n_cyrillic + n_greek + n_arabic + n_hebrew
                     + n_devanagari + n_cjk AS n_scripted,
                   CASE
                     WHEN greatest(n_latin, n_cyrillic, n_greek, n_arabic,
                                   n_hebrew, n_devanagari, n_cjk) = 0 THEN 'unknown'
                     WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek,
                            n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'latin'
                     WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_greek,
                            n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'cyrillic'
                     WHEN n_greek = greatest(n_latin, n_cyrillic, n_greek,
                            n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'greek'
                     WHEN n_arabic = greatest(n_latin, n_cyrillic, n_greek,
                            n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'arabic'
                     WHEN n_hebrew = greatest(n_latin, n_cyrillic, n_greek,
                            n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'hebrew'
                     WHEN n_devanagari = greatest(n_latin, n_cyrillic, n_greek,
                            n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'devanagari'
                     ELSE 'cjk'
                   END AS script
            FROM c ORDER BY doc_id
        """,
        "q_media_phash": """
            WITH bytes AS (
              SELECT doc_id, g.i,
                     CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 2*g.i + 1, 2))
                          AS BIGINT) AS byte
              FROM documents, unnest(generate_series(0, 31)) AS g(i)
            ),
            m AS (SELECT doc_id, sum(byte) / 64.0 AS mu FROM bytes GROUP BY doc_id)
            SELECT CAST(b.doc_id AS VARCHAR) AS media_id,
                   CASE b.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   CAST(coalesce(sum(CASE WHEN b.byte > m.mu
                                          THEN (CAST(1 AS BIGINT) << b.i)
                                          ELSE 0 END), 0) AS BIGINT) AS phash
            FROM bytes b JOIN m ON m.doc_id = b.doc_id
            GROUP BY b.doc_id ORDER BY media_id
        """,
        "q_collocations": """
            WITH d AS (
              SELECT tk FROM (
                SELECT list_filter(
                         string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS tk
                FROM documents
              ) WHERE len(tk) > 0
            ),
            uni AS (SELECT unnest(tk) AS w FROM d),
            uc AS (SELECT w, count(*) AS nw FROM uni GROUP BY w),
            pos AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM d),
            big AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM pos),
            bc AS (SELECT w1, w2, count(*) AS n_pair FROM big GROUP BY w1, w2),
            tot AS (SELECT (SELECT count(*) FROM uni) AS n_tok,
                           (SELECT count(*) FROM big) AS n_big)
            SELECT bc.w1, bc.w2, bc.n_pair, u1.nw AS n_w1, u2.nw AS n_w2,
                   round(ln((bc.n_pair::DOUBLE / tot.n_big) /
                            ((u1.nw::DOUBLE / tot.n_tok) *
                             (u2.nw::DOUBLE / tot.n_tok))), 6) AS pmi
            FROM bc CROSS JOIN tot
            JOIN uc u1 ON u1.w = bc.w1
            JOIN uc u2 ON u2.w = bc.w2
            WHERE bc.n_pair >= 5
            ORDER BY bc.w1, bc.w2
        """,
    }


if __name__ == "__main__":
    from post_processor_spark.session import get_spark

    spark = get_spark()
    df = entry(spark)
    print("entry rows:", df.count())
    qs = queries()
    print(f"{len(qs)} queries, {len(oracle_sql())} oracles")
