"""Citation matching + referral graph — the reference's core compute
(processor/post_processor/processor_domain.py:18-91,
processor_twitter.py:18-108, processor.py:16-51) re-expressed as
broadcast joins + window dedup + groupBy aggregation. No per-row Python:
the nested loop `for source, info in scope.items()` per document becomes
a (doc-span × broadcast scope) join; order-sensitive, order-preserving
list semantics become explicit sort keys + window row_number.

Ordering contract (matches the reference's append order):
  ord = (scope_seq, branch, idx1, idx2)
  article branches: 0=anchor-url (span order), 1=alias, 2=handle
  twitter branches: 0=domain-url (span order), 1=status-url (span, handle),
                    2=mention (span, handle), 3=alias
Dedup contract (reference's `not in` checks):
  article: branch 0 dedupes per-doc by value (processor_domain.py:59);
           branches 1,2 append unconditionally (:73,:84)
  twitter: branch 0 appends unconditionally (processor_twitter.py:45-50 —
           reference quirk, no dedupe); branches 1,3 dedupe against the
           whole list (:56,:75); branch 2 appends unconditionally (:62-69)
found_aliases: source recorded once per scope entry — for articles on any
  raw match (processor_domain.py:63, outside the dedupe guard), for tweets
  only on kept appends (processor_twitter.py:49,59,68,78 — inside it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .canon import attach_tld_parts, url_host

_EMPTY_STR_ARR = "array<string>"


def _regex_quote(col):
    return F.regexp_replace(col, r"([^a-zA-Z0-9])", r"\\$1")


def _handle_norm(col):
    # reference normalization: .replace('@','').strip().lower()
    # (processor_twitter.py:30,65,95)
    return F.lower(F.trim(F.regexp_replace(col, "@", "")))


def prepare_scope(scope: DataFrame) -> dict[str, DataFrame]:
    """Split the scope dimension into join-ready broadcast tables."""
    scope = scope.withColumn(
        "handles_norm",
        F.transform(F.coalesce("twitter_handles", F.array().cast(_EMPTY_STR_ARR)), _handle_norm),
    )
    # tld structs come from canon.attach_tld_parts, whose suffix rule is
    # a broadcast join against the suffix dims: nine matcher branches
    # reference them, and the suffix sets as plan literals (one copy per
    # branch) blew analysis+planning to ~190 s on the golden pipeline
    # (23 MB plan, 20 MiB task binaries)
    scope_http = attach_tld_parts(
        scope.filter(F.col("source").contains("http")).withColumn(
            "scope_domain", url_host(F.col("source"))
        ),
        "source",
        "scope_tld",
    )
    # anchor matching accepts (www.)?scope_domain (processor_domain.py:51-52
    # pattern prefix 'http://www.|http://|https://www.|https://')
    scope_http_hosts = scope_http.select(
        "scope_seq", "source", "name", "scope_domain", "scope_tld", "handles_norm",
        F.explode(
            F.array_distinct(
                F.array(F.col("scope_domain"), F.concat(F.lit("www."), F.col("scope_domain")))
            )
        ).alias("match_host"),
    )
    scope_alias = scope.select(
        "scope_seq", "source", "name", "handles_norm",
        F.posexplode(F.coalesce("aliases", F.array().cast(_EMPTY_STR_ARR))).alias("alias_idx", "alias"),
    )
    scope_handle = scope.select(
        "scope_seq", "source", "name", "handles_norm",
        F.posexplode(F.coalesce("twitter_handles", F.array().cast(_EMPTY_STR_ARR))).alias("h_idx", "handle"),
    ).withColumn("h_norm", _handle_norm(F.col("handle"))).withColumn(
        # status-url probe string (processor_twitter.py:54-55): no strip —
        # only '@' removal, then lowercased for the case-insens. contains
        "status_prefix",
        F.concat(F.lit("https://twitter.com/"), F.lower(F.regexp_replace(F.col("handle"), "@", "")), F.lit("/")),
    )
    # an http-source entry whose tld equals the article's skips the WHOLE
    # entry (processor_domain.py:44 `continue`), aliases and handles too
    scope_skip_tld = scope_http.select("scope_seq", F.col("scope_tld").alias("skip_tld")).distinct()
    return {
        "http_hosts": scope_http_hosts,
        "alias": scope_alias,
        "handle": scope_handle,
        "skip_tld": scope_skip_tld,
    }


def _doc_join(documents: DataFrame, docs_meta: DataFrame) -> DataFrame:
    """documents (doc_id, spans) ⋈ the meta columns the six matchers read."""
    html_col = (
        F.coalesce(F.col("html_content"), F.lit(""))
        if "html_content" in docs_meta.columns
        else F.lit("")
    )
    meta = attach_tld_parts(
        docs_meta.select(
            "doc_id", "url", "doc_type", "domain", "seq",
            _handle_norm(F.col("domain")).alias("doc_handle_norm"),
            html_col.alias("_html"),
        ),
        "domain",
        "doc_tld",
    )
    return documents.join(meta, "doc_id")


def _doc_side(d: DataFrame):
    """Explode the joined documents (`_doc_join`) into matcher inputs."""
    link_rows = (
        d.select("doc_id", "doc_type", "doc_tld", "doc_handle_norm",
                 F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "link")
        .select(
            "doc_id", "doc_type", "doc_tld", "doc_handle_norm",
            F.col("s.media_ref").alias("link_url"),
            F.col("s.text").alias("anchor"),
            F.col("s.offset").alias("span_off"),
        )
        .withColumn("link_host", url_host(F.col("link_url")))
        .withColumn("link_url_lower", F.lower(F.col("link_url")))
    )
    mention_rows = (
        d.select("doc_id", "doc_handle_norm", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "mention")
        .select(
            "doc_id", "doc_handle_norm",
            _handle_norm(F.col("s.media_ref")).alias("mention_norm"),
            F.col("s.offset").alias("span_off"),
        )
    )
    # alias/handle text search surface. For articles the reference scans
    # the WHOLE html_content string — markup, attributes and all
    # (processor_domain.py:67-76,79-87) — so when ingest carried the raw
    # html on the meta row, that is the surface. Documents without raw
    # html (span-only corpora) fall back to text + anchor-text spans, the
    # closest span-model surface (markup not searched — documented).
    # Tweets always use article_text (text spans, processor_twitter.py:71).
    span_surface = F.array_join(
        F.transform(
            F.filter(
                "spans",
                lambda s: (s["kind"] == "text")
                | ((s["kind"] == "link") & (F.col("doc_type") == "article")),
            ),
            lambda s: s["text"],
        ),
        " ",
    )
    doc_text = d.select(
        "doc_id", "doc_type", "doc_tld", "doc_handle_norm",
        F.when(
            (F.col("doc_type") == "article") & (F.col("_html") != ""), F.col("_html")
        ).otherwise(span_surface).alias("match_text"),
    )
    return link_rows, mention_rows, doc_text


def match_citations(
    documents: DataFrame, docs_meta: DataFrame, citation_scope: DataFrame,
    persist: bool = False,
) -> DataFrame:
    """→ (doc_id, citation_url_or_text_alias, citation_name, anchor_text,
    found_aliases) — the four parallel arrays of
    processor_domain.py:30-33/89, as real array<string> columns.

    One groupBy builds all four: the lists collect the kept rows,
    found_aliases every article row and every kept tweet row. Each matched
    (doc, value) keeps its rn == 1 row, so every group has a kept row and
    the set of docs is that of the kept rows. persist=True caches
    documents ⋈ meta for the caller to release (run_pipeline does)."""
    d = _doc_join(documents, docs_meta)
    return _match(d.persist() if persist else d, citation_scope)


def _match(d: DataFrame, citation_scope: DataFrame) -> DataFrame:
    """match_citations over the joined documents (`_doc_join`)."""
    sc = prepare_scope(citation_scope)
    link_rows, mention_rows, doc_text = _doc_side(d)

    bc_hosts = F.broadcast(sc["http_hosts"])
    bc_alias = F.broadcast(sc["alias"])
    bc_handle = F.broadcast(sc["handle"])
    bc_skip_tld = F.broadcast(sc["skip_tld"])

    # --- article branch 0: anchor-url citations (M1) -------------------
    art_links = link_rows.filter(F.col("doc_type") == "article")
    m1 = (
        art_links.join(bc_hosts, art_links.link_host == bc_hosts.match_host)
        # self-citation skip (processor_domain.py:43-45)
        .filter(F.col("doc_tld") != F.col("scope_tld"))
        # scheme http(s) + '/' after the domain (the regex's .../ group)
        .filter(F.col("link_url_lower").rlike(r"^https?://"))
        .filter(F.col("link_url_lower").contains(F.concat(F.col("match_host"), F.lit("/"))))
        .select(
            "doc_id", F.lit("article").alias("doc_type"), "scope_seq",
            F.lit(0).alias("branch"),
            F.col("span_off").cast("long").alias("idx1"), F.lit(0).alias("idx2"),
            F.col("link_url").alias("value"), F.col("name"),
            F.col("anchor"), F.col("source"),
        )
    )

    # --- alias matches (M2): articles branch 1, tweets branch 3 --------
    alias_pat = F.concat(
        F.lit("""(?i)( |"|')"""), _regex_quote(F.col("alias")), F.lit("""( |"|'|,)""")
    )
    alias_join = doc_text.join(
        bc_alias,
        F.contains(F.lower(F.col("match_text")), F.lower(F.col("alias")))  # cheap prefilter
        & F.regexp_like(F.col("match_text"), alias_pat),
    )
    m2 = (
        alias_join
        # article self-skip (see prepare_scope's skip_tld)
        .join(bc_skip_tld, "scope_seq", "left")
        .filter(
            ~(
                (F.col("doc_type") == "article")
                & F.col("skip_tld").isNotNull()
                & (F.col("doc_tld") == F.col("skip_tld"))
            )
        )
        # twitter self-skip: entry handles contain the tweet's own handle
        # (processor_twitter.py:29-34)
        .filter(
            ~(
                (F.col("doc_type") == "twitter")
                & F.array_contains(F.col("handles_norm"), F.col("doc_handle_norm"))
            )
        )
        .select(
            "doc_id", "doc_type", "scope_seq",
            F.when(F.col("doc_type") == "article", 1).otherwise(3).alias("branch"),
            F.col("alias_idx").cast("long").alias("idx1"), F.lit(0).alias("idx2"),
            F.col("alias").alias("value"), F.col("name"),
            F.lit(None).cast("string").alias("anchor"), F.col("source"),
        )
    )

    # --- handle-in-text (M3, articles only, branch 2) ------------------
    handle_pat = F.concat(F.lit("(?i)@"), _regex_quote(F.col("handle")))
    m3 = (
        doc_text.filter(F.col("doc_type") == "article")
        .join(
            bc_handle,
            F.contains(F.lower(F.col("match_text")), F.concat(F.lit("@"), F.lower(F.col("handle"))))
            & F.regexp_like(F.col("match_text"), handle_pat),
        )
        .join(bc_skip_tld, "scope_seq", "left")
        .filter(~(F.col("skip_tld").isNotNull() & (F.col("doc_tld") == F.col("skip_tld"))))
        .select(
            "doc_id", F.lit("article").alias("doc_type"), "scope_seq",
            F.lit(2).alias("branch"),
            F.col("h_idx").cast("long").alias("idx1"), F.lit(0).alias("idx2"),
            F.col("handle").alias("value"), F.col("name"),
            F.lit(None).cast("string").alias("anchor"), F.col("source"),
        )
    )

    tw_links = link_rows.filter(F.col("doc_type") == "twitter")

    # --- twitter branch 0: outlink-domain substring match (M4) ---------
    m4 = (
        tw_links.join(
            F.broadcast(
                sc["http_hosts"].select(
                    "scope_seq", "source", "name", "scope_domain", "handles_norm"
                ).distinct()
            ),
            F.contains(
                F.col("link_url_lower"),
                F.concat(F.lower(F.col("scope_domain")), F.lit("/")),
            ),
        )
        .filter(~F.array_contains(F.col("handles_norm"), F.col("doc_handle_norm")))
        .select(
            "doc_id", F.lit("twitter").alias("doc_type"), "scope_seq",
            F.lit(0).alias("branch"),
            F.col("span_off").cast("long").alias("idx1"), F.lit(0).alias("idx2"),
            F.col("link_url").alias("value"), F.col("name"),
            F.lit(None).cast("string").alias("anchor"), F.col("source"),
        )
    )

    # --- twitter branch 1: status-url match (M5) -----------------------
    m5 = (
        tw_links.join(
            bc_handle, F.contains(F.col("link_url_lower"), F.col("status_prefix"))
        )
        .filter(~F.array_contains(F.col("handles_norm"), F.col("doc_handle_norm")))
        .select(
            "doc_id", F.lit("twitter").alias("doc_type"), "scope_seq",
            F.lit(1).alias("branch"),
            F.col("span_off").cast("long").alias("idx1"),
            F.col("h_idx").cast("long").alias("idx2"),
            F.col("link_url").alias("value"), F.col("name"),
            F.lit(None).cast("string").alias("anchor"), F.col("source"),
        )
    )

    # --- twitter branch 2: mention == handle (M6) ----------------------
    m6 = (
        mention_rows.join(bc_handle, F.col("mention_norm") == F.col("h_norm"))
        .filter(~F.array_contains(F.col("handles_norm"), F.col("doc_handle_norm")))
        .select(
            "doc_id", F.lit("twitter").alias("doc_type"), "scope_seq",
            F.lit(2).alias("branch"),
            F.col("span_off").cast("long").alias("idx1"),
            F.col("h_idx").cast("long").alias("idx2"),
            F.col("handle").alias("value"), F.col("name"),
            F.lit(None).cast("string").alias("anchor"), F.col("source"),
        )
    )

    matched = m1.unionByName(m2).unionByName(m3).unionByName(m4).unionByName(m5).unionByName(m6)

    # dedup: first occurrence per (doc, value) in append order; branches
    # that append unconditionally bypass it (see module docstring)
    w = Window.partitionBy("doc_id", "value").orderBy("scope_seq", "branch", "idx1", "idx2")
    matched = matched.withColumn("rn", F.row_number().over(w)).withColumn(
        "kept",
        F.when(
            F.col("doc_type") == "article",
            (F.col("branch").isin(1, 2)) | (F.col("rn") == 1),
        ).otherwise((F.col("branch").isin(0, 2)) | (F.col("rn") == 1)),
    )

    kept = F.col("kept")

    def ordered(v, keep=kept):
        o = F.struct("scope_seq", "branch", "idx1", "idx2")
        return F.transform(
            F.array_sort(F.collect_list(F.when(keep, F.struct(o.alias("o"), v.alias("v"))))),
            lambda x: x["v"],
        )

    return (
        matched.filter((F.col("doc_type") == "article") | kept)
        .groupBy("doc_id")
        .agg(
            ordered(F.col("value")).alias("citation_url_or_text_alias"),
            ordered(F.col("name")).alias("citation_name"),
            ordered(F.col("anchor"), kept & F.col("anchor").isNotNull()).alias("anchor_text"),
            F.transform(
                F.array_sort(F.collect_set(F.struct("scope_seq", "source"))),
                lambda x: x["source"],
            ).alias("found_aliases"),
        )
    )


def decorate_scope_info(docs_meta: DataFrame, crawl_scope: DataFrame) -> DataFrame:
    """M8/M9: publisher/tags/name from the crawl scope.

    Articles: exact dict lookup by doc.domain (processor_domain.py:94-108)
    → broadcast left equi-join on source. Tweets: scan of every scope
    entry's handle list, LAST match wins (processor_twitter.py:86-108) →
    explode + max-scope_seq pick."""
    art = docs_meta.filter(F.col("doc_type") == "article").join(
        F.broadcast(crawl_scope.select("source", "publisher", "tags", F.col("name"))),
        docs_meta.domain == F.col("source"),
        "left",
    ).drop("source")

    handles = crawl_scope.select(
        "scope_seq", "publisher", "tags", "name",
        F.explode(F.coalesce("twitter_handles", F.array().cast(_EMPTY_STR_ARR))).alias("handle"),
    ).withColumn("h_norm", _handle_norm(F.col("handle")))
    tw_meta = docs_meta.filter(F.col("doc_type") == "twitter").withColumn(
        "doc_handle_norm", _handle_norm(F.col("domain"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("scope_seq"), F.desc("handle"))
    tw = (
        tw_meta.join(F.broadcast(handles), F.col("doc_handle_norm") == F.col("h_norm"), "left")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "scope_seq", "handle", "h_norm", "doc_handle_norm")
    )
    out_cols = docs_meta.columns + ["publisher", "tags", "name"]
    return art.select(*out_cols).unionByName(tw.select(*out_cols)).select(
        *docs_meta.columns,
        F.coalesce("publisher", F.lit("")).alias("associated_publisher"),
        F.coalesce("tags", F.lit("")).alias("scope_tags"),
        F.coalesce("name", F.lit("")).alias("scope_name"),
    )


def build_referral_edges(
    documents: DataFrame, docs_meta: DataFrame, citations: DataFrame
) -> DataFrame:
    """J1/J2: (dst, referrer, side, ord) edge set.

    Reference builds two dicts url→[referrer domain] — domain side from
    found_urls structs + found_aliases (processor_domain.py:185-204),
    twitter side from found_urls strings + found_aliases
    (processor_twitter.py:186-202). Referrer value is the doc's `domain`
    column in both. Our dst for link edges is the raw span media_ref."""
    meta = docs_meta.select("doc_id", "doc_type", "domain", "seq")
    link_edges = (
        documents.join(meta, "doc_id")
        .select("doc_type", "domain", "seq", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "link")
        .select(
            F.col("s.media_ref").alias("dst"),
            F.col("domain").alias("referrer"),
            F.col("doc_type").alias("side"),
            F.col("seq"),
            F.col("s.offset").cast("long").alias("idx"),
        )
    )
    alias_edges = (
        citations.join(meta, "doc_id")
        .select(
            "doc_type", "domain", "seq",
            F.posexplode(F.coalesce("found_aliases", F.array().cast(_EMPTY_STR_ARR))).alias("pos", "dst"),
        )
        .select(
            "dst",
            F.col("domain").alias("referrer"),
            F.col("doc_type").alias("side"),
            F.col("seq"),
            (F.col("pos") + 1_000_000).cast("long").alias("idx"),  # aliases after links
        )
    )
    return link_edges.unionByName(alias_edges)


def referral_lists(edges: DataFrame) -> DataFrame:
    """J1 aggregation: dst → ordered referrer list per side (shuffle hash
    agg replaces the reference's driver dict; partial aggregation is
    Spark-native — the archived engine's spill/merge
    (archived/Post-Processor/processor.py:700-743) comes for free)."""
    return edges.groupBy("dst", "side").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.struct("seq", "idx").alias("o"), F.col("referrer").alias("v")))
            ),
            lambda x: x["v"],
        ).alias("referrers")
    )


def probe_referrals(docs_meta: DataFrame, referrals: DataFrame) -> DataFrame:
    """J3: who refers to me (processor.py:16-51): domain list ++ twitter
    list, order-preserving dedupe (dict.fromkeys → array_distinct), remove
    self id, count."""
    dom = referrals.filter(F.col("side") == "article").select(
        F.col("dst"), F.col("referrers").alias("dom_refs")
    )
    twi = referrals.filter(F.col("side") == "twitter").select(
        F.col("dst"), F.col("referrers").alias("twi_refs")
    )
    out = (
        docs_meta.join(dom, docs_meta.url == dom.dst, "left").drop("dst")
        .join(twi, docs_meta.url == twi.dst, "left").drop("dst")
        .withColumn(
            "referring_name",
            F.array_remove(
                F.array_distinct(
                    F.concat(
                        F.coalesce("dom_refs", F.array().cast(_EMPTY_STR_ARR)),
                        F.coalesce("twi_refs", F.array().cast(_EMPTY_STR_ARR)),
                    )
                ),
                F.col("doc_id"),
            ),
        )
        .withColumn("number_of_referrals", F.size("referring_name"))
        .drop("dom_refs", "twi_refs")
    )
    return out


def final_output(citations: DataFrame, probed: DataFrame) -> DataFrame:
    """U1 + renames (create_output.py:12-52): one unified output table."""
    empty = F.array().cast(_EMPTY_STR_ARR)
    base = probed.join(citations, "doc_id", "left")
    return base.select(
        F.col("doc_id").alias("id"),
        "url",
        "title",
        "author",
        F.col("date").alias("date_of_publication"),
        F.col("article_text").alias("plain_text"),
        F.col("doc_type").alias("type"),
        "retweet_count", "reply_count", "like_count", "quote_count",
        F.coalesce("citation_url_or_text_alias", empty).alias("citation_url_or_text_alias"),
        F.coalesce("citation_name", empty).alias("citation_name"),
        F.coalesce("anchor_text", empty).alias("anchor_text"),
        F.coalesce("found_aliases", empty).alias("found_aliases"),
        "associated_publisher",
        F.col("scope_tags").alias("tags"),
        F.col("scope_name").alias("name"),
        "referring_name",
        "number_of_referrals",
    )


def synthetic_nodes(docs_meta: DataFrame, referrals: DataFrame) -> DataFrame:
    """J7/J8 (archived engine): emit a node for every referred URL that is
    NOT a document in the corpus (archived/Post-Processor/processor.py:
    901-921, node gen 746-762) — left_anti against docs + synthesized
    minimal row. Domain derived by host (the archived path-strip, P17)."""
    dsts = (
        referrals.groupBy("dst")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("side").alias("o"), F.col("referrers").alias("v"))
                        )
                    ),
                    lambda x: x["v"],
                )
            ).alias("all_refs")
        )
    )
    unknown = dsts.join(docs_meta, dsts.dst == docs_meta.url, "left_anti")
    return unknown.select(
        F.col("dst").alias("id"),
        F.col("dst").alias("url"),
        url_host(F.col("dst")).alias("domain"),
        F.lit("synthetic").alias("type"),
        F.array_distinct("all_refs").alias("referring_name"),
        F.size(F.array_distinct("all_refs")).alias("number_of_referrals"),
    )


def interest_ranking(output: DataFrame) -> DataFrame:
    """A5: rank output rows by referral count (the archived engine's
    interest output sort, archived/Post-Processor/processor.py:943)."""
    return output.orderBy(F.desc("number_of_referrals"), F.asc("url"))


def _materialize(df: DataFrame, name: str) -> DataFrame:
    """Compute df once, now, and return a frame that reads the result
    (an eager localCheckpoint). The jobs run under the Spark job
    description `name`; the caller's description is restored after."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        return df.localCheckpoint()
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def run_pipeline(
    documents: DataFrame,
    docs_meta: DataFrame,
    crawl_scope: DataFrame,
    citation_scope: DataFrame,
    persist: bool = False,
) -> DataFrame:
    """The §3.1 lifecycle (compiler.py:79-104): match citations, build the
    referral map, join both back onto every document.

    Two frames have more than one consumer: `cites` (read by the referral
    edges and by the output) and `refs`. Left lazy, Catalyst expands the
    DAG into a tree and every consumer re-runs the whole match tree, so
    each is materialized once here, eagerly, with localCheckpoint (job
    descriptions `citations:cites` and `citations:refs`); the returned
    frame is lazy over those two checkpoints. persist=True additionally
    caches the documents ⋈ meta join while `cites` is built, and releases
    it once the checkpoint exists.

    Trade-off: localCheckpoint blocks live in executor storage and cannot
    be recomputed after an executor is lost. On a cluster, write `cites`
    and `refs` as tables and read them back instead."""
    d = _doc_join(documents, docs_meta)
    if persist:
        d = d.persist()
    cites = _materialize(_match(d, citation_scope), "citations:cites")
    if persist:
        d.unpersist()
    decorated = decorate_scope_info(docs_meta, crawl_scope)
    edges = build_referral_edges(documents, docs_meta, cites)
    refs = _materialize(referral_lists(edges), "citations:refs")
    probed = probe_referrals(decorated, refs)
    return final_output(cites, probed)
