"""Seeded input generators for the workloads.

Every input is a function of the seed and the size only; the engine sees
the generated frames and nothing else. Crawl inputs are built Spark-side
with the engine's own synthetic fixtures; the citation corpus
is built driver-side as plain dicts so that the pure-Python reference
(`post_processor_spark.oracle`) can check the pipeline's output row by row.
"""

from __future__ import annotations

import random
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from post_processor_spark import fixtures
from post_processor_spark.schema import DOCS_META, DOCUMENTS, SCOPE


# ------------------------------------------------------------------ crawl

def crawl_inputs(spark: SparkSession, seed: int, n_docs: int) -> dict:
    """Corpus (20% mega-host) persisted and materialized, and its seed
    list: the first fifth of the documents."""
    n_hosts = max(100, n_docs // 50)
    docs = fixtures.synthetic_documents(
        spark, n_docs, n_hosts=n_hosts, mega_host_share=0.2, seed=seed
    ).persist()
    docs.count()
    seeds = docs.select("url", F.lit(1).alias("priority"), F.col("seq")).filter(
        F.col("seq") < max(200, n_docs // 5)
    )
    return {"docs": docs, "seeds": seeds}


# -------------------------------------------------------------- citations

_WORDS = ["report", "said", "hello", "on", "the", "and", "x", "news", "today"]


def citation_corpus(seed: int, n_docs: int, tweet_share: float = 0.2) -> tuple:
    """(docs, scope): ~50 scope rows (30 news hosts with aliases, 20
    twitter handles) and n_docs span documents, tweet_share of them tweets.

    Articles live on scope hosts or on unscoped hosts; tweets on scope
    handles or unscoped ones. Links point at other corpus documents (so
    referral lists fill), at scope hosts and at tweet status URLs; text
    spans carry aliases and @handles; tweets carry mention spans."""
    rng = random.Random(seed)
    suffixes = ["com", "org", "co.uk", "net"]
    news_hosts = [
        ("www." if i % 3 == 0 else "") + f"news{i}.{suffixes[i % 4]}" for i in range(30)
    ]
    other_hosts = [f"blog{i}.example.net" for i in range(20)]
    handles = [f"h{i}" for i in range(20)]
    other_handles = [f"u{i}" for i in range(30)]
    scope = []
    for i, h in enumerate(news_hosts):
        aliases = [f"News {i}", f"N{i}Wire"] if i % 2 == 0 else [f"News {i}"]
        tw = [f"@{handles[i]}"] if i < 5 else []
        scope.append({
            "source": f"https://{h}/", "name": f"News {i}", "type": "News Source",
            "publisher": f"P{i % 7}", "tags": f"t{i % 4}",
            "aliases": aliases, "twitter_handles": tw,
        })
    for i, h in enumerate(handles):
        scope.append({
            "source": f"@{h}", "name": f"Handle {i}", "type": "Twitter Handle",
            "publisher": "", "tags": "tw",
            "aliases": [f"Handle {i}"] if i % 4 == 0 else [],
            "twitter_handles": [f"@{h}"],
        })
    vocab = (
        _WORDS
        + [a for e in scope for a in e["aliases"]]
        + [f"@{h}" for h in handles]
        + ["'News 3'", "News 4,", "@u1"]
    )

    urls = []
    kinds = []
    for i in range(n_docs):
        if rng.random() < tweet_share:
            h = rng.choice(handles) if rng.random() < 0.8 else rng.choice(other_handles)
            urls.append((f"https://twitter.com/{h}/status/{i}", f"@{h}"))
            kinds.append("twitter")
        else:
            host = rng.choice(news_hosts) if rng.random() < 0.7 else rng.choice(other_hosts)
            urls.append((f"https://{host}/a/{i}", f"https://{host}/"))
            kinds.append("article")
    docs = []
    for i, ((url, domain), kind) in enumerate(zip(urls, kinds)):
        spans = []
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 8)))
        if text:
            spans.append({"kind": "text", "text": text, "media_ref": "", "offset": 0})
        for _ in range(rng.randint(0, 4)):
            r = rng.random()
            if r < 0.5:
                tgt = urls[rng.randrange(n_docs)][0]
            elif r < 0.8:
                tgt = f"https://{rng.choice(news_hosts)}/a/{rng.randrange(n_docs * 2)}"
            else:
                tgt = f"https://twitter.com/{rng.choice(handles)}/status/{rng.randrange(n_docs)}"
            spans.append({
                "kind": "link", "text": f"anchor {rng.randrange(5)}",
                "media_ref": tgt, "offset": len(spans),
            })
        if kind == "twitter" and rng.random() < 0.3:
            m = rng.choice(handles + other_handles)
            spans.append({
                "kind": "mention", "text": "", "media_ref": f"@{m}", "offset": len(spans),
            })
        docs.append({
            "doc_id": str(uuid.uuid5(uuid.NAMESPACE_DNS, url)),
            "url": url, "doc_type": kind, "domain": domain, "seq": i,
            "title": "", "author": "", "date": "2020-01-01",
            "article_text": text, "html_content": "",
            "retweet_count": 0, "reply_count": 0, "like_count": 0, "quote_count": 0,
            "spans": spans,
        })
    return docs, scope


def citation_frames(spark: SparkSession, docs: list, scope: list) -> dict:
    """documents / docs_meta / scope frames from citation_corpus output,
    persisted and materialized."""
    documents = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], DOCUMENTS
    ).persist()
    meta = spark.createDataFrame(
        [tuple(d[f.name] for f in DOCS_META.fields) for d in docs], DOCS_META
    ).persist()
    scope_df = spark.createDataFrame(
        [
            (i, e["source"], e["name"], e["type"], e["publisher"], e["tags"],
             e["aliases"], e["twitter_handles"])
            for i, e in enumerate(scope)
        ],
        SCOPE,
    ).persist()
    for df in (documents, meta, scope_df):
        df.count()
    return {"documents": documents, "meta": meta, "scope": scope_df}


def golden_frames(spark: SparkSession) -> dict:
    """The 5-row MediaCAT golden fixture through the public ingest path."""
    from post_processor_spark import ingest

    dom = fixtures.golden_domain_raw(spark)
    twi = fixtures.golden_twitter_raw(spark)
    documents = ingest.domain_docs_to_documents(dom).unionByName(
        ingest.twitter_docs_to_documents(twi)
    )
    meta = ingest.dedupe_by_url(
        ingest.domain_docs_meta(dom).unionByName(ingest.twitter_docs_meta(twi))
    )
    return {"documents": documents, "meta": meta, "scope": fixtures.golden_scope(spark)}


def persisted(frames: dict) -> list[DataFrame]:
    return [v for v in frames.values() if isinstance(v, DataFrame)]
