"""Property-based equivalence: randomized small corpora through the Spark
pipeline vs the sequential Python oracle (hypothesis drives the shapes;
examples bounded because each case is a full Spark job)."""

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from post_processor_spark import citations
from post_processor_spark.oracle import run_oracle
from post_processor_spark.schema import DOCS_META, DOCUMENTS, SCOPE

HOSTS = ["alpha.com", "www.beta.org", "news.gamma.co.uk", "delta.net"]
HANDLES = ["@one", "@two", "@three"]
ALIASES = ["Alpha News", "Beta", "The Gamma"]
WORDS = ["x", "Alpha News", "@one", "hello", "Beta,", "'The Gamma'"]


@st.composite
def corpus(draw):
    n_docs = draw(st.integers(2, 6))
    docs = []
    for i in range(n_docs):
        is_tweet = draw(st.booleans())
        if is_tweet:
            handle = draw(st.sampled_from(HANDLES))
            url = f"https://twitter.com/{handle[1:]}/status/{i}"
            domain = handle
        else:
            host = draw(st.sampled_from(HOSTS))
            url = f"https://{host}/a/{i}"
            domain = f"https://{host}/"
        spans = []
        off = 0
        text = " ".join(draw(st.lists(st.sampled_from(WORDS), max_size=6)))
        if text:
            spans.append({"kind": "text", "text": text, "media_ref": "", "offset": off})
            off += 1
        for _ in range(draw(st.integers(0, 3))):
            tgt_host = draw(st.sampled_from(HOSTS + ["twitter.com/one", "twitter.com/two"]))
            tgt = f"https://{tgt_host}/a/{draw(st.integers(0, n_docs))}"
            spans.append({"kind": "link", "text": "anch", "media_ref": tgt, "offset": off})
            off += 1
        if is_tweet and draw(st.booleans()):
            m = draw(st.sampled_from(HANDLES))[1:]
            spans.append({"kind": "mention", "text": "", "media_ref": "@" + m, "offset": off})
        docs.append(
            {
                "doc_id": str(uuid.uuid5(uuid.NAMESPACE_DNS, url)),
                "url": url,
                "doc_type": "twitter" if is_tweet else "article",
                "domain": domain,
                "seq": i,
                "title": "", "author": "", "date": "",
                "article_text": text,
                "retweet_count": 0, "reply_count": 0,
                "like_count": 0, "quote_count": 0,
                "spans": spans,
            }
        )
    scope = [
        {"source": "https://alpha.com/", "name": "Alpha", "publisher": "P1",
         "tags": "t1", "aliases": ["Alpha News"], "twitter_handles": []},
        {"source": "https://www.beta.org/", "name": "Beta Org", "publisher": "P2",
         "tags": "t2", "aliases": ["Beta"], "twitter_handles": ["@two"]},
        {"source": "@one", "name": "One", "publisher": "", "tags": "t3",
         "aliases": ["The Gamma"], "twitter_handles": ["@one"]},
    ]
    return docs, scope


def _pipeline_and_oracle(spark, docs, scope):
    """(Spark output rows by id, oracle rows by id) for one corpus."""
    documents = spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], DOCUMENTS
    )
    meta = spark.createDataFrame(
        # span-only corpus: no raw html surface (html_content defaults '')
        [tuple(d.get(f.name, "") for f in DOCS_META.fields) for d in docs],
        DOCS_META,
    )
    scope_df = spark.createDataFrame(
        [
            (i, e["source"], e["name"], "", e["publisher"], e["tags"],
             e["aliases"], e["twitter_handles"])
            for i, e in enumerate(scope)
        ],
        SCOPE,
    )
    out = citations.run_pipeline(documents, meta, scope_df, scope_df)
    return {r["id"]: r.asDict() for r in out.collect()}, run_oracle(docs, scope, scope)


def _assert_matches(got, expected):
    assert set(got) == set(expected)
    for doc_id, exp in expected.items():
        g = got[doc_id]
        for k in (
            "citation_url_or_text_alias", "citation_name", "anchor_text",
            "found_aliases", "referring_name", "number_of_referrals",
        ):
            assert g[k] == exp[k], f"{doc_id} {k}: {g[k]!r} != {exp[k]!r}"
        assert g["associated_publisher"] == exp["associated_publisher"]
        assert g["tags"] == exp["tags"]
        assert g["name"] == exp["name"]


@pytest.mark.slow
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus())
def test_pipeline_matches_oracle(spark, data):
    docs, scope = data
    _assert_matches(*_pipeline_and_oracle(spark, docs, scope))


def _doc(seq, url, doc_type, domain, spans):
    return {
        "doc_id": str(uuid.uuid5(uuid.NAMESPACE_DNS, url)), "url": url,
        "doc_type": doc_type, "domain": domain, "seq": seq,
        "title": "", "author": "", "date": "", "article_text": "",
        "retweet_count": 0, "reply_count": 0, "like_count": 0, "quote_count": 0,
        "spans": [
            {"kind": kind, "text": text, "media_ref": ref, "offset": i}
            for i, (kind, text, ref) in enumerate(spans)
        ],
    }


def test_found_aliases_follow_the_dedupe_rules(spark):
    """The lists keep deduped rows only, while found_aliases records an
    article's source on every raw match (oracle.py:77-82) and a tweet's
    only on a kept append (oracle.py:121-125)."""
    story = "https://alpha.com/story"
    status = "https://twitter.com/one/status/9"
    docs = [
        # both alpha.com entries match the one link
        _doc(0, "https://other.org/a", "article", "https://other.org/",
             [("link", "the story", story)]),
        # the second @one entry's status-url match is a duplicate
        _doc(1, "https://twitter.com/zed/status/1", "twitter", "@zed",
             [("link", "", status)]),
        # tweet domain-url matches append unconditionally
        _doc(2, "https://twitter.com/zed/status/2", "twitter", "@zed",
             [("link", "", story)]),
    ]
    scope = [
        {"source": source, "name": name, "publisher": "", "tags": "",
         "aliases": [], "twitter_handles": handles}
        for source, name, handles in [
            ("https://alpha.com/", "Alpha", []),
            ("https://alpha.com/news/", "Alpha News", []),
            ("@one", "One", ["@one"]),
            ("@one_archive", "One Archive", ["@one"]),
        ]
    ]
    got, expected = _pipeline_and_oracle(spark, docs, scope)
    _assert_matches(got, expected)
    art, tw1, tw2 = (got[d["doc_id"]] for d in docs)
    assert art["citation_url_or_text_alias"] == [story]
    assert art["anchor_text"] == ["the story"]
    assert art["found_aliases"] == ["https://alpha.com/", "https://alpha.com/news/"]
    assert tw1["citation_url_or_text_alias"] == [status]
    assert tw1["found_aliases"] == ["@one"]
    assert tw2["citation_url_or_text_alias"] == [story, story]
    assert tw2["citation_name"] == ["Alpha", "Alpha News"]
