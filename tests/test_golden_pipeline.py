"""End-to-end golden-fixture test (SURVEY.md §7.2 minimum slice):
the two MediaCAT fixtures → span ingest → citation match → referral join →
final output, compared row-for-row against the pure-Python oracle AND
against hand-derived expectations from FIXTURES.md §5.
"""

import uuid

import pytest

from post_processor_spark import citations, fixtures, ingest
from post_processor_spark.oracle import run_oracle


def _uuid5(u):
    return str(uuid.uuid5(uuid.NAMESPACE_DNS, u))


URL_ART = "https://www.aljazeera.com/somelink"
URL_T1 = "https://twitter.com/IsraelinIndia/status/1"
URL_T2 = "https://twitter.com/a_zionist/status/2"
URL_T3 = "https://twitter.com/IsraelinIndia/status/3"
URL_T4 = "https://twitter.com/a_zionist/status/4"


@pytest.fixture(scope="module")
def golden_inputs(spark):
    dom_raw = fixtures.golden_domain_raw(spark)
    twi_raw = fixtures.golden_twitter_raw(spark)
    documents = ingest.domain_docs_to_documents(dom_raw).unionByName(
        ingest.twitter_docs_to_documents(twi_raw)
    )
    meta = ingest.dedupe_by_url(
        ingest.domain_docs_meta(dom_raw).unionByName(ingest.twitter_docs_meta(twi_raw))
    )
    scope = fixtures.golden_scope(spark)
    return documents, meta, scope


@pytest.fixture(scope="module")
def pipeline_output(golden_inputs):
    documents, meta, scope = golden_inputs
    return citations.run_pipeline(documents, meta, scope, scope)


@pytest.fixture(scope="module")
def pipeline_result(spark, golden_inputs, pipeline_output):
    documents, meta, _ = golden_inputs
    rows = {r["url"]: r.asDict() for r in pipeline_output.collect()}
    docs_py = _docs_py(spark, documents, meta)
    return rows, docs_py


def _docs_py(spark, documents, meta):
    span_rows = {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in documents.collect()}
    docs = []
    for r in meta.collect():
        d = r.asDict()
        d["spans"] = span_rows[d["doc_id"]]
        docs.append(d)
    return docs


def _scope_py():
    return [
        {"source": "https://www.aljazeera.com/", "name": "Al Jazeera English",
         "publisher": "Al Jazeera Media Network", "tags": "news",
         "aliases": ["Al Jazeera", "AlJazeera"], "twitter_handles": []},
        {"source": "@IsraelinIndia", "name": "Israel in India", "publisher": "",
         "tags": "Twitter Journalists", "aliases": [], "twitter_handles": ["@IsraelinIndia"]},
        {"source": "@a_zionist", "name": "((A. Zionist))", "publisher": "",
         "tags": "Twitter Journalists", "aliases": [], "twitter_handles": ["@a_zionist"]},
    ]


def test_span_sequences(spark):
    """Per-row invariant from input_hint: span-sequence equality
    (kind, text, media_ref, order) per doc_id."""
    dom_raw = fixtures.golden_domain_raw(spark)
    docs = ingest.domain_docs_to_documents(dom_raw).collect()
    assert len(docs) == 1
    spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in docs[0]["spans"]]
    assert spans == [
        ("text", "some text here", "", 0),
        ("link", "testing", "https://twitter.com/a_zionist/status/4", 1),
        ("link", " ", "https://twitter.com/IsraelinIndia/status/1", 2),
    ]
    twi = ingest.twitter_docs_to_documents(fixtures.golden_twitter_raw(spark)).collect()
    by_id = {r["doc_id"]: r for r in twi}
    t4 = by_id[_uuid5(URL_T4)]
    assert [(s["kind"], s["media_ref"]) for s in t4["spans"]] == [
        ("text", ""),
        ("mention", "@IsraelinIndia"),
    ]


def test_article_citations(pipeline_result):
    rows, _ = pipeline_result
    art = rows[URL_ART]
    # article cites tweet4 (@a_zionist status) and tweet1 (@IsraelinIndia
    # status) via M5-analog anchor matching: scope '@IsraelinIndia' and
    # '@a_zionist' have no http source, so anchors match no http scope —
    # but handle-in-text does not fire (no @handle in text). The anchor
    # URLs are twitter.com links; scope has no twitter.com http source →
    # no anchor citations. Alias 'Al Jazeera' doesn't appear in article
    # text. Self-skip blocks the aljazeera scope entry anyway.
    assert art["citation_url_or_text_alias"] == []
    assert art["found_aliases"] == []
    assert art["associated_publisher"] == "Al Jazeera Media Network"
    assert art["name"] == "Al Jazeera English"


def test_tweet_citations(pipeline_result):
    rows, _ = pipeline_result
    t1 = rows[URL_T1]
    # t1 (@IsraelinIndia) cites aljazeera.com/second_url (M4). The text
    # alias 'Al Jazeera' does NOT match: the reference pattern
    # ( |"|')alias( |"|',) requires a leading delimiter and the tweet text
    # STARTS with 'Al Jazeera' (processor_twitter.py:74 quirk, preserved).
    assert t1["citation_url_or_text_alias"] == [
        "https://www.aljazeera.com/second_url",
    ]
    assert t1["citation_name"] == ["Al Jazeera English"]
    assert t1["found_aliases"] == ["https://www.aljazeera.com/"]

    t2 = rows[URL_T2]
    assert t2["citation_url_or_text_alias"] == [URL_ART]
    assert t2["found_aliases"] == ["https://www.aljazeera.com/"]

    t3 = rows[URL_T3]  # cites tweet2's status URL (M5)
    assert t3["citation_url_or_text_alias"] == [URL_T2]
    assert t3["citation_name"] == ["((A. Zionist))"]
    assert t3["found_aliases"] == ["@a_zionist"]

    t4 = rows[URL_T4]  # mentions @IsraelinIndia (M6)
    assert t4["citation_url_or_text_alias"] == ["@IsraelinIndia"]
    assert t4["found_aliases"] == ["@IsraelinIndia"]


def test_alias_in_markup_matches_reference_surface(spark):
    """The reference scans the WHOLE html_content for aliases/handles —
    attributes included (processor_domain.py:67-76,79-87). An alias that
    appears ONLY inside a title= attribute must therefore match when the
    raw html rides on the meta row, and must NOT match on a span-only
    corpus (the documented fallback surface)."""
    rows = [
        {
            "seq": 0,
            "url": "https://example.org/markup",
            "title": "t", "author": "", "date": "",
            "html_content": (
                '<p>nothing to see</p>'
                '<img title="Al Jazeera" src="x.png">'
                # reference quirk preserved: M3's pattern is '@' + the
                # verbatim scope handle, so an @-prefixed scope handle
                # ('@IsraelinIndia') only matches a double-@ occurrence
                # (processor_domain.py:82)
                '<span data-by="@@IsraelinIndia ">.</span>'
            ),
            "article_text": "nothing to see",
            "domain": "https://example.org/",
            "found_urls": [],
        }
    ]
    raw = spark.createDataFrame(
        rows,
        schema=(
            "seq long, url string, title string, author string, date string,"
            " html_content string, article_text string, domain string,"
            " found_urls array<struct<title:string,url:string>>"
        ),
    )
    documents = ingest.domain_docs_to_documents(raw)
    meta = ingest.domain_docs_meta(raw)
    scope = fixtures.golden_scope(spark)
    out = citations.run_pipeline(documents, meta, scope, scope)
    row = {r["url"]: r.asDict() for r in out.collect()}["https://example.org/markup"]
    assert "Al Jazeera" in row["citation_url_or_text_alias"]
    assert "@IsraelinIndia" in row["citation_url_or_text_alias"]
    # span-only corpus (no html on the meta row): markup is not searched
    out2 = citations.run_pipeline(
        documents, meta.drop("html_content"), scope, scope
    )
    rows2 = {r["url"]: r.asDict() for r in out2.collect()}
    assert "https://example.org/markup" not in rows2 or (
        "Al Jazeera" not in rows2["https://example.org/markup"]["citation_url_or_text_alias"]
    )


def test_referrals(pipeline_result):
    rows, _ = pipeline_result
    # article A is cited by tweet2 (its found_urls contains URL_ART)
    assert rows[URL_ART]["referring_name"] == ["@a_zionist"]
    assert rows[URL_ART]["number_of_referrals"] == 1
    # tweet4 and tweet1 are linked from the article (domain referral)
    assert rows[URL_T4]["referring_name"] == ["https://www.aljazeera.com/"]
    assert rows[URL_T1]["referring_name"] == ["https://www.aljazeera.com/"]
    # tweet2 is linked from tweet3
    assert rows[URL_T2]["referring_name"] == ["@IsraelinIndia"]
    # tweet3 is referred by nobody
    assert rows[URL_T3]["referring_name"] == []
    assert rows[URL_T3]["number_of_referrals"] == 0


def test_matches_python_oracle(pipeline_result):
    rows, docs_py = pipeline_result
    expected = run_oracle(docs_py, _scope_py(), _scope_py())
    by_id = {d["doc_id"]: d["url"] for d in docs_py}
    for doc_id, exp in expected.items():
        got = rows[by_id[doc_id]]
        for k in (
            "citation_url_or_text_alias", "citation_name", "anchor_text",
            "found_aliases", "referring_name", "number_of_referrals",
            "associated_publisher", "tags", "name",
        ):
            assert got[k] == exp[k], f"{by_id[doc_id]} field {k}: {got[k]!r} != {exp[k]!r}"


def test_persist_matches_default(golden_inputs, pipeline_result):
    """persist=True (how the benchmark and `main.py analyze` run the
    pipeline) gives the same rows as the oracle-checked default run."""
    documents, meta, scope = golden_inputs
    out = citations.run_pipeline(documents, meta, scope, scope, persist=True)
    assert {r["url"]: r.asDict() for r in out.collect()} == pipeline_result[0]


def test_output_plan_reads_materialized_stages(pipeline_output, pipeline_result):
    """run_pipeline materializes its shared stages (`cites`, `refs`) once
    each, so the output's executed plan reads them instead of re-expanding
    the match tree in every consumer. After the run the plan string holds
    AQE's final and initial plans: 7 broadcast exchanges here, 249 when
    the whole match tree was inlined into every consumer."""
    plan = pipeline_output._jdf.queryExecution().executedPlan().toString()
    n = plan.count("BroadcastExchange")
    assert n <= 8, f"{n} BroadcastExchange nodes in the output plan"


def test_persist_releases_its_cache(spark, golden_inputs):
    """run_pipeline(persist=True) owns the documents ⋈ meta cache it makes
    and releases it once the matched citations are checkpointed."""
    documents, meta, scope = golden_inputs
    spark.catalog.clearCache()
    citations.run_pipeline(documents, meta, scope, scope, persist=True).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_match_plan_is_one_aggregation(spark, golden_inputs):
    """match_citations aggregates its match union once, so the six-branch
    match tree appears once in the executed plan: 28 broadcast exchanges
    and 4 nested-loop joins here, 56 and 8 when the citation lists and
    found_aliases were two aggregations joined back together. No cached
    frame may be left over: its plan would be printed inside this one."""
    documents, meta, scope = golden_inputs
    spark.catalog.clearCache()
    cites = citations.match_citations(documents, meta, scope)
    cites.write.format("noop").mode("overwrite").save()
    plan = cites._jdf.queryExecution().executedPlan().toString()
    n_bx, n_bnlj = plan.count("BroadcastExchange"), plan.count("BroadcastNestedLoopJoin")
    assert n_bx <= 28 and n_bnlj <= 4, f"{n_bx} BroadcastExchange, {n_bnlj} BroadcastNestedLoopJoin"
