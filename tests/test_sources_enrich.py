"""Sources/sinks, enrichment stages, plan introspection, streaming."""

import json
import os
import tempfile

from pyspark.sql import functions as F

from post_processor_spark import enrich, plans, sources


def test_twitter_csv_roundtrip(spark, tmp_path):
    csv = tmp_path / "tw"
    csv.mkdir()
    (csv / "a_output_0.csv").write_text(
        "id,tweet_url,twitter_handle,created_at,text,citation_urls,entities,"
        "public_metrics,author_id,lang\n"
        '1,https://twitter.com/h/status/1,@h,2020-01-01,"hi there",'
        "\"['https://x.com/a']\",\"{'mentions': [{'username': 'bob'}]}\","
        "\"{'retweet_count': 2, 'reply_count': 0, 'like_count': 1, 'quote_count': 0}\",9,en\n"
    )
    raw = sources.read_twitter_csv(spark, str(csv / "*.csv"))
    norm = sources.parse_twitter_raw(raw)
    r = norm.collect()[0]
    assert r["url"] == "https://twitter.com/h/status/1"
    assert r["found_urls"] == ["https://x.com/a"]
    assert r["mentions"] == ["bob"]
    assert r["retweet_count"] == 2 and r["like_count"] == 1


def test_domain_json_scan(spark, tmp_path):
    doc = {
        "title": "T", "url": "https://a.com/x", "date": "",
        "html_content": '<a href="https://b.com/y">anchor</a>',
        "article_text": "body", "domain": "https://a.com/",
        "found_urls": [{"title": "t", "url": "https://b.com/y"}],
    }
    d = tmp_path / "dom"
    d.mkdir()
    (d / "doc1.json").write_text(json.dumps(doc))
    df = sources.read_domain_json(spark, str(d))
    r = df.collect()[0]
    assert r["url"] == "https://a.com/x"
    assert r["found_urls"][0]["url"] == "https://b.com/y"


def test_csv_sink_stringifies_arrays(spark, tmp_path):
    df = spark.createDataFrame([("a", ["x", "y"])], "id string, refs array<string>")
    out = str(tmp_path / "out")
    sources.write_csv(df, out, single_file=True)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    body = open(os.path.join(out, files[0])).read()
    # Spark CSV escapes embedded quotes with backslash by default
    assert '"[\\"x\\",\\"y\\"]"' in body


def test_parquet_sink_sizes_files_by_data(spark, tmp_path):
    """A small frame spread over 8 partitions is written as one file:
    the file count follows the data size, not the plan's partitioning."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(8)
    out = str(tmp_path / "out.parquet")
    sources.write_parquet(df, out)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 1, files
    back = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert back == sorted(tuple(r) for r in df.collect())


def test_reshape_hit_record(spark):
    """P22: Mini-Processor 'Hit Record' layout (Mini-Processor.py:35-58):
    column renames + literal source injection with '@' prefixing."""
    rows = [
        ("https://t.co/1", "@handle", "au", "text one", "2020-01-01",
         ["a"], ["https://x.com/"]),
        ("https://t.co/2", "bare", "bu", "text two", "2020-01-02", [], []),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, domain string, author string, article_text string,"
        " date string, mentions array<string>, found_urls array<string>",
    )
    out = sources.reshape_hit_record(df).collect()
    assert out[0]["Source"] == "@handle"       # already @-prefixed: kept
    assert out[1]["Source"] == "@bare"         # '@' injected
    assert out[0]["Hit Type"] == "Twitter Handle"
    assert out[0]["URL to article/Tweet"] == "https://t.co/1"
    assert out[0]["Found URL"] == ["https://x.com/"]
    assert out[1]["Plain Text of Article or Tweet"] == "text two"


def test_expand_urls_skip_predicate(spark):
    df = spark.createDataFrame(
        [("https://www.a.com/x",), ("https://twitter.com/u/status/1",), ("https://t.co/abc",)],
        "url string",
    )
    import pandas as pd

    def resolver(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: u + "?expanded")

    out = {r["url"]: r["expanded_url"] for r in enrich.expand_urls(df, resolver=resolver).collect()}
    assert out["https://www.a.com/x"] == "https://www.a.com/x"          # skipped: has www
    assert out["https://twitter.com/u/status/1"] == "https://twitter.com/u/status/1"
    assert out["https://t.co/abc"] == "https://t.co/abc?expanded"       # expanded


def test_fill_missing_dates(spark):
    df = spark.createDataFrame(
        [("u1", ""), ("u2", "2021-05-05"), ("u3", None)], "url string, date string"
    )
    out = {r["url"]: r["date"] for r in enrich.fill_missing_dates(df).collect()}
    assert out["u1"] == "1970-01-01" and out["u3"] == "1970-01-01"
    assert out["u2"] == "2021-05-05"


def test_scrape_metadata_resume(spark):
    df = spark.createDataFrame([("u1",), ("u2",), ("u3",)], "url string")
    done = spark.createDataFrame([("u1",)], "url string")
    out = enrich.scrape_metadata(df, done)
    urls = sorted(r["url"] for r in out.collect())
    assert urls == ["u2", "u3"]  # u1 skipped (already processed)
    assert out.collect()[0]["scraped_title"].startswith("title:")


def test_plan_pushdown_and_broadcast(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.lit("x").alias("s")
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("k") == 3).select("id")
    assert plans.has_pushed_filters(df)
    cols = plans.scan_read_schema(df)
    assert "s" not in cols  # column pruning reached the scan
    dim = spark.createDataFrame([(3, "three")], "k long, name string")
    j = spark.read.parquet(p).join(F.broadcast(dim), "k")
    assert plans.count_broadcast_joins(j) >= 1
    assert not plans.has_cartesian(j)


def test_streaming_frontier(spark, tmp_path):
    from post_processor_spark import fixtures, streaming
    from post_processor_spark.state import SnapshotStore

    docs = fixtures.synthetic_documents(spark, 100, n_hosts=10, seed=5)
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    rows = [
        {"url": f"https://host{i % 10}.example.com/doc/{i}", "priority": 1, "seq": i}
        for i in range(20)
    ]
    (seed_dir / "batch0.json").write_text("\n".join(json.dumps(r) for r in rows))
    store = SnapshotStore(str(tmp_path / "store"))
    q = streaming.start_frontier_stream(
        spark, store, docs, str(seed_dir), str(tmp_path / "ckpt"),
        budget_per_host=4, use_bloom=False,
    )
    q.awaitTermination(120)
    assert store.current_generation("frontier") >= 1
    fr = store.read(spark, "frontier")
    assert fr.filter("status = 'done'").count() > 0


def test_streaming_seed_merge_maintains_exact_index(spark, tmp_path):
    """On a 'prebuilt' store the seed merge must append an exact_index
    delta beside its seen delta: a merged seed missing from the index
    passes the bloom as 'maybe', misses the searchsorted probe, and is
    re-admitted as new by a later generation."""
    from post_processor_spark import fixtures, streaming
    from post_processor_spark.seen import build_exact_index, merge_exact_index
    from post_processor_spark.state import SnapshotStore

    docs = fixtures.synthetic_documents(spark, 100, n_hosts=10, seed=5)
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    store = SnapshotStore(str(tmp_path / "store"))
    # batch 0 bootstraps; batch 1 (URLs no document links to) takes the
    # seed-merge path
    for b, path in enumerate(["doc", "fresh"]):
        rows = [
            {"url": f"https://host{i % 10}.example.com/{path}/{i}", "priority": 1, "seq": i}
            for i in range(20 * b, 20 * b + 20)
        ]
        (seed_dir / f"batch{b}.json").write_text("\n".join(json.dumps(r) for r in rows))
        q = streaming.start_frontier_stream(
            spark, store, docs, str(seed_dir), str(tmp_path / "ckpt"),
            budget_per_host=4, exact_join="prebuilt",
        )
        q.awaitTermination(120)
        assert q.exception() is None
    index = merge_exact_index(store.read(spark, "exact_index")).collect()
    want = build_exact_index(store.read(spark, "seen")).collect()
    assert {r["bucket"]: r["keys"] for r in index} == {
        r["bucket"]: r["keys"] for r in want
    }


def test_metrics_window_groups_by_generation_epoch(spark):
    from post_processor_spark import streaming

    # three generations at budget=60, delay=1 → epochs 60 s apart → three
    # distinct 1-minute windows (a constant-timestamp window would yield 1)
    rows = [(g, -1, 100, 10, 40, 0, 5) for g in (1, 2, 3)]
    m = spark.createDataFrame(
        rows,
        "generation int, partition_id int, rows_in long, rows_out long,"
        " scheduled long, filtered_seen long, wall_ms long",
    )
    out = streaming.metrics_window(m, minutes=1, budget_per_host=60).collect()
    assert len(out) == 3
    assert sorted(r["scheduled"] for r in out) == [40, 40, 40]


def test_streaming_frontier_bucketed_seed_merge(spark, tmp_path):
    """The seed-merge write path must follow the store's seen layout: on a
    bucketed store a hard-coded 'append' seen write raises mode-mismatch
    and kills the stream."""
    from post_processor_spark import fixtures, streaming
    from post_processor_spark.state import SnapshotStore

    docs = fixtures.synthetic_documents(spark, 100, n_hosts=10, seed=5)
    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    rows = [
        {"url": f"https://host{i % 10}.example.com/doc/{i}", "priority": 1, "seq": i}
        for i in range(20)
    ]
    (seed_dir / "batch0.json").write_text("\n".join(json.dumps(r) for r in rows))
    store = SnapshotStore(str(tmp_path / "store"))
    q = streaming.start_frontier_stream(
        spark, store, docs, str(seed_dir), str(tmp_path / "ckpt"),
        budget_per_host=4, use_bloom=False, seen_layout="bucketed",
        seen_buckets=4,
    )
    q.awaitTermination(120)
    assert store.table_mode("seen") == "bucketed"
    g1 = store.current_generation("frontier")
    # second batch exercises the seed-MERGE branch (bootstrap already ran)
    rows2 = [
        {"url": f"https://host{i % 10}.example.com/doc/{i}", "priority": 1, "seq": i}
        for i in range(20, 35)
    ]
    (seed_dir / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows2))
    q2 = streaming.start_frontier_stream(
        spark, store, docs, str(seed_dir), str(tmp_path / "ckpt"),
        budget_per_host=4, use_bloom=False, seen_layout="bucketed",
        seen_buckets=4,
    )
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert store.current_generation("frontier") > g1
    assert store.read(spark, "seen").count() > 0


def test_streaming_url_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark seen-filter: duplicates arriving in
    the SAME batch and in a LATER batch (same checkpoint, event time
    within the watermark horizon) are both dropped; canonicalization
    runs first, so a host-case variant of a seen URL is a duplicate."""
    from post_processor_spark import streaming

    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_batch():
        df = streaming.streaming_url_dedup(spark, str(seed_dir))
        q = (
            df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return spark.read.parquet(out_dir).collect()

    rows1 = [
        {"url": f"https://h{i}.example.com/p", "priority": 1, "seq": i}
        for i in range(5)
    ]
    # in-batch duplicate: host-case variant of h0 canonicalizes identically
    rows1.append({"url": "https://H0.EXAMPLE.com/p", "priority": 1, "seq": 5})
    (seed_dir / "b0.json").write_text("\n".join(json.dumps(r) for r in rows1))
    out1 = run_batch()
    assert len(out1) == 5
    assert len({r["url_hash"] for r in out1}) == 5

    rows2 = [
        # cross-batch duplicate of h1, 6 seconds later — inside watermark
        {"url": "https://h1.example.com/p", "priority": 1, "seq": 7},
        {"url": "https://h9.example.com/p", "priority": 1, "seq": 8},
    ]
    (seed_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows2))
    all_out = run_batch()
    assert len(all_out) == 6
    assert len({r["url_hash"] for r in all_out}) == 6
    assert any("h9" in r["url"] for r in all_out)


def test_stateful_politeness_stream_state_survives_batches(spark, tmp_path):
    """applyInPandasWithState: the per-host slot counter must CONTINUE
    across micro-batches via the streaming checkpoint — batch-2 URLs of a
    host get slots after batch-1's, keeping consecutive fetches
    crawl_delay apart across the batch boundary."""
    from post_processor_spark import streaming

    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_batch():
        df = streaming.stateful_politeness_stream(
            spark, str(seed_dir), crawl_delay_sec=2
        )
        # file sink (memory sink can't recover from a checkpoint — the
        # state-continuation assertion IS the recovery path)
        q = (
            df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return spark.read.parquet(out_dir).collect()

    rows1 = [
        {"url": f"https://h{i % 2}.example.com/p/{i}", "priority": 1, "seq": i}
        for i in range(6)
    ]
    (seed_dir / "b0.json").write_text("\n".join(json.dumps(r) for r in rows1))
    out1 = run_batch()
    per_host = {}
    for r in out1:
        per_host.setdefault(r["host_hash"], []).append(r["slot"])
    assert all(sorted(v) == [0, 1, 2] for v in per_host.values())

    rows2 = [
        {"url": f"https://h{i % 2}.example.com/p/{i}", "priority": 1, "seq": i}
        for i in range(6, 10)
    ]
    (seed_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in rows2))
    all_out = run_batch()
    # second query run processed ONLY the new file; slots continue at 3
    out2 = [r for r in all_out if r["slot"] >= 3]
    assert len(all_out) == 10
    per_host2 = {}
    for r in out2:
        per_host2.setdefault(r["host_hash"], []).append(r["slot"])
    assert all(sorted(v) == [3, 4] for v in per_host2.values())
    # not_before spacing = crawl_delay within and ACROSS batches
    all_rows = sorted(all_out, key=lambda r: (r["host_hash"], r["slot"]))
    by_host = {}
    for r in all_rows:
        by_host.setdefault(r["host_hash"], []).append(r["not_before"])
    for ts in by_host.values():
        gaps = {(b - a).total_seconds() for a, b in zip(ts, ts[1:])}
        assert gaps == {2.0}


def test_stage_json_to_csv(spark, tmp_path):
    """S3: enumerated id in sorted-filename order, bodyHTML→html_content,
    reference column order (utils.py:47-55)."""
    d = tmp_path / "raw_json"
    d.mkdir()
    for name, url in [("b.json", "https://a.com/2"), ("a.json", "https://a.com/1")]:
        (d / name).write_text(json.dumps({
            "title": "T-" + url[-1], "url": url, "bodyHTML": "<p>h</p>",
            "author": "au", "date": "2020-01-01", "article_text": "body",
            "domain": "https://a.com/", "updated": "no",
            "found_urls": [{"title": "t", "url": "https://b.com/y"}],
        }))
    out = tmp_path / "staged"
    staged = sources.stage_json_to_csv(spark, str(d), str(out))
    assert staged.columns == [
        "id", "title", "url", "html_content", "author", "date",
        "article_text", "domain", "updated", "found_urls",
    ]
    rows = {r["id"]: r for r in staged.collect()}
    # sorted filename order: a.json (url .../1) gets id 0
    assert rows[0]["url"] == "https://a.com/1" and rows[1]["url"] == "https://a.com/2"
    assert rows[0]["html_content"] == "<p>h</p>"
    csv_files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(csv_files) == 1  # single staged file like the reference
    header = open(os.path.join(out, csv_files[0])).readline().strip()
    assert header.startswith("id,title,url,html_content,author")


def test_unicode_escape_and_xlsx_sink(spark, tmp_path):
    """P21+S8: unicode_escape per string cell, then an XLSX the stdlib can
    read back (zip + SpreadsheetML with inline strings, pandas-style
    leading index column)."""
    import re
    import zipfile

    df = spark.createDataFrame(
        [("café\nnews", 3, 1.5), ("plain", 4, 2.0)],
        "headline string, n int, score double",
    )
    esc = sources.unicode_escape_columns(df)
    got = {r["n"]: r["headline"] for r in esc.collect()}
    assert got[3] == "caf\\xe9\\nnews"  # é → \xe9, newline → \n (P21)
    assert got[4] == "plain"

    path = str(tmp_path / "out.xlsx")
    sources.write_xlsx(esc.orderBy("n"), path)
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "xl/workbook.xml",
                "xl/worksheets/sheet1.xml"} <= names
        sheet = z.read("xl/worksheets/sheet1.xml").decode()
    cells = re.findall(r"<t[^>]*>(.*?)</t>", sheet)
    assert "caf\\xe9\\nnews" in cells and "headline" in cells
    # header row: blank index header then the 3 columns; 2 data rows
    assert sheet.count("<row") == 3
    assert "<v>1.5</v>" in sheet and "<v>3</v>" in sheet


def test_nyt_archive_scan(spark):
    """S13: injectable fetch + Spark-side parse — headline filter
    (is_valid), subject-only keywords, reference projection
    (NYT_archive_explorer.py:33-81)."""
    def fake_fetch(month: str) -> str:
        return json.dumps({"response": {"docs": [
            {
                "headline": {"main": f"Story {month}"},
                "pub_date": "2019-01-02T10:00:00+0000",
                "document_type": "article",
                "type_of_material": "News",
                "section_name": "World",
                "subsection_name": None,
                "web_url": f"https://nyt.com/{month}/a",
                "byline": {"original": "By A. B."},
                "keywords": [
                    {"name": "subject", "value": "Elections"},
                    {"name": "persons", "value": "Someone"},
                    {"name": "subject", "value": "Votes"},
                ],
            },
            {   # no headline.main → dropped by is_valid
                "headline": {},
                "pub_date": "2019-01-03T10:00:00+0000",
                "document_type": "article",
                "web_url": "https://nyt.com/drop",
                "byline": {},
                "keywords": [],
            },
        ]}})

    out = sources.read_nyt_archive(spark, ["2019/1", "2019/2"], fake_fetch)
    assert out.columns == [
        "headline", "date", "doc_type", "material_type", "section",
        "subsection", "keywords", "url", "byline",
    ]
    rows = sorted(out.collect(), key=lambda r: r["url"])
    assert len(rows) == 2  # one valid doc per month, invalid dropped
    r = rows[0]
    assert r["headline"] == "Story 2019/1"
    assert str(r["date"]) == "2019-01-02"
    assert r["keywords"] == ["Elections", "Votes"]  # subject-only
    assert r["byline"] == "By A. B." and r["material_type"] == "News"


def test_nyt_archive_reference_is_valid_parity(spark):
    """reference_is_valid_parity=True keeps a {'main': null} doc with a
    NULL headline (the reference's key-presence is_valid), while the
    default drops it; docs with NO headline object drop either way."""
    raw = json.dumps({"response": {"docs": [
        {"headline": {"main": "Kept"}, "pub_date": "2019-01-02T10:00:00+0000",
         "document_type": "article", "web_url": "https://nyt.com/a",
         "byline": {}, "keywords": []},
        {"headline": {"main": None}, "pub_date": "2019-01-03T10:00:00+0000",
         "document_type": "article", "web_url": "https://nyt.com/null-main",
         "byline": {}, "keywords": []},
        {"pub_date": "2019-01-04T10:00:00+0000",
         "document_type": "article", "web_url": "https://nyt.com/no-headline",
         "byline": {}, "keywords": []},
    ]}})
    df = spark.createDataFrame([(raw,)], "raw string")
    strict = {r["url"] for r in sources.parse_nyt_archive(df).collect()}
    parity = {r["url"]: r["headline"]
              for r in sources.parse_nyt_archive(
                  df, reference_is_valid_parity=True).collect()}
    assert strict == {"https://nyt.com/a"}
    assert set(parity) == {"https://nyt.com/a", "https://nyt.com/null-main"}
    assert parity["https://nyt.com/null-main"] is None


def test_sitemap_parse_and_seeds(spark):
    """parse_sitemaps handles urlset + sitemapindex (with namespace),
    missing optional elements → NULL, malformed XML → zero rows;
    sitemap_seeds maps <priority> to inverted integer classes with a
    deterministic hash seq and plugs into seeds_to_frontier."""
    from post_processor_spark import frontier

    urlset = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://a.example.com/top</loc><lastmod>2024-01-03</lastmod>"
        "<changefreq>daily</changefreq><priority>1.0</priority></url>"
        "<url><loc>https://a.example.com/mid</loc></url>"
        "<url><loc>https://a.example.com/low</loc><priority>0.0</priority></url>"
        "</urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>https://a.example.com/s1.xml</loc>"
        "<lastmod>2024-02-01</lastmod></sitemap></sitemapindex>"
    )
    df = spark.createDataFrame(
        [(1, urlset), (2, index), (3, "<not-even-xml")],
        "sitemap_id long, xml string",
    )
    parsed = sources.parse_sitemaps(df)
    rows = {r["loc"]: r for r in parsed.collect()}
    assert len(rows) == 4  # 3 urls + 1 nested sitemap; malformed → nothing
    assert rows["https://a.example.com/top"]["kind"] == "url"
    assert rows["https://a.example.com/top"]["changefreq"] == "daily"
    assert rows["https://a.example.com/mid"]["lastmod"] is None
    assert rows["https://a.example.com/mid"]["priority"] is None
    assert rows["https://a.example.com/s1.xml"]["kind"] == "sitemap"
    assert rows["https://a.example.com/s1.xml"]["lastmod"] == "2024-02-01"

    seeds = sources.sitemap_seeds(parsed)
    srows = {r["url"]: r for r in seeds.collect()}
    assert set(srows) == {
        "https://a.example.com/top",
        "https://a.example.com/mid",
        "https://a.example.com/low",
    }  # nested sitemap ref is NOT a seed
    assert srows["https://a.example.com/top"]["priority"] == 0   # 1.0 → best class
    assert srows["https://a.example.com/mid"]["priority"] == 4   # default 0.5
    assert srows["https://a.example.com/low"]["priority"] == 7   # 0.0 → clamped worst
    assert all(r["seq"] >= 0 for r in srows.values())
    # deterministic: same URL → same seq on a fresh plan
    again = {r["url"]: r["seq"] for r in sources.sitemap_seeds(parsed).collect()}
    assert again == {u: r["seq"] for u, r in srows.items()}
    # schema-compatible with the frontier seed path
    fr = frontier.seeds_to_frontier(seeds)
    assert fr.count() == 3
    assert set(frontier.ORDER_COLS) <= set(fr.columns)


def test_parse_warc_records(spark):
    """WARC text-mode parse: CRLF + LF records, 0-based rec_idx, header
    extraction at the first colon, declared-length integrity check,
    malformed files yield no rows (sources.parse_warc — the public
    interchange form of the reference's html_content capture feed)."""
    from post_processor_spark import sources

    warc = (
        "WARC/1.0\r\n"
        "WARC-Type: warcinfo\r\n"
        "WARC-Date: 2024-03-01T00:00:00Z\r\n"
        "Content-Length: 25\r\n"
        "\r\n"
        "software: pps-crawler/1.0\r\n"
        "\r\n"
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://a.example.com/x\r\n"
        "WARC-Date: 2024-03-01T00:00:01Z\r\n"
        "Content-Length: 21\r\n"
        "\r\n"
        "<html>hi: there</html>\r\n"   # payload contains a colon
        "\r\n"
        "WARC/1.0\n"                    # LF-only record
        "WARC-Type: response\n"
        "WARC-Target-URI: https://b.example.com/y\n"
        "Content-Length: 4\n"
        "\n"
        "text\n\n"
    )
    df = spark.createDataFrame(
        [("f1", warc), ("f2", "garbage, no version line")],
        "warc_id string, content string",
    )
    out = sources.parse_warc(df)
    rows = out.orderBy("warc_id", "rec_idx").collect()
    assert [r["warc_id"] for r in rows] == ["f1", "f1", "f1"]
    assert [r["rec_idx"] for r in rows] == [0, 1, 2]
    assert rows[0]["rec_type"] == "warcinfo"
    assert rows[0]["target_uri"] is None
    assert rows[0]["payload"] == "software: pps-crawler/1.0"
    assert rows[1]["target_uri"] == "https://a.example.com/x"
    assert rows[1]["payload"] == "<html>hi: there</html>"
    assert rows[1]["content_length"] == 21
    assert rows[2]["target_uri"] == "https://b.example.com/y"
    assert rows[2]["warc_date"] is None  # header absent → null
    assert rows[2]["payload"] == "text"

    docs = {r["url"]: r for r in sources.warc_documents(out).collect()}
    assert set(docs) == {"https://a.example.com/x", "https://b.example.com/y"}
    assert docs["https://a.example.com/x"]["length_ok"] is False  # 22 chars != 21
    assert docs["https://b.example.com/y"]["length_ok"] is True


def test_parse_robots_txt_groups_and_agent_selection(spark):
    """robots.txt parse (sources.parse_robots_txt): comment strip,
    first-colon split, consecutive-UA shared groups, specific-agent
    groups REPLACING the wildcard, empty-Disallow drop, host-global
    Sitemap lines, crawl-delay only from selected groups."""
    from post_processor_spark import sources

    txt1 = (
        "# global rules\n"
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "Crawl-delay: 2.5\n"
        "\n"
        "User-agent: MediaCat\n"   # case-insensitive agent match
        "User-agent: otherbot\n"
        "Disallow: /mc-only\n"
        "Disallow:\n"              # allow-all idiom -> dropped
        "\n"
        "Sitemap: https://a.com/sitemap.xml\n"
        "Sitemap: https://a.com/sitemap2.xml\n"
    )
    txt2 = "User-agent: *\nDisallow: /x\n"
    df = spark.createDataFrame(
        [("a.com", txt1), ("b.com", txt2), ("c.com", "junk\nno rules here")],
        "host string, content string",
    )

    star = {r["host"]: r for r in sources.parse_robots_txt(df).collect()}
    assert star["a.com"]["disallow"] == ["/private"]
    assert star["a.com"]["allow"] == ["/private/ok"]
    assert star["a.com"]["crawl_delay"] == 2.5
    assert star["a.com"]["sitemaps"] == [
        "https://a.com/sitemap.xml", "https://a.com/sitemap2.xml",
    ]
    assert star["b.com"]["disallow"] == ["/x"]
    assert star["c.com"]["disallow"] == [] and star["c.com"]["sitemaps"] == []

    mc = {r["host"]: r
          for r in sources.parse_robots_txt(df, agent="mediacat").collect()}
    assert mc["a.com"]["disallow"] == ["/mc-only"]   # replaces wildcard
    assert mc["a.com"]["allow"] == []
    assert mc["a.com"]["crawl_delay"] is None        # not in selected group
    assert mc["a.com"]["sitemaps"] == [
        "https://a.com/sitemap.xml", "https://a.com/sitemap2.xml",
    ]
    assert mc["b.com"]["disallow"] == ["/x"]         # falls back to *

    # the output frame plugs straight into frontier.apply_robots
    from post_processor_spark import frontier
    cand = spark.createDataFrame(
        [("https://a.com/mc-only/x", "a.com"), ("https://a.com/fine", "a.com")],
        "canonical_url string, host string",
    )
    gated = frontier.apply_robots(
        cand, sources.parse_robots_txt(df, agent="mediacat")
        .select("host", "disallow", "allow")
    )
    got = {r["canonical_url"]: r["robots_blocked"] for r in gated.collect()}
    assert got == {
        "https://a.com/mc-only/x": True,
        "https://a.com/fine": False,
    }


def test_streaming_host_cardinality_sketches(spark, tmp_path):
    """foreachBatch HLL maintenance: two micro-batches with overlapping
    URLs fold into per-host sketches whose estimates equal the exact
    distinct count (sparse mode); replaying batch 2 under a fresh
    checkpoint leaves the table unchanged (union idempotency — the
    at-least-once recovery property the operator is designed around)."""
    from post_processor_spark import streaming
    from post_processor_spark.analytics import sketches
    from post_processor_spark.state import SnapshotStore

    seed_dir = tmp_path / "seeds"
    seed_dir.mkdir()
    b1 = [
        {"url": f"https://host{i % 4}.example.com/p/{i}", "priority": 1, "seq": i}
        for i in range(40)
    ]
    (seed_dir / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    store = SnapshotStore(str(tmp_path / "store"))
    q = streaming.start_host_cardinality_stream(
        spark, store, str(seed_dir), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None

    # batch 2: 20 repeats of batch 1 + 12 new URLs on 2 of the hosts
    b2 = b1[:20] + [
        {"url": f"https://host{i % 2}.example.com/new/{i}", "priority": 1, "seq": 100 + i}
        for i in range(12)
    ]
    (seed_dir / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    q = streaming.start_host_cardinality_stream(
        spark, store, str(seed_dir), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None

    est = {
        r["host_hash"]: r["distinct_est"]
        for r in sketches.hll_estimate(store.read(spark, "host_hll")).collect()
    }
    from post_processor_spark import canon

    all_rows = spark.createDataFrame(
        [(r["url"],) for r in b1 + b2], "url string"
    )
    exact = {
        r["host_hash"]: r["n"]
        for r in canon.with_canonical(all_rows)
        .groupBy("host_hash")
        .agg(F.countDistinct("url_hash").alias("n"))
        .collect()
    }
    assert est == exact

    # replay: same seed files, FRESH checkpoint → both batches re-fold;
    # sketch union is idempotent so the estimates must not move
    gen_before = store.current_generation("host_hll")
    q = streaming.start_host_cardinality_stream(
        spark, store, str(seed_dir), str(tmp_path / "ckpt_replay")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert store.current_generation("host_hll") > gen_before
    est2 = {
        r["host_hash"]: r["distinct_est"]
        for r in sketches.hll_estimate(store.read(spark, "host_hll")).collect()
    }
    assert est2 == est
