"""redirect_resolve / hits / cocitation / domain_mix_report /
inverted_index / bm25 vs hand-computed and pure-Python oracles."""

import math

import pytest
from pyspark.sql import functions as F

from post_processor_spark.analytics import graph, index, report


# ---------------------------------------------------------------- redirects

def test_redirect_resolve_chains_cycles_tails(spark):
    # a→b→c (terminal), d→c, e self-loop, f→g→f (2-cycle), t→f (tail
    # into cycle), long chain x1..x9→x0 (terminal) exercising doubling
    edges = [("a", "b"), ("b", "c"), ("d", "c"), ("e", "e"),
             ("f", "g"), ("g", "f"), ("t", "f")]
    edges += [(f"x{i}", f"x{i - 1}") for i in range(9, 0, -1)]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {
        r["src"]: (r["final"], r["hops"], r["is_cycle"])
        for r in graph.redirect_resolve(df).collect()
    }
    assert out["a"] == ("c", 2, False)
    assert out["b"] == ("c", 1, False)
    assert out["d"] == ("c", 1, False)
    assert out["e"] == (None, None, True)
    assert out["f"] == (None, None, True)
    assert out["g"] == (None, None, True)
    assert out["t"] == (None, None, True)
    for i in range(1, 10):
        assert out[f"x{i}"] == ("x0", i, False)
    assert len(out) == len(edges)


def test_redirect_resolve_max_hops_policy_bound(spark):
    """max_hops ≥ the longest terminal chain → identical to exact mode;
    a chain LONGER than max_hops is flagged is_cycle (the crawler's
    over-limit = dead-URL outcome); cycles flag either way."""
    edges = [("a", "b"), ("b", "c"), ("f", "g"), ("g", "f")]
    edges += [(f"x{i}", f"x{i - 1}") for i in range(9, 0, -1)]
    df = spark.createDataFrame(edges, "src string, dst string")
    exact = {r["src"]: (r["final"], r["hops"], r["is_cycle"])
             for r in graph.redirect_resolve(df).collect()}
    capped = {r["src"]: (r["final"], r["hops"], r["is_cycle"])
              for r in graph.redirect_resolve(df, max_hops=16).collect()}
    assert capped == exact
    tight = {r["src"]: r["is_cycle"]
             for r in graph.redirect_resolve(df, max_hops=2).collect()}
    assert tight["a"] is False          # 2 hops: within the limit
    assert tight["x9"] is True          # 9 hops: over-limit → dead
    assert tight["f"] is True           # cycle flags either way
    import pytest
    with pytest.raises(ValueError, match="max_hops"):
        graph.redirect_resolve(df, max_hops=0)


def test_redirect_resolve_duplicate_src_deterministic(spark):
    # duplicate src collapses to min(dst) before resolution
    df = spark.createDataFrame(
        [("a", "z"), ("a", "b"), ("b", "y")], "src string, dst string"
    )
    out = {r["src"]: r["final"] for r in graph.redirect_resolve(df).collect()}
    assert out == {"a": "y", "b": "y"}


# --------------------------------------------------------------------- HITS

def _hits_oracle(n, edges, iterations=3):
    h = [1.0 / n] * n
    a = [0.0] * n
    for _ in range(iterations):
        a_raw = [0.0] * n
        for s, d in edges:
            a_raw[d] += h[s]
        tot = sum(a_raw)
        a = [x / tot if tot > 0 else 0.0 for x in a_raw]
        h_raw = [0.0] * n
        for s, d in edges:
            h_raw[s] += a[d]
        tot = sum(h_raw)
        h = [x / tot if tot > 0 else 0.0 for x in h_raw]
    return a, h


def test_hits_matches_python_oracle(spark):
    n = 40
    # deterministic pseudo-random digraph incl. a dangling node (no out)
    # and an unreferenced node (no in)
    edges = [(i, (i * 7 + k) % n) for i in range(1, n) for k in range(i % 4)]
    nodes = spark.range(n).select(F.col("id"))
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: (r["authority"], r["hub"])
        for r in graph.hits(nodes, edf, iterations=3).collect()
    }
    a, h = _hits_oracle(n, edges)
    for i in range(n):
        assert got[i][0] == pytest.approx(a[i], abs=1e-12)
        assert got[i][1] == pytest.approx(h[i], abs=1e-12)
    assert sum(v[0] for v in got.values()) == pytest.approx(1.0)
    assert sum(v[1] for v in got.values()) == pytest.approx(1.0)


def test_hits_empty_graph(spark):
    nodes = spark.range(3).select(F.col("id"))
    edf = spark.createDataFrame([], "src long, dst long")
    rows = graph.hits(nodes, edf, iterations=2).collect()
    assert all(r["authority"] == 0.0 and r["hub"] == 0.0 for r in rows)


# --------------------------------------------------------------- cocitation

def test_cocitation_counts_and_hot_source_cap(spark):
    edges = [
        ("s1", "x"), ("s1", "y"), ("s1", "y"),   # parallel edge collapses
        ("s2", "x"), ("s2", "y"), ("s2", "z"),
        ("s3", "x"),                              # out-degree 1: no pairs
    ]
    # a link farm citing 5 targets: dropped entirely at max_out=4
    edges += [("farm", f"t{i}") for i in range(5)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["dst_a"], r["dst_b"]): r["cocitations"]
        for r in graph.cocitation(df, max_out=4).collect()
    }
    assert got == {("x", "y"): 2, ("x", "z"): 1, ("y", "z"): 1}


# --------------------------------------------------------------- host graph

def test_host_graph_rollup(spark):
    edges = [
        ("https://www.a.com/x", "http://b.co.uk/y"),
        ("https://a.com/z#frag", "https://sub.b.co.uk/w"),  # www/sub fold
        ("http://a.com/q", "http://www.a.com/self"),        # self edge
        ("https://c.org/1", "https://a.com/2"),
        # an empty label stays in the registrable domain
        ("https://a..b/x", "https://c.org/1"),
        ("https://x..b/y", "https://www.c.org/2"),
        ("https://.com/z", "https://c.org/3"),
    ]
    out = graph.host_graph(
        spark.createDataFrame(edges, "src string, dst string")
    )
    got = {(r["src_domain"], r["dst_domain"]): r["weight"] for r in out.collect()}
    assert got == {
        ("a.com", "b.co.uk"): 2, ("c.org", "a.com"): 1,
        (".b", "c.org"): 2, (".com", "c.org"): 1,
    }
    with_self = graph.host_graph(
        spark.createDataFrame(edges, "src string, dst string"), drop_self=False
    )
    got2 = {
        (r["src_domain"], r["dst_domain"]): r["weight"]
        for r in with_self.collect()
    }
    assert got2[("a.com", "a.com")] == 1


# --------------------------------------------------------------------- BM25

def _bm25_oracle(docs, queries, k1=1.5, b=0.75):
    import re

    tok = lambda s: [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
    dt = {d: tok(t) for d, t in docs}
    n = len(dt)
    avgdl = sum(len(v) for v in dt.values()) / n
    out = {}
    for qid, qtext in queries:
        scores = {}
        for term in set(tok(qtext)):
            df = sum(1 for v in dt.values() if term in v)
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, v in dt.items():
                tf = v.count(term)
                if tf:
                    scores[d] = scores.get(d, 0.0) + idf * (
                        tf * (k1 + 1.0)
                    ) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        out[qid] = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


def test_bm25_matches_python_oracle(spark):
    docs = [
        (1, "spark shuffles data across the cluster"),
        (2, "spark spark spark tuning guide"),
        (3, "the cat sat on the mat"),
        (4, "cluster scheduling and data locality in spark"),
        (5, "a long document about nothing in particular with many words " * 3),
    ]
    queries = [(10, "spark cluster"), (11, "cat mat"), (12, "zzz-missing")]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    got = {}
    for r in index.bm25_scores(ddf, qdf, top_k=3).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    exp = _bm25_oracle(docs, queries)
    for qid in (10, 11):
        want = exp[qid][:3]
        rows = sorted(got[qid])
        assert [d for _, d, _ in rows] == [d for d, _ in want]
        for (_, _, s), (_, ws) in zip(rows, want):
            assert s == pytest.approx(ws, rel=1e-12)
    assert 12 not in got  # no matching terms -> no rows


# --------------------------------------------------------------- domain mix

def test_domain_mix_report(spark):
    df = spark.createDataFrame(
        [
            ("s1", "en", "one two three"),     # 3 tokens
            ("s1", "en", "four five"),         # 2
            ("s1", "fr", "un"),                # 1
            ("s2", "de", "eins zwei"),         # 2
            ("s2", "de", ""),                  # 0 tokens, 0 chars
        ],
        "source string, lang string, text string",
    )
    out = {r["source"]: r.asDict() for r in report.domain_mix_report(df).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1["n_docs"], s1["total_tokens"], s1["n_langs"]) == (3, 6, 2)
    assert (s1["top_lang"], s1["top_lang_docs"]) == ("en", 2)
    assert s1["token_share"] == pytest.approx(6 / 8)
    assert (s2["n_docs"], s2["total_tokens"], s2["n_langs"]) == (2, 2, 1)
    assert s2["total_chars"] == len("eins zwei")


def test_domain_mix_top_lang_tie_breaks_lexicographically(spark):
    df = spark.createDataFrame(
        [("s", "fr", "x"), ("s", "en", "y")],
        "source string, lang string, text string",
    )
    row = report.domain_mix_report(df).collect()[0]
    assert row["top_lang"] == "en"


# ----------------------------------------------------------- inverted index

def test_inverted_index_postings(spark):
    df = spark.createDataFrame(
        [
            (1, "Alpha beta ALPHA!"),
            (2, "beta gamma"),
            (3, "alpha (beta) beta"),
        ],
        "doc_id long, text string",
    )
    out = {r["token"]: r for r in index.inverted_index(df).collect()}
    assert out["alpha"]["df"] == 2 and out["alpha"]["tf"] == 3
    assert out["alpha"]["postings"] == [1, 3]
    assert out["beta"]["df"] == 3 and out["beta"]["tf"] == 4
    assert out["beta"]["postings"] == [1, 2, 3]
    assert out["gamma"]["postings"] == [2]


def test_inverted_index_caps(spark):
    df = spark.createDataFrame(
        [(i, "common " + ("rare" if i == 0 else f"w{i}")) for i in range(10)],
        "doc_id long, text string",
    )
    # min_df prunes singletons
    toks = {r["token"] for r in index.inverted_index(df, min_df=2).collect()}
    assert toks == {"common"}
    # max_df_frac prunes the stopword-grade token
    toks = {
        r["token"]
        for r in index.inverted_index(df, max_df_frac=0.5).collect()
    }
    assert "common" not in toks and "rare" in toks
    # max_postings truncates the array but keeps exact df
    row = [
        r for r in index.inverted_index(df, max_postings=3).collect()
        if r["token"] == "common"
    ][0]
    assert row["df"] == 10 and row["postings"] == [0, 1, 2]
