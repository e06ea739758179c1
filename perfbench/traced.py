"""The traced run: one traced operation, then single steps each forced on
its own to a noop sink, then the per-layer metrics."""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

from post_processor_spark import canon, citations, frontier
from post_processor_spark import seen as seen_mod

from . import layers, workloads
from .trace import Accounting, Tracer


def _noop(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


def _bytes_of(df, col: str) -> int:
    return int(df.select(F.sum(F.length(col))).first()[0] or 0)


def crawl_measured(spark, inp: dict, res: dict) -> dict:
    """Forced single steps over the corpus outlinks and the final seen
    state, plus the counts the operation reported."""
    store = res["store"]
    outlinks = frontier.extract_outlinks(inp["docs"])
    m = {"canon.exec_s": _noop(canon.with_canonical(outlinks, "url"))}
    cand = canon.with_canonical(outlinks, "url").persist()
    bloom = seen_mod.merge_bloom(store.read(spark, "bloom")).persist()
    index = seen_mod.merge_exact_index(store.read(spark, "exact_index")).persist()
    for df in (cand, bloom, index):
        df.count()
    m["seen.exec_s"] = _noop(
        seen_mod.filter_unseen(
            cand, store.read(spark, "seen"), bloom=bloom, exact_join="prebuilt",
            exact_index=index,
        )
    )
    m["seen.collect_mb"] = (_bytes_of(bloom, "bitmap") + _bytes_of(index, "keys")) / 1e6
    for df in (cand, bloom, index):
        df.unpersist()
    disk = res["disk"]
    steps = [(b1 - b0, f1 - f0) for (b0, f0), (b1, f1) in zip(disk, disk[1:])]
    gens = res["gens"]
    m["seen.new_ratio"] = sum(g["new"] for g in gens) / max(1, sum(g["discovered"] for g in gens))
    m["state.written_mb"] = sum(b for b, _ in steps) / len(steps) / 1e6
    m["state.files"] = sum(f for _, f in steps) / len(steps)
    return m


def citation_measured(spark, wl, inp: dict) -> dict:
    """Forced single steps: tld parts of the doc domains, citation
    matching, and edges -> referral lists -> probe over persisted matches."""
    docs, meta, scope = inp["documents"], inp["meta"], inp["scope"]
    m = {"canon.exec_s": _noop(canon.attach_tld_parts(meta, "domain", "doc_tld"))}
    cites = citations.match_citations(docs, meta, scope, persist=True)
    m["citations.match_s"] = _noop(cites)
    cites = cites.persist()
    cites.count()
    t = time.time()
    edges = citations.build_referral_edges(docs, meta, cites)
    probed = citations.probe_referrals(
        citations.decorate_scope_info(meta, scope), citations.referral_lists(edges)
    )
    _noop(probed)
    m["citations.referral_s"] = time.time() - t
    wl.reset(spark, inp)
    return m


def run_traced(spark, wl, inp: dict, workdir: str, one, seed: int,
               setups: list) -> tuple[dict, list[str]]:
    """Returns the per-layer metrics and the traced run's own check
    failures: wall coverage below 90% of any crawl generation, and for
    citation_report the golden 5-row fixture."""
    tracer = Tracer(spark)
    tracer.install()
    try:
        traced = one(tracer)
    finally:
        tracer.uninstall()
    acc = Accounting(tracer)
    root = traced["span"]
    gen_spans = {}
    for k, s in enumerate(tracer.spans):
        if s["name"] == "bench.gen" and s["gen"] is not None:
            gen_spans[wl.GEN_KINDS[s["gen"]]] = k
    if wl.name == "crawl_loop":
        measured = crawl_measured(spark, inp, traced)
    else:
        measured = citation_measured(spark, wl, inp)
    measured["fixtures.build_s"] = statistics.median(setups)
    # the tracer's own driver time inside the operation; the wall of a
    # traced run minus an untraced one is dominated by JIT warm-up order
    measured["trace.overhead_s"] = tracer.overhead_s
    metrics = layers.compute(acc, root, gen_spans, measured)
    problems = []
    if metrics["trace.coverage_min"] < 0.9:
        problems.append(f"trace coverage {metrics['trace.coverage_min']:.3f} < 0.9")
    if wl.name == "citation_report":
        problems.extend(workloads.golden_check(spark))

    out_dir = os.path.join(os.path.dirname(workdir), "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{seed}.json"), "w") as f:
        json.dump({**tracer.dump(), "metrics": metrics}, f)
    return metrics, problems
