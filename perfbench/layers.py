"""Per-layer metrics of a traced run, each named after its engine module.

Every traced run emits every metric; a layer the workload never enters
reads 0. Units are in PER_LAYER_UNITS (also the BENCHMARK.json list).
"""

from __future__ import annotations

from .trace import Accounting, clip, union

PER_LAYER_UNITS = {
    "frontier.plan_s": "s",
    "frontier.py4j_calls": "count",
    "frontier.jobs_full": "count",
    "frontier.jobs_head": "count",
    "frontier.job_s": "s",
    "frontier.shuffle_mb": "MB",
    "frontier.shuffle_skew": "ratio",
    "frontier.exec_cpu_s": "s",
    "canon.plan_s": "s",
    "canon.exec_s": "s",
    "seen.exec_s": "s",
    "seen.collect_mb": "MB",
    "seen.maintain_s": "s",
    "seen.new_ratio": "ratio",
    "state.commit_s": "s",
    "state.commit_jobs": "count",
    "state.read_s": "s",
    "state.written_mb": "MB",
    "state.files": "count",
    "citations.plan_s": "s",
    "citations.match_s": "s",
    "citations.referral_s": "s",
    "citations.shuffle_mb": "MB",
    "sources.write_s": "s",
    "fixtures.build_s": "s",
    "driver.idle_frac": "ratio",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
    "trace.coverage_min": "ratio",
}

_SEEN_MAINTAIN = (
    "seen.build_bloom", "seen.build_exact_index", "seen.merge_bloom",
    "seen.merge_exact_index",
)


def _sum_self(acc: Accounting, spans) -> float:
    return sum(acc.self_time(k) for k in spans)


def _sum_dur(acc: Accounting, spans) -> float:
    """Wall covered by the given spans, nested calls counted once."""
    return union((acc.spans[k]["start"], acc.spans[k]["end"]) for k in spans)


def compute(acc: Accounting, op_span: int, gen_spans: dict, measured: dict) -> dict:
    """op_span: the traced operation's root span. gen_spans: generation
    kind -> its bench.gen span (crawl only). measured: metrics taken
    outside the trace (forced single steps, counts the operation
    reported), which override the span-derived ones."""
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    jobs = acc.jobs_under(op_span)
    op = acc.spans[op_span]
    wall = op["end"] - op["start"]
    job_iv = clip([(j["start"], j["end"]) for j in jobs], op["start"], op["end"])

    # jobs run inside a frontier call's commit are still that call's work
    front_roots = [k for k in acc.named("frontier.", op_span) if acc.spans[k]["name"] in
                   ("frontier.run_generation", "frontier.bootstrap")]
    front_jobs = [j for k in front_roots for j in acc.jobs_under(k)]
    m["frontier.shuffle_mb"] = sum(j["shuffle_write_b"] for j in front_jobs) / 1e6
    m["frontier.exec_cpu_s"] = sum(j["cpu_s"] for j in front_jobs)
    m["frontier.shuffle_skew"] = max((j["skew"] for j in front_jobs), default=0.0)
    for kind in ("full", "head"):
        if kind in gen_spans:
            m[f"frontier.jobs_{kind}"] = len(acc.jobs_under(gen_spans[kind]))
    head = gen_spans.get("head")
    if head is not None:
        hf = acc.named("frontier.", head)
        m["frontier.plan_s"] = _sum_self(acc, hf)
        m["frontier.py4j_calls"] = sum(acc.spans[k]["py4j"] for k in hf)
        commits = acc.named("state.write_many", head)
        commit_iv = [(acc.spans[k]["start"], acc.spans[k]["end"]) for k in commits]
        hs = acc.spans[head]
        all_iv = clip([(j["start"], j["end"]) for j in acc.jobs_under(head)],
                      hs["start"], hs["end"])
        m["frontier.job_s"] = union(all_iv) - union(
            [iv for c in commit_iv for iv in clip(all_iv, *c)]
        )
        m["state.commit_jobs"] = sum(len(acc.jobs_under(k)) for k in commits)

    m["canon.plan_s"] = _sum_self(acc, acc.named("canon.", op_span))
    m["seen.maintain_s"] = _sum_dur(
        acc, [k for k in acc.named("seen.", op_span) if acc.spans[k]["name"] in _SEEN_MAINTAIN]
    )
    m["state.commit_s"] = _sum_dur(acc, acc.named("state.write_many", op_span))
    m["state.read_s"] = _sum_dur(acc, acc.named("state.read", op_span))
    m["citations.plan_s"] = _sum_self(acc, acc.named("citations.", op_span))
    if acc.named("citations.", op_span):
        m["citations.shuffle_mb"] = sum(j["shuffle_write_b"] for j in jobs) / 1e6
    m["sources.write_s"] = _sum_dur(acc, acc.named("sources.", op_span))
    m["driver.idle_frac"] = 1.0 - union(job_iv) / max(wall, 1e-9)
    m["spark.gc_s"] = sum(j["gc_s"] for j in jobs)
    m["spark.spill_mb"] = sum(j["spill_b"] for j in jobs) / 1e6
    covs = [acc.coverage(s) for s in gen_spans.values()] or [acc.coverage(op_span)]
    m["trace.coverage_min"] = min(covs)
    m.update(measured)
    return m
