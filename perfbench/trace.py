"""Traced-run instrumentation, recorded from the benchmark's side only.

A layer is an engine module. For the traced run alone, the public
functions of each layer are wrapped in place (every module of the package
that imported the function by name is patched too) so that each call
records a span {name, start, end, parent, gen}. Spark jobs are read back
from the driver's status store after the operation and attributed to the
innermost span open at their submission time, which also covers jobs
launched from the concurrent commit threads of `SnapshotStore.write_many`.
Stage metrics come from `statusStore().lastStageAttempt(id)`; py4j
commands are counted by wrapping the gateway client's `send_command`.
Spans are kept in memory and written out by the caller at the end.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import threading
import time

# layer -> public functions whose calls become spans
LAYER_FUNCS = {
    "frontier": [
        "bootstrap", "run_generation", "politeness_schedule", "top_per_host",
        "apply_robots", "extract_outlinks", "canonicalize_candidates",
        "dedupe_candidates", "seed_candidates", "seeds_to_frontier",
        "schedule_seed_list", "pending_view",
    ],
    "canon": ["with_canonical", "canonical_url", "is_crawl_trap", "attach_tld_parts"],
    "seen": [
        "build_bloom", "build_exact_index", "merge_bloom", "merge_exact_index",
        "filter_unseen",
    ],
    "citations": [
        "run_pipeline", "prepare_scope", "match_citations", "decorate_scope_info",
        "build_referral_edges", "referral_lists", "probe_referrals", "final_output",
    ],
    "sources": ["write_parquet"],
}
STATE_METHODS = ["write_many", "read"]


class Tracer:
    """Span recorder plus job and py4j accounting for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.gen = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seen_jobs: set[int] = set()
        self._restore: list = []
        self._counting = False
        self._main_stack: list = []
        self._local.stack = self._main_stack
        # driver time spent in the tracer's own bookkeeping
        self.overhead_s = 0.0
        self._mapper = None

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        # a worker thread (write_many's commit pool) without spans of its
        # own is accounted to the innermost span open on the main thread
        st = getattr(self._local, "stack", None)
        return st if st is not None else self._main_stack

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        if getattr(self._local, "stack", None) is None:
            self._local.stack = list(self._main_stack)
        stack = self._local.stack
        rec = {
            "name": name, "start": time.time(), "end": None,
            "parent": stack[-1] if stack else None, "gen": self.gen, "py4j": 0,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield idx
        finally:
            t_out = time.perf_counter()
            stack.pop()
            rec["end"] = time.time()
            self.overhead_s += time.perf_counter() - t_out

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    def install(self) -> None:
        """Wrap every layer function and the py4j command channel."""
        import importlib

        import post_processor_spark as pkg
        from post_processor_spark.state import SnapshotStore

        # jobs that ran before tracing (set-up) are not the operation's
        _, jobs = self._store_json(lambda st: st.jobsList(None))
        self._seen_jobs.update(j["jobId"] for j in jobs)

        modules = [
            m for k, m in list(sys.modules.items())
            if k.startswith(pkg.__name__ + ".") and m is not None
        ]
        for layer, names in LAYER_FUNCS.items():
            mod = importlib.import_module(f"{pkg.__name__}.{layer}")
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrap(f"{layer}.{name}", orig)
                for m in modules:
                    if getattr(m, name, None) is orig:
                        setattr(m, name, wrapped)
                        self._restore.append((m, name, orig))
        for name in STATE_METHODS:
            orig = SnapshotStore.__dict__[name]
            setattr(SnapshotStore, name, self._wrap(f"state.{name}", orig))
            self._restore.append((SnapshotStore, name, orig))

        from py4j.protocol import MEMORY_COMMAND_NAME

        client = self.spark.sparkContext._gateway._gateway_client
        owner = next(c for c in type(client).__mro__ if "send_command" in c.__dict__)
        orig_send = owner.__dict__["send_command"]
        tracer = self

        def send_command(self_, command, *args, **kwargs):
            # memory commands release Java objects when Python garbage
            # collects their proxies: their count follows GC timing
            if tracer._counting and not command.startswith(MEMORY_COMMAND_NAME):
                t_in = time.perf_counter()
                stack = tracer._stack()
                if stack:
                    with tracer._lock:
                        tracer.spans[stack[-1]]["py4j"] += 1
                        tracer.overhead_s += time.perf_counter() - t_in
            return orig_send(self_, command, *args, **kwargs)

        setattr(owner, "send_command", send_command)
        self._restore.append((owner, "send_command", orig_send))
        self._counting = True

    def uninstall(self) -> None:
        self._counting = False
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    # ------------------------------------------------------------- jobs
    def _store_json(self, call):
        """(status store, JSON of call(store)) via Spark's Jackson mapper."""
        if self._mapper is None:
            jvm = self.spark.sparkContext._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        store = self.spark.sparkContext._jsc.sc().statusStore()
        return store, json.loads(self._mapper.writeValueAsString(call(store)))

    def collect_jobs(self) -> None:
        """Read jobs finished since the last call from the status store and
        attribute each to the innermost span open at its submission."""
        counting, self._counting = self._counting, False
        try:
            store, jobs = self._store_json(lambda st: st.jobsList(None))
            for j in sorted(jobs, key=lambda j: j["jobId"]):
                if j["jobId"] in self._seen_jobs or j.get("completionTime") is None:
                    continue
                self._seen_jobs.add(j["jobId"])
                rec = {
                    "id": j["jobId"],
                    "start": _ts(j["submissionTime"]),
                    "end": _ts(j["completionTime"]),
                    "status": j["status"],
                    "span": None, "cpu_s": 0.0, "shuffle_write_b": 0, "spill_b": 0,
                    "gc_s": 0.0, "skew": 1.0,
                }
                for sid in j["stageIds"]:
                    _add_stage(rec, store, self._mapper, sid)
                rec["span"] = self._innermost(rec["start"])
                self.jobs.append(rec)
        finally:
            self._counting = counting

    def _innermost(self, t: float):
        best = None
        for i, s in enumerate(self.spans):
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = i
        return best

    def dump(self) -> dict:
        return {"spans": self.spans, "jobs": self.jobs}


def _ts(v) -> float:
    # Jackson writes java.util.Date as epoch milliseconds
    return float(v) / 1000.0



def _add_stage(rec: dict, store, mapper, sid: int) -> None:
    try:
        st = json.loads(mapper.writeValueAsString(store.lastStageAttempt(sid)))
    except Exception:  # a skipped stage never ran and has no attempt
        return
    if st.get("status") == "SKIPPED":
        return
    rec["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
    rec["shuffle_write_b"] += st.get("shuffleWriteBytes", 0)
    rec["spill_b"] += st.get("diskBytesSpilled", 0) + st.get("memoryBytesSpilled", 0)
    rec["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
    if st.get("shuffleReadBytes", 0) > 0 and st.get("numTasks", 0) > 1:
        tasks = json.loads(
            mapper.writeValueAsString(store.taskList(sid, st["attemptId"], 100000))
        )
        reads = []
        for t in tasks:
            sr = (t.get("taskMetrics") or {}).get("shuffleReadMetrics") or {}
            reads.append(sr.get("localBytesRead", 0) + sr.get("remoteBytesRead", 0))
        med = statistics.median(reads) if reads else 0
        if med > 0:
            rec["skew"] = max(rec["skew"], max(reads) / med)


# ----------------------------------------------------------- accounting

def union(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    """The parts of intervals iv that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


class Accounting:
    """Derived views over one tracer's spans and jobs."""

    def __init__(self, tracer: Tracer):
        self.spans = tracer.spans
        self.jobs = tracer.jobs
        self.children = {i: [] for i in range(len(self.spans))}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                self.children[s["parent"]].append(i)
        self.own_jobs = {i: [] for i in range(len(self.spans))}
        for j in self.jobs:
            if j["span"] is not None:
                self.own_jobs[j["span"]].append(j)

    def dur(self, i: int) -> float:
        s = self.spans[i]
        return s["end"] - s["start"]

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        covered = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children[i]]
        covered += [(j["start"], j["end"]) for j in self.own_jobs[i]]
        return max(0.0, self.dur(i) - union(clip(covered, s["start"], s["end"])))

    def descendants(self, i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            k = todo.pop()
            out.append(k)
            todo.extend(self.children[k])
        return out

    def jobs_under(self, i: int) -> list[dict]:
        return [j for k in self.descendants(i) for j in self.own_jobs[k]]

    def named(self, prefix: str, within: int) -> list[int]:
        return [k for k in self.descendants(within) if self.spans[k]["name"].startswith(prefix)]

    def job_time(self, i: int) -> float:
        s = self.spans[i]
        return union(clip([(j["start"], j["end"]) for j in self.jobs_under(i)],
                            s["start"], s["end"]))

    def coverage(self, i: int) -> float:
        """(engine span self-times + job time) / wall of span i. The
        benchmark's own spans (`bench.*`) are excluded, so time spent
        outside any engine call or job counts as uncovered."""
        sub = self.descendants(i)
        selfs = sum(
            self.self_time(k) for k in sub if not self.spans[k]["name"].startswith("bench.")
        )
        return (selfs + self.job_time(i)) / max(self.dur(i), 1e-9)
