"""The benchmark's workloads: set-up, one operation, and output checks.

Each workload is closed-loop with a single client: the next operation
starts only after the previous one has returned. An operation is one
crawl (bootstrap plus every generation, commits included) or one citation
report (pipeline plus output write).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import time

from post_processor_spark import citations, frontier, sources
from post_processor_spark.oracle import run_oracle
from post_processor_spark.state import SnapshotStore

from . import inputs

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _fresh_dir(workdir: str, prefix: str) -> str:
    k = 0
    while os.path.exists(os.path.join(workdir, f"{prefix}-{k}")):
        k += 1
    return os.path.join(workdir, f"{prefix}-{k}")


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ------------------------------------------------------------ crawl_loop

class CrawlLoop:
    """bootstrap, then run_generation for generations 1 and 2. With
    compact_every=3 generation 1 ranks the full pending view and generation
    2 schedules from the head cache (the steady state)."""

    name = "crawl_loop"
    COMPACT_EVERY = 3
    GEN_KINDS = {1: "full", 2: "head"}

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def setup(self, spark, seed: int) -> dict:
        return inputs.crawl_inputs(spark, seed, self.n_docs)

    def release(self, inp: dict) -> None:
        inp["docs"].unpersist()

    def op(self, spark, inp: dict, workdir: str, tracer=None) -> dict:
        # a fresh path per operation: Spark caches file listings by path
        store_dir = _fresh_dir(workdir, "store")
        store = SnapshotStore(store_dir)
        gens, walls = [], {}
        t0 = time.time()
        with _span(tracer, "bench.gen"):
            boot = frontier.bootstrap(spark, store, inp["seeds"])
        disk = [dir_bytes(store_dir)]
        for g, kind in self.GEN_KINDS.items():
            if tracer is not None:
                tracer.gen = g
            tg = time.time()
            with _span(tracer, "bench.gen"):
                r = frontier.run_generation(
                    spark, store, inp["docs"], g, budget_per_host=8,
                    compact_every=self.COMPACT_EVERY, trap_gate=True,
                    exact_join="prebuilt",
                )
            walls[kind] = time.time() - tg
            disk.append(dir_bytes(store_dir))
            gens.append({k: r[k] for k in ("scheduled", "discovered", "new", "blocked")})
        if tracer is not None:
            tracer.gen = None
        return {
            "wall_s": time.time() - t0, "step_s": walls["head"],
            "disk_mb": disk[-1][0] / 1e6, "seeded": boot["seeded"], "gens": gens,
            "store": store, "disk": disk,
        }

    def reset(self, spark, inp: dict) -> None:
        """Nothing to reset: run_generation releases its own caches."""

    def check(self, spark, seed: int, inp: dict, res: dict, pins: dict) -> list[str]:
        problems = []
        n_seen = res["store"].read(spark, "seen").count()
        want = res["seeded"] + sum(g["new"] for g in res["gens"])
        if n_seen != want:
            problems.append(f"seen rows {n_seen} != seeded + sum(new) {want}")
        for i, g in enumerate(res["gens"], 1):
            if not (0 <= g["new"] <= g["discovered"]) or g["scheduled"] <= 0:
                problems.append(f"gen {i} counts out of range: {g}")
        pin = pins.get(str(seed))
        got = {"seeded": res["seeded"], "gens": res["gens"]}
        if pin is not None and pin != got:
            problems.append(f"pinned counts differ: {got} != {pin}")
        return problems

    def pin(self, res: dict) -> dict:
        return {"seeded": res["seeded"], "gens": res["gens"]}


# -------------------------------------------------------- citation_report

_OUT_COLS = (
    "citation_url_or_text_alias", "citation_name", "anchor_text", "found_aliases",
    "referring_name", "number_of_referrals", "associated_publisher", "tags", "name",
)


def output_digest(rows: list[dict]) -> str:
    """Order-independent digest of the output table: rows sorted by id."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["id"]):
        h.update(json.dumps([r["id"]] + [r[c] for c in _OUT_COLS], default=str).encode())
    return h.hexdigest()[:16]


class CitationReport:
    """citations.run_pipeline(persist=True), then sources.write_parquet of
    the output, over a synthetic domain + twitter corpus and a ~50-row
    scope."""

    name = "citation_report"

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def setup(self, spark, seed: int) -> dict:
        docs, scope = inputs.citation_corpus(seed, self.n_docs)
        frames = inputs.citation_frames(spark, docs, scope)
        return {**frames, "docs": docs, "scope_rows": scope}

    def release(self, inp: dict) -> None:
        for df in inputs.persisted(inp):
            df.unpersist()

    def op(self, spark, inp: dict, workdir: str, tracer=None) -> dict:
        out_dir = _fresh_dir(workdir, "citation_output")
        t0 = time.time()
        out = citations.run_pipeline(
            inp["documents"], inp["meta"], inp["scope"], inp["scope"], persist=True
        )
        t1 = time.time()
        sources.write_parquet(out, out_dir)
        t2 = time.time()
        return {
            "wall_s": t2 - t0, "step_s": t2 - t1,
            "disk_mb": dir_bytes(out_dir)[0] / 1e6, "out_dir": out_dir,
        }

    def reset(self, spark, inp: dict) -> None:
        """run_pipeline(persist=True) caches its documents x meta join: drop
        it, outside the timed region, so every operation starts cold."""
        spark.catalog.clearCache()
        for df in inputs.persisted(inp):
            df.persist().count()

    def check(self, spark, seed: int, inp: dict, res: dict, pins: dict) -> list[str]:
        rows = [r.asDict() for r in spark.read.parquet(res["out_dir"]).collect()]
        res["pin"] = {"rows": len(rows), "digest": output_digest(rows)}
        if "expected" not in inp:
            inp["expected"] = run_oracle(inp["docs"], inp["scope_rows"], inp["scope_rows"])
        return check_against_oracle(rows, inp["expected"], pins.get(str(seed)))

    def pin(self, res: dict) -> dict:
        return res["pin"]


def check_against_oracle(rows: list[dict], expected: dict, pin) -> list[str]:
    """Every output cell against the pure-Python reference, then the
    seed's pinned row count and digest when one is recorded."""
    problems = []
    got = {r["id"]: r for r in rows}
    if set(got) != set(expected) or len(rows) != len(expected):
        problems.append(f"output ids differ: {len(rows)} rows vs {len(expected)} expected")
        return problems
    bad = [
        (k, c) for k, e in expected.items() for c in _OUT_COLS if got[k][c] != e[c]
    ]
    if bad:
        problems.append(f"{len(bad)} cells differ from the oracle, first {bad[0]}")
    if pin is not None and pin != {"rows": len(rows), "digest": output_digest(rows)}:
        problems.append(f"pinned rows/digest differ: {pin}")
    return problems


def golden_check(spark) -> list[str]:
    """The verify recipe's 5-row golden fixture through the full pipeline."""
    fr = inputs.golden_frames(spark)
    out = citations.run_pipeline(fr["documents"], fr["meta"], fr["scope"], fr["scope"])
    rows = {r["url"]: r for r in out.collect()}
    problems = []
    if len(rows) != 5:
        problems.append(f"golden: {len(rows)} rows, expected 5")
        return problems
    art = "https://www.aljazeera.com/somelink"
    if art not in rows["https://twitter.com/a_zionist/status/2"]["citation_url_or_text_alias"]:
        problems.append("golden: tweet2 does not cite the article")
    if rows[art]["referring_name"] != ["@a_zionist"]:
        problems.append(f"golden: article referred by {rows[art]['referring_name']}")
    if "@IsraelinIndia" not in rows["https://twitter.com/a_zionist/status/4"][
        "citation_url_or_text_alias"
    ]:
        problems.append("golden: tweet4 does not cite @IsraelinIndia")
    return problems


WORKLOADS = {"crawl_loop": CrawlLoop, "citation_report": CitationReport}

# documents per workload; tiny is the self-test's size
SIZES = {
    "crawl_loop": {"full": {"n_docs": 2000}, "tiny": {"n_docs": 300}},
    "citation_report": {"full": {"n_docs": 2000}, "tiny": {"n_docs": 300}},
}


def make(name: str, size: str):
    if name not in WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; choose from {sorted(WORKLOADS)}")
    return WORKLOADS[name](**SIZES[name][size])
