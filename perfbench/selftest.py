"""Fast self-test of the benchmark at tiny sizes, in one Spark session.

    python3 perfbench/selftest.py

For each workload it runs one untraced and one traced operation at the
tiny sizes (a few hundred documents), checks every output, and checks that
the emitted metric names and units are exactly BENCHMARK.json's. The traced
citation run includes the golden 5-row fixture check. Exits non-zero on
any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as runner  # noqa: E402
from perfbench import workloads  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    nproc = os.cpu_count() or 1
    workdir = os.path.join(ROOT, ".bench_build", "perfbench", f"selftest-{os.getpid()}")
    heap_gb = runner.choose_heap_gb(nproc, runner._mem_total_kb())
    runner.configure_env(workdir, heap_gb)
    failures = []
    t0 = time.time()
    spark = runner.start_session(nproc, heap_gb, workdir)
    session_s = time.time() - t0
    try:
        for w in bench["workloads"]:
            wl = workloads.make(w["name"], "tiny")
            pins = workloads.load_pins().get(f"{w['name']}/tiny", {})
            for trace in (0, 1):
                args = argparse.Namespace(seed=7, seconds=0, trace=trace, print_pins=False)
                res = runner.measure(spark, wl, args, pins, workdir, session_s)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                print(json.dumps({"workload": w["name"], "trace": trace, **res}))
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    failures.append(f"{w['name']} trace={trace}: output check failed")
                if got != want[trace]:
                    failures.append(f"{w['name']} trace={trace}: metrics {sorted(got)}")
                if trace == 0 and any(v["value"] <= 0 for v in res["metrics"].values()):
                    failures.append(f"{w['name']}: an end-to-end metric is not positive")
    finally:
        runner.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    for f in failures:
        print(f"selftest: {f}", file=sys.stderr)
    print(f"selftest: {'FAIL' if failures else 'ok'} in {time.time() - t0:.0f}s")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
