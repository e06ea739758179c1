"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload crawl_loop --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine runs on local[nproc] in this one
driver process. The last line of standard output is one JSON object
{correct, attempted, failed, metrics}: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 the per-layer ones. The line
before it records the box and the host window. Everything the run writes
stays under .bench_build/perfbench/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# input set-ups per run; setup_s reports the session start plus their median
SETUPS = 3


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def choose_heap_gb(nproc: int, mem_total_kb: int) -> int:
    """2 GB per core, capped at 40% of MemTotal so the Python workers and
    other tenants keep room (the session default of 48g does not fit)."""
    return max(1, min(2 * nproc, int(mem_total_kb * 0.4 / 2**20)))


def configure_env(workdir: str, heap_gb: int) -> None:
    """Environment the driver JVM and its Python workers inherit: heap,
    shuffle and temp dirs inside the run dir, and the repository on
    PYTHONPATH (pandas UDF workers import post_processor_spark)."""
    local, tmp = os.path.join(workdir, "local"), os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM; the driver JVM gets the same flags
    # through spark.driver.extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def box_record(nproc: int, heap_gb: int) -> dict:
    """The box and the host window. The CPU and bandwidth probes are
    scripts_spark/scaling_bench's, run before the JVM starts."""
    import pyspark

    from scripts_spark.scaling_bench import raw_bw_rate, raw_cpu_rate

    try:
        # a checkout that is not a repository reads "unknown", not the rev
        # of some enclosing repository
        rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        rev = "unknown"
    return {
        "nproc": nproc,
        "mem_total_gb": round(_mem_total_kb() / 2**20, 1),
        "heap_gb": heap_gb,
        "pyspark": pyspark.__version__,
        "git_rev": rev,
        "cpu_rate_per_s": round(raw_cpu_rate(nproc, per_task=500_000, tasks=4 * nproc)),
        "bw_gb_s": round(raw_bw_rate(nproc, reps=2), 2),
    }


def start_session(nproc: int, heap_gb: int, workdir: str):
    from post_processor_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    # The whole heap up front and a fixed young generation (a sixth of the
    # heap): G1 otherwise grows the heap and resizes the young generation
    # from measured GC pause times, so peak RSS followed the host's speed
    # (spread 0.17 over five seeds on a 4-core, 15.7 GB box) rather than
    # the engine's live data.
    jvm_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Xms{heap_gb}g -Xmn{heap_gb * 1024 // 6}m"
    )
    spark = get_spark(
        cores=nproc, app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first job starts the executor threads
    return spark


def _descendants(pid: int) -> list[int]:
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then the driver JVM and its Python workers, and wait
    until every one of those processes has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    kids = _descendants(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout_s
    while kids and time.time() < deadline:
        kids = [k for k in kids if _running(k)]
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while pid exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pid: int) -> float:
    """JVM VmHWM plus the Python driver's max RSS."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    print(f"peak rss: jvm {jvm_kb / 1024:.0f} MB python {py_kb / 1024:.0f} MB", file=sys.stderr)
    return (jvm_kb + py_kb) / 1024.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def engine_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the engine's processes: this Python
    driver, the JVM (every thread, JIT and GC included) and the JVM's
    descendants, the Python UDF workers, with the children each has
    reaped. The kernel leaves time stolen by the hypervisor out of these
    counters, so a busy host moves this far less than wall time."""
    t = os.times()
    total = t.user + t.system
    for p in [pid] + _descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited; its time is in its parent's reaped counters
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15]) / _CLK_TCK
    return total


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(spark, wl, args, pins: dict, workdir: str, session_s: float) -> dict:
    """Set up SETUPS times, then run operations for args.seconds (at least
    one; --trace 1 runs exactly one, traced) and check each output.
    Returns the result object of the last stdout line."""
    from perfbench.layers import PER_LAYER_UNITS

    setups = []
    for i in range(SETUPS):
        t = time.time()
        inp = wl.setup(spark, args.seed)
        setups.append(time.time() - t)
        if i < SETUPS - 1:
            wl.release(inp)

    pid = jvm_pid(spark)
    results, op_problems = [], []

    def one(tracer=None):
        if tracer is None:
            # an operation that raises counts as failed; the run goes on
            try:
                c0 = engine_cpu_s(pid)
                res = wl.op(spark, inp, workdir)
                res["cpu_s"] = engine_cpu_s(pid) - c0
                op_problems.append(wl.check(spark, args.seed, inp, res, pins))
            except Exception as e:
                traceback.print_exc()
                op_problems.append([f"operation raised {type(e).__name__}"])
                return None
        else:
            with tracer.span("bench.op") as idx:
                res = wl.op(spark, inp, workdir, tracer=tracer)
            tracer.collect_jobs()
            res["span"] = idx
            op_problems.append(wl.check(spark, args.seed, inp, res, pins))
        wl.reset(spark, inp)
        cpu = f" cpu {res['cpu_s']:.2f}s" if "cpu_s" in res else ""
        print(f"{wl.name} op {len(results)}: wall {res['wall_s']:.2f}s"
              f" step {res['step_s']:.2f}s{cpu}", file=sys.stderr)
        results.append(res)
        return res

    if args.trace:
        from perfbench import traced

        metrics, problems = traced.run_traced(spark, wl, inp, workdir, one, args.seed, setups)
        op_problems[-1].extend(problems)
        out = {k: metric(metrics[k], u) for k, u in PER_LAYER_UNITS.items()}
    else:
        t_end = time.time() + args.seconds
        while True:
            one()
            if time.time() >= t_end:
                break
        if not results:
            raise RuntimeError("every operation failed; nothing was measured")
        # wall times follow the host's load, so they are recorded here and
        # not among the metrics a change is judged by
        print(json.dumps({"ops": [
            {k: round(r[k], 3) for k in ("wall_s", "step_s", "cpu_s")} for r in results
        ]}))
        out = {
            "op_cpu_s": metric(statistics.median(r["cpu_s"] for r in results), "s"),
            "disk_mb": metric(statistics.median(r["disk_mb"] for r in results), "MB"),
            "peak_rss_mb": metric(peak_rss_mb(pid), "MB"),
            "setup_s": metric(session_s + statistics.median(setups), "s"),
        }
    if args.print_pins:
        print(json.dumps({"pin": {str(args.seed): wl.pin(results[0])}}))
    wl.release(inp)
    for p in (p for ps in op_problems for p in ps):
        print(f"check failed: {p}", file=sys.stderr)
    return {
        "correct": not any(op_problems),
        "attempted": len(op_problems),
        "failed": sum(bool(p) for p in op_problems),
        "metrics": out,
    }


def run(args) -> dict:
    from perfbench import workloads

    nproc = os.cpu_count() or 1
    heap_gb = choose_heap_gb(nproc, _mem_total_kb())
    workdir = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    configure_env(workdir, heap_gb)
    box = box_record(nproc, heap_gb)
    box.update(workload=args.workload, seed=args.seed, trace=args.trace,
               window_start=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    wl = workloads.make(args.workload, "full")
    pins = workloads.load_pins().get(f"{args.workload}/full", {})
    try:
        t0 = time.time()
        spark = start_session(nproc, heap_gb, workdir)
        session_s = time.time() - t0
        try:
            result = measure(spark, wl, args, pins, workdir, session_s)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    box["window_end"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    print(json.dumps({"box": box}))
    return result


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--print-pins", action="store_true",
                   help="print the seed's output pin before the result")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "post_processor_spark")):
        print(f"perfbench: no post_processor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
