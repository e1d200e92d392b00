"""Benchmark of record: one workload, one seed, one result line.

    python3 perfbench/run.py --workload recsys_serve --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout on ``local[$SPARK_GRAFT_CPUS]`` (default:
every CPU this process may use) with one client thread. It generates the
workload's inputs from ``--seed``, starts the engine session, runs one
untimed warm pass, then times ops in a closed loop for ``--seconds`` and
checks every op's output. ``setup_s`` is the process's age when set-up
ends; the harness's own checks of set-up's outputs and a few warm-up ops
(outputs checked) run after it, untimed.
``--trace 0`` prints the end-to-end metrics;
``--trace 1`` records spans and Spark counters at each layer boundary and
prints the per-layer metrics instead. ``--untimed`` runs setup and the
output checks only.

Everything the run writes (inputs, Spark scratch, sinks, span files) stays
under ``perfbench/.work/``. The last stdout line is the result JSON; the
line before it is the run record (host, versions, input sizes, per-op
latencies, problems found).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "recommendation_system_big_data_spark"


def process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def proc_status_mb(pid: int | str, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def retained_mb(spark) -> dict:
    """Memory the engine still holds once the work is done: JVM heap in use
    after a full collection (cached tables, broadcasts, plan caches), JVM
    non-heap in use (classes, JIT code) and the Python driver's resident
    set. Unlike the peak RSS, this does not depend on when the collector
    happened to run, so it repeats from run to run."""
    # Python first: DataFrames it has not yet collected keep their JVM
    # objects (plans, broadcast relations) alive through py4j. Spark's
    # ContextCleaner drops the state of shuffles and broadcasts found dead
    # by a JVM collection on its own thread, which frees more for the next
    # one: the heap after collection falls in steps for up to four rounds
    # (e.g. 221, 176, 77, 77 MB), so collect until two readings agree.
    gc.collect()
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = [float("inf")]
    for _ in range(10):
        jvm.System.gc()
        heap.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if heap[-2] - heap[-1] < 1.0:
            break
        time.sleep(0.5)
    return {
        "jvm_heap": heap[-1],
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        "python_rss": proc_status_mb("self", "VmRSS"),
    }


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs: steal is time the hypervisor
    ran something else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def parse_args():
    ap = argparse.ArgumentParser(description="spark-graft benchmark of record")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--untimed", action="store_true", help="setup and output checks only")
    return ap.parse_args()


def start_session(work: str):
    from recommendation_system_big_data_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": f"{work}/spark",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the workers it started) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


@dataclass
class Window:
    lat: list = field(default_factory=list)  # seconds per timed op
    plain: list = field(default_factory=list)  # untraced twins (traced run)
    attempted: int = 0
    failed: int = 0


def run_window(wl, seconds: float, paired: bool) -> Window:
    """Closed loop, one client: run whole cycles of ops until ``seconds``
    have passed, checking each output outside the timed region. With
    ``paired`` (traced run) every op runs twice back to back, untraced and
    traced in alternating order, so the tracing overhead is measured on
    identical work."""
    w = Window()
    tracer = wl.tracer
    start = time.perf_counter()
    while w.attempted == 0 or w.attempted % wl.cycle or time.perf_counter() - start < seconds:
        i = w.attempted
        w.attempted += 1
        for traced in ((i % 2 == 1, i % 2 == 0) if paired else (False,)):
            tracer.enabled = traced
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    res = wl.op(i)
            except Exception as e:  # a failed op counts in fail_ratio; the loop goes on
                w.failed += 1
                wl.problems.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
                break
            dt = time.perf_counter() - t0
            if paired and not traced:
                w.plain.append(dt)
            else:
                w.lat.append(dt)
            if not wl.check(i, res):
                w.failed += 1
                break
    tracer.enabled = paired
    return w


def warm_up(wl) -> None:
    """Untimed ops before the window, outputs checked, tracing off. Right
    after set-up an op is still up to a quarter slower than later ones
    while the JVM compiles the serving and query paths; the warm-up keeps
    the steepest part of that drift out of the window. Negative indices
    keep the window's request order as it is."""
    traced, wl.tracer.enabled = wl.tracer.enabled, False
    for i in range(-wl.warmup_ops, 0):
        try:
            wl.check(i, wl.op(i))
        except Exception as e:
            wl.problems.append(f"warm-up op {i}: {type(e).__name__}: {str(e)[:300]}")
    wl.tracer.enabled = traced


def cycle_latency(w: Window, cycle: int) -> float:
    """Median over the window's whole cycles of the mean op latency in a
    cycle. The ops of a cycle do different work (the mix runs a different
    query in each), so a median over single ops would pick whichever query
    sits in the middle; with one op a cycle it is the plain median."""
    n = len(w.lat) // cycle
    return median([sum(w.lat[k * cycle:(k + 1) * cycle]) / cycle for k in range(n)])


def end_to_end(setup_s: float, w: Window, cycle: int, retained: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (cycle_latency(w, cycle) * 1000, "ms"),
        "ops_per_s": (len(w.lat) / max(sum(w.lat), 1e-9), "1/s"),
        "retained_mb": (retained, "MB"),
    }


def per_layer(wl, tracer, session_s: float, w: Window, peak: float) -> dict:
    from workloads import MIX_QUERIES

    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def pick(name):
        spans = [s for s in tracer.named(name) if s.phase == "measure"]
        return spans or [s for s in tracer.named(name) if s.phase == "setup"]

    def sec(name):
        return median([s.seconds for s in pick(name)])

    def cnt(name, key):
        return median([tracer.inclusive(s)[key] for s in pick(name)])

    ops = [s for s in tracer.spans if s.phase == "measure" and s.parent is None]
    tot = {}
    for s in ops:
        for k, v in tracer.inclusive(s).items():
            tot[k] = tot.get(k, 0) + v
    n = max(1, len(ops))
    sink_bytes = median(getattr(wl, "sink_sizes", []))
    m = {
        "session.start_s": (session_s, "s"),
        "sources.csv_read_s": (sec("sources.csv_read"), "s"),
        "sources.csv_read_rows": (cnt("sources.csv_read", "input_rows"), "rows"),
        "sources.sink_write_s": (sec("sources.sink_write"), "s"),
        "sources.sink_bytes": (sink_bytes, "B"),
        "sources.sink_bytes_per_user_byte": (
            sink_bytes / wl.csv_bytes if getattr(wl, "csv_bytes", 0) else 0.0, "ratio"),
        "catalog.scan_input_bytes": (median([tracer.inclusive(s)["input_bytes"] for s in ops]), "B"),
        "recommend.fit_s": (sec("recommend.fit"), "s"),
        "recommend.fit_jobs": (cnt("recommend.fit", "jobs"), "count"),
        "recommend.fit_shuffle_bytes": (cnt("recommend.fit", "shuffle_write_bytes"), "B"),
        "recommend.eval_s": (sec("recommend.eval"), "s"),
        "recommend.topk_all_s": (sec("recommend.topk_all"), "s"),
        "recommend.enrich_s": (sec("recommend.enrich"), "s"),
        "recommend.rmse": (median(getattr(wl, "rmses", [])), "rmse"),
        "recommend.serve_call_s": (sec("recommend.serve_call"), "s"),
        "recommend.serve_jobs": (cnt("recommend.serve_call", "jobs"), "count"),
        "recommend.serve_tasks": (cnt("recommend.serve_call", "tasks"), "count"),
        "plans.plan_ms": (sec("plans.plan") * 1000, "ms"),
    }
    for q in MIX_QUERIES:
        m[f"mix.{q}.latency_ms"] = (sec(f"mix.{q}") * 1000, "ms")
        m[f"mix.{q}.executor_ms"] = (cnt(f"mix.{q}", "executor_run_ms"), "ms")
        m[f"mix.{q}.shuffle_bytes"] = (cnt(f"mix.{q}", "shuffle_write_bytes"), "B")
        m[f"mix.{q}.tasks"] = (cnt(f"mix.{q}", "tasks"), "count")
        m[f"plans.num_shuffles.{q}"] = (getattr(wl, "shuffles", {}).get(q, 0), "count")
    m.update({
        "spark.busy_ratio": (tot.get("executor_run_ms", 0) / 1000 / (sum(w.lat) * cores), "ratio"),
        "spark.jobs_per_op": (tot.get("jobs", 0) / n, "count"),
        "spark.tasks_per_op": (tot.get("tasks", 0) / n, "count"),
        "spark.gc_ms": (tot.get("gc_ms", 0) / n, "ms"),
        "spark.spill_bytes": (tot.get("spill_bytes", 0) / n, "B"),
        "spark.failed_tasks": (tot.get("failed_tasks", 0), "count"),
        "host.peak_rss_mb": (peak, "MB"),
    })
    # Each op ran twice back to back; the pairs' differences cancel drift.
    extra = median([t - p for t, p in zip(w.lat, w.plain)])
    m["trace.overhead_ms"] = (extra * 1000, "ms")
    m["trace.overhead_ratio"] = (extra / median(w.plain) if w.plain else 0.0, "ratio")
    return m


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # Every JVM the run starts (Spark's launcher and the driver) keeps its
    # scratch files inside the checkout too.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        (os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    ).strip()
    # Spark's Python workers start from a fresh interpreter: they find the
    # package only through the environment, not this process's sys.path.
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    load_before = os.getloadavg()[0]
    try:
        return bench(args, work, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str, load_before: float) -> int:
    import pyspark

    import gen
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spark = start_session(work)
    try:
        session_s = process_age_s()
        tracer = Tracer(spark, enabled=bool(args.trace))
        inputs = f"{work}/inputs"
        sizes = gen.generate(args.seed, args.workload, inputs)
        wl = WORKLOADS[args.workload](spark, tracer, inputs, work, args.seed)
        tracer.phase = "setup"
        t0 = time.perf_counter()
        wl.setup()
        warm_s = time.perf_counter() - t0
        # Set-up ends here; the harness's own checks that follow are untimed.
        setup_s = process_age_s()
        t0 = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t0

        w = Window()
        warmup_s = 0.0
        ticks0 = cpu_ticks()
        if not args.untimed:
            t0 = time.perf_counter()
            warm_up(wl)
            warmup_s = time.perf_counter() - t0
            ticks0 = cpu_ticks()
            tracer.phase = "measure"
            w = run_window(wl, args.seconds, paired=bool(args.trace))
        ticks1 = cpu_ticks()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak = proc_status_mb(jvm_pid, "VmHWM") + proc_status_mb("self", "VmHWM")
        retained = retained_mb(spark)
        wl.late_checks()
        if args.trace and not args.untimed:
            metrics = per_layer(wl, tracer, session_s, w, peak)
            os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                HERE, ".work", "traces", f"{args.workload}-{args.seed}-{tracer.run_id}.jsonl"))
        else:
            metrics = end_to_end(setup_s, w, wl.cycle, sum(retained.values()))
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "jvm": spark._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "load1_before": load_before,
            "steal_share_in_window": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
            "busy_host_at_start": load_before > 0.5 * os.cpu_count(),
            "session_s": session_s,
            "peak_rss_mb": peak,
            "setup_s": setup_s,
            "warm_s": warm_s,
            "verify_s": verify_s,
            "warmup_s": warmup_s,
            "retained_mb": retained,
            "inputs": sizes,
            "op_ms": [round(x * 1000, 3) for x in w.lat],
            "problems": wl.problems[:20],
        }
    finally:
        stop_session(spark)
    record["load1_after"] = os.getloadavg()[0]
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": w.failed == 0 and not wl.problems,
        "attempted": max(w.attempted, 1),
        "failed": w.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
