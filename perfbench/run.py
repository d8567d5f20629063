"""Benchmark of the link-graph engine: one seeded workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout that holds the package. The run
generates its input from the seed, starts a Spark session on
``local[<cores>]``, warms up with full operations, then repeats the
workload's operation in a closed loop for ``--seconds`` and checks every
result against a single-process twin. Timed metrics are the lower
quartile of the run's operations, memory the median. The last line of
stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it records the run's context (cores, driver memory,
Spark version, seed, host steal) and every sample. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "neo4j_graph_algorithms_spark"
SETUP_REPS = 3        # input generation + load is repeated; setup_s takes the median
WARMUP_S = 14         # full operations run before the timed part until this has passed
OP_TIMEOUT_S = 90     # an operation still running after this is cancelled and failed
UNTRACED = "untraced"  # job group of the untraced operations of a traced run
# C1 only: with the optimising C2 compiler on, Spark's planner and scheduler
# code kept getting faster for minutes (an operation 20% faster after 55 s
# of operations than after 15 s), so a run's timings tracked how far the JIT
# had got. C1 compiles within the warm-up and then holds the code steady.
# Serial GC: G1 grows the heap when its pauses run long, so peak RSS
# followed the host's speed; the serial collector sizes the heap from the
# live data alone, and adds no GC threads to the four cores
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def _driver_memory_mb() -> int:
    """A quarter of physical memory, at most 1 GiB: the inputs are small."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(1024, total_kb // 4096)


def _lower_quartile(values) -> float:
    """First quartile of a run's per-operation times. The host's neighbours
    slow every operation they overlap, by up to 4x in wall and CPU time
    for tens of seconds; the lower quartile keeps the run's figure from
    the operations they left alone, while a change to the program moves
    every operation and so moves it too."""
    values = list(values)
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[0]


def _host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (``steal`` in
    ``/proc/stat``), summed over cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _start_session(work: str, cpus: int, mem_mb: int, event_log: bool):
    from neo4j_graph_algorithms_spark.session import build_session

    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep JVM temp files inside the checkout; no hsperfdata in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={work} {JVM_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(
        app_name="nga-perfbench", master=f"local[{cpus}]", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _checked_op(spark, wl, inp, work, tr):
    """One operation and its check: ``(counts, errors)``. An exception or
    a timeout (its jobs are cancelled) is an error."""
    from perfbench import trace

    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        with tr.span(trace.BENCH):
            counts, check = wl.op(spark, tr, inp, work)
            return counts, check()
    except Exception as e:  # a failed operation is counted, the run goes on
        return {}, [f"{type(e).__name__}: {str(e)[:300]}"]
    finally:
        timer.cancel()


def _settle(spark) -> None:
    """Between operations: drop cached frames and run a full GC in the JVM
    and in Python, so every operation starts from the same heap and the
    collector can hand unused heap back to the OS."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _timed_ops(spark, wl, inp, work, procs, seconds, tracer=None, traced_first=True):
    """Closed loop: run and check operations while the next one, as long
    as the last, would end within ``seconds``. With a tracer, operations
    alternate traced and untraced, at least one of each, the traced one first if
    ``traced_first``; untraced ones run under job group ``untraced``.
    Each sample holds the operation's wall time, CPU and peak RSS."""
    from perfbench import trace

    samples = []
    t_start = time.perf_counter()
    while True:
        traced = tracer is not None and (len(samples) % 2 == 0) == traced_first
        if traced:
            tr = tracer
            tr.install()
        else:
            tr = trace.NullTracer()
            if tracer is not None:
                spark.sparkContext.setJobGroup(UNTRACED, UNTRACED)
        procs.reset_peak_rss()
        c0, t0 = procs.cpu(), time.perf_counter()
        counts, errors = _checked_op(spark, wl, inp, work, tr)
        wall, cpu = time.perf_counter() - t0, procs.cpu() - c0
        rss = procs.peak_rss_mb()
        _settle(spark)
        if traced:
            tracer.uninstall()
        samples.append({"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss,
                        "traced": traced, "counts": counts, "errors": errors})
        # stop before an operation that would end past the window
        if time.perf_counter() - t_start + wall > seconds and (
                tracer is None or len(samples) >= 2):
            return samples


def _per_layer(tracer, traced, untraced, eventlog, since_ms, facts, session_start_s,
               failed_frac):
    """Per-operation means over the traced operations."""
    from perfbench import trace

    n = len(traced)
    folded, task_iv = trace.fold_event_log(eventlog, since_ms)
    out = {"session.start_s": session_start_s}
    for layer in trace.LAYERS:
        busy = tracer.self_s.get(layer, 0.0)
        covered = trace.covered_s(tracer.self_intervals.get(layer, []), task_iv.get(layer, []))
        out[f"{layer}.busy_s"] = busy / n
        out[f"{layer}.driver_s"] = (busy - covered) / n
        for m in trace.TASK_METRICS:
            out[f"{layer}.{m}"] = folded.get(layer, {}).get(m, 0.0) / n
        out[f"{layer}.python_cpu_s"] = tracer.python_cpu_s.get(layer, 0.0) / n

    def mean_count(key):
        vals = [s["counts"][key] for s in traced if key in s["counts"]]
        return sum(vals) / len(vals) if vals else 0.0

    c = tracer.counts
    wall = sum(s["wall_s"] for s in traced) / n
    out.update({
        "sources.link_extract.files": facts.get("sources.link_extract.files", 0),
        "sources.link_extract.input_mb": facts.get("sources.link_extract.input_mb", 0.0),
        "sources.link_extract.links": mean_count("sources.link_extract.links"),
        "graph.nodes": mean_count("graph.nodes"),
        "graph.edges": mean_count("graph.edges"),
        "operators.pagerank.supersteps": mean_count("operators.pagerank.supersteps"),
        "operators.pagerank.folds": mean_count("operators.pagerank.folds"),
        "operators.pagerank.push_s": mean_count("operators.pagerank.push_s"),
        "operators.pagerank.fold_s": mean_count("operators.pagerank.fold_s"),
        "operators.pagerank.fold_share": mean_count("operators.pagerank.fold_s") / wall,
        "operators.pagerank.edges_per_s": mean_count("operators.pagerank.edges_per_s"),
        "operators.wcc.rounds": c.get("operators.wcc.rounds", 0.0) / n,
        "operators.wcc.changed_frac":
            c.get("operators.wcc.changed", 0.0) / max(1.0, c.get("operators.wcc.node_rounds", 0.0)),
        "operators.label_propagation.iterations":
            mean_count("operators.label_propagation.iterations"),
        "operators.label_propagation.changed_frac":
            mean_count("operators.label_propagation.changed_frac"),
        "operators.triangles.triangles": mean_count("operators.triangles.triangles"),
        "plans.checkpointing.steps": c.get("plans.checkpointing.steps", 0.0) / n,
        "plans.checkpointing.durable_checkpoints":
            c.get("plans.checkpointing.durable_checkpoints", 0.0) / n,
        "plans.checkpointing.write_mb": c.get("plans.checkpointing.write_mb", 0.0) / n,
        "pipeline.dedup.pairs": mean_count("pipeline.dedup.pairs"),
        "pipeline.dedup.clusters": mean_count("pipeline.dedup.clusters"),
        "pipeline.dedup.planted_recall": mean_count("pipeline.dedup.planted_recall"),
        "bench.wall_s": wall,
        "bench.unattributed_s": tracer.self_s.get(trace.BENCH, 0.0) / n,
        "bench.trace_overhead_s":
            wall - sum(s["wall_s"] for s in untraced) / len(untraced),
        "bench.failed_frac": failed_frac,
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the package too: sys.path alone does
    # not reach them
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a forced full GC every 30 s would land inside timed operations
    os.environ["NGA_PERIODIC_GC"] = "30min"
    sys.path.insert(0, ROOT)

    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    # BENCHMARK.json names every metric a run prints, with its unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    cpus = len(os.sched_getaffinity(0))
    mem_mb = _driver_memory_mb()

    # ---- setup: session, input (several times), twins, warm-up
    t0 = time.perf_counter()
    spark = _start_session(work, cpus, mem_mb, event_log=bool(args.trace))
    session_start_s = time.perf_counter() - t0
    procs = trace.ProcTree(spark.sparkContext._gateway.proc.pid)
    in_dir = os.path.join(work, "input")
    gen_load_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        shutil.rmtree(in_dir, ignore_errors=True)
        os.makedirs(in_dir)
        inp = wl.generate(args.seed, in_dir)
        for path in inp.tables.values():
            spark.read.parquet(path).count()
        gen_load_s.append(time.perf_counter() - t0)
    wl.reference(spark, inp)
    t0 = time.perf_counter()
    # the first operation loads and compiles Spark's classes and takes about
    # twice as long as a warm one, and the next two are still 10-30% slower;
    # warm up for a fixed time, at least one operation
    warmup_errors, warmup_walls = [], []
    while not warmup_errors or time.perf_counter() - t0 < WARMUP_S:
        t1 = time.perf_counter()
        warmup_errors.append(_checked_op(spark, wl, inp, work, trace.NullTracer())[1])
        warmup_walls.append(time.perf_counter() - t1)
        _settle(spark)
    warmup_s = time.perf_counter() - t0
    setup_s = session_start_s + statistics.median(gen_load_s) + warmup_s

    # ---- timed part
    since_ms = time.time() * 1000
    steal0, t_timed = _host_steal_s(), time.perf_counter()
    tracer = trace.Tracer(spark, procs) if args.trace else None
    # which side of a traced/untraced pair runs first alternates with the
    # seed, so bench.trace_overhead_s is not an order effect
    everything = _timed_ops(spark, wl, inp, work, procs, args.seconds, tracer,
                            traced_first=args.seed % 2 == 0)
    traced = [s for s in everything if s["traced"]]
    untraced = [s for s in everything if not s["traced"]]
    timed_s = time.perf_counter() - t_timed
    steal_frac = (_host_steal_s() - steal0) / (cpus * timed_s)
    if tracer is not None:
        tracer.dump(os.path.join(work, "spans.json"))
    app_id = spark.sparkContext.applicationId
    spark_version = spark.version
    _stop_session(spark)

    walls = [s["wall_s"] for s in untraced]
    failed = sum(bool(s["errors"]) for s in everything) + sum(map(bool, warmup_errors))
    attempted = len(everything) + len(warmup_errors)
    if args.trace:
        logs = glob.glob(os.path.join(work, "eventlog", app_id + "*"))
        with open(logs[0]) as f:
            metrics = _per_layer(tracer, traced, untraced, f, since_ms,
                                 inp.facts, session_start_s, failed / attempted)
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": _lower_quartile(walls),
            "cpu_s": _lower_quartile(s["cpu_s"] for s in untraced),
            "peak_rss_mb": statistics.median(s["peak_rss_mb"] for s in untraced),
        }

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "driver_memory_mb": mem_mb, "spark_version": spark_version,
        "samples": len(walls), "wall_s_samples": walls,
        "cpu_s_samples": [s["cpu_s"] for s in untraced],
        "peak_rss_mb_samples": [s["peak_rss_mb"] for s in untraced],
        "setup": {"session_start_s": session_start_s, "gen_load_s": gen_load_s,
                  "warmup_s": warmup_s, "warmup_wall_s": warmup_walls},
        "timed_s": timed_s, "host_steal_frac": steal_frac,
        "failed_frac": failed / attempted,
        "errors": [e for errs in warmup_errors + [s["errors"] for s in everything]
                   for e in errs][:5],
        "counts": everything[-1]["counts"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
