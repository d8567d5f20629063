"""Per-layer tracing for the benchmark.

Three sources, all read from the benchmark's side (nothing inside the
package is changed):

- spans opened by the benchmark around each call into a layer, plus two
  runtime wrappers for calls the package makes itself
  (``IterationCache.step`` and ``operators.wcc.wcc``, which
  ``dup_clusters`` calls). A span sets the Spark job group to its layer,
  so every job the layer starts is tagged with it;
- ``/proc``: CPU of the Python worker processes Spark forks, sampled at
  every span boundary, and CPU and peak memory of the whole process tree;
- Spark's event log, folded by job group into per-layer task metrics.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "sources.link_extract",
    "graph",
    "operators.pagerank",
    "operators.wcc",
    "operators.label_propagation",
    "operators.triangles",
    "plans.checkpointing",
    "pipeline.dedup",
)
BENCH = "bench"  # the benchmark's own time inside an operation: read, check
TASK_METRICS = (
    "jobs", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s",
)
_TICK = os.sysconf("SC_CLK_TCK")
_MB = 2.0**20


# ---- /proc -------------------------------------------------------------------


def _stat_cpu(pid: int) -> float:
    """utime + stime + cutime + cstime of ``pid`` in seconds (0 if gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    return sum(int(x) for x in fields[11:15]) / _TICK


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcTree:
    """The bench process, the Spark JVM it launched, and the JVM's Python
    worker daemon with its forked workers."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self._daemon: int | None = None

    def _find_daemon(self) -> int | None:
        if self._daemon is not None and os.path.exists(f"/proc/{self._daemon}"):
            return self._daemon
        self._daemon = None
        for pid in _children(self.jvm):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        self._daemon = pid
                        break
            except OSError:
                pass
        return self._daemon

    def python_cpu(self) -> float:
        """CPU seconds of Spark's Python workers: the daemon (its reaped
        workers included) plus its live workers."""
        daemon = self._find_daemon()
        if daemon is None:
            return 0.0
        return _stat_cpu(daemon) + sum(_stat_cpu(w) for w in _children(daemon))

    def cpu(self) -> float:
        """CPU seconds of the bench process, the JVM and Python workers."""
        return _stat_cpu(os.getpid()) + _stat_cpu(self.jvm) + self.python_cpu()

    def reset_peak_rss(self) -> None:
        """Restart the peak-RSS count of the bench process and the JVM at
        their current RSS (``/proc/<pid>/clear_refs``)."""
        for pid in (os.getpid(), self.jvm):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Peak RSS (``VmHWM``) of the bench process plus the JVM since
        the last ``reset_peak_rss``."""
        return _hwm_mb(os.getpid()) + _hwm_mb(self.jvm)


# ---- spans --------------------------------------------------------------------


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, layer: str):
        yield


class Tracer:
    """Spans around layer calls. Time and Python-worker CPU between two
    span boundaries go to the innermost open span (its self time);
    outside every span they go nowhere."""

    def __init__(self, spark, procs: ProcTree):
        self.sc = spark.sparkContext
        self.procs = procs
        self.stack: list[str] = []
        self.spans: list[tuple] = []                # (layer, start, end, parent)
        self.self_s: dict = defaultdict(float)
        self.python_cpu_s: dict = defaultdict(float)
        self.self_intervals: dict = defaultdict(list)
        self.counts: dict = defaultdict(float)      # layer counters
        self._t = time.time()
        self._py = procs.python_cpu()
        self._patches: list[tuple] = []

    def _boundary(self) -> float:
        now, py = time.time(), self.procs.python_cpu()
        if self.stack:
            top = self.stack[-1]
            self.self_s[top] += now - self._t
            self.python_cpu_s[top] += py - self._py
            self.self_intervals[top].append((self._t, now))
        self._t, self._py = now, py
        return now

    @contextmanager
    def span(self, layer: str):
        if self.stack and self.stack[-1] == layer:
            yield  # re-entry into the same layer is one span
            return
        start = self._boundary()
        parent = self.stack[-1] if self.stack else None
        self.stack.append(layer)
        self.sc.setJobGroup(layer, layer)
        try:
            yield
        finally:
            end = self._boundary()
            self.stack.pop()
            self.spans.append((layer, start, end, parent))
            outer = self.stack[-1] if self.stack else BENCH
            self.sc.setJobGroup(outer, outer)

    def install(self) -> None:
        """Wrap the two layer calls the package makes internally."""
        from neo4j_graph_algorithms_spark.operators import wcc as wcc_mod
        from neo4j_graph_algorithms_spark.plans.checkpointing import IterationCache

        tracer = self
        step, wcc = IterationCache.step, wcc_mod.wcc

        def traced_step(cache, df, superstep, metrics=None, value_col=None):
            # a durable step writes this marker last; a step that leaves a
            # marker that was not there before wrote a checkpoint
            path = os.path.join(cache.checkpoint_dir or "", f"step_{superstep:06d}")
            marker = os.path.join(path, "_SUCCESS_META")
            had_marker = bool(cache.checkpoint_dir) and os.path.exists(marker)
            with tracer.span("plans.checkpointing"):
                out = step(cache, df, superstep, metrics, value_col)
                tracer.counts["plans.checkpointing.steps"] += 1
                if cache.checkpoint_dir and not had_marker and os.path.exists(marker):
                    tracer.counts["plans.checkpointing.durable_checkpoints"] += 1
                    tracer.counts["plans.checkpointing.write_mb"] += _dir_mb(path)
            return out

        def traced_wcc(graph, *args, **kwargs):
            with tracer.span("operators.wcc"):
                comp, stats = wcc(graph, *args, **kwargs)
            with tracer.span(BENCH):
                nodes = graph.node_count()
            rounds = stats["iterations"]
            changed = sum(h.get("changed", 0) for h in stats["history"])
            tracer.counts["operators.wcc.rounds"] += rounds
            tracer.counts["operators.wcc.changed"] += changed
            tracer.counts["operators.wcc.node_rounds"] += rounds * nodes
            return comp, stats

        self._patches = [(IterationCache, "step", step), (wcc_mod, "wcc", wcc)]
        IterationCache.step = traced_step
        wcc_mod.wcc = traced_wcc

    def uninstall(self) -> None:
        for owner, name, orig in self._patches:
            setattr(owner, name, orig)
        self._patches = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / _MB


# ---- event log -------------------------------------------------------------------


def fold_event_log(lines, since_ms: float = 0.0) -> tuple[dict, dict]:
    """Fold an uncompressed Spark event log into per-job-group totals.

    Only jobs submitted at or after ``since_ms`` count; a task counts for
    the group of the first job that listed its stage. Returns
    ``(metrics, task_intervals)``: ``metrics[group]`` holds
    ``TASK_METRICS``; ``task_intervals[group]`` is a list of
    ``(launch_s, finish_s)``.
    """
    metrics: dict = defaultdict(lambda: dict.fromkeys(TASK_METRICS, 0.0))
    intervals: dict = defaultdict(list)
    stage_group: dict = {}
    for line in lines:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            if ev.get("Submission Time", 0) < since_ms:
                continue
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or BENCH
            metrics[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            m = metrics[group]
            info = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            m["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / _MB
            rd = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / _MB
            wr = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            if info.get("Launch Time") and info.get("Finish Time"):
                intervals[group].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    return dict(metrics), dict(intervals)


def _union(intervals: list[tuple]) -> list[tuple]:
    out: list[list] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def covered_s(spans: list[tuple], tasks: list[tuple]) -> float:
    """Length of the part of ``spans`` during which some task ran."""
    busy, total, j = _union(tasks), 0.0, 0
    for a, b in _union(spans):
        while j < len(busy) and busy[j][1] <= a:
            j += 1
        k = j
        while k < len(busy) and busy[k][0] < b:
            total += min(b, busy[k][1]) - max(a, busy[k][0])
            k += 1
    return total
