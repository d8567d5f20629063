"""Superstep checkpointing with per-partition lineage + convergence
metrics, and resumable iterative runs.

The reference's superstep barrier is a thread-pool rendezvous
(`impl/PageRank.java:344-374` — ComputeSteps re-submitted per iteration
with a single-threaded transpose between CALC and SYNC states). On
Spark, each superstep is a job; the two problems that appear at scale
are (a) unbounded lineage growth across tens of iterations and (b) no
restart point for a 100 TB run that dies at superstep 37. This module
solves both:

- `IterationCache` — persist-count-unpersist cadence with optional
  periodic truncation: either `localCheckpoint` (fast, lineage-only) or
  a durable parquet checkpoint directory (resumable; the sandbox
  stand-in for an Iceberg state table).
- Every durable checkpoint writes `meta.json` with the superstep
  number, convergence metric, and *per-partition* lineage metrics
  (rows + partition-local convergence) so a resumed run can verify its
  inputs before continuing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # classic py4j-backed sessions only; absent under Spark Connect
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover
    class Py4JError(Exception):
        pass


_SEVER_WARNED = False


class TerminatedError(RuntimeError):
    """Raised inside a kernel superstep loop when a run is cancelled
    cooperatively (ref `core/.../utils/TerminationFlag.java`, checked in
    every reference kernel loop, e.g. `TriangleCountQueue.java:131,139`)."""


_FLAGGED: set[str] = set()


def request_termination(job_group: str, spark: SparkSession | None = None) -> None:
    """Flag a named run for cooperative termination. If a live session
    is passed, in-flight Spark jobs of that group are cancelled too —
    the driver loop then raises `TerminatedError` at its next
    `check_termination` (within one superstep)."""
    _FLAGGED.add(job_group)
    if spark is not None:
        spark.sparkContext.cancelJobGroup(job_group)


def check_termination(spark: SparkSession, termination, step: int | None = None) -> None:
    """Cooperative-cancellation check, called once per superstep by
    every kernel driver loop.

    ``termination`` is any of:
    - None — no-op;
    - a callable ``() -> bool`` — terminate when it returns truthy;
    - a string — a run name flagged via `request_termination`, OR a
      filesystem path: creating that file from any process requests
      termination (the external kill switch for a long run).

    Also tags subsequent jobs with the group name so
    `cancelJobGroup(name)` can interrupt the in-flight superstep.
    Raises `TerminatedError`; with a durable `checkpoint_dir` the run
    stays resumable from its last checkpoint.
    """
    if termination is None:
        return
    if callable(termination):
        if termination():
            raise TerminatedError(f"run terminated cooperatively at step {step}")
        return
    spark.sparkContext.setJobGroup(termination, "nga superstep loop", True)
    if termination in _FLAGGED or (
        (os.sep in termination or "/" in termination) and os.path.exists(termination)
    ):
        raise TerminatedError(
            f"run {termination!r} terminated cooperatively at step {step}"
        )


def truncate_plan(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + SEVER the checkpoint's origin-plan link —
    the required materialization primitive for every iterative kernel
    state frame.

    `Dataset.localCheckpoint` truncates the RDD lineage, but the
    returned DataFrame's `LogicalRDD` keeps a reference to the ORIGIN
    logical plan for stats/constraint propagation. In a superstep loop
    whose state references the previous state twice (any frontier/
    accumulator "diamond": `nxt = f(state, frontier)` then
    `state' = g(state, nxt)`), those origin references form a DAG that
    doubles every iteration — and Catalyst's size-estimation visitor
    (`SizeInBytesOnlyStatsPlanVisitor`, run while planning every join)
    walks it WITHOUT memoization across plan copies. Measured on this
    sandbox (Spark 4.1, 64k-row state, constant 2-stage/16-task jobs):
    per-step wall time is flat to ~depth 16, then ×2.5 per step —
    0.1 s at depth 15, 33 s at depth 23, driver-bound in
    `LogicalPlanStats.stats` (thread dumps) — i.e., every BFS-family
    kernel hangs on any graph of diameter ≳22 REGARDLESS of data size.

    Rebuilding the frame from the checkpointed RDD
    (`internalCreateDataFrame` — `private[sql]`, hence public in
    bytecode and callable through py4j) drops the origin reference:
    the plan becomes a pure LogicalRDD leaf and per-step cost is flat
    through arbitrary depth (re-measured flat to depth 26+). Trade-off:
    the severed LogicalRDD no longer advertises outputPartitioning, so
    a downstream join keyed on the frame's partitioning re-shuffles it.
    That is the right trade for O(V)-ish per-round STATE frames (they
    shuffle per round by design; the stationary O(E) edge caches use
    `persist()` and are untouched). Falls back to the plain checkpoint
    on non-classic sessions (e.g. Spark Connect) or API drift.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jspark = ck.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, ck.sparkSession)
    except (AttributeError, TypeError, Py4JError):
        # non-classic session (Spark Connect: no _jdf) or Scala API
        # drift. The plain-checkpoint fallback REINSTATES the
        # exponential stats-visitor walk documented above — any
        # BFS-family kernel will hang at diameter ≳22 — so a silent
        # environment change must not pass unnoticed.
        global _SEVER_WARNED
        if not _SEVER_WARNED:
            _SEVER_WARNED = True
            warnings.warn(
                "truncate_plan: internalCreateDataFrame unavailable "
                "(Spark Connect or API drift) — falling back to plain "
                "localCheckpoint. Iterative kernels on graphs of "
                "diameter ≳22 may hang in driver-side stats estimation "
                "(see plans/checkpointing.truncate_plan).",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


@contextmanager
def adaptive_disabled(spark: SparkSession):
    """Disable AQE for the duration of a superstep loop.

    AQE re-plans every materialization against fresh runtime stats —
    valuable for one-shot queries, pure overhead for an iterative loop
    whose per-superstep shapes are identical and already sized
    (measured ~40% per-superstep win on the PageRank loop). Skew is
    handled structurally in the kernels (salting / two-phase agg /
    degree orientation), not by runtime re-planning."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def partition_metrics(df: DataFrame, value_col: str | None = None) -> list[dict]:
    """Per-partition lineage metrics: row count (+ max of a convergence
    column if given), keyed by physical partition id."""
    aggs = [F.count("*").alias("rows")]
    if value_col is not None:
        aggs.append(F.max(value_col).alias("max_" + value_col))
    rows = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(*aggs)
        .collect()
    )
    return [r.asDict() for r in sorted(rows, key=lambda r: r["_pid"])]


class IterationCache:
    """persist → materialize → unpersist-previous, with optional durable
    checkpoints every `checkpoint_every` steps."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self._prev: DataFrame | None = None
        self.history: list[dict] = []
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)

    def step(
        self, df: DataFrame, superstep: int, metrics: dict | None = None, value_col: str | None = None
    ) -> DataFrame:
        """Materialize this superstep's state; returns the DataFrame to
        use for the next iteration (re-read from checkpoint when a
        durable snapshot was taken, truncating lineage)."""
        durable = self.checkpoint_dir is not None and superstep % self.checkpoint_every == 0
        meta = {"superstep": superstep, "ts": time.time(), **(metrics or {})}
        if durable:
            path = os.path.join(self.checkpoint_dir, f"step_{superstep:06d}")
            df.write.mode("overwrite").parquet(os.path.join(path, "state"))
            out = self.spark.read.parquet(os.path.join(path, "state"))
            meta["partitions"] = partition_metrics(out, value_col)
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(meta, f)
            # marker file written last => checkpoint is complete
            with open(os.path.join(path, "_SUCCESS_META"), "w") as f:
                f.write("ok")
            self._gc(keep=2)
        else:
            # eager checkpoint EVERY step, with the origin-plan link
            # severed (`truncate_plan`): materializes, truncates RDD
            # lineage, AND truncates the LOGICAL origin chain. A plain
            # persist() keeps the full logical tree (measured: per-step
            # cost degrades 0.5s → tens of seconds within 8 iterations);
            # a plain localCheckpoint() keeps the origin-plan reference,
            # whose stats walk turns exponential past ~16 steps on any
            # state with a frontier/accumulator diamond (see
            # truncate_plan's docstring for the measured blowup).
            out = truncate_plan(df)
        if self._prev is not None:
            try:
                self._prev.unpersist()
            except Exception:
                pass
        self._prev = out if not durable else None
        self.history.append(meta)
        return out

    def latest(self) -> tuple[int, DataFrame, dict] | None:
        """Most recent complete durable checkpoint, or None."""
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        steps = sorted(
            d
            for d in os.listdir(self.checkpoint_dir)
            if d.startswith("step_")
            and os.path.exists(os.path.join(self.checkpoint_dir, d, "_SUCCESS_META"))
        )
        if not steps:
            return None
        path = os.path.join(self.checkpoint_dir, steps[-1])
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        df = self.spark.read.parquet(os.path.join(path, "state"))
        return int(meta["superstep"]), df, meta

    def _gc(self, keep: int) -> None:
        steps = sorted(
            d for d in os.listdir(self.checkpoint_dir) if d.startswith("step_")
        )
        for d in steps[:-keep]:
            shutil.rmtree(os.path.join(self.checkpoint_dir, d), ignore_errors=True)

    def close(self) -> None:
        if self._prev is not None:
            try:
                self._prev.unpersist()
            except Exception:
                pass
            self._prev = None
