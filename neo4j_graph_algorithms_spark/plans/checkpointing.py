"""Superstep checkpointing with per-partition lineage + convergence
metrics, and resumable iterative runs.

The reference's superstep barrier is a thread-pool rendezvous
(`impl/PageRank.java:344-374` — ComputeSteps re-submitted per iteration
with a single-threaded transpose between CALC and SYNC states). On
Spark, each superstep is a job; the two problems that appear at scale
are (a) unbounded lineage growth across tens of iterations and (b) no
restart point for a 100 TB run that dies at superstep 37. This module
solves both:

- `IterationCache` — one materialization per superstep: an eager,
  origin-severed `localCheckpoint` (`truncate_plan`) whose blocks are
  released once the next state exists, or on the durable cadence a
  parquet snapshot (resumable; the sandbox stand-in for an Iceberg
  state table). The initial state (superstep 0) is never written
  durably: a resume that finds no snapshot recomputes the
  deterministic init.
- Every durable checkpoint writes `meta.json` with the superstep
  number, kernel metrics, and *per-partition* lineage metrics (rows +
  partition-local convergence); a resume re-counts the re-read state
  and refuses a snapshot whose row count does not match.
- `SuperstepDriver` — the loop of every driver kernel (PageRank, WCC,
  label propagation, k-core, HyperANF and random walks, which resume;
  Louvain, shortest paths, delta-stepping and MST, which do not),
  written once. Its `persist` caches and counts a kernel's stationary
  tables (the edge frames), which `run` unpersists on every exit path
  and `setup` unpersists when a set-up job before `run` raises;
  a cancelled run also releases its local checkpoints (`releasing`,
  which the loops outside the driver use too).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import warnings
from contextlib import contextmanager
from typing import Any, Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # classic py4j-backed sessions only; absent under Spark Connect
    from py4j.protocol import Py4JError
except ImportError:  # pragma: no cover
    class Py4JError(Exception):
        pass


_SEVER_WARNED = False
_RELEASE_QUIET = False  # the unpersist warning's logger is at ERROR


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
    return _sever(df.localCheckpoint(eager=True))


def _sever(ck: DataFrame) -> DataFrame:
    """The origin-plan cut of `truncate_plan`, applied to an eager
    localCheckpoint `ck` (kept by the caller to `_release` it later)."""
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


def _release(ck: DataFrame) -> None:
    """Drop the blocks of a localCheckpoint. `DataFrame.unpersist`
    is a no-op on it: the checkpointed RDD behind the frame's LogicalRDD
    was never registered with the CacheManager, so without this its
    blocks stay until driver GC."""
    try:
        _drop(ck._jdf.queryExecution().analyzed().rdd())
    except (AttributeError, TypeError, Py4JError):  # non-classic session
        ck.unpersist()


def _drop(rdd) -> None:
    """Unpersist a JVM RDD, blocking, so the memory is free before the
    next superstep. Spark warns on each such call on a local checkpoint
    that it "cannot be recomputed after unpersisting", the point here:
    the first call raises that warning's logger (only it) to ERROR."""
    global _RELEASE_QUIET
    if not _RELEASE_QUIET:
        log4j = SparkContext._jvm.org.apache.logging.log4j
        log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD", log4j.Level.ERROR
        )
        _RELEASE_QUIET = True
    rdd.unpersist(True)


@contextmanager
def releasing(spark: SparkSession, tables: list[DataFrame]):
    """Unpersist `tables` (a loop's cached edge frames) when the block
    exits. When it raises (a cancelled run), also release every local
    checkpoint made inside it: no result reads the per-round states of
    a loop that did not finish. Like `adaptive_disabled`, this assumes
    one loop runs in a session at a time."""
    jsc = spark.sparkContext._jsc
    # RDD ids only grow: every RDD made inside the block has a larger id
    # (one call; copying the persistent-RDD id set costs ~12 ms)
    mark = jsc.emptyRDD().id()
    try:
        yield
    except BaseException:
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid > mark and rdd.rdd().isLocallyCheckpointed():
                _drop(rdd)
        raise
    finally:
        for df in tables:
            df.unpersist()


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
    """Materialize each superstep's state; durable parquet snapshots
    every `checkpoint_every` steps, in-memory truncation otherwise."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self._held: DataFrame | None = None  # checkpoint behind the live in-memory state
        self.last_durable: int | None = None
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)

    def durable(self, superstep: int) -> bool:
        """Whether `superstep` falls on the durable cadence. Never the
        initial state: superstep 0 is recomputed, not resumed."""
        return (
            self.checkpoint_dir is not None
            and superstep > 0
            and superstep % self.checkpoint_every == 0
        )

    def step(
        self, df: DataFrame, superstep: int, metrics: dict | None = None, value_col: str | None = None
    ) -> DataFrame:
        """Materialize this superstep's state; returns the DataFrame to
        use for the next iteration (re-read from checkpoint when a
        durable snapshot was taken, truncating lineage). The previous
        in-memory state is released, so it must not be read again."""
        held = None
        if self.durable(superstep):
            path = os.path.join(self.checkpoint_dir, f"step_{superstep:06d}")
            df.write.mode("overwrite").parquet(os.path.join(path, "state"))
            out = self.spark.read.parquet(os.path.join(path, "state"))
            meta = {"superstep": superstep, "ts": time.time(), **(metrics or {})}
            meta["partitions"] = partition_metrics(out, value_col)
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump(meta, f)
            # marker file written last => checkpoint is complete
            with open(os.path.join(path, "_SUCCESS_META"), "w") as f:
                f.write("ok")
            self._gc(keep=2)
            self.last_durable = superstep
        else:
            # `truncate_plan`, keeping the checkpoint to release: a plain
            # persist() keeps the full logical tree (measured: per-step
            # cost degrades 0.5s → tens of seconds within 8 iterations)
            held = df.localCheckpoint(eager=True)
            out = _sever(held)
        self.release()
        self._held = held
        return out

    def release(self) -> None:
        """Drop the blocks of the live in-memory state; the frame the
        last `step` returned must not be read again."""
        if self._held is not None:
            _release(self._held)
            self._held = None

    def latest(self) -> tuple[int, DataFrame, dict] | None:
        """Most recent complete durable checkpoint, or None. Raises
        `RuntimeError` when the re-read state's row count differs from
        the per-partition rows its meta.json recorded (a lost or
        truncated part file)."""
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
        want = sum(p["rows"] for p in meta["partitions"])
        got = df.count()
        if got != want:
            raise RuntimeError(
                f"checkpoint {path} is damaged: its state has {got} rows, "
                f"meta.json records {want}"
            )
        return int(meta["superstep"]), df, meta

    def _gc(self, keep: int) -> None:
        steps = sorted(
            d for d in os.listdir(self.checkpoint_dir) if d.startswith("step_")
        )
        for d in steps[:-keep]:
            shutil.rmtree(os.path.join(self.checkpoint_dir, d), ignore_errors=True)


class SuperstepDriver:
    """The superstep loop of every driver kernel.

    Create it when the kernel starts (it also times the whole call,
    `millis`), register the kernel's stationary tables with `persist`
    (any other set-up job runs under `setup`), then hand `run` the
    kernel's own parts: init state, restore-from-snapshot, and step
    body with its convergence test.
    The driver owns the `IterationCache` (`cache`, which the step body
    materializes through), resume from the latest snapshot, AQE off,
    one `check_termination` per superstep (the reference checks one
    `TerminationFlag` in every kernel loop), wall timing, the release
    of the registered tables when `run` exits (`releasing`: also the
    loop's local checkpoints when it raises, `TerminatedError`
    included), and the per-superstep record appended to `history`::

        {"superstep": n, "secs": wall seconds, "durable": wrote a snapshot,
         **the fields the step body returned}

    After `run`, `ran` is the last superstep reached and `stopped` says
    whether the step body ended the loop before `last`.
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
        termination=None,
    ):
        self.spark = spark
        self.termination = termination
        self.cache = IterationCache(spark, checkpoint_dir, checkpoint_every)
        self.history: list[dict] = []
        self.ran = 0
        self.stopped = False
        self._tables: list[DataFrame] = []
        self._t0 = time.time()

    def persist(self, df: DataFrame, count: bool = True) -> DataFrame:
        """`df.persist()`, materialized by a `count()` unless `count` is
        false, and unpersisted when `run` exits: for the tables every
        superstep reads (edge frames), which the kernel must not read
        after `run` returns. The count runs under `setup`."""
        df = df.persist()
        self._tables.append(df)
        if count:
            with self.setup():
                df.count()
        return df

    @contextmanager
    def setup(self):
        """Unpersist every table registered so far if the block raises:
        for a kernel's set-up jobs between `persist` and `run`."""
        try:
            yield
        except BaseException:
            for t in self._tables:
                t.unpersist()
            raise

    def run(
        self,
        last: int,
        init: Callable[[], Any],
        restore: Callable[[DataFrame, dict], Any] | None,
        step: Callable[[int, Any], tuple[Any, dict, bool]],
        resume: bool = False,
    ) -> Any:
        """Run supersteps 1..`last` and return the final kernel state.

        - ``init()``: the initial state (superstep 0).
        - ``restore(df, meta)``: the state rebuilt from the latest
          durable snapshot's frame and meta.json; with ``resume`` and a
          snapshot present it replaces ``init`` and the loop starts at
          the snapshot's superstep + 1.
        - ``step(n, state) -> (state, fields, stop)``: superstep ``n``;
          ``fields`` join its history record, a truthy ``stop`` ends the
          loop.
        """
        with releasing(self.spark, self._tables):
            latest = self.cache.latest() if resume else None
            if latest is None:
                first, state = 1, init()
            else:
                done, df, meta = latest
                first, state = done + 1, restore(df, meta)
            self.ran = first - 1
            with adaptive_disabled(self.spark):
                for n in range(first, last + 1):
                    check_termination(self.spark, self.termination, n)
                    t = time.time()
                    state, fields, stop = step(n, state)
                    self.history.append({
                        "superstep": n,
                        "secs": round(time.time() - t, 2),
                        "durable": self.cache.last_durable == n,
                        **fields,
                    })
                    self.ran = n
                    if stop:
                        self.stopped = True
                        break
            return state

    def millis(self) -> int:
        """Milliseconds since the driver was created."""
        return int((time.time() - self._t0) * 1000)
