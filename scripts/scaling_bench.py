"""North-rule scaling evidence: the same PageRank job at two
parallelism levels (the sandbox stand-in for N vs 4N executors — see
BASELINE.md), reporting throughput at both plus scaling efficiency
``(thr_hi / thr_lo) / (hi / lo)``.

Fairness controls:

- the physical plan is IDENTICAL at both levels — shuffle partitions
  and the edge-table partition count are pinned (default 32), so the
  low-parallelism level runs the same 32 tasks on fewer threads
  (exactly what removing executors from a cluster does); only the
  thread pool differs.
- each measurement runs in a fresh subprocess (fresh JVM — no shared
  executor state), levels ALTERNATING across `reps` repetitions so a
  slow phase of the shared VM can't bias one level.
- per run, the throughput estimator is the MEDIAN per-superstep rate
  over non-fold supersteps (fold/lineage-truncation steps do extra
  O(V·fuse) work by design and are tagged in stats history); per
  level, the reported number is the BEST median across reps — noise on
  this shared VM is strictly additive (documented >2x wall-clock
  variance on identical runs; no CPU steal, so the floor is the
  uncontended capability).
- the forced periodic full GC (`spark.cleaner.periodicGC.interval`) is
  raised to 30min in the children: a full collection of the 24g heap
  pauses O(seconds) and masquerades as superstep variance where steps
  are short.

Usage: python scripts/scaling_bench.py [n_files] [supersteps] [lo] [hi]
       [partitions] [reps] [kernel: pagerank|wcc]

The WCC path (round 5, second-kernel evidence for the north rule)
measures the min-label + pointer-jump fixpoint on the same synthetic
link graph: its per-superstep work is NON-uniform (the frontier
shrinks), so the summary adds per-step-index floor estimators —
whole-run and peak-step efficiency — which compare step i against
step i across the two parallelism levels.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

CHILD = r"""
import json, sys, time
cpus, n_files, supersteps, parts = (int(a) for a in sys.argv[1:5])
kernel = sys.argv[5] if len(sys.argv) > 5 else "pagerank"
from neo4j_graph_algorithms_spark.session import build_session
from neo4j_graph_algorithms_spark.graph import Graph
from neo4j_graph_algorithms_spark.sources.link_extract import synthetic_link_edges
spark = build_session(app_name=f"nga-scale-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=parts)
edges = synthetic_link_edges(spark, n_files)
g = Graph.from_edges(edges, weight="weight").cache()
n_edges = g.edge_count()
if kernel == "pagerank":
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
    pagerank(g, max_iterations=3, fuse=2, num_partitions=parts)  # warmup
    t0 = time.time()
    _r, stats = pagerank(g, max_iterations=supersteps, fuse=5, num_partitions=parts)
    dt = time.time() - t0
    step_seconds = [h["secs"] for h in stats["history"]]
    fold_steps = [h["superstep"] for h in stats["history"] if h["folded"]]
    iters = stats["iterations"]
elif kernel == "wcc":
    from neo4j_graph_algorithms_spark.operators.wcc import wcc
    # the synthetic chain+hub edge set has no reciprocal duplicates,
    # so the symmetric frame needs no distinct()
    wcc(g, max_iterations=2, assume_deduped=True, num_partitions=parts)  # warmup
    t0 = time.time()
    _c, stats = wcc(g, max_iterations=supersteps, assume_deduped=True,
                    num_partitions=parts)
    dt = time.time() - t0
    step_seconds = [h["secs"] for h in stats["history"]]
    fold_steps = []
    iters = stats["iterations"]
else:
    raise SystemExit(f"unknown kernel {kernel}")
plain = sorted(s for i, s in enumerate(step_seconds, start=1) if i not in set(fold_steps))
median = plain[len(plain) // 2]
print(json.dumps({"cpus": cpus, "kernel": kernel, "n_edges": n_edges,
                  "partitions": parts,
                  "supersteps": iters, "seconds": round(dt, 2),
                  "edges_per_sec_per_superstep": int(n_edges * iters / dt),
                  "edges_per_sec_per_superstep_median": int(n_edges / median),
                  "step_seconds": step_seconds,
                  "fold_steps": fold_steps}))
"""


def run_level(cpus: int, n_files: int, supersteps: int, parts: int, kernel: str) -> dict:
    env = {**os.environ, "NGA_PERIODIC_GC": os.environ.get("NGA_PERIODIC_GC", "30min")}
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(cpus), str(n_files), str(supersteps),
         str(parts), kernel],
        capture_output=True, text=True, check=True, cwd="/root/repo", env=env,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    supersteps = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    cpus_lo = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    cpus_hi = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    parts = int(sys.argv[5]) if len(sys.argv) > 5 else 32
    reps = int(sys.argv[6]) if len(sys.argv) > 6 else 3
    kernel = sys.argv[7] if len(sys.argv) > 7 else "pagerank"

    best_med: dict[int, int] = {}
    best_min: dict[int, float] = {}
    step_floors: dict[int, list[float]] = {}
    n_edges = 0
    for rep in range(reps):
        for cpus in (cpus_lo, cpus_hi):
            r = run_level(cpus, n_files, supersteps, parts, kernel)
            r["rep"] = rep
            print(json.dumps(r), flush=True)
            n_edges = r["n_edges"]
            best_med[cpus] = max(
                best_med.get(cpus, 0), r["edges_per_sec_per_superstep_median"]
            )
            folds = set(r["fold_steps"])
            plain = [
                s for i, s in enumerate(r["step_seconds"], start=1) if i not in folds
            ]
            mn = min(plain)
            best_min[cpus] = min(best_min.get(cpus, float("inf")), mn)
            # per-step-INDEX floors across reps: both levels run the
            # identical deterministic step sequence, so comparing step
            # i with step i is the fair estimator even when step work
            # is non-uniform (WCC's frontier shrinks per round)
            prev = step_floors.setdefault(cpus, list(plain))
            step_floors[cpus] = [min(a, b) for a, b in zip(prev, plain)]
    ratio = cpus_hi / cpus_lo
    eff_med = (best_med[cpus_hi] / best_med[cpus_lo]) / ratio
    thr_min = {c: int(n_edges / best_min[c]) for c in best_min}
    eff_min = (thr_min[cpus_hi] / thr_min[cpus_lo]) / ratio
    # whole-run (Σ per-index floors) and peak-step (the compute-bound
    # full-frontier superstep) efficiencies — the estimators that stay
    # meaningful for frontier kernels whose late steps are tiny and
    # latency-dominated
    sum_lo, sum_hi = sum(step_floors[cpus_lo]), sum(step_floors[cpus_hi])
    eff_sum = (sum_lo / sum_hi) / ratio
    peak_lo, peak_hi = max(step_floors[cpus_lo]), max(step_floors[cpus_hi])
    eff_peak = (peak_lo / peak_hi) / ratio
    print(json.dumps({
        "kernel": kernel,
        "n_files": n_files,
        "partitions": parts,
        "reps": reps,
        # estimators over non-fold supersteps across all reps:
        # - best-median: conservative (still noise-confounded on this
        #   shared VM: >2x between-run variance, zero CPU steal)
        # - fastest-step: the uncontended per-superstep capability —
        #   noise here is strictly additive, so the floor is the signal
        # - sum-of-index-floors / peak-step: the fair estimators for
        #   non-uniform frontier kernels (see step_floors comment)
        f"median_throughput_local{cpus_lo}": best_med[cpus_lo],
        f"median_throughput_local{cpus_hi}": best_med[cpus_hi],
        f"median_scaling_efficiency_{cpus_lo}_to_{cpus_hi}": round(eff_med, 3),
        f"fastest_step_throughput_local{cpus_lo}": thr_min[cpus_lo],
        f"fastest_step_throughput_local{cpus_hi}": thr_min[cpus_hi],
        f"fastest_step_scaling_efficiency_{cpus_lo}_to_{cpus_hi}": round(eff_min, 3),
        f"run_floor_seconds_local{cpus_lo}": round(sum_lo, 3),
        f"run_floor_seconds_local{cpus_hi}": round(sum_hi, 3),
        f"run_scaling_efficiency_{cpus_lo}_to_{cpus_hi}": round(eff_sum, 3),
        f"peak_step_seconds_local{cpus_lo}": round(peak_lo, 3),
        f"peak_step_seconds_local{cpus_hi}": round(peak_hi, 3),
        f"peak_step_scaling_efficiency_{cpus_lo}_to_{cpus_hi}": round(eff_peak, 3),
    }), flush=True)


if __name__ == "__main__":
    main()
