"""Per-round benchmark harness — noise-proof protocol.

This sandbox VM has documented >2x run-to-run wall-clock variance on
identical Spark jobs (BASELINE.md, memory notes), so a single-run
headline number is uninterpretable: round 2's bench looked ~1.8x slower
than round 1 on queries whose code had not changed.  The fix is the
same protocol the scaling harness uses:

- each headline query runs ``REPS`` times in ALTERNATING order (rep 1
  of every query, then rep 2 of every query, ...) so a noise phase
  lands on one rep of each query instead of every rep of one query;
- the cache is cleared between reps so every rep measures the same
  cold-cache work;
- per query we report the FLOOR (noise on this VM is strictly additive
  — there is no mechanism that makes a run faster than the code allows)
  and the MEDIAN, and grade on the floor;
- a per-query regression verdict against the most recent prior round
  (``BENCH_r0*.json``) that recorded the query at the same scale factor
  is embedded in the detail record, naming its source file (the r1/r2
  records are single runs).

Runs the headline queries (the ``headline=True`` entries of
``__spark_entry__.QUERIES``) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` plus a PageRank superstep-throughput
measurement on a deterministic synthetic link graph sized to the scale
factor, then prints ONE JSON line::

    {"metric": "total_headline_seconds", "value": N, "unit": "sec",
     "queries": {...floors...}, "reps": R, "sf": 0.1,
     "regressions": n, "pagerank": {"n_edges": E, "supersteps": K,
     "eps_run": Z, "eps_floor": X, "eps_median": Y},
     "detail": "BENCH_detail_local.json"}

``eps_run`` is the PageRank headline: edges × supersteps over the whole
``pagerank()`` call, set-up and folds included. ``eps_floor`` and
``eps_median`` are push-only: edges over the fastest and the median
non-fold superstep.

The stdout line is deliberately COMPACT (the driver's tail capture is
~2000 chars — r4's all-reps line overflowed it and the official record
lost its floor map); the full record — per-rep samples, medians,
per-query regression adjudication vs the most recent prior round, and
the pagerank step history — is written to ``BENCH_detail_local.json``
next to this file.

The north-rule scaling evidence (same job at two parallelism levels,
throughput + efficiency) lives in ``scripts/scaling_bench.py`` and is
recorded in BASELINE.md — it is too slow to run per-round here.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import __spark_entry__ as entry


def _force(df) -> int:
    """Fully evaluate a DataFrame (noop sink defeats count()'s column
    pruning, so every result column is actually computed)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def pagerank_throughput(spark, n_files: int, supersteps: int = 12) -> dict:
    from neo4j_graph_algorithms_spark.graph import Graph
    from neo4j_graph_algorithms_spark.operators.pagerank import pagerank
    from neo4j_graph_algorithms_spark.sources.link_extract import synthetic_link_edges

    edges = synthetic_link_edges(spark, n_files)
    g = Graph.from_edges(edges, weight="weight").cache()
    n_edges = g.edge_count()
    # warmup: materializes caches + JIT
    pagerank(g, max_iterations=2)
    t0 = time.time()
    _ranks, stats = pagerank(g, max_iterations=supersteps)
    dt = time.time() - t0
    g.release()
    # NON-FOLD supersteps only: fold/lineage-truncation steps do extra
    # O(V*fuse) work by design and are tagged in stats history
    step_secs = sorted(h["secs"] for h in stats["history"] if not h["folded"])
    median = step_secs[len(step_secs) // 2]
    floor = step_secs[0]
    return {
        "n_files": n_files,
        "n_edges": n_edges,
        "supersteps": stats["iterations"],
        "seconds": round(dt, 2),
        "edges_per_sec_per_superstep": int(n_edges * stats["iterations"] / dt),
        # median/floor are robust against this sandbox's noisy-neighbor
        # spikes (identical runs vary >2x wall clock; per-superstep
        # floor is the stable estimator) — all three are reported
        "edges_per_sec_per_superstep_median": int(n_edges / median),
        "edges_per_sec_per_superstep_floor": int(n_edges / floor),
        "step_seconds": [h["secs"] for h in stats["history"]],
    }


# a floor-tracked query per kernel family and pipeline plane, so a perf
# regression anywhere is visible round over round
HEADLINE = [q.name for q in entry.QUERIES if q.headline]

# floor-vs-prior-round ratio above which we call a regression; the r1/r2
# records are single noisy runs, so the band is deliberately wide
REGRESSION_RATIO = 1.25


def _verdict(ratio: float) -> str:
    if ratio < 0.9:
        return "faster"
    if ratio <= REGRESSION_RATIO:
        return "par"
    return "regression"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    # quiet the forced periodic full GC for the benchmark process: its
    # multi-second pause on a 24g heap lands inside short supersteps and
    # reads as variance (see BASELINE.md); the process exits right after
    os.environ.setdefault("NGA_PERIODIC_GC", "30min")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from neo4j_graph_algorithms_spark.session import build_session

    spark = build_session(app_name="nga-bench", master=f"local[{cpus}]")

    here = os.path.dirname(os.path.abspath(__file__))
    qs = entry.queries()
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for rep in range(reps):
        for name in HEADLINE:
            spark.catalog.clearCache()  # every rep measures cold-cache work
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            samples[name].append(round(time.time() - t0, 2))
    spark.catalog.clearCache()

    floors = {n: min(v) for n, v in samples.items()}
    medians = {n: round(statistics.median(v), 2) for n, v in samples.items()}

    # regression adjudication vs the MOST RECENT prior round that
    # recorded each query (r3+ records are floor-graded like this one;
    # r1/r2 were single runs — the source file is named per query so
    # the verdict's evidence quality is visible)
    baseline: dict[str, tuple[float, str]] = {}
    import glob

    for path in sorted(glob.glob(os.path.join(here, "BENCH_r0*.json"))):
        try:
            with open(path) as fh:
                # r4's record has "parsed": null (the overflow this
                # round's compact line fixes) — treat as absent
                parsed = json.load(fh).get("parsed") or {}
        except (OSError, json.JSONDecodeError):
            continue
        if parsed.get("sf") != sf:  # only comparable at the same scale
            continue
        for name, secs in parsed.get("queries", {}).items():
            if secs and secs > 0:
                baseline[name] = (secs, os.path.basename(path))
    regression: dict[str, dict] = {}
    for name, floor in floors.items():
        if name in baseline:
            base, src = baseline[name]
            ratio = floor / base
            regression[name] = {
                "baseline": base,
                "baseline_source": src,
                "floor": floor,
                "ratio": round(ratio, 2),
                "verdict": _verdict(ratio),
            }

    # kernel throughput on a synthetic graph sized to the scale factor
    # (sf0.1 → 2M files / ~6M edges)
    pr = pagerank_throughput(spark, n_files=max(100_000, int(20_000_000 * sf)))

    # FULL record (all reps, per-query regression adjudication, pagerank
    # step history) goes to a side file; the stdout line must stay
    # COMPACT: the driver's tail capture is ~2000 chars, and r4's
    # all-reps line overflowed it, leaving BENCH_r04.json unparseable
    # (VERDICT r4 "What's wrong" #1).
    full = {
        "metric": "total_headline_seconds",
        "value": round(sum(floors.values()), 2),
        "unit": "sec",
        "queries": floors,
        "queries_median": medians,
        "queries_all_reps": samples,
        "reps": reps,
        "protocol": "alternating reps, cold cache per rep, floor-graded",
        "regression_vs_prior": regression,
        "sf": sf,
        "pagerank": pr,
    }
    detail_path = os.path.join(here, "BENCH_detail_local.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError:
        detail_path = None

    n_reg = sum(1 for r in regression.values() if r["verdict"] == "regression")
    compact = {
        "metric": "total_headline_seconds",
        "value": round(sum(floors.values()), 2),
        "unit": "sec",
        "queries": floors,
        "reps": reps,
        "sf": sf,
        "regressions": n_reg,
        "pagerank": {
            "n_edges": pr["n_edges"],
            "supersteps": pr["supersteps"],
            "eps_run": pr["edges_per_sec_per_superstep"],
            "eps_floor": pr["edges_per_sec_per_superstep_floor"],
            "eps_median": pr["edges_per_sec_per_superstep_median"],
        },
        "detail": "BENCH_detail_local.json" if detail_path else None,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
