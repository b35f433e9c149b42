#!/usr/bin/env python
"""Catalog benchmark, and the one timing loop for catalog queries.

Usage: python bench.py [QUERY ...]

Runs every catalog query (or the named ones) at $SPARK_GRAFT_SF_DIR
(default CANARY_SF_DIR, the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS]: one untimed warm pass, then three timed
passes, min per query. Prints ONE short JSON
line on stdout: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {slowest first: sec}, "n_queries": ..., "sf": ...,
"queries_file": "bench_results.json"}; the full per-query record
(every pass, split into build and exec) goes to bench_results.json
next to this script. One progress line per timed query goes to stderr.
Exits 1 when a query raises or runs over $SPARK_GRAFT_BUDGET_SEC.

README "bench.py" documents the protocol, the result fields and the
history of the constants below.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amsterdam_map_data_wrangling_spark.plans.dedup import (  # noqa: E402
    clear_graph_memo,
)
from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES  # noqa: E402
from amsterdam_map_data_wrangling_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)

#: Host-drift canary: stable, ~1 s, plan-diverse queries that share no
#: memo with the catalog, timed at each pass start and end.
CANARY_QUERIES = (
    "robust_z_by_priority",
    "dedup_simhash_bands",
    "winsorize_price_stats",
)
#: Quiet-window canary medians at sf0.1 (r18 optimization-pass pins).
CANARY_BASELINE_SEC = {
    "robust_z_by_priority": 0.9785,
    "dedup_simhash_bands": 0.7214,
    "winsorize_price_stats": 0.7856,
}
#: The directory the pins were measured on; the canary always runs here.
CANARY_SF_DIR = "/root/testdata/sf0.1"

#: Timed passes per close; the min per query is the steady state.
PASSES = 3
#: A close noisier than this re-runs once and the quieter close is kept.
NOISE_GATE = 1.15
MAX_CLOSE_ATTEMPTS = 2
#: stdout line cap: the harness reading it keeps only the last ~2 KB.
LINE_BYTE_BUDGET = 1800


def _median(xs):
    return sorted(xs)[len(xs) // 2]


def run_query(spark, spec, sf_dir: str) -> dict:
    """Time one run of ``spec``: ``build(spark, sf_dir)``, then a noop
    sink. Returns seconds for ``total``, ``build`` and ``exec``, the
    Spark jobs that ran inside ``build`` and the classes Janino compiled.
    """
    sc = spark.sparkContext
    group = f"bench-build-{uuid.uuid4().hex}"
    # a few operators persist() self-join hubs; drop those cache entries
    # so every run re-executes its full lineage
    spark.catalog.clearCache()
    c0 = codegen_compiles(spark)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        t0 = time.perf_counter()
        df = spec.build(spark, sf_dir)
        t1 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # noop sink: materializes every column of every row (a bare .count()
    # would let Catalyst prune the payload)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    compiles = codegen_compiles(spark) - c0
    # job events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return {
        "total": round(t2 - t0, 4),
        "build": round(t1 - t0, 4),
        "exec": round(t2 - t1, 4),
        "build_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "compiles": compiles,
    }


def run_pass(spark, sf_dir: str, specs: dict, label: str):
    """Run each of ``specs`` ({name: spec}) once, in order, after a
    shared-memo reset. Returns (runs, errors): the run_query record per
    name, and "Type: message" per query that raised. A progress line per
    query goes to stderr, so when the process dies the query after the
    last line is the one that killed it.
    """
    # the session-shared relations (plans/dedup._GRAPH_MEMO) reset per
    # pass, not per query: each pass pays their builds once, and their
    # consumers time the shared read they run in a composed pipeline
    clear_graph_memo()

    runs: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name, spec in specs.items():
        try:
            run = run_query(spark, spec, sf_dir)
        except Exception as exc:  # recorded; the other queries still run
            print(f"{label} ERROR {name}", file=sys.stderr, flush=True)
            traceback.print_exc()
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        print(
            f"{label} {run['total']:8.3f}s (build {run['build']:.3f}s, "
            f"{run['build_jobs']} jobs) {name}",
            file=sys.stderr,
            flush=True,
        )
        runs[name] = run
    return runs, errors


def run_canary(spark, samples: dict | None = None) -> dict[str, list[float]]:
    """Append one timed run of each canary query at CANARY_SF_DIR to
    ``samples`` ({name: [sec, ...]}) and return it."""
    samples = {} if samples is None else samples
    for name in CANARY_QUERIES:
        run = run_query(spark, QUERIES[name], CANARY_SF_DIR)
        samples.setdefault(name, []).append(run["total"])
    return samples


def canary_ratio(samples: dict[str, list[float]]) -> float | None:
    """Median over the canary queries of (median sample / pin): ~1.0 on
    a box at baseline speed, None without samples."""
    if not samples:
        return None
    ratios = [
        _median(samples[n]) / CANARY_BASELINE_SEC[n] for n in CANARY_QUERIES
    ]
    return round(_median(ratios), 3)


def timed_passes(spark, sf_dir: str, specs: dict, canary: bool = True):
    """PASSES timed passes over ``specs``, canary-bracketed at each pass
    start and end when ``canary``. Returns (runs, errors, canary
    samples, noise): runs[name] lists the run_query record of each pass
    the query completed, and noise is the median over queries of
    median/min time (~1.0-1.1 on a quiet box)."""
    runs: dict[str, list[dict]] = {name: [] for name in specs}
    errors: dict[str, str] = {}
    samples: dict[str, list[float]] = {}
    for i in range(PASSES):
        if canary:
            run_canary(spark, samples)
        pass_runs, pass_errors = run_pass(
            spark, sf_dir, specs, f"pass {i + 1}/{PASSES}"
        )
        for name, run in pass_runs.items():
            runs[name].append(run)
        errors.update(pass_errors)
        if canary:
            run_canary(spark, samples)
    ratios = [
        _median(ts) / min(ts)
        for ts in ([r["total"] for r in rs] for rs in runs.values())
        if ts and min(ts) > 0
    ]
    noise = round(_median(ratios), 3) if ratios else 1.0
    return runs, errors, samples, noise


def select_queries(names: list[str]) -> dict:
    """{name: spec} for ``names`` (all queries when empty); exits
    non-zero listing any name that is not in the catalog."""
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {' '.join(unknown)}")
    return {n: QUERIES[n] for n in dict.fromkeys(names or QUERIES)}


def main() -> None:
    specs = select_queries(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", CANARY_SF_DIR)
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = m.group(1) if m else os.path.basename(sf_dir.rstrip("/"))
    budget = float(os.environ.get("SPARK_GRAFT_BUDGET_SEC", "4.0"))
    canary = os.path.isdir(CANARY_SF_DIR)
    spark = get_spark(app_name="amdw-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm pass (untimed): the timed passes measure steady-state plan
    # execution, not codegen compilation and JIT warm-up
    _, errors = run_pass(spark, sf_dir, specs, "warm")

    attempts: list[float] = []
    best = None
    for _ in range(MAX_CLOSE_ATTEMPTS):
        result = timed_passes(spark, sf_dir, specs, canary)
        errors.update(result[1])
        attempts.append(result[3])
        if best is None or result[3] < best[3]:
            best = result
        if result[3] <= NOISE_GATE:
            break
    runs, _, canary_samples, noise_med_over_min = best
    runs = {name: rs for name, rs in runs.items() if rs}
    close_info = {
        "noise_gate": NOISE_GATE,
        "attempts_noise": attempts,
        "accepted_attempt": attempts.index(noise_med_over_min) + 1,
        "accepted": noise_med_over_min <= NOISE_GATE,
    }

    def per_pass(field):
        return {name: [r[field] for r in rs] for name, rs in runs.items()}

    passes = per_pass("total")
    timings = {name: min(ts) for name, ts in passes.items()}
    medians = {name: _median(ts) for name, ts in passes.items()}
    total = round(sum(timings.values()), 4)
    canary_medians = {n: _median(ts) for n, ts in canary_samples.items()}
    ratio = canary_ratio(canary_samples)
    value_normalized = round(total / ratio, 4) if ratio else None
    over = sorted(
        (name for name, t in timings.items() if t > budget),
        key=lambda n: -timings[n],
    )
    detail = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "build": per_pass("build"),
        "exec": per_pass("exec"),
        "build_jobs": per_pass("build_jobs"),
        "medians": medians,
        "codegen_compiles": per_pass("compiles"),
        "errors": errors,
        "noise_med_over_min": noise_med_over_min,
        "n_queries": len(timings),
        "mean_sec_per_query": round(total / max(len(timings), 1), 4),
        "budget_sec": budget,
        "over_budget": over,
        "sf": sf,
        "close": close_info,
        "canary": {
            "queries": list(CANARY_QUERIES),
            "baseline_sec": CANARY_BASELINE_SEC,
            "baseline_provenance": (
                "r18 optimization-pass pins at sf0.1; derivation and "
                "earlier epoch factors in README 'bench.py'"
            ),
            "samples": canary_samples,
            "medians": canary_medians,
            "ratio": ratio,
            "value_normalized": value_normalized,
        },
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_results.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    base = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "mean_sec_per_query": round(total / max(len(timings), 1), 4),
        "noise_med_over_min": noise_med_over_min,
        "close_accepted": close_info["accepted"],
        "canary_ratio": ratio,
        "value_normalized": value_normalized,
        "budget_sec": budget,
        "over_budget": over,
        "sf": sf,
        "queries_file": "bench_results.json",
    }
    # slowest first, as many as fit in LINE_BYTE_BUDGET
    slowest_first = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for k, v in slowest_first:
        base["queries"][k] = round(v, 3)
        if len(json.dumps(base, separators=(",", ":"))) > LINE_BYTE_BUDGET:
            del base["queries"][k]
            break
    print(json.dumps(base, separators=(",", ":")))
    spark.stop()
    failed = False
    if over:
        print(
            f"BUDGET EXCEEDED ({budget}s): "
            + ", ".join(f"{n}={timings[n]}s" for n in over),
            file=sys.stderr,
        )
        failed = True
    if errors:
        print(f"QUERY ERRORS: {', '.join(sorted(errors))}", file=sys.stderr)
        failed = True
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
