#!/usr/bin/env python
"""Concurrent-catalog contention probe (r16; r15 verdict "Next round"
#6): a real cluster never runs queries alone — the catalog shares one
scheduler, one shuffle service, one block manager. bench.py times the
150 queries SERIALLY; this probe runs the same catalog through a
thread pool at parallelism 1 / 4 / 8 inside ONE session (threaded
collects against noop sinks, Spark's documented multi-job pattern) and
records what contention does to wall clock and to individual queries.

Usage:
    python scripts/concurrent_catalog.py [SF_DIR] [--out FILE] \
        [--workers 1,4,8]

Reading the output:
- ``wall_s`` per worker count: total catalog wall. Serial (1) is the
  control; ideal contention-free scaling would approach wall_1/K until
  the box saturates (the catalog is already internally parallel per
  query, so sub-linear is EXPECTED — the number measures how far).
- ``per_query``: each query's in-flight seconds at each K (includes
  scheduler queueing — that is the point).
- ``top_inflation``: the queries whose K=max time grew most vs serial —
  the contention hot spots; shared-relation memo builders showing here
  would mean the per-key build locks (plans/dedup.py) aren't holding.
- canary bracket before/after (bench.py's canary at its sf0.1 pins) —
  a probe artifact without a host-speed witness cannot be compared
  across rounds.
- ``errors`` per worker count: queries that raised, by name.

Each query runs through bench.py's ``run_query``, which clears Spark's
cache first; under a thread pool that can also drop a hub another
in-flight query persisted, which that query then recomputes (a cost,
never a wrong value).
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import __spark_entry__  # noqa: E402,F401  (registers the full catalog)
from bench import CANARY_SF_DIR, canary_ratio, run_canary, run_pass  # noqa: E402
from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES  # noqa: E402
from amsterdam_map_data_wrangling_spark.session import get_spark  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = CANARY_SF_DIR
    out_path = None
    workers = [1, 4, 8]
    i = 0
    while i < len(argv):
        if argv[i] == "--out":
            out_path = argv[i + 1]
            i += 2
        elif argv[i] == "--workers":
            workers = [int(w) for w in argv[i + 1].split(",")]
            i += 2
        else:
            sf_dir = argv[i]
            i += 1

    spark = get_spark(app_name="amdw-concurrent-catalog")
    spark.sparkContext.setLogLevel("ERROR")
    names = list(QUERIES)

    # warm pass (codegen + JVM) — serial, untimed
    run_pass(spark, sf_dir, QUERIES, "warm")

    canary_before = run_canary(spark)
    passes: dict[str, dict] = {}
    for k in workers:
        t0 = time.perf_counter()
        with ThreadPoolExecutor(k) as ex:
            runs, errors = run_pass(
                spark, sf_dir, QUERIES, f"workers={k}", ex.map
            )
        wall = round(time.perf_counter() - t0, 2)
        passes[str(k)] = {
            "wall_s": wall,
            "per_query": {n: r["total"] for n, r in runs.items()},
            "errors": errors,
        }
        print(f"workers={k}: wall {wall}s", file=sys.stderr, flush=True)
    canary_after = run_canary(spark)

    serial = passes[str(workers[0])]["per_query"]
    kmax = str(workers[-1])
    inflation = sorted(
        (
            (round(passes[kmax]["per_query"][n] / max(serial[n], 1e-3), 2), n)
            for n in names
            if n in serial and n in passes[kmax]["per_query"]
        ),
        reverse=True,
    )
    result = {
        "axis": "concurrent-catalog contention (r16)",
        "sf_dir": sf_dir,
        "workers": workers,
        "wall_s": {k: v["wall_s"] for k, v in passes.items()},
        "speedup_vs_serial": {
            k: round(passes[str(workers[0])]["wall_s"] / v["wall_s"], 2)
            for k, v in passes.items()
        },
        "top_inflation_at_max_workers": [
            {"query": n, "x": x} for x, n in inflation[:12]
        ],
        "canary": {
            "before": canary_ratio(canary_before),
            "after": canary_ratio(canary_after),
        },
        "per_pass": passes,
    }
    line = json.dumps(
        {k: result[k] for k in result if k != "per_pass"}, sort_keys=True
    )
    print(line, flush=True)
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
