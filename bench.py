#!/usr/bin/env python
"""Headline benchmark: run every catalog query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
short JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {top-10 slowest: sec}, "n_queries": ..., "sf": ...,
"queries_file": "bench_results.json"} — the FULL per-query map is written
to bench_results.json next to this script (the driver's stdout capture
keeps only ~2 KB, which a 74-query map exceeds).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amsterdam_map_data_wrangling_spark.plans.dedup import (  # noqa: E402
    clear_graph_memo,
)
from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES  # noqa: E402
from amsterdam_map_data_wrangling_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)

#: Host-drift canary (round-11 verdict #4): three rounds running, the
#: headline delta was host drift proven only by a manual same-box
#: worktree A/B. Instead, every bench run times this pinned set at the
#: start AND end of each timed pass and reports the ratio of its medians
#: to a quiet-window baseline, so BENCH_r{N} artifacts self-explain:
#: canary_ratio ~1.0 → the box runs at baseline speed and cross-round
#: deltas are real; ~1.3 → the box is 1.3x slow today and the headline
#: must be read through value_normalized. The three queries are chosen
#: stable (plans untouched since r07), CPU-meaningful (~1 s each at
#: sf0.1 — timer noise is <5%), plan-diverse (window+agg / hash+shuffle
#: / scan+broadcast), and NOT consumers of the shared graph memo (a
#: canary must not pre-pay another query's build).
CANARY_QUERIES = (
    "robust_z_by_priority",
    "dedup_simhash_bands",
    "winsorize_price_stats",
)
#: Calibration constants the ratio is measured against — RE-PINNED at
#: the round-18 close (the r14 precedent: four rounds of drift against
#: a fixed pin compounds pin error into every cross-round claim). The
#: re-pin itself needed care: of three same-day r18 closes, the FIRST
#: landed in a transiently fast host window (canaries 0.871 x the r14
#: pins while the heavy queries were merely flat-to-faster raw — a
#: one-reading re-pin there would have built the fast window into
#: every future ratio); the second and third closes agree within 0.2%
#: (canary 1.196 / 1.195 against that fast reading, i.e. ~1.042 x the
#: r14 pins — mild aging, not a break). Pins = the third close's
#: 6-bracketed-sample canary medians (80.49 s catalog total, 148
#: queries, noise 1.100, close_accepted true, over_budget empty).
#: BOUNDARY DOCUMENTATION for cross-epoch comparison: new_pin ≈
#: 1.042 x r14_pin on the same box — to compare a post-r18
#: value_normalized against a pre-r18 one, DIVIDE the post-r18 number
#: by 1.042 to express it in the r14-pin epoch (r17's quiet 74.5
#: normalized ≡ 77.6 in the r18-pin epoch; the r12 epoch chains
#: through the r14 boundary factor 1.095). Old pins (r14 close):
#: robust_z 1.2183, simhash_bands 0.9951, winsorize 0.8982 — kept here
#: and in git history so every epoch is recoverable. Valid for the
#: default sf0.1 / local[32] config only; at any other sf the ratio is
#: reported as null.
#: r18-OPTIMIZATION epoch boundary (second re-pin of round 18): the
#: optimization pass sped up the CANARY QUERIES THEMSELVES (the
#: engine-wide dataFrameDebugging=false plan-construction cut plus
#: shared-path effects), so the canary stopped being a pure host-speed
#: witness against the r18-build pins — a post-opt run on a 1.36x-slow
#: host read canary_ratio 1.066 and OVERSTATED value_normalized by
#: ~27%. Re-derivation, from a back-to-back same-host-window worktree
#: A/B (round-open code 104.73 s raw @ canary 1.359 vs HEAD 88.76 s @
#: 1.066, both closes quiet, noise 1.081/1.113): per-canary code
#: speedup s(q) = open_median(q)/head_median(q) (1.230 / 1.483 /
#: 1.233), new_pin(q) = r18-build pin(q) / s(q). Consistency witness:
#: under these pins the HEAD leg's canary_ratio recomputes to exactly
#: the open leg's 1.359 — the ratio again reads host speed only.
#: BOUNDARY DOCUMENTATION: post-opt value_normalized numbers are
#: directly comparable to r18-build-epoch numbers (the pins absorb the
#: code change); the r18-build close of 80.49 normalized corresponds
#: to 65.31 at this HEAD (0.847x, the same-box raw ratio). Old pins
#: (r18-build close): robust_z 1.2035, simhash_bands 1.0701,
#: winsorize 0.9688 — kept here and in git history so every epoch is
#: recoverable; earlier epochs chain through the factors documented at
#: each prior re-pin.
CANARY_BASELINE_SEC = {
    "robust_z_by_priority": 0.9785,
    "dedup_simhash_bands": 0.7214,
    "winsorize_price_stats": 0.7856,
}


def _run_canary(spark, sf_dir: str) -> dict[str, float]:
    """One timed run of each canary query (cache cleared, noop sink) —
    same measurement protocol as the main loop."""
    out: dict[str, float] = {}
    for name in CANARY_QUERIES:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        out[name] = round(time.perf_counter() - t0, 4)
    return out


#: Close-decidability gate (r17 verdict "What's wrong" #1: five
#: same-day r17 closes spanned ±7% normalized, and the committed
#: artifact happened to land on the noisiest reading — the protocol
#: let one noisy canary set the artifact number). A close whose
#: noise_med_over_min exceeds this gate is NOT accepted as-is: the
#: timed passes re-run once and the QUIETER of the two closes becomes
#: the artifact (both noise readings are recorded under "close" so the
#: retry is auditable). 1.15 sits above every quiet-box close on
#: record (1.03-1.10) and below every reading that round-over-round
#: comparison later had to discard (1.23+).
NOISE_GATE = 1.15
MAX_CLOSE_ATTEMPTS = 2


def _timed_passes(spark, sf_dir: str):
    """Three timed passes over the catalog (min per query is the
    steady-state), canary-bracketed at each pass start and end.
    Returns (passes, canary_samples, noise_med_over_min, compiles), where
    compiles[name] holds the Janino compile count of each timed run."""
    passes: dict[str, list[float]] = {name: [] for name in QUERIES}
    compiles: dict[str, list[int]] = {name: [] for name in QUERIES}
    canary_samples: dict[str, list[float]] = {n: [] for n in CANARY_QUERIES}
    for _ in range(3):
        # session-shared graph relations (plans/dedup._GRAPH_MEMO) reset
        # per PASS, not per query: each pass pays the near-dup pair build
        # once — the cost of running the suite once — and the consumers
        # measure the shared-read path they actually run in a composed
        # pipeline. (Per-query reset would un-share what the queries
        # deliberately share; no reset would hide the build in the warm
        # pass and never time it.)
        clear_graph_memo()
        # canary sample at pass START (and again at pass end below):
        # bracketing each pass catches drift that develops mid-run
        for n, t in _run_canary(spark, sf_dir).items():
            canary_samples[n].append(t)
        for name, spec in QUERIES.items():
            # a few operators persist() self-join hubs; drop those cache
            # entries so every timed run re-executes its full lineage
            # (CacheManager matches canonicalized plans across invocations,
            # which would otherwise turn pass 2 into a cache read)
            spark.catalog.clearCache()
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            # noop sink: materializes every column of every row (a bare
            # .count() would let Catalyst prune the payload and under-measure)
            df.write.format("noop").mode("overwrite").save()
            passes[name].append(round(time.perf_counter() - t0, 4))
            compiles[name].append(codegen_compiles(spark) - c0)
        # canary sample at pass END
        for n, t in _run_canary(spark, sf_dir).items():
            canary_samples[n].append(t)

    timings = {name: min(ts) for name, ts in passes.items()}
    medians = {name: sorted(ts)[len(ts) // 2] for name, ts in passes.items()}
    # one-number host-noise witness: median over queries of (median/min).
    # ~1.0x-1.1x → quiet box, mins are trustworthy steady-state; >1.3x →
    # the host was noisy and cross-round min drift is not evidence of a
    # plan regression.
    ratios = sorted(
        medians[n] / timings[n] for n in timings if timings[n] > 0
    )
    noise = round(ratios[len(ratios) // 2], 3) if ratios else 1.0
    return passes, canary_samples, noise, compiles


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = m.group(1) if m else os.path.basename(sf_dir.rstrip("/"))
    spark = get_spark(app_name="amdw-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm pass (untimed): run every query once so the timed pass measures
    # steady-state plan execution, not whole-stage-codegen compilation and
    # JIT warm-up. That is the number that scales to a long-running
    # cluster job — codegen compiles once per plan shape, then executes
    # for hours.
    for spec in QUERIES.values():
        spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # three timed passes, min per query: single-shot numbers on a shared box
    # carry ±10-15% scheduler/GC noise; the min is the stable steady-state.
    # ALL pass times are recorded (bench_results.json "passes") so host
    # noise and plan regressions are distinguishable from the artifact
    # alone (round-4 verdict: a +30% min-drift on untouched queries was
    # undecidable from min-of-3 without the spread).
    # CLOSE PROTOCOL (see NOISE_GATE): a close over the noise gate
    # re-runs once; the quieter close is the artifact.
    attempts: list[float] = []
    best = None
    for _ in range(MAX_CLOSE_ATTEMPTS):
        result = _timed_passes(spark, sf_dir)
        attempts.append(result[2])
        if best is None or result[2] < best[2]:
            best = result
        if result[2] <= NOISE_GATE:
            break
    passes, canary_samples, noise_med_over_min, compiles = best
    close_info = {
        "noise_gate": NOISE_GATE,
        "attempts_noise": attempts,
        "accepted_attempt": attempts.index(noise_med_over_min) + 1,
        "accepted": noise_med_over_min <= NOISE_GATE,
    }

    timings = {name: min(ts) for name, ts in passes.items()}
    medians = {name: sorted(ts)[len(ts) // 2] for name, ts in passes.items()}

    total = round(sum(timings.values()), 4)
    # canary ratio: median over the 3 canary queries of
    # (median-of-6-samples / pinned quiet-window baseline). Baselines are
    # sf0.1-specific, so at any other sf the ratio is null and
    # value_normalized is omitted from interpretation.
    canary_medians = {
        n: sorted(ts)[len(ts) // 2] for n, ts in canary_samples.items()
    }
    if sf == "0.1":
        rs = sorted(
            canary_medians[n] / CANARY_BASELINE_SEC[n] for n in CANARY_QUERIES
        )
        canary_ratio = round(rs[len(rs) // 2], 3)
        value_normalized = round(total / canary_ratio, 4)
    else:
        canary_ratio = None
        value_normalized = None
    # Per-query time budget: one regressed query must fail LOUD instead of
    # silently eating the catalog-total slack. The heaviest steady-state
    # query at sf0.1 is dedup_clusters (5-gram Jaccard pair generation +
    # iterative connected components): clean-run MIN-of-3 measured 2.2 to
    # 2.8 s on this box depending on host load, with single-run spikes to
    # 3.5 s. The regressions this gate exists to catch — a reintroduced
    # shuffle, a lost broadcast, an eager driver loop — cost 2-10x, so
    # 4.0 s (~1.6x the typical min) keeps full detection power while a
    # noisy scheduler tick cannot fail a clean run. (r3's 2.5 s line left
    # <1% headroom and measured the scheduler, not the plan.)
    budget = float(os.environ.get("SPARK_GRAFT_BUDGET_SEC", "4.0"))
    over = sorted(
        (name for name, t in timings.items() if t > budget),
        key=lambda n: -timings[n],
    )
    # The driver records only the LAST ~2 KB of stdout and json-parses it;
    # the full per-query map for this catalog is >2 KB on its own, which
    # is exactly how BENCH_r03.json ended up with a truncated string blob
    # and "parsed": null. So: full-fidelity per-query map goes to a
    # committed file (round-over-round diffs read that), and stdout gets
    # ONE short, always-parseable line whose "queries" field carries the
    # top-10 slowest — the part of the map a regression check needs first.
    detail = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "medians": medians,
        # generated classes Janino compiled during each timed run (one
        # entry per pass, aligned with "passes"): after the warm pass a
        # non-zero count is codegen work repeated at steady state
        "codegen_compiles": compiles,
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
                "r18-build pins divided by the per-canary CODE speedup "
                "of the r18 OPTIMIZATION pass, measured by a same-host-"
                "window worktree A/B (open 104.73 s @ 1.359 vs HEAD "
                "88.76 s @ 1.066) — the optimization sped the canaries "
                "themselves, so the old pins no longer read host speed; "
                "see CANARY_BASELINE_SEC for the derivation and the "
                "chain of earlier epoch factors (r18-build ~ 1.042 x "
                "r14; r14 <- r12 factor 1.095)"
            ),
            "samples": canary_samples,
            "medians": canary_medians,
            "ratio": canary_ratio,
            "value_normalized": value_normalized,
        },
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_results.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    # Widen the stdout per-query map as far as the driver's stdout
    # capture allows (r18 VERDICT #2: top-10-only coverage manufactured
    # two phantom "dropped_from_bench" signals when queries merely left
    # the top-10). The driver keeps only the LAST ~2000 bytes of stdout
    # and json-parses them — BENCH_r03.json is the fossil of a full
    # 72-query map overflowing that window ("parsed": null), and the
    # 148-query map serializes to ~4.4 KB, so inlining ALL queries is
    # impossible by construction. Instead: fill "queries" slowest-first
    # until the whole line reaches LINE_BYTE_BUDGET (safely under 2000
    # with headroom for field growth), typically ~45-55 entries —
    # everything above ~0.5 s is visible round-over-round, and a
    # "dropped" signal now requires falling below the mid-tail, not
    # rank 11. The FULL map stays in bench_results.json (committed; the
    # "queries_file" pointer below).
    LINE_BYTE_BUDGET = 1800
    base = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "mean_sec_per_query": round(total / max(len(timings), 1), 4),
        "noise_med_over_min": noise_med_over_min,
        "close_accepted": close_info["accepted"],
        "canary_ratio": canary_ratio,
        "value_normalized": value_normalized,
        "budget_sec": budget,
        "over_budget": over,
        "sf": sf,
        "queries_file": "bench_results.json",
    }
    slowest_first = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for k, v in slowest_first:
        base["queries"][k] = round(v, 3)
        if len(json.dumps(base, separators=(",", ":"))) > LINE_BYTE_BUDGET:
            del base["queries"][k]
            break
    print(json.dumps(base, separators=(",", ":")))
    spark.stop()
    if over:
        print(
            f"BUDGET EXCEEDED ({budget}s): "
            + ", ".join(f"{n}={timings[n]}s" for n in over),
            file=sys.stderr,
        )
        sys.exit(1)


if __name__ == "__main__":
    main()
