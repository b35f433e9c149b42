#!/usr/bin/env python3
"""Benchmark of the engine's two jobs: the OSM ETL with the README SQL over
its output, and the query catalog (star-schema SQL and LLM-corpus
operators).

Usage (from the repository root):

    python3 perfbench/run.py --workload {osm_etl,catalog} \\
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

One run generates its inputs from ``--seed`` (data generation is not
timed), sets the engine up once, cold (import, JVM start, input
registration), runs one cold pass over the workload's statements, any
warm-up passes and then as many steady passes as ``--seconds`` buys, and
checks every output. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans to ``perfbench/out/``. Run details
(host stamp, per-statement latencies) go to the same directory and to
stderr. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "amsterdam_map_data_wrangling_spark"
WORKLOADS = ("osm_etl", "catalog")
#: passes after the cold one that only warm the JVM up and are not
#: measured. Without JIT time, the second pass of either workload costs
#: about 10 % more than the third. The ETL's passes are short enough to
#: drop one; a catalog pass costs 8-10 s, which 48 runs within an hour
#: cannot spare, so its median falls on the second steady pass instead.
WARMUP_PASSES = {"osm_etl": 1, "catalog": 0}
#: nominal seconds of one steady pass (4-8 s on a 4-core host);
#: ``--seconds`` buys one steady pass per PASS_SECONDS
PASS_SECONDS = 6
#: fewest steady passes a run measures
MIN_STEADY_PASSES = 3

#: Gated metrics. Pass costs are CPU seconds of the whole process tree
#: (Python driver, JVM, Spark's Python workers), not wall time: on a shared
#: VM whose hypervisor took 17-20 % of the CPUs away, a steady pass took
#: 60 % more wall time but 15 % more CPU time. A steady pass's CPU time
#: leaves out the JVM's JIT compilation, which falls pass after pass for
#: the first ten passes (from about 60 % of a pass's CPU time to 30-40 %)
#: and is reported as ``jvm.jit_s``. Wall times are reported too, as ``bench.*`` metrics
#: of the traced run and in the details file.
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

FAMILIES = (
    "queries", "windows", "features", "sketches", "wrangling", "r08_queue",
    "geo", "multimodal", "text", "dedup", "similarity", "sparse",
)

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_tables_s": "s",
    "sources.load_tables_calls": "count",
    "sources.read_osm_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.memo_calls": "count",
    "plans.memo_build_ratio": "ratio",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "plans.exec_stages": "count",
    "plans.exec_tasks": "count",
    "plans.idle_core_s": "s",
    "plans.executor_cpu_s": "s",
    "plans.executor_run_s": "s",
    "plans.input_bytes": "bytes",
    "plans.shuffle_write_bytes": "bytes",
    "plans.shuffle_read_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.failed_tasks": "count",
    "pipeline.etl_s": "s",
    "pipeline.jobs": "count",
    "pipeline.scan_input_bytes": "bytes",
    "pipeline.output_bytes": "bytes",
    "pipeline.rows_out": "count",
    "pipeline.etl_mb_s": "MB/s",
    "pipeline.out_bytes_ratio": "ratio",
    "osm_sql.s": "s",
    "osm_sql.input_bytes": "bytes",
    "bench.first_pass_s": "s",
    "bench.wall_s": "s",
    "bench.query_p50_s": "s",
    "bench.self_s": "s",
    "plans.self_s": "s",
    "pipeline.self_s": "s",
    "osm_sql.self_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.accounted_ratio": "ratio",
    "jvm.jit_s": "s",
    **{f"plans.{f}.{k}": "s" for f in FAMILIES for k in ("build_s", "exec_s")},
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def steady_passes(seconds: float) -> int:
    """Steady passes for a ``seconds`` window: a count, not a deadline.

    Both workloads are still warming up (JIT) through their first passes,
    so each pass is cheaper than the last. A deadline would run more passes
    on a fast host than on a slow one and shift the median with host speed;
    a count fixed by ``--seconds`` alone keeps the statistic the same."""
    return max(MIN_STEADY_PASSES, round(seconds / PASS_SECONDS))


def _process_tree(root: int) -> dict[int, int]:
    """``pid → CPU ticks`` (user + system, plus reaped children) of
    ``root`` and every live descendant: the JVM and Spark's Python workers."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                data = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        f = data[data.rindex(")") + 2:].split()
        procs[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return tree


def _tree_cpu_s(root: int) -> float:
    return sum(_process_tree(root).values()) / os.sysconf("SC_CLK_TCK")


def _jit_s(spark) -> float:
    """Seconds the JVM's JIT compilers have spent compiling so far, as the
    JVM itself accounts them."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def _nproc() -> int:
    """Cores this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def _commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"  # a checkout without git metadata
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    return "unknown"


def _prepare_env(work: str) -> None:
    """Process environment for Spark; must run before pyspark is imported.

    Spark's Python workers import the engine package from the repository
    root, and every scratch file Spark or Java writes stays in ``work``.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))


class Bench:
    """One workload run: set-up, passes, checks and metrics."""

    def __init__(self, args, inputs, work: str):
        import workloads
        from spans import Tracer

        self.args = args
        self.inputs = inputs
        self.work = work
        self.wl = workloads
        self.tracer = Tracer(None, enabled=bool(args.trace))
        self.spark = None
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: (statement, pass, columns, rows) of every statement that returned
        self.results: list[tuple[str, int, list[str], list]] = []
        self.passes: list[dict] = []
        self.setup_s = 0.0

    # ---- set-up -------------------------------------------------------

    def setup(self) -> None:
        """Package import + ``get_spark`` (which starts the JVM) + input
        registration, timed. Runs once per process, before anything else
        imports the package."""
        t0 = time.perf_counter()
        from amsterdam_map_data_wrangling_spark.plans import catalog
        from amsterdam_map_data_wrangling_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # keep every job and stage of a run in the status store
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        if self.args.workload == "osm_etl":
            from amsterdam_map_data_wrangling_spark.sources.osm import read_osm

            with self.tracer.span("sources.read_osm"):
                for kind in ("node", "way"):
                    read_osm(self.spark, self.inputs.xml_dir, kind)
        else:
            from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

            self.builds, self.oracles = catalog.queries(), catalog.oracle_sql()
            with self.tracer.span("sources.load_tables"):
                load_tables(self.spark, self.inputs.star_dir)
        self.setup_s = time.perf_counter() - t0

    # ---- passes -------------------------------------------------------

    def _statement(self, pass_no: int, name: str, fn) -> float:
        """Run one statement; returns its latency. A statement that raises
        counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.statement(f"p{pass_no}:{name}"), \
                self.tracer.span("bench.statement", statement_name=name):
            try:
                fn()
            except Exception:  # noqa: BLE001 - a failed statement is a result
                self.failed += 1
                self.failures.append(f"p{pass_no}:{name} raised")
                _log(f"statement {name} failed:\n{traceback.format_exc()}")
        return time.perf_counter() - t0

    def _catalog_pass(self, pass_no: int, names: list[str]) -> list[float]:
        from amsterdam_map_data_wrangling_spark.plans.dedup import clear_graph_memo

        clear_graph_memo()
        lat = []
        for name in names:
            build = self.builds[name]
            family = build.__module__.rsplit(".", 1)[-1]
            self.spark.catalog.clearCache()

            def run(build=build, name=name, family=family):
                with self.tracer.span("plans.build", jobs=True, family=family):
                    df = build(self.spark, self.inputs.star_dir)
                with self.tracer.span("plans.exec", jobs=True, family=family):
                    rows = df.collect()
                self.results.append((name, pass_no, df.columns, rows))

            lat.append(self._statement(pass_no, name, run))
        return lat

    def _osm_pass(self, pass_no: int) -> list[float]:
        from amsterdam_map_data_wrangling_spark.pipeline import run_pipeline
        from amsterdam_map_data_wrangling_spark.plans.osm_workload import (
            OSM_WORKLOAD,
            register_osm_views,
            run_workload,
        )

        out_dir = os.path.join(self.work, "osm_out")

        def etl():
            with self.tracer.span("pipeline.run_pipeline", jobs=True):
                tables = run_pipeline(self.spark, self.inputs.xml_dir, out_dir)
            register_osm_views(tables)

        self.passes[-1]["etl_s"] = self._statement(pass_no, "etl", etl)
        lat = []
        for name in OSM_WORKLOAD:

            def run(name=name):
                with self.tracer.span("osm_sql.statement", jobs=True):
                    df = run_workload(self.spark, [name])[name]
                    rows = df.collect()
                self.results.append((name, pass_no, df.columns, rows))

            lat.append(self._statement(pass_no, name, run))
        return lat

    def _check_etl_output(self, pass_no: int) -> None:
        out_dir = os.path.join(self.work, "osm_out")
        expected = self.inputs.expected_rows
        rows = {t: self.wl.parquet_rows(os.path.join(out_dir, t)) for t in expected}
        wrong = [t for t, want in expected.items() if rows[t] != want]
        for t in wrong:
            self.failures.append(
                f"p{pass_no}:etl {t} has {rows[t]} rows, expected {expected[t]}"
            )
        self.failed += bool(wrong)
        self.passes[-1]["rows_out"] = sum(rows.values())
        self.passes[-1]["output_bytes"] = self.wl.dir_bytes(out_dir)

    def run_pass(self, pass_no: int, kind: str, traced: bool = False) -> None:
        """One pass over the workload's statements; ``kind`` is ``cold``,
        ``warmup`` or ``steady``."""
        self.tracer.enabled = traced
        self.tracer.tags = {"pass": pass_no}
        self.passes.append({"pass": pass_no, "kind": kind, "traced": traced})
        steal0, cpu0, jit0 = _steal_ticks(), _tree_cpu_s(os.getpid()), _jit_s(self.spark)
        t0 = time.perf_counter()
        with self.tracer.span("bench.pass"):
            if self.args.workload == "osm_etl":
                lat = self._osm_pass(pass_no)
            else:
                lat = self._catalog_pass(pass_no, self.wl.CATALOG_QUERIES)
        wall = time.perf_counter() - t0
        steal1 = _steal_ticks()
        self.passes[-1].update(
            wall_s=wall,
            cpu_s=_tree_cpu_s(os.getpid()) - cpu0,
            jit_s=_jit_s(self.spark) - jit0,
            steal_share=(steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            latencies=lat,
        )
        if self.args.workload == "osm_etl":
            self._check_etl_output(pass_no)
        self.tracer.enabled = False

    # ---- checks -------------------------------------------------------

    def check_outputs(self) -> None:
        """Compare every collected result with its DuckDB oracle."""
        names = sorted({r[0] for r in self.results})
        if self.args.workload == "osm_etl":
            from amsterdam_map_data_wrangling_spark.plans.osm_workload import OSM_WORKLOAD

            expected = self.wl.osm_oracles(
                os.path.join(self.work, "osm_out"), {n: OSM_WORKLOAD[n] for n in names}
            )
        else:
            expected = self.wl.star_oracles(
                {n: self.oracles[n] for n in names if n in self.oracles},
                self.inputs.star_dir,
            )
        for name, pass_no, columns, rows in self.results:
            want = expected.get(name)
            # rows-only check for a query without an oracle
            ok = bool(rows) if want is None else self.wl.check.canonical(columns, rows) == want
            if not ok:
                self.failed += 1
                self.failures.append(f"p{pass_no}:{name} output differs from the oracle")

    # ---- metrics ------------------------------------------------------

    def _steady(self, traced: bool = False) -> list[dict]:
        return [p for p in self.passes if p["kind"] == "steady" and p["traced"] == traced]

    def end_to_end(self) -> dict[str, float]:
        steady = self._steady()
        return {
            "setup_s": self.setup_s,
            "first_pass_cpu_s": self.passes[0]["cpu_s"],
            "cpu_s": statistics.median(p["cpu_s"] - p["jit_s"] for p in steady),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def wall_times(self) -> dict[str, float]:
        """What a user waiting on the run sees: the cold pass, the median
        untraced steady pass and the median statement latency."""
        steady = self._steady()
        return {
            "bench.first_pass_s": self.passes[0]["wall_s"],
            "bench.wall_s": statistics.median(p["wall_s"] for p in steady),
            "bench.query_p50_s": statistics.median(
                x for p in steady for x in p["latencies"]
            ),
        }

    def per_layer(self) -> dict[str, float]:
        tr = self.tracer
        m = dict.fromkeys(PER_LAYER, 0.0)
        setup_spans = [s for s in tr.spans if s.get("pass") is None]
        for name, key in (("session.start", "session.start_s"),
                          ("sources.load_tables", "sources.load_tables_s"),
                          ("sources.read_osm", "sources.read_osm_s")):
            m[key] = sum(s["end"] - s["start"] for s in setup_spans if s["name"] == name)
        m["sources.load_tables_calls"] = sum(
            s["name"] == "sources.load_tables" for s in setup_spans
        )

        traced = self._steady(traced=True)
        per_pass = [self._pass_layers(p) for p in traced]
        for key in per_pass[0]:
            m[key] = statistics.median(pp[key] for pp in per_pass)
        m.update(self.wall_times())
        m["trace.wall_s"] = statistics.median(p["wall_s"] for p in traced)
        m["trace.overhead_ratio"] = m["trace.wall_s"] / m["bench.wall_s"]
        return m

    def _pass_layers(self, p: dict) -> dict[str, float]:
        tr = self.tracer
        spans = [s for s in tr.spans if s.get("pass") == p["pass"]]
        out: dict[str, float] = {}

        def dur(s):
            return s["end"] - s["start"]

        def total(name, field=None):
            picked = [s for s in spans if s["name"] == name]
            if field is None:
                return sum(dur(s) for s in picked)
            return sum(tr.inclusive(s)[field] for s in picked)

        out["plans.build_s"] = total("plans.build")
        out["plans.build_jobs"] = total("plans.build", "jobs")
        memo = [s for s in spans if s["name"] == "plans.memo"]
        out["plans.memo_calls"] = len(memo)
        out["plans.memo_build_ratio"] = (
            sum(tr.inclusive(s)["jobs"] > 0 for s in memo) / len(memo) if memo else 0.0
        )
        out["plans.exec_s"] = total("plans.exec")
        out["plans.exec_jobs"] = total("plans.exec", "jobs")
        out["plans.exec_stages"] = total("plans.exec", "stages")
        out["plans.exec_tasks"] = total("plans.exec", "tasks")
        out["plans.executor_cpu_s"] = total("plans.exec", "executor_cpu_s")
        out["plans.executor_run_s"] = total("plans.exec", "executor_run_s")
        out["plans.idle_core_s"] = (
            self.cores * out["plans.exec_s"] - out["plans.executor_run_s"]
        )
        for field in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                      "spill_bytes"):
            out[f"plans.{field}"] = total("plans.exec", field)
        out["plans.failed_tasks"] = (
            total("plans.build", "failed_tasks") + total("plans.exec", "failed_tasks")
        )
        for fam in FAMILIES:
            for kind in ("build", "exec"):
                out[f"plans.{fam}.{kind}_s"] = sum(
                    dur(s) for s in spans
                    if s["name"] == f"plans.{kind}" and s.get("family") == fam
                )
        out["pipeline.etl_s"] = total("pipeline.run_pipeline")
        out["pipeline.jobs"] = total("pipeline.run_pipeline", "jobs")
        out["pipeline.scan_input_bytes"] = total("pipeline.run_pipeline", "input_bytes")
        out["osm_sql.s"] = total("osm_sql.statement")
        out["osm_sql.input_bytes"] = total("osm_sql.statement", "input_bytes")
        if self.args.workload == "osm_etl":
            out["pipeline.output_bytes"] = p["output_bytes"]
            out["pipeline.rows_out"] = p["rows_out"]
            out["pipeline.etl_mb_s"] = self.inputs.xml_bytes / 1e6 / out["pipeline.etl_s"]
            out["pipeline.out_bytes_ratio"] = p["output_bytes"] / self.inputs.xml_bytes
            accounted = out["pipeline.etl_s"] + out["osm_sql.s"]
        else:
            accounted = out["plans.build_s"] + out["plans.exec_s"]
        out["trace.accounted_ratio"] = accounted / p["wall_s"]
        out["jvm.jit_s"] = p["jit_s"]
        for layer in ("bench", "plans", "pipeline", "osm_sql"):
            out[f"{layer}.self_s"] = sum(
                tr.self_time(s) for s in spans if s["name"].split(".")[0] == layer
            )
        return out

    # ---- teardown -----------------------------------------------------

    def close(self) -> None:
        """Stop Spark, then its JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.rss_mb = {"python": _vm_hwm_kb("self") / 1024, "jvm": _vm_hwm_kb(jvm_pid) / 1024}
        self.peak_rss_mb = sum(self.rss_mb.values())
        started = set(_process_tree(os.getpid())) - {os.getpid()}
        self.spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None
        # Spark's Python workers are the JVM's children; they exit once it
        # has gone, a moment later
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{p}") for p in started):
            if time.monotonic() > deadline:
                _log(f"processes still running after Spark stopped: {sorted(started)}")
                break
            time.sleep(0.1)


def _instrument_memo(tracer) -> None:
    """Count calls to the shared relation getters of ``plans.dedup``.

    Each outermost call runs in a ``plans.memo`` span with its own job
    group, so a call that had to build its relation shows jobs."""
    from amsterdam_map_data_wrangling_spark.plans import dedup

    def wrap(fn):
        @functools.wraps(fn)
        def getter(*args, **kwargs):
            if tracer.inside("plans.memo"):
                return fn(*args, **kwargs)
            with tracer.span("plans.memo", jobs=True, getter=fn.__name__):
                return fn(*args, **kwargs)

        return getter

    for name in ("shared_jaccard_pairs", "shared_jaccard_components",
                 "memo_get_or_build"):
        setattr(dedup, name, wrap(getattr(dedup, name)))


def run(args, work: str) -> dict:
    import workloads

    cfg = workloads.SIZES[args.size][args.workload]
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_before": os.getloadavg(),
        "commit": _commit(),
    }
    t = time.perf_counter()
    inputs = workloads.generate(args.workload, cfg, args.seed, os.path.join(work, "in"))
    stamp["generate_s"] = time.perf_counter() - t
    bench = Bench(args, inputs, work)
    try:
        bench.setup()
        import pyspark

        stamp["pyspark"] = pyspark.__version__
        if args.trace:
            _instrument_memo(bench.tracer)
        bench.run_pass(0, "cold")
        warmup = WARMUP_PASSES[args.workload]
        for pass_no in range(1, warmup + 1):
            bench.run_pass(pass_no, "warmup")
        # A traced run alternates untraced and traced passes, starting and
        # ending untraced, so the overhead estimate is not confounded with
        # what is left of the warm-up trend.
        n = steady_passes(args.seconds)
        for i in range(2 * n - 1 if args.trace else n):
            bench.run_pass(warmup + 1 + i, "steady",
                           traced=bool(args.trace) and i % 2 == 1)
        bench.tracer.finish()
    finally:
        bench.close()
    bench.check_outputs()
    metrics = bench.per_layer() if args.trace else bench.end_to_end()
    stamp["wall"] = bench.wall_times()
    units = PER_LAYER if args.trace else END_TO_END
    stamp["loadavg_after"] = os.getloadavg()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        bench.tracer.write(base + ".spans.json")
    details = {
        "stamp": stamp,
        "setup_s": bench.setup_s,
        "peak_rss_mb": bench.rss_mb,
        "passes": bench.passes,
        "failures": bench.failures,
        "metrics": metrics,
    }
    with open(base + ".details.json", "w") as fh:
        json.dump(details, fh, indent=1)
    _log(json.dumps({"stamp": stamp, "failures": bench.failures[:20]}))
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    # the engine is measured from this checkout's source, never from
    # whatever copy the interpreter might otherwise find
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _log(f"package {PACKAGE} not found under {ROOT}; run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _prepare_env(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
