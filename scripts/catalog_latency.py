#!/usr/bin/env python
"""Catalog-under-latency axis (r18; r17 verdict "Next round" #5).

The r17 object-store axis measured the footer probes and the compaction
audit under a simulated 20-50 ms/call metadata latency, but (a) only
those two paths — a hidden O(files) or per-call metadata loop anywhere
else in the catalog would not have been caught — and (b) with post-open
``NativeFile`` reads uninstrumented, so walls were a LOWER bound on
real object-store cost. This probe closes both gaps:

1. **Read interception**: ``ReadLatencyHandler.open_input_file`` returns
   a ``pa.PythonFile`` wrapping a latency-charging file object, so every
   post-open ``read()`` (the actual ranged GETs a store bills) sleeps
   and counts. The footer-probe budget walls are re-measured with TRUE
   per-GET accounting — no more lower-bound caveat on the pyarrow path.

2. **Catalog hot-mix sweep**: ``sources.fs.pyarrow_fs_for`` is
   monkeypatched so EVERY driver-side pyarrow metadata call made by any
   catalog query resolves through the latency wrapper, then a 20-query
   hot mix (the concurrent-catalog mix + every adaptive-probe consumer)
   is built and executed. Per-query handler calls + the wall delta vs
   rtt=0 expose any code path that issues unbounded metadata round
   trips. (Spark's own JVM parquet scans are out of the wrapper's reach
   — they are the DATA plane, already covered by the partitioning
   arguments; this axis is about the driver-side METADATA plane, which
   is exactly where the r16/r17 findings lived.)

Usage: python scripts/catalog_latency.py [--out FILE]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyarrow import fs as pafs  # noqa: E402

from amsterdam_map_data_wrangling_spark.sources import fs as fs_mod  # noqa: E402


class _LatencyReadFile:
    """File-like object charging one RTT per read() — the unit an
    object store bills (one ranged GET). seek/tell are free (they only
    position the next GET's range)."""

    def __init__(self, path: str, handler: "ReadLatencyHandler"):
        self._f = open(path, "rb")
        self._h = handler

    def read(self, n: int = -1) -> bytes:
        self._h.tick("read")
        return self._f.read(n)

    def seek(self, off: int, whence: int = 0) -> int:
        return self._f.seek(off, whence)

    def tell(self) -> int:
        return self._f.tell()

    def close(self) -> None:
        self._f.close()

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    @property
    def closed(self) -> bool:
        return self._f.closed


class ReadLatencyHandler(pafs.FileSystemHandler):
    """The r17 LatencyHandler plus post-open read interception: every
    metadata handler call AND every post-open read() sleeps ``rtt`` and
    counts by kind — true per-GET accounting, not a lower bound."""

    def __init__(self, rtt: float):
        self.rtt = rtt
        self.calls: dict[str, int] = {}
        self._fs = pafs.LocalFileSystem()

    def tick(self, kind: str):
        self.calls[kind] = self.calls.get(kind, 0) + 1
        if self.rtt:
            time.sleep(self.rtt)

    @property
    def total_calls(self) -> int:
        return sum(self.calls.values())

    def get_type_name(self):
        return f"read-latency({self.rtt})"

    def __eq__(self, other):
        return self is other

    def __ne__(self, other):
        return self is not other

    def get_file_info(self, paths):
        self.tick("stat")
        return self._fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        self.tick("list")
        return self._fs.get_file_info(selector)

    def open_input_file(self, path):
        self.tick("open")
        return pa.PythonFile(_LatencyReadFile(path, self), mode="r")

    def open_input_stream(self, path):
        self.tick("open")
        return pa.PythonFile(_LatencyReadFile(path, self), mode="r")

    def normalize_path(self, path):
        return self._fs.normalize_path(path)

    def create_dir(self, path, recursive):
        raise NotImplementedError

    def delete_dir(self, path):
        raise NotImplementedError

    def delete_dir_contents(self, path, missing_dir_ok=False):
        raise NotImplementedError

    def delete_root_dir_contents(self):
        raise NotImplementedError

    def delete_file(self, path):
        raise NotImplementedError

    def move(self, src, dest):
        raise NotImplementedError

    def copy_file(self, src, dest):
        raise NotImplementedError

    def open_append_stream(self, path, metadata):
        raise NotImplementedError

    def open_output_stream(self, path, metadata):
        raise NotImplementedError


#: the 20-query hot mix: the r16 concurrent-catalog mix (memo sharing,
#: shared scans, cross-family) + every adaptive-probe consumer (the
#: footer-probe code paths the r15-r17 findings lived in)
HOT_MIX = [
    # concurrent-catalog mix (tests/test_concurrent.py)
    "dedup_clusters",
    "dedup_keep_canonical",
    "near_dup_pagerank",
    "near_dup_transitivity",
    "dedup_ngram_jaccard",
    "topk_group_count",
    "pricing_summary",
    "text_stats",
    "ann_sign_lsh",
    "quality_scores",
    # adaptive-probe consumers (footer probes inside build())
    "session_window_per_user",
    "event_gap_stats",
    "funnel_conversion",
    "gap_sessionization",
    "pii_redaction_stats",
    "unigram_lm_scores",
    "bound_doc_width_roundtrip",
    "dup_span_coverage",
    "weighted_sample_per_group",
    "trailing_window_revenue",
]


def probe_budget_true_accounting(rtt: float) -> dict:
    """Footer probe at the PROBE_MAX_FILES budget with read
    interception — the number the r17 axis could only lower-bound."""
    import tempfile

    d = tempfile.mkdtemp(prefix="catlat_budget_")
    per = 40
    budget = fs_mod.PROBE_MAX_FILES
    for i in range(budget):
        vals = [(None if (j % 5 == 0) else i * per + j) for j in range(per)]
        pq.write_table(
            pa.table({"k": pa.array(vals, type=pa.int64())}),
            os.path.join(d, f"part-{i:05d}.parquet"),
        )
    out = {}
    for fanout in (16, 32):
        handler = ReadLatencyHandler(rtt)
        wrapped = pafs.PyFileSystem(handler)
        old = fs_mod.PROBE_FANOUT
        fs_mod.PROBE_FANOUT = fanout
        try:
            t0 = time.perf_counter()
            frac = fs_mod.parquet_col_null_frac(d, "k", filesystem=wrapped)
            wall = time.perf_counter() - t0
        finally:
            fs_mod.PROBE_FANOUT = old
        assert frac is not None and abs(frac - 0.2) < 1e-9, frac
        out[f"fanout{fanout}"] = {
            "wall_s": round(wall, 3),
            "calls": dict(handler.calls),
            "total_calls": handler.total_calls,
            "rtt_s_per_call": rtt,
        }
    return {"n_files": budget, **out}


def catalog_mix_under_latency(spark, sf_dir: str, rtt: float) -> dict:
    """Build + execute each hot-mix query with EVERY pyarrow-path
    metadata call routed through the latency wrapper. Returns per-query
    handler calls and walls; a query with a hidden O(files) or
    per-call metadata loop shows up as an outlier call count."""
    from bench import run_pass
    from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES

    handler = ReadLatencyHandler(rtt)
    wrapped = pafs.PyFileSystem(handler)
    real = fs_mod.pyarrow_fs_for

    def patched(path: str):
        _fs, p = real(path)
        return wrapped, p

    calls: dict[str, int] = {}

    def counting_map(run, names):
        for name in names:
            before = handler.total_calls
            out = run(name)
            calls[name] = handler.total_calls - before
            yield out

    fs_mod.pyarrow_fs_for = patched
    try:
        runs, errors = run_pass(
            spark,
            sf_dir,
            {n: QUERIES[n] for n in HOT_MIX},
            f"rtt={rtt}",
            counting_map,
        )
    finally:
        fs_mod.pyarrow_fs_for = real
    return {
        "rtt_s": rtt,
        "per_query": {
            n: {"wall_s": round(r["total"], 3), "metadata_calls": calls[n]}
            for n, r in runs.items()
        },
        "errors": errors,
        "total_metadata_calls": handler.total_calls,
        "calls_by_kind": dict(handler.calls),
    }


def main() -> None:
    out_path = None
    argv = sys.argv[1:]
    if argv[:1] == ["--out"]:
        out_path = argv[1]

    budget_true = {
        f"rtt{int(r * 1000)}ms": probe_budget_true_accounting(r)
        for r in (0.0, 0.05)
    }
    print("budget:", json.dumps(budget_true), file=sys.stderr, flush=True)

    from amsterdam_map_data_wrangling_spark.session import get_spark

    spark = get_spark(app_name="amdw-catalog-latency")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    # warm once (codegen/JIT), then measure at rtt=0 and rtt=50ms
    base = catalog_mix_under_latency(spark, sf_dir, 0.0)
    runs = {
        "rtt0ms": catalog_mix_under_latency(spark, sf_dir, 0.0),
        "rtt50ms": catalog_mix_under_latency(spark, sf_dir, 0.05),
    }
    del base

    worst = max(
        runs["rtt50ms"]["per_query"].items(),
        key=lambda kv: kv[1]["metadata_calls"],
    )
    result = {
        "axis": "catalog under object-store metadata latency (r18)",
        "sf_dir": sf_dir,
        "probe_budget_true_accounting": budget_true,
        "catalog_mix": runs,
        "worst_query_metadata_calls": {worst[0]: worst[1]},
        "method": (
            "pyarrow_fs_for monkeypatched to a PyFileSystem whose "
            "handler charges one RTT per metadata call AND per post-open "
            "read() (pa.PythonFile wrapper) — true per-GET accounting; "
            "Spark JVM scans (the data plane) are outside the wrapper"
        ),
    }
    print(
        json.dumps(
            {
                "axis": result["axis"],
                "worst_query_metadata_calls": result[
                    "worst_query_metadata_calls"
                ],
                "total_calls_rtt50": runs["rtt50ms"]["total_metadata_calls"],
            },
            sort_keys=True,
        ),
        flush=True,
    )
    if out_path:
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(f"wrote {out_path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
