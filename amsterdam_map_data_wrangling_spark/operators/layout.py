"""Scan-parallelism floor for CPU-dense derivations.

The complement of :mod:`.compaction` (which fixes too-MANY-files): this
fixes too-FEW-splits. A parquet file is splittable only at row-group
boundaries, so a single-file, single-row-group table scans as ONE task
no matter how many cores the cluster has — and every narrow expression
chained onto that scan (tokenize → n-gram → md5 fan-out, per-row regex,
JSON parse, vector math) serializes onto one core until the first
shuffle. For IO-bound scans that's invisible (the byte read is the
cost); for CPU-dense derivations the compute is 10-100x the byte read,
and the under-split layout caps throughput at 1/N of the machine.
Measured at the 10x scale point (PLANS.md round-11): a one-row-group
documents table made the whole text family 3-7x slower than the same
bytes split 32 ways.

``cpu_parallel_floor`` inserts one round-robin repartition above the
scan — but only inside the window where it pays:

- input smaller than ``min_bytes``: skip. The work fits one task's
  worth of CPU; a shuffle would cost more than it buys (measured net
  NEGATIVE at sf0.1, where per-query time is stage-latency-bound).
- input at least ``target x maxPartitionBytes``: skip. A splittable
  format already yields >= target scan tasks at that size — this is
  the 100 TB case, where the floor must (and does) stay out of the
  way. (Caveat: a non-splittable format — one giant gzip — defeats
  this guard; such inputs should go through the ranged readers in
  ``sources/warc_split.py`` instead.)
- input that ALREADY scans with >= target row-bearing splits: skip.
  Spark cuts a file into byte-range splits by size and core count, but
  a parquet row group is read by the one split holding its midpoint, so
  the check counts ``min(partitions, total row groups)`` from the
  footers (:func:`row_bearing_splits`) — a one-row-group file cut four
  ways is still one busy task. Fallback, when the input is not parquet
  files or lists more than ``sources/fs.PROBE_MAX_FILES`` of them: the
  plain partition count.

Catalyst pushes column pruning and predicate pushdown THROUGH the
repartition (verified in tests/test_layout_floor.py), so the shuffle
carries only the pruned, filtered columns — for a text pipeline that is
the text column it was about to burn CPU on anyway, moved once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: below this input size the shuffle costs more than the parallelism
#: buys (sf0.1-scale inputs, measured); chosen so the driver's sf0.1
#: gate/bench data (documents 0.6 MB, orders 2.6 MB) stays un-floored
#: while 10x-scale inputs (documents 6.8 MB, orders 15 MB) fire.
DEFAULT_MIN_BYTES = 4 * 1024 * 1024


#: byte-suffix multipliers as Spark's ByteUnit parses them (binary, and
#: a bare number means bytes for this conf)
_BYTE_SUFFIXES = {
    "": 1,
    "b": 1,
    "k": 1024,
    "kb": 1024,
    "m": 1024**2,
    "mb": 1024**2,
    "g": 1024**3,
    "gb": 1024**3,
    "t": 1024**4,
    "tb": 1024**4,
    "p": 1024**5,
    "pb": 1024**5,
}


def _max_partition_bytes(spark) -> int:
    """``spark.sql.files.maxPartitionBytes`` as bytes, honoring Spark's
    unit suffixes ('128m', '1g', ...). An unparseable value falls back to
    the 128 MiB default rather than being digit-stripped — '128m' read as
    128 BYTES would permanently trip the upper guard and silently disable
    the floor (round-11 ADVICE)."""
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ).strip().lower()
    num = raw.rstrip("bkmgtp")
    suffix = raw[len(num):]
    try:
        return int(num) * _BYTE_SUFFIXES[suffix]
    except (ValueError, KeyError):
        return 134217728


def input_bytes_of_path(path: str) -> int:
    """File bytes under a parquet path (file or directory), metadata only."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def cpu_parallel_floor(
    df: DataFrame,
    *,
    input_bytes: int | None = None,
    min_bytes: int = DEFAULT_MIN_BYTES,
    target: int | None = None,
) -> DataFrame:
    """Repartition ``df`` to ``target`` (default: cluster parallelism)
    when its input layout under-splits a CPU-dense scan; no-op outside
    the paying window (see module doc).

    ``input_bytes``: pass the known file-bytes when the caller has the
    path (the loader does); otherwise Catalyst's size estimate for the
    plan is used (a stats lookup, not a Spark action).
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if input_bytes is None:
        input_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    if input_bytes < min_bytes:
        return df
    if input_bytes >= target * _max_partition_bytes(spark):
        return df
    # Inside the window, the guards above are bytes-based only: a
    # multi-file (or multi-row-group) input may ALREADY scan with >=
    # target tasks, and an unconditional repartition would add a
    # redundant shuffle (round-11 ADVICE). Asking the physical plan for
    # its row-bearing split count (see :func:`row_bearing_splits`)
    # costs one extra planning pass plus, for parquet, a footer read —
    # paid only here, where the alternative was a shuffle. CALLER
    # CONTRACT (r12 ADVICE): apply this operator directly above a file
    # scan (the registry does exactly that). The .rdd probe converts
    # the plan to an RDD; under AQE, a plan containing SHUFFLES can
    # materialize query stages here (run real jobs) — scan-only plans
    # cannot, which is what keeps this probe a planning pass and not an
    # execution.
    if row_bearing_splits(df) >= target:
        return df
    return df.repartition(target)


def row_bearing_splits(df: DataFrame) -> int:
    """How many of ``df``'s scan partitions can carry rows: for a
    parquet input, ``min(partitions, total row groups)``, with the row
    groups read from the file footers (metadata only). Spark cuts a
    file into byte-range splits of ``max(openCostInBytes, bytes /
    defaultParallelism)`` or less, but a row group belongs to the ONE
    split holding its midpoint, so a one-row-group file scans as one
    busy task and N-1 empty ones — measured rows per partition
    ``[0, 60000, 0, 0]`` for a 16 MB one-row-group file on 4 cores.

    Fallback: the plain partition count, whenever the input is not
    parquet files (an in-memory relation, another format), lists more
    than ``sources/fs.PROBE_MAX_FILES`` files, or a footer cannot be
    read."""
    from amsterdam_map_data_wrangling_spark.sources.fs import (
        PROBE_MAX_FILES,
        hadoop_path_string,
        read_listed_parquet_footers,
    )

    partitions = df.rdd.getNumPartitions()
    files = [hadoop_path_string(u) for u in df.inputFiles()]
    if not files or len(files) > PROBE_MAX_FILES:
        return partitions
    try:
        footers = read_listed_parquet_footers(files)
    except Exception:  # noqa: BLE001 - not parquet / unreadable: fall back
        return partitions
    return min(partitions, sum(md.num_row_groups for md in footers))
