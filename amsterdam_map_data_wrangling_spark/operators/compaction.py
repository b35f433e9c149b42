"""Small-file compaction — the lakehouse maintenance task that keeps a
100 TB table scannable: streaming sinks and per-partition writers leave
thousands of KB-sized parquet files, and every downstream scan then
pays a task per file. The planner is deterministic driver-side math
over FILE METADATA ONLY (sizes, never contents); the executor does one
read of each group and one coalesced write — data moves exactly once.

Sizing rule (mirrors the session conf reasoning): target ≈
``spark.sql.files.maxPartitionBytes`` (128 MB default) so one compacted
file ≈ one scan partition. Files already at/over target are left alone
(rewriting them burns IO for nothing).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from amsterdam_map_data_wrangling_spark.sources.fs import list_files


def compaction_plan(
    sizes: list[tuple[str, int]], target_bytes: int
) -> list[list[str]]:
    """First-fit-decreasing bin packing of (path, bytes) into groups of
    combined size <= ``target_bytes``. Deterministic: files sort by
    (size DESC, path) so the same metadata always yields the same plan.
    Files individually >= target form singleton groups (left-alone
    candidates — the caller skips rewriting singletons). FFD guarantees
    every returned multi-file group is <= target and uses at most
    ~1.22x the optimal group count — planner quality is bounded, not
    heuristic luck."""
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    order = sorted(sizes, key=lambda t: (-t[1], t[0]))
    bins: list[tuple[int, list[str]]] = []  # (used_bytes, paths)
    for path, sz in order:
        if sz >= target_bytes:
            bins.append((sz, [path]))
            continue
        for i, (used, paths) in enumerate(bins):
            if used + sz <= target_bytes and used < target_bytes:
                bins[i] = (used + sz, paths + [path])
                break
        else:
            bins.append((sz, [path]))
    return [paths for _used, paths in bins]


def should_compact(
    sizes: list[tuple[str, int]],
    target_bytes: int = 128 * 1024 * 1024,
    filecount_slack: float = 4.0,
    min_excess_files: int = 64,
) -> dict:
    """The WHEN of compaction, measured not guessed (r16 many-small-files
    axis, ``scripts/archive/smallfiles_soak_r16.json``): the full
    150-query catalog over the same sf0.1 bytes ran ~1.4x slower at
    ~400x the ideal file count and ~3.1x slower at ~3,000x (14 queries
    blew the 4 s budget), and compacting back to the ideal layout
    restored the baseline — the entire degradation is per-file fixed
    cost (listing, footer reads, open cost, task scheduling), so the
    decision variable is the FILE-COUNT RATIO ``n_files /
    ideal_files``, not byte volume.

    Returns the audit dict ``{n_files, total_bytes, ideal_files,
    filecount_ratio, compact}``. ``compact`` is True when the layout
    holds more than ``filecount_slack``x the ideal count AND the excess
    is at least ``min_excess_files`` (a 3-file table at 12x ideal is
    noise, not a maintenance job; a 17,000-file table at 4x pays for
    its one rewrite pass within a few catalog passes — the measured
    break-even: compacting the 17k-file twin cost ~2 catalog passes of
    wall and returned ~2.1 normalized passes of savings per subsequent
    pass). Driver-side metadata math only — callers feed it the same
    ``list_files`` listing :func:`compact_parquet_dir` consumes.

    OBJECT-STORE TABLES: the local curve's per-file coefficient was
    ~10-17 ms/file/catalog-pass at ~0 metadata latency; at 20-50 ms per
    GET every scan pays >= 2 RTTs per file (open + footer), 3-8x the
    local coefficient, so the degradation that local FS reaches at
    ratio 4 arrives at ratio ~0.5-1.3 there (r17 latency axis,
    ``scripts/archive/objectstore_latency_r17.json``). Call this with
    ``filecount_slack=1.5`` for s3a/s3/gs tables; the default stays
    tuned to the measured local curve."""
    n = len(sizes)
    total = sum(sz for _p, sz in sizes)
    ideal = max(1, -(-total // target_bytes))  # ceil
    ratio = n / ideal
    return {
        "n_files": n,
        "total_bytes": total,
        "ideal_files": ideal,
        "filecount_ratio": round(ratio, 1),
        "compact": ratio > filecount_slack and (n - ideal) >= min_excess_files,
    }


def compact_if_needed(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    filecount_slack: float = 4.0,
    min_excess_files: int = 64,
    recursive: bool = False,
) -> dict:
    """The maintenance-pass entry point: one listing decides
    (:func:`should_compact`) and, only when the layout warrants it, one
    rewrite runs (:func:`compact_parquet_dir`). Returns the decision
    audit merged with the rewrite audit (``compacted: bool``).

    This is the consumer the streaming sinks need: per-epoch output
    dirs (``streaming/ingest.start_ranged_warc_ingest``) and per-key
    partitioned writers produce exactly the many-small-files layout the
    r16 axis measured at 3.1x catalog cost — a scheduler calling this
    per table per maintenance window keeps the lake inside the measured
    flat band without rewriting healthy tables (the no-op path is a
    driver-side listing, no Spark job)."""
    files = list_files(spark, src_dir, suffix=".parquet", recursive=recursive)
    decision = should_compact(
        files, target_bytes, filecount_slack, min_excess_files
    )
    if not decision["compact"]:
        return {**decision, "compacted": False}
    audit = compact_parquet_dir(
        spark, src_dir, dst_dir, target_bytes, recursive=recursive
    )
    return {**decision, **audit, "compacted": True}


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    recursive: bool = False,
) -> dict[str, int]:
    """Compact every ``*.parquet`` under ``src_dir`` into ``dst_dir``
    with one output file per planned group (singleton groups of
    already-big files rewrite too, keeping dst self-contained — flip to
    a copy for a true in-place maintenance job). Returns the audit
    {n_input_files, n_groups, n_output_rows}. Each group is an
    independent read→coalesce(1)→append job — a scheduler can run
    groups in parallel, and no shuffle happens anywhere (coalesce(1)
    merges partitions map-side)."""
    # Hadoop-FS listing (not os.listdir) so the maintenance job runs
    # against hdfs:// / s3a:// tables, not just the driver's disk.
    # recursive=True consumes partitioned / per-epoch sink trees
    # (epoch=<id>/part-*.parquet) as one flat compaction input — right
    # for FINISHED ingests; an active stream's epoch dirs must keep
    # their per-epoch overwrite idempotence, so compact only aged trees.
    files = list_files(spark, src_dir, suffix=".parquet", recursive=recursive)
    groups = compaction_plan(files, target_bytes)
    if not groups:
        # nothing matched the suffix → nothing was written; listing a
        # dst_dir that was never created would raise, so return the
        # zero audit directly (r16 ADVICE: direct callers regressed
        # when the footer audit landed)
        return {"n_input_files": 0, "n_groups": 0, "n_output_rows": 0}
    for i, group in enumerate(groups):
        df = spark.read.parquet(*group).coalesce(1)
        df.write.mode("append" if i else "overwrite").parquet(dst_dir)
    return {
        "n_input_files": len(files),
        "n_groups": len(groups),
        "n_output_rows": _audit_rows(spark, dst_dir),
    }


def _audit_rows(spark: SparkSession, dst_dir: str) -> int:
    """Row count of the compacted output. Fast path: parquet footers via
    pyarrow (driver-side, metadata-only — the original per-group
    df.count() re-read every input group a second time, doubling the
    data moved: ~half of the r16 small-files 123 s compaction was the
    audit). pyarrow does not speak every Hadoop scheme (``s3a://`` is
    Hadoop's name for S3; ``hdfs://`` needs libhdfs on the driver), so
    unknown schemes map to their pyarrow twin where one exists and any
    footer-path failure falls back to one Spark-side count of the
    OUTPUT — still single-read of the compacted bytes, never of the
    inputs (r16 ADVICE: the audit must not fail a maintenance pass
    whose rewrite already succeeded). Scheme dispatch and the fanned
    footer reads are the SHARED fs.py helpers (r17 review: two drifting
    copies of the same loop is how the probes missed the s3a mapping
    the audit had)."""
    try:
        # footer GETs are latency-bound on an object store (~0 bytes,
        # 1 RTT each) — fanned PROBE_FANOUT wide (r17 latency axis:
        # 64 files @ 50 ms RTT = 3.35 s serial vs 0.31 s fanned)
        from amsterdam_map_data_wrangling_spark.sources.fs import (
            read_listed_parquet_footers,
        )

        targets = [
            p
            for p, _sz in list_files(spark, dst_dir)
            if p.endswith(".parquet")
        ]
        if not targets:
            return 0
        # one listing → ONE filesystem; a layout the prefix strip cannot
        # resolve raises into the Spark-count fallback below
        return sum(
            md.num_rows for md in read_listed_parquet_footers(targets)
        )
    except Exception:
        return spark.read.parquet(dst_dir).count()
