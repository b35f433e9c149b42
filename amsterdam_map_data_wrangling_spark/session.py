"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the conf choices below are the ones
that matter identically on a real cluster:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  dynamic broadcast conversion) — the single biggest lever at 100 TB.
- Arrow on (Pandas-UDF paths are Arrow-batched, never per-row pickle).
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  cluster this should be ~2-3x total executor cores (AQE coalesces the
  excess), so we expose it as a parameter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` for every session built here;
#: see the comment at its ``.config`` call in :func:`get_spark`.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "amsterdam-map-data-wrangling-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    (driver contract) or the machine core count, so the same code runs
    in tests, bench, and on a real cluster (where ``master`` is left to
    spark-submit).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame debug-context capture walks the Python
        # stack and makes ~4 extra py4j round-trips on EVERY
        # Column/DataFrame API call (pyspark/errors/utils.py _with_origin)
        # to attach the user call site to error messages. Measured
        # 2.18 ms -> 0.34 ms per Column op with it off (r18 optimization
        # round); across this 148-query catalog, plan CONSTRUCTION was
        # ~30% of the bench wall. Scale-independent: the cost is pure
        # driver-side Python per API call, identical on a laptop or a
        # 1000-executor cluster. The trade is less-precise call-site
        # info in PySpark error messages — re-enable when debugging a
        # plan-construction failure.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache (an LRU keyed by the generated source).
        # Spark's default of 100 entries is smaller than this catalog's
        # working set: a cold pass over the 148 queries at sf0.01
        # compiles ~1,800 distinct classes (the 16-query perfbench
        # catalog ~230), so at 100 each class was evicted before its
        # next use, and every pass recompiled ~2,340 classes in Janino
        # and JIT-compiled them again. At 4096 a steady pass compiles
        # 54-66 (perfbench catalog: 4-8), the few that Spark names
        # differently per run (see README "Session defaults"). A class
        # averages ~2.7 KB of bytecode. The conf is static: only
        # sessions this function creates get it. A SparkSession built
        # elsewhere keeps Spark's 100 — e.g. the one a verify run hands
        # to ``__spark_entry__.entry`` — and so does one that
        # getOrCreate below merely returns.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long ns and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count). In local mode
    driver and executors share the JVM, so the difference around a
    query is that query's codegen compile count."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
