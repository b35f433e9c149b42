"""Session defaults that change execution cost but not results."""

from __future__ import annotations

from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES
from amsterdam_map_data_wrangling_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)

from .conftest import SF_SMALL

#: Catalog queries whose generated classes together (~160) outnumber
#: Spark's default codegen cache of 100 entries. Each one generates the
#: same source on every run, so a warm cache must serve all of it. Two
#: Spark-side effects make a query's source differ from run to run, and
#: none of these has either: a Limit operator (LimitExec names its
#: counter from a process-wide sequence), or two independent branches
#: that each hold a stage fed by another stage (adaptive execution
#: numbers whole-stage-codegen stages in the order it creates them,
#: which then depends on which branch finishes first).
WORKING_SET_QUERIES = (
    "funnel_conversion",
    "rfm_segment_counts",
    "event_gap_stats",
    "ab_test_zscore",
    "resample_locf_daily",
    "gap_sessionization",
    "trailing_window_revenue",
)


def _run_all(spark) -> int:
    before = codegen_compiles(spark)
    for name in WORKING_SET_QUERIES:
        spark.catalog.clearCache()
        QUERIES[name].build(spark, SF_SMALL).write.format("noop").mode(
            "overwrite"
        ).save()
    return codegen_compiles(spark) - before


def test_codegen_cache_holds_the_working_set(spark):
    """A second run over the same queries must reuse every generated
    class: with the default 100-entry LRU the first run's classes are
    evicted before the second run reaches them and all recompile."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    first = _run_all(spark)
    assert first > 100, f"working set ({first} classes) fits the default cache"
    assert _run_all(spark) == 0
