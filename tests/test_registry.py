"""Loader robustness: load_tables must work on ANY session — including one
that (like the driver's verify session) was built without the nanosAsLong
conf — and must fail loudly on a bad table name."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES
from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

from .conftest import SF_ORACLE


def test_events_loads_without_preset_nanos_conf(spark):
    # Simulate the driver's session: conf absent/false before the load.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        dfs = load_tables(spark, SF_ORACLE, ["events"])
        events = dfs["events"]
        assert dict(events.dtypes)["ts"] == "timestamp"
        assert events.count() > 0
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_nanos_conversion_is_exact_vs_duckdb(spark):
    """Integral ns→us division must agree with DuckDB's TIMESTAMP_NS read
    to the microsecond (float division would drift by ±1 us at 1.7e18 ns)."""
    import duckdb
    import os

    (events,) = [load_tables(spark, SF_ORACLE, ["events"])["events"]]
    s_min, s_max = events.agg(F.min("ts"), F.max("ts")).first()
    path = os.path.join(SF_ORACLE, "events.parquet")
    d_min, d_max = duckdb.sql(
        f"SELECT min(ts), max(ts) FROM read_parquet('{path}')"
    ).fetchone()
    assert s_min == d_min and s_max == d_max


def test_missing_table_raises(spark):
    with pytest.raises(FileNotFoundError, match="no_such_table"):
        load_tables(spark, SF_ORACLE, ["no_such_table"])


@pytest.mark.parametrize(
    "name", ["custkeys_except", "anti_join_inactive_customers", "scan_filter_project"]
)
def test_oracle_checked_queries_are_non_vacuous(spark, name):
    """The hash compare proves nothing on an empty result — these three
    returned 0 rows at sf0.01 in round 1; predicates now keep them non-empty."""
    assert QUERIES[name].build(spark, SF_ORACLE).count() > 0


def test_gate_priority_orders_catalog():
    """The driver's correctness artifact records the first 50 registry
    entries, so catalog order is evidence policy: the _GATE_PRIORITY names
    must lead (in order), every priority name must exist, and nothing may
    be dropped or duplicated by the reordering."""
    from amsterdam_map_data_wrangling_spark.plans import catalog

    import __spark_entry__

    ordered = list(catalog.queries())
    assert ordered[: len(catalog._GATE_PRIORITY)] == catalog._GATE_PRIORITY
    # the DRIVER reads __spark_entry__, which must expose the same ordering
    # (a local queries() shadowing the catalog's once silently undid it)
    assert list(__spark_entry__.queries()) == ordered
    assert len(ordered) == len(set(ordered)) == len(catalog.QUERIES)
    # round-19 evidence policy: the r16-front cohort minus the three
    # levers fronted at r18 (the oldest — its last DISTINCT verdict
    # window is r16, three windows back after this round's gates)
    # takes the front, plus the never-gated r18 overflow
    # jpeg_pixel_stats, plus — in the two spare slots — two of the 15
    # r18-optimization-changed query paths (the r18 driver sample
    # covered none of them; r18 VERDICT #9): near_dup_transitivity
    # (memo threshold floor) and geo_nn_on_sphere (packed-decimal
    # top-1 + row-count repartition window). The 48 remaining
    # r17-front queries park at slots 51-98 (r20's front); the
    # freshly-gated r18 cohort appends unlisted at 99-148 (r21's
    # front). (The general freshness invariant is asserted
    # mechanically in tests/test_gate_freshness.py — this pins only
    # the current round's specific obligations.)
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    r16 = set(json.loads((repo / "CORRECTNESS_r16.json").read_text()))
    r17 = set(json.loads((repo / "CORRECTNESS_r17.json").read_text()))
    r18 = set(json.loads((repo / "CORRECTNESS_r18.json").read_text()))
    retired_r18 = {
        "dedup_minhash_portable",
        "dedup_simhash_portable",
        "dedup_cluster_size_hist",
        "neardup_degree_hist",
        "quality_components",
    }
    fronted_levers = {
        "session_window_per_user",
        "event_gap_stats",
        "funnel_conversion",
    }
    fronted_r18_changed = {"near_dup_transitivity", "geo_nn_on_sphere"}
    assert set(ordered[:50]) == (r16 - fronted_levers) | {
        "jpeg_pixel_stats"
    } | fronted_r18_changed, (
        "round-19 window must be the 47 r16-front queries (minus the "
        "levers already re-gated at r18) plus the jpeg_pixel_stats "
        "overflow plus the two fronted r18-changed queries"
    )
    assert set(ordered[50:98]) == r17 - fronted_r18_changed, (
        "the 48 remaining r17-front queries must park at slots 51-98 "
        "(r20's front)"
    )
    assert set(ordered[98:]) == r18, (
        "the freshly-gated r18 cohort appends at slots 99-148"
    )
    assert "ilike_filter_count" not in ordered  # retired at r08
    assert "ann_rand_lsh" not in ordered  # retired at r17
    for q in retired_r18:
        assert q not in ordered  # retired at r18


def test_package_init_registers_every_query_module():
    """Importing the package is the one registration path: every
    plans/*.py that calls ``query`` must be imported by
    plans/__init__.py. Round 11 found ``geo`` missing from that import
    list, which silently shrank bench.py's catalog to 148 queries."""
    import ast
    from pathlib import Path

    from amsterdam_map_data_wrangling_spark import plans
    from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

    pkg = Path(plans.__file__).parent

    def calls_query(tree: ast.AST) -> bool:
        return any(
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "query"
            for node in ast.walk(tree)
        )

    init = ast.parse((pkg / "__init__.py").read_text())
    imported = {
        alias.name
        for node in ast.walk(init)
        if isinstance(node, ast.ImportFrom)
        and node.module == plans.__name__
        for alias in node.names
    }
    registering = {
        path.stem
        for path in pkg.glob("*.py")
        if calls_query(ast.parse(path.read_text()))
    }
    assert registering >= {
        spec.build.__module__.rsplit(".", 1)[1] for spec in QUERIES.values()
    }
    assert not registering - imported, (
        f"plans/__init__.py does not import {registering - imported}"
    )
