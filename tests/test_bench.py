"""bench.py's timing loop: every timed run splits into build and exec
and counts the Spark jobs run inside ``build``; a query that raises is
recorded while the others are still timed; unknown names are rejected.
"""

from __future__ import annotations

import pytest

import bench
from amsterdam_map_data_wrangling_spark.plans.catalog import QuerySpec
from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES

from .conftest import SF_SMALL


def _raises(spark, sf_dir):
    raise RuntimeError("planted failure")


def _build_with_job(spark, sf_dir):
    spark.range(10).count()  # one job inside build()
    return spark.range(5)


def test_timed_passes_split_and_errors(spark):
    specs = {
        "text_stats": QUERIES["text_stats"],
        "pricing_summary": QUERIES["pricing_summary"],
        "raising": QuerySpec("raising", _raises, None),
        "build_job": QuerySpec("build_job", _build_with_job, None),
    }
    runs, errors, samples, noise = bench.timed_passes(
        spark, SF_SMALL, specs, canary=False
    )

    assert samples == {}
    assert list(errors) == ["raising"]
    assert errors["raising"] == "RuntimeError: planted failure"
    assert runs["raising"] == []
    for name in ("text_stats", "pricing_summary", "build_job"):
        assert len(runs[name]) == bench.PASSES
        for run in runs[name]:
            # each field is rounded to 0.1 ms on its own
            assert abs(run["build"] + run["exec"] - run["total"]) <= 2e-4
            assert run["total"] > 0
            assert isinstance(run["build_jobs"], int)
    assert all(r["build_jobs"] >= 1 for r in runs["build_job"])
    assert noise >= 1.0
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_unknown_query_names_are_rejected():
    with pytest.raises(SystemExit) as exc:
        bench.select_queries(["text_stats", "no_such_query"])
    assert exc.value.code != 0
    assert "no_such_query" in str(exc.value.code)
    assert "text_stats" not in str(exc.value.code)
    assert list(bench.select_queries(["text_stats", "text_stats"])) == [
        "text_stats"
    ]
    assert len(bench.select_queries([])) == len(QUERIES)
