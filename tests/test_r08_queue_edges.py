"""Degenerate-corpus robustness for every query in plans/r08_queue.py:
a 1-row corpus (one user, one event, one document, one order, one
vector) must never crash a plan — divisions by empty strata return
NULL, pair stages return empty, ANSI mode stays on. This is the
preemptive version of the NULL/degenerate-input findings past ADVICE
rounds raised against winsorize and robust-z. Also pins the half-way
rounding case of embedding_label_centroids against its oracle."""

from __future__ import annotations

import datetime

import pytest

from amsterdam_map_data_wrangling_spark.plans import r08_queue
from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

from .oracle import compare, duckdb_con

R08_QUERIES = sorted(
    name
    for name, spec in QUERIES.items()
    if spec.build.__module__ == r08_queue.__name__
)


@pytest.fixture(scope="module")
def tiny_sf(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tiny_sf"))
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1, 12, 0, 0), 7, "purchase", 5.0,
          "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        [(0, "one tiny document", "en", "web", 17)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(1, 3, "O", 100.0, datetime.datetime(1995, 1, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(0, [0.1] * 64, 2)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(f"{d}/embeddings.parquet")
    spark.createDataFrame(
        [(3, "Customer#3", "addr", 1, "p", 10.0, "BUILDING", "c")],
        "c_custkey long, c_name string, c_address string, "
        "c_nationkey long, c_phone string, c_acctbal double, "
        "c_mktsegment string, c_comment string",
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(1, 1, 1, 1, 5.0, 100.0, 0.1, 0.02, "N", "O",
          datetime.datetime(1995, 2, 1))],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    return d


def test_r08_module_registers_21_queries():
    assert len(R08_QUERIES) == 21


@pytest.mark.parametrize("name", R08_QUERIES)
def test_queue_build_survives_one_row_corpus(spark, tiny_sf, name):
    rows = QUERIES[name].build(spark, tiny_sf).collect()  # must not raise
    assert isinstance(rows, list)


def test_centroid_half_way_mean_rounds_like_duckdb(spark, tmp_path):
    """48 vectors of one label whose dim-1 components quantize to a sum
    of 3057: the mean 3057/48/1000 = 0.0636875 is a half-way case at 6
    decimals. The nearest double lies just below the half, so DuckDB's
    round(x, 6) gives 0.063687; Spark's round(x, 6) rounds the decimal
    string "0.0636875" up to 0.063688 unless the build rounds x * 1e6."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    q = [64] * 47 + [3057 - 64 * 47]
    d = str(tmp_path)
    # one parquet FILE (not Spark's part-file directory) so DuckDB's
    # read_parquet sees the same table
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(q)), pa.int64()),
                "embedding": pa.array(
                    [[qi / 1000.0] + [0.0] * 63 for qi in q],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([7] * len(q), pa.int32()),
            }
        ),
        f"{d}/embeddings.parquet",
    )
    spec = QUERIES["embedding_label_centroids"]
    con = duckdb_con(d)
    try:
        (sq,) = con.sql(
            "SELECT CAST(SUM(floor(CAST(embedding AS DOUBLE[])[1] * 1000"
            " + 0.5)) AS BIGINT) FROM embeddings"
        ).fetchone()
        assert sq == 3057
        compare(spec.build(spark, d), con, spec.oracle)
    finally:
        con.close()
