"""Scan-parallelism floor (operators/layout.py): fires only inside the
paying window, stays out of the way at gate SFs and at cluster scale,
and never costs Catalyst its pushdowns."""

from __future__ import annotations

import pyspark.sql.functions as F

from amsterdam_map_data_wrangling_spark.operators.layout import (
    DEFAULT_MIN_BYTES,
    _max_partition_bytes,
    cpu_parallel_floor,
    input_bytes_of_path,
    row_bearing_splits,
)
from amsterdam_map_data_wrangling_spark.sources.registry import load_tables

SF_ORACLE = "/root/testdata/sf0.01"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_floor_noop_below_min_bytes(spark):
    df = spark.range(100)
    out = cpu_parallel_floor(df, input_bytes=DEFAULT_MIN_BYTES - 1)
    assert out is df


def test_floor_noop_at_cluster_scale(spark):
    # >= target x maxPartitionBytes: a splittable format already yields
    # >= target scan tasks — the 100 TB case must be a no-op.
    df = spark.range(100)
    target = spark.sparkContext.defaultParallelism
    out = cpu_parallel_floor(
        df, input_bytes=target * _max_partition_bytes(spark)
    )
    assert out is df


def test_floor_fires_inside_window(spark):
    # a genuinely under-split input (1 scan partition)
    df = spark.range(100, numPartitions=1)
    target = spark.sparkContext.defaultParallelism
    out = cpu_parallel_floor(df, input_bytes=DEFAULT_MIN_BYTES)
    assert out is not df
    assert "Repartition" in _optimized(out)
    assert out.rdd.getNumPartitions() == target


def test_floor_skips_already_parallel_input(spark):
    # inside the byte window but the plan ALREADY scans with >= target
    # tasks (multi-file / multi-row-group input): no redundant shuffle
    # (round-11 ADVICE — the guard was bytes-only).
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000, numPartitions=target)
    out = cpu_parallel_floor(df, input_bytes=DEFAULT_MIN_BYTES)
    assert out is df


def test_floor_preserves_pushdown_and_pruning(spark):
    # the repartition must sit ABOVE the scan in a way Catalyst can push
    # projects and predicates through — the shuffle carries only the
    # pruned, filtered columns.
    (orders,) = [
        load_tables(spark, SF_ORACLE, ["orders"])["orders"]
    ]
    floored = cpu_parallel_floor(orders, input_bytes=DEFAULT_MIN_BYTES)
    q = floored.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_totalprice"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderpriority)" in plan
    assert "o_comment" not in plan  # pruned before the exchange


def test_gate_sf_tables_not_floored(spark):
    # the driver's sf0.01/sf0.001 inputs are far below min_bytes: the
    # loader must hand back the bare scan (plan pins + gate plans
    # unchanged at oracle SFs).
    dfs = load_tables(spark, SF_ORACLE, ["documents", "embeddings"])
    for name, df in dfs.items():
        assert "Repartition" not in _optimized(df), name


def test_input_bytes_of_path_counts_parquet_bytes():
    n = input_bytes_of_path(f"{SF_ORACLE}/documents.parquet")
    assert n > 0
    # sf0.01 documents is a small table — well under the floor threshold
    assert n < DEFAULT_MIN_BYTES


def test_nested_json_shred_parses_once(spark):
    # the explode_outer form must keep exactly ONE from_json in the
    # optimized plan; the non-outer form regresses to 3 (the inferred
    # size/isnotnull filter re-parses per row — see the plan docstring).
    import __spark_entry__  # noqa: F401
    from amsterdam_map_data_wrangling_spark.plans.queries import QUERIES

    plan = _optimized(QUERIES["nested_json_shred"].build(spark, SF_ORACLE))
    assert plan.count("from_json") == 1


def test_loader_floors_cpu_dense_table_inside_window(spark, tmp_path):
    # the positive loader path: a documents table big enough to enter
    # the window (> 4 MiB, single file) must come back repartitioned to
    # cluster parallelism; a numeric star table of the same size must
    # come back bare (table-class contract in sources/registry.py).
    sf = str(tmp_path / "sfbig")
    n = 60_000
    # md5-derived tokens: incompressible, so the on-disk parquet actually
    # clears the 4 MiB window (repeated literals compress to ~nothing)
    docs = spark.range(n).selectExpr(
        "id AS doc_id",
        "concat('src', id % 4) AS source",
        "concat_ws(' ', transform(sequence(1, 8),"
        " i -> md5(concat(cast(id AS string), '|', cast(i AS string)))))"
        " AS text",
    )
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    docs.selectExpr("doc_id AS o_orderkey", "text AS o_comment").coalesce(
        1
    ).write.parquet(f"{sf}/orders.parquet")
    assert input_bytes_of_path(f"{sf}/documents.parquet") > DEFAULT_MIN_BYTES

    loaded = load_tables(spark, sf, ["documents", "orders"])
    assert "Repartition" in _optimized(loaded["documents"])
    assert (
        loaded["documents"].rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert "Repartition" not in _optimized(loaded["orders"])


def test_row_bearing_splits_counts_row_groups(spark, tmp_path):
    # a one-row-group parquet file cut into several byte-range splits
    # still has ONE split that carries rows; a file with more row groups
    # than splits is bounded by the splits; a non-file relation falls
    # back to the partition count.
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"x": pa.array(range(200_000), type=pa.int64())})
    one = str(tmp_path / "one_rg.parquet")
    pq.write_table(t, one, compression="none")
    many = str(tmp_path / "many_rg.parquet")
    pq.write_table(t, many, compression="none", row_group_size=10_000)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "200k")
    try:
        df_one = spark.read.parquet(one)
        df_many = spark.read.parquet(many)
        assert df_one.rdd.getNumPartitions() > 1
        assert row_bearing_splits(df_one) == 1
        assert row_bearing_splits(df_many) == min(
            df_many.rdd.getNumPartitions(), 20
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    rng = spark.range(10, numPartitions=3)
    assert row_bearing_splits(rng) == 3
