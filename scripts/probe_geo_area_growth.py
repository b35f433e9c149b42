#!/usr/bin/env python
"""Constant-density / growing-bbox scale probe for the geo_nn_on_sphere
plan shape (r12 VERDICT ask #4: the 100 TB story for the geo family
rests on "real geo growth is AREA — more cells at the same density —
where this plan is linear"; argued until now, measured here).

The registered query derives coords from customer keys inside a FIXED
Amsterdam-sized bbox, so replicating rows can only grow DENSITY (the
measured density-squared worst case of the r12 50x probe). This probe
runs the IDENTICAL pipeline — same 1600-unit cells, 3x3 neighborhood
explode, integer bbox prune, haversine refine, min-struct top-1 — over
synthetic points whose bbox side scales with sqrt(factor) while point
count scales with factor, holding density at the sf0.1 level
(15k points per 100k x 100k units).

Usage: python scripts/probe_geo_area_growth.py [factors ...]
Prints one JSON line {factor: {"n_points": N, "sec": best}}.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from bench import run_query  # noqa: E402
from amsterdam_map_data_wrangling_spark.plans.catalog import (  # noqa: E402
    QuerySpec,
)
from amsterdam_map_data_wrangling_spark.plans.geo import (  # noqa: E402
    _LAT0,
    _LAT_STEP,
    _LON0,
    _LON_STEP,
    haversine_m,
)
from amsterdam_map_data_wrangling_spark.session import get_spark  # noqa: E402

BASE_POINTS = 15_000  # sf0.1 customer count
BASE_SIDE = 100_000  # unit bbox side of the registered query


def build(spark, factor: int):
    side = int(BASE_SIDE * math.sqrt(factor))
    n = BASE_POINTS * factor
    pts = (
        spark.range(n)
        .select(
            F.col("id"),
            F.pmod(F.xxhash64(F.col("id"), F.lit("y")), F.lit(side)).alias("y"),
            F.pmod(F.xxhash64(F.col("id"), F.lit("x")), F.lit(side)).alias("x"),
        )
        .select(
            "id",
            "y",
            "x",
            (F.lit(_LAT0) + F.col("y") * F.lit(_LAT_STEP)).alias("lat"),
            (F.lit(_LON0) + F.col("x") * F.lit(_LON_STEP)).alias("lon"),
            F.expr("y div 1600").alias("cy"),
            F.expr("x div 1600").alias("cx"),
        )
    )
    pts = pts.repartition(spark.sparkContext.defaultParallelism, "cy", "cx")
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    cand_side = (
        pts.select(
            F.col("id").alias("id_b"),
            F.col("y").alias("y_b"),
            F.col("x").alias("x_b"),
            F.col("lat").alias("lat_b"),
            F.col("lon").alias("lon_b"),
            F.col("cy").alias("cy_b"),
            F.col("cx").alias("cx_b"),
            F.explode(off).alias("dy"),
        )
        .select(
            "id_b", "y_b", "x_b", "lat_b", "lon_b",
            (F.col("cy_b") + F.col("dy")).alias("cy"),
            "cx_b",
            F.explode(off).alias("dx"),
        )
        .select(
            "id_b", "y_b", "x_b", "lat_b", "lon_b", "cy",
            (F.col("cx_b") + F.col("dx")).alias("cx"),
        )
    )
    bbox = (F.abs(F.col("y") - F.col("y_b")) <= 1520) & (
        F.abs(F.col("x") - F.col("x_b")) <= 1320
    )
    dist = haversine_m(
        F.col("lat"), F.col("lon"), F.col("lat_b"), F.col("lon_b")
    )
    best = F.min(F.struct(F.col("d"), F.col("nn_custkey"))).alias("m")
    return (
        pts.join(cand_side, ["cy", "cx"])
        .filter(bbox & (F.col("id") != F.col("id_b")))
        .select(
            F.col("id").alias("custkey"),
            F.col("id_b").alias("nn_custkey"),
            dist.alias("dist_m"),
        )
        .filter(F.col("dist_m") <= 250.0)
        .select("custkey", "nn_custkey", F.round("dist_m", 2).alias("d"))
        .groupBy("custkey")
        .agg(best)
        .select(
            "custkey",
            F.col("m.nn_custkey").alias("nn_custkey"),
            F.col("m.d").alias("dist_m"),
        )
    )


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 4, 16, 64]
    spark = get_spark(app_name="amdw-geo-area-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for f in factors:
        spec = QuerySpec(
            f"geo_area_x{f}", lambda s, _d, f=f: build(s, f), None
        )
        # the first run warms codegen; the best of the next two counts
        secs = [run_query(spark, spec, "")["total"] for _ in range(3)]
        out[f] = {"n_points": BASE_POINTS * f, "sec": round(min(secs[1:]), 2)}
        print(json.dumps({str(f): out[f]}), flush=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
