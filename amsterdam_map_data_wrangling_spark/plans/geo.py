"""Geospatial queries over lat/lon points — the "geospatial UDFs over
map data" surface the north star names (BASELINE.json; the reference's
own data is lat/lon node points, amsterdam_map_data_wrangling.py:92, and
ordered way polylines, :152-159). Both queries here are pure built-in
trig (zero UDFs) over the canonical distributed-spatial-join shape:

- points hash into grid CELLS sized >= the search radius, so every
  true neighbor pair lives in a 3x3 cell neighborhood — candidates are
  O(points per neighborhood), NEVER the quadratic cross join;
- the neighborhood is joined EQUI on the cell id (one side exploded by
  the 9 fixed offsets), so Spark plans a hash join keyed on the cell —
  broadcastable when one side is tiny (landmarks), shuffle-on-cell-key
  when both sides are the corpus. No BETWEEN-range join, no BNLJ;
- the exact great-circle (haversine) refine runs only on candidates.

At 100 TB the same plan holds: the cell id is the shuffle/partition
key (a production layout would PARTITION BY cell so the join prunes to
touched cells); hot-city skew is the documented salting/AQE-skew case.

Coordinates are deterministic md5-derived points in an Amsterdam-sized
bbox (lat 52.28..52.43, lon 4.73..5.03 — no geometry in the star
schema; the portable derivation lets DuckDB replay them exactly). The
haversine formula is written with the IDENTICAL operation order on both
engines and distances are rounded to cm, far above cross-libm ulp noise.

Cell-size exhaustiveness (3x3 covers the radius): one y-unit is
0.15 deg / 1e5 ~= 0.1668 m and one x-unit is 0.30 deg * cos(lat) /
1e5 ~= 0.2038 m at the bbox's widest, so a 250 m radius spans at most
1499 y-units / 1225 x-units (NN query, cell 1600) and a 1500 m radius
at most 8993 / 7360 (landmark query, cell 10000) — both under one
cell per axis.
"""

from __future__ import annotations

import decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.plans.catalog import _t, query

#: bbox anchors + per-unit degree steps (0.15/1e5 and 0.30/1e5 as one
#: literal multiply, mirrored textually in the oracles)
_LAT0, _LAT_STEP = 52.28, 1.5e-6
_LON0, _LON_STEP = 4.73, 3e-6

#: fixed landmark probes (generic city anchors inside the bbox)
_LANDMARKS = [
    ("station", 52.3791, 4.9003),
    ("museum", 52.3600, 4.8852),
    ("harbor", 52.4014, 4.8936),
]

_PTS_CTE = """
    WITH pts AS (
      SELECT c_custkey AS id,
             ('0x' || substr(md5('geo-lat|spark-graft|'
               || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 100000 AS y,
             ('0x' || substr(md5('geo-lon|spark-graft|'
               || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               % 100000 AS x
      FROM customer
    )
"""


def _coord(tag: str, key: Column) -> Column:
    """Portable md5-derived integer coordinate in [0, 100000),
    hash-identical in DuckDB."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"geo-{tag}|spark-graft|"), key.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 100000
    )


def _points(spark, sf_dir, cell_units: int) -> DataFrame:
    """(id, y, x, lat, lon, cy, cx) for every customer point — the
    integer unit coords (y, x) ride along so consumers can bbox-prune
    candidate pairs with integer compares before paying any trig."""
    (customer,) = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    return customer.select(
        key.alias("id"),
        _coord("lat", key).alias("y"),
        _coord("lon", key).alias("x"),
    ).select(
        "id",
        "y",
        "x",
        (F.lit(_LAT0) + F.col("y") * F.lit(_LAT_STEP)).alias("lat"),
        (F.lit(_LON0) + F.col("x") * F.lit(_LON_STEP)).alias("lon"),
        F.expr(f"y div {cell_units}").alias("cy"),
        F.expr(f"x div {cell_units}").alias("cx"),
    )


def haversine_m(lat_a: Column, lon_a: Column, lat_b: Column, lon_b: Column) -> Column:
    """Great-circle distance in meters, written in the exact operation
    order the DuckDB oracles use (sin half-angles squared by explicit
    multiplication, not pow, so both engines run the same primitives):
    2 * R * asin(sqrt(s1*s1 + cos(a)*cos(b)*(s2*s2)))."""
    s1 = F.sin(F.radians(lat_b - lat_a) / 2)
    s2 = F.sin(F.radians(lon_b - lon_a) / 2)
    h = s1 * s1 + F.cos(F.radians(lat_a)) * F.cos(F.radians(lat_b)) * (s2 * s2)
    return F.lit(2.0) * F.lit(6371000.0) * F.asin(F.sqrt(h))


def _haversine_sql(lat_a: str, lon_a: str, lat_b: str, lon_b: str) -> str:
    return f"""2 * 6371000.0 * asin(sqrt(
      sin(radians({lat_b} - {lat_a}) / 2) * sin(radians({lat_b} - {lat_a}) / 2)
      + cos(radians({lat_a})) * cos(radians({lat_b}))
        * (sin(radians({lon_b} - {lon_a}) / 2)
           * sin(radians({lon_b} - {lon_a}) / 2))))"""


@query(
    "geo_haversine_radius",
    _PTS_CTE
    + f"""
    , geo AS (
      SELECT id, 52.28 + y * 1.5e-6 AS lat, 4.73 + x * 3e-6 AS lon,
             y // 10000 AS cy, x // 10000 AS cx
      FROM pts
    ), lm AS (
      -- CAST to DOUBLE up front: DuckDB parses decimal literals as
      -- DECIMAL and would do exact-decimal arithmetic where Spark does
      -- IEEE double; casting first makes every downstream op double on
      -- both engines
      SELECT name, CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon
      FROM (VALUES
        ('station', 52.3791, 4.9003),
        ('museum', 52.3600, 4.8852),
        ('harbor', 52.4014, 4.8936)) AS t(name, lat, lon)
    ), lmc AS (
      SELECT name, lat, lon,
             CAST(FLOOR((lat - 52.28) / 1.5e-6) AS BIGINT) // 10000 AS cy,
             CAST(FLOOR((lon - 4.73) / 3e-6) AS BIGINT) // 10000 AS cx
      FROM lm
    ), probe AS (
      SELECT l.name, l.lat, l.lon,
             l.cy + dy.d AS cy, l.cx + dx.d AS cx
      FROM lmc l,
           (VALUES (-1), (0), (1)) dy(d),
           (VALUES (-1), (0), (1)) dx(d)
    ), cand AS (
      SELECT p.name, g.id,
             {_haversine_sql("p.lat", "p.lon", "g.lat", "g.lon")} AS dist_m
      FROM probe p JOIN geo g ON g.cy = p.cy AND g.cx = p.cx
    )
    SELECT name, id AS custkey, round(dist_m, 2) AS dist_m
    FROM cand WHERE dist_m <= 1500.0
    """,
    "The map query every OSM user hits first: all points within 1500 m "
    "of each landmark, by great-circle (haversine) distance. Plan: the "
    "3 landmarks expand to their 27 (cell, 3x3-offset) rows — a "
    "broadcast-hash EQUI join on the cell id against the point corpus "
    "(the probe relation is tiny by construction at ANY corpus size), "
    "then the exact trig refine on candidates only. Scale: zero "
    "shuffles of the corpus — with a cell-partitioned layout the scan "
    "itself prunes to 27 cells; never a BETWEEN-range or nested-loop "
    "join. Pure built-in trig, zero UDFs.",
)
def geo_haversine_radius(spark, sf_dir):
    pts = _points(spark, sf_dir, cell_units=10000)
    lm = spark.createDataFrame(_LANDMARKS, "name string, lat double, lon double")
    lmc = lm.select(
        "name",
        "lat",
        "lon",
        F.expr(f"CAST(FLOOR((lat - {_LAT0}) / {_LAT_STEP}) AS BIGINT) div 10000").alias("cy0"),
        F.expr(f"CAST(FLOOR((lon - {_LON0}) / {_LON_STEP}) AS BIGINT) div 10000").alias("cx0"),
    )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    probe = (
        lmc.select("name", "lat", "lon", "cy0", "cx0", F.explode(off).alias("dy"))
        .select(
            "name", "lat", "lon",
            (F.col("cy0") + F.col("dy")).alias("cy"),
            "cx0",
            F.explode(off).alias("dx"),
        )
        .select(
            "name", "lat", "lon", "cy", (F.col("cx0") + F.col("dx")).alias("cx")
        )
    )
    dist = haversine_m(
        F.col("p.lat"), F.col("p.lon"), F.col("g.lat"), F.col("g.lon")
    )
    return (
        F.broadcast(probe).alias("p")
        .join(pts.alias("g"), ["cy", "cx"])
        .select(F.col("p.name").alias("name"), F.col("g.id").alias("custkey"), dist.alias("dist_m"))
        .filter(F.col("dist_m") <= 1500.0)
        .select("name", "custkey", F.round("dist_m", 2).alias("dist_m"))
    )


@query(
    "geo_way_lengths",
    f"""
    WITH nodes AS (
      SELECT p_partkey AS ref,
             ('0x' || substr(md5('geo-lat|spark-graft|'
               || CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT
               % 100000 AS y,
             ('0x' || substr(md5('geo-lon|spark-graft|'
               || CAST(p_partkey AS VARCHAR)), 1, 15))::BIGINT
               % 100000 AS x
      FROM part
    ), pl AS (
      SELECT l.l_orderkey AS way_id, l.l_linenumber AS pos, n.ref,
             n.y, n.x,
             52.28 + n.y * 1.5e-6 AS lat, 4.73 + n.x * 3e-6 AS lon
      FROM lineitem l JOIN nodes n ON n.ref = l.l_partkey
    ), seg AS (
      SELECT way_id, y, x, lat, lon,
             lag(lat) OVER (PARTITION BY way_id ORDER BY pos, ref)
               AS plat,
             lag(lon) OVER (PARTITION BY way_id ORDER BY pos, ref)
               AS plon
      FROM pl
    ), agg AS (
      SELECT way_id, COUNT(*) AS n_nodes,
             SUM(CASE WHEN plat IS NULL THEN NULL ELSE
               CAST(round({_haversine_sql("plat", "plon", "lat", "lon")}
                          * 100) AS BIGINT) END) AS length_cm,
             MIN(y) AS y_min, MAX(y) AS y_max,
             MIN(x) AS x_min, MAX(x) AS x_max
      FROM seg GROUP BY way_id HAVING COUNT(*) >= 2
    )
    SELECT way_id, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(length_cm AS BIGINT) AS length_cm,
           y_min, y_max, x_min, x_max
    FROM agg ORDER BY length_cm DESC, way_id LIMIT 500
    """,
    "Polyline length ON THE SPHERE per way + per-way integer bbox — the "
    "reference's distinctive ordered structure "
    "(amsterdam_map_data_wrangling.py:152-159: ways_nodes(way, "
    "position, ref) JOIN nodes, traversed in position order) as a "
    "driver-gated query over md5-portable synthetic ways: lineitem is "
    "the ways_nodes relation (way = l_orderkey, position = "
    "l_linenumber, ref = l_partkey), part is the nodes relation with "
    "the portable md5 coordinate derivation, lag() over (way, "
    "position) forms each segment, haversine gives its great-circle "
    "length, and the per-way rollup gates EXACT-CM integer sums (each "
    "segment rounded to cm before an integer SUM — no "
    "accumulation-order float risk) plus the integer-unit bbox. Top "
    "500 ways by (length_cm DESC, way_id) — a total tie-break at any "
    "sf. Scale: one equi join ref->nodes (AQE broadcasts the dim at "
    "this size, shuffles co-keyed at 100 TB), then ONE shuffle on "
    "way_id serves both the lag window and the rollup (same key, "
    "Catalyst reuses the partitioning), then TakeOrderedAndProject.",
)
def geo_way_lengths(spark, sf_dir):
    from pyspark.sql import Window

    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    ref = F.col("p_partkey")
    nodes = part.select(
        ref.alias("ref"),
        _coord("lat", ref).alias("y"),
        _coord("lon", ref).alias("x"),
    ).select(
        "ref",
        "y",
        "x",
        (F.lit(_LAT0) + F.col("y") * F.lit(_LAT_STEP)).alias("lat"),
        (F.lit(_LON0) + F.col("x") * F.lit(_LON_STEP)).alias("lon"),
    )
    wn = lineitem.select(
        F.col("l_orderkey").alias("way_id"),
        F.col("l_linenumber").alias("pos"),
        F.col("l_partkey").alias("ref"),
    )
    # total traversal order: the synthetic lineitem does NOT keep
    # (way, pos) unique (up to 6 rows per pair at sf0.01), so the
    # position tie is broken by the node ref — remaining ties are exact
    # duplicate rows whose coords are equal, leaving every aggregate
    # deterministic on both engines
    w = Window.partitionBy("way_id").orderBy("pos", "ref")
    seg = wn.join(nodes, "ref").select(
        "way_id",
        "y",
        "x",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    seg_cm = F.when(
        F.col("plat").isNotNull(),
        F.round(
            haversine_m(
                F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")
            )
            * 100
        ).cast("bigint"),
    )
    return (
        seg.groupBy("way_id")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum(seg_cm).alias("length_cm"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
        )
        .filter(F.col("n_nodes") >= 2)
        .orderBy(F.desc("length_cm"), "way_id")
        .limit(500)
    )


@query(
    "geo_nn_on_sphere",
    _PTS_CTE
    + f"""
    , geo AS (
      SELECT id, 52.28 + y * 1.5e-6 AS lat, 4.73 + x * 3e-6 AS lon,
             y // 1600 AS cy, x // 1600 AS cx
      FROM pts
    ), cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             {_haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")} AS dist_m
      FROM geo a
      JOIN geo b
        ON b.cy BETWEEN a.cy - 1 AND a.cy + 1
       AND b.cx BETWEEN a.cx - 1 AND a.cx + 1
       AND a.id <> b.id
    ), ranked AS (
      SELECT id_a, id_b, dist_m,
             row_number() OVER (
               PARTITION BY id_a ORDER BY round(dist_m, 2), id_b) AS rn
      FROM cand WHERE dist_m <= 250.0
    )
    SELECT id_a AS custkey, id_b AS nn_custkey, round(dist_m, 2) AS dist_m
    FROM ranked WHERE rn = 1
    """,
    "Nearest neighbor ON THE SPHERE per point, search bounded to "
    "250 m: grid-bucketed self-join (candidate side exploded by the 9 "
    "cell offsets, EQUI-joined on the cell id — Spark never sees a "
    "BETWEEN-range join), haversine refine, then one row_number window "
    "per point ordered by (rounded distance, neighbor id) so the "
    "tie-break is total and engine-independent. Points with no "
    "neighbor inside the radius are absent (bounded search — the "
    "documented trade every grid method makes). Scale: ONE shuffle of "
    "the corpus on the cell key + one window shuffle on the point id; "
    "candidates are density-bounded per cell, never all-pairs.",
)
def geo_nn_on_sphere(spark, sf_dir):
    import os

    from amsterdam_map_data_wrangling_spark.sources.fs import (
        parquet_num_rows,
    )

    pts = _points(spark, sf_dir, cell_units=1600)
    # materialize the documented "ONE shuffle of the corpus on the cell
    # key" explicitly: without it AQE broadcast-converts both (tiny,
    # single-split) sides and the whole candidate emission — ~9 x
    # points-per-cell rows per probe row, the quadratic-in-density part —
    # runs inside the UNSPLIT scan stage (one task on a 1-row-group
    # file; 34 s at the sf1 scale point). Hash-partitioning the probe
    # side on the cell id is the same plan a cell-partitioned production
    # layout gives for free, and parallelizes the emission at any input
    # layout. (The 4 MiB cpu_parallel_floor window is the wrong guard
    # here: customer's bytes are tiny — the blow-up is the join fan-out,
    # which this plan knows about and the loader cannot.)
    #
    # ROW-COUNT window (r18 optimization round): the fan-out is
    # quadratic in ROWS (~9·n²/n_cells in-cell pairs), so the guard is
    # the footer row count, not bytes. Below ~50k points the whole
    # emission is < ~6M candidate pairs — under a second of one-core
    # trig — and the exchange's fixed cost exceeds its benefit
    # (measured 0.6 s at sf0.1's 15k points); the r11 wall fired at
    # 150k (52M pairs), well above. An unreadable footer fails SAFE
    # into the repartition (the production path).
    n_pts = parquet_num_rows(os.path.join(sf_dir, "customer.parquet"))
    if n_pts is None or n_pts >= 50_000:
        pts = pts.repartition(
            spark.sparkContext.defaultParallelism, "cy", "cx"
        )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    # explode the CANDIDATE side into its 9 neighbor cells: the join on
    # (cy, cx) is then pure equi and each true pair matches exactly once
    # (the offset pair is determined by the two cells)
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
    # integer bounding-box prune BEFORE any trig — found by the sf1 scale
    # pass (10x point density made the fixed-size cells hold ~10x the
    # points, so the 3x3 candidate set densified to ~340 pairs/point and
    # 51M haversine evals + a 13M-row window sort ran 36 s). The prune is
    # conservative (false keeps allowed, false drops impossible): a pair
    # farther than 250 m in the N-S arc alone has |dy| > 1499 units
    # (1 y-unit = 1.5e-6 deg = 0.16679 m of meridian), and farther in the
    # E-W arc alone has |dx| > 1230 units at the bbox's narrowest
    # (1 x-unit >= 3e-6 deg x cos(52.43) = 0.20329 m); 1520/1320 carry
    # ~2-7% slack on top. Cuts candidates to ~1/3 of the neighborhood
    # with two integer compares per pair.
    bbox = (F.abs(F.col("y") - F.col("y_b")) <= 1520) & (
        F.abs(F.col("x") - F.col("x_b")) <= 1320
    )
    dist = haversine_m(F.col("lat"), F.col("lon"), F.col("lat_b"), F.col("lon_b"))
    # top-1 per point via min() over ONE packed long — identical
    # (rounded-distance, id) tie-break as the oracle's row_number, but
    # partial-aggregatable: the map side reduces each point's candidates
    # to ONE row before the shuffle, where the former window shuffled and
    # sorted EVERY in-radius pair (output densifies linearly with point
    # density, so at 10x density that sort was 13M rows). The packing
    # (r18 optimization round): min(struct(d, id)) plans as
    # Sort + SortAggregate on BOTH sides of the exchange (struct min has
    # no hash-agg buffer — and so does min_by with a struct ordering);
    # packing cents(d) and the id into ONE DECIMAL(26,0) — cents * 10^19
    # + id — makes it a codegen HashAggregate with map-side partials.
    # Decimal, not a long: a 63-bit long cannot hold 15 bits of cents
    # (d <= 250.00 -> cents <= 25000) plus an arbitrary int64 id — the
    # shifted-key-domain contract (tests/test_key_domain_stress.py,
    # KEY_SHIFT 9.2e14) overflows any long split, while id < 10^19
    # holds for every non-negative int64. Lexicographic identity: equal
    # d <=> equal cents (both engines compare the same rounded value),
    # so min(pack) = pack(min(struct)). Decode is exact decimal
    # arithmetic, and cents/100.0 is IEEE-correctly-rounded division
    # producing the same double as round(dist, 2) (both are the nearest
    # double to the same 2-decimal value).
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
        .agg(F.min(_nn_pack(F.col("d"), F.col("nn_custkey"))).alias("m"))
        .select("custkey", *_nn_decode(F.col("m")))
    )


#: 10^19 as an exact decimal literal — the id field width of the packed
#: top-1 aggregate below (every NON-NEGATIVE int64 id < 10^19).
_NN_TEN19 = decimal.Decimal(10**19)


def _nn_pack(d_col, id_col):
    """(rounded-distance, id) packed into ONE DECIMAL(26,0):
    cents(d) * 10^19 + id. PRECONDITION: id >= 0 (a negative id wraps
    through pmod in the decode and breaks the lexicographic order —
    enforced by tests/test_geo_ways.py::test_geo_nn_pack_decode_contract
    and exercised at the shifted-key domain by
    tests/test_key_domain_stress.py). Lexicographic identity: equal
    d <=> equal cents, so min(pack) = pack(min(struct(d, id)))."""
    return F.round(d_col * 100).cast("decimal(5,0)") * F.lit(
        _NN_TEN19
    ) + id_col.cast("decimal(19,0)")


def _nn_decode(m_col):
    """Exact decimal decode of :func:`_nn_pack` (never a double
    round-trip: the packed value is ~10^23, far past double's 53-bit
    mantissa); cents/100.0 is IEEE-correctly-rounded division producing
    the same double as round(dist, 2)."""
    ten19 = F.lit(_NN_TEN19)
    return [
        F.pmod(m_col, ten19).cast("long").alias("nn_custkey"),
        (
            ((m_col - F.pmod(m_col, ten19)) / ten19)
            .cast("long")
            .cast("double")
            / F.lit(100.0)
        ).alias("dist_m"),
    ]
