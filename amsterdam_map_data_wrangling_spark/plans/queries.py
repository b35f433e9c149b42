"""The named analytical query catalog.

Every operator class the reference exercises (SURVEY.md §2.4-§2.7:
counts, union-distinct, filtered group-count top-k, LIKE filters,
derived ratios, sorts/limits, the joins its FK schema implies) is
re-expressed here over the driver's star-schema testdata, as a pair:

- ``build(spark, sf_dir) -> DataFrame`` — the Spark plan (DataFrame API,
  built-in functions only in hot paths);
- ``oracle`` — an equivalent ANSI-SQL string DuckDB runs on the same
  parquet, for the driver's row-count + schema + value-hash gate.

Conventions that keep the hash compare honest:

- every computed column is aliased identically on both sides;
- doubles that pass through an aggregate are ``round(x, N)``-ed on both
  sides (float summation order differs between engines);
- every ``LIMIT`` carries a total tie-break ordering;
- timestamps are grouped via ``date_trunc`` and returned as strings.

Scale notes are per-query docstrings: each plan states why it holds at
100 TB (broadcastability, partial agg, pushed filters, top-k rewrite).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from amsterdam_map_data_wrangling_spark.plans.catalog import (
    QUERIES,
    QuerySpec,
    _t,
    oracle_sql,
    queries,
    query,
)

__all__ = ["QUERIES", "QuerySpec", "query", "queries", "oracle_sql"]


# ===========================================================================
# Counts & set operations (reference A1, A2/U1 — Readme.md:159-171)
# ===========================================================================


@query(
    "count_global",
    "SELECT COUNT(*) AS cnt FROM lineitem",
    "A1: global count. Scale: metadata-only parquet row-group count, no shuffle.",
)
def count_global(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.agg(F.count("*").alias("cnt"))


@query(
    "distinct_users_union",
    """
    SELECT COUNT(DISTINCT uid) AS num_users FROM (
      SELECT o_custkey AS uid FROM orders
      UNION ALL
      SELECT c_custkey AS uid FROM customer
    ) alles
    """,
    "A2/U1: COUNT(DISTINCT) over a UNION ALL of projected columns "
    "(Readme.md:169-171). Scale: partial distinct per partition then "
    "single-column shuffle; swap to approx_count_distinct at 100 TB "
    "when ±2% is acceptable.",
)
def distinct_users_union(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    alles = orders.select(F.col("o_custkey").alias("uid")).unionAll(
        customer.select(F.col("c_custkey").alias("uid"))
    )
    return alles.agg(F.count_distinct("uid").alias("num_users"))


@query(
    "custkeys_intersect",
    """
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
    "Set op beyond reference (SURVEY §2.5): INTERSECT (distinct semantics).",
)
def custkeys_intersect(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return customer.select(F.col("c_custkey").alias("custkey")).intersect(
        orders.select(F.col("o_custkey").alias("custkey"))
    )


@query(
    "custkeys_except",
    """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    "Set op: EXCEPT (customers with no urgent order), distinct semantics. "
    "subtract() IS EXCEPT DISTINCT — one distinct shuffle, no multiplicity "
    "bookkeeping. The urgent filter keeps the sf0.01 result non-empty so "
    "the oracle hash compare is not vacuous.",
)
def custkeys_except(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return customer.select(F.col("c_custkey").alias("custkey")).subtract(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_custkey").alias("custkey")
        )
    )


# ===========================================================================
# Filtered group-count top-k (reference A3/A4/T1 — Readme.md:205-245)
# ===========================================================================


@query(
    "topk_group_distinct",
    """
    SELECT event_type AS value, COUNT(DISTINCT user_id) AS num
    FROM events
    GROUP BY event_type
    ORDER BY num DESC, value
    LIMIT 10
    """,
    "A3 shape: GROUP BY + COUNT(DISTINCT) + ORDER BY DESC LIMIT "
    "(busiest-postcode query, Readme.md:205-221). Scale: two-phase "
    "distinct agg; top-k is TakeOrderedAndProject (no global sort).",
)
def topk_group_distinct(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.col("event_type").alias("value"))
        .agg(F.count_distinct("user_id").alias("num"))
        .orderBy(F.desc("num"), "value")
        .limit(10)
    )


@query(
    "topk_group_count",
    """
    SELECT p_brand AS value, COUNT(*) AS num
    FROM part
    GROUP BY p_brand
    ORDER BY num DESC, value
    LIMIT 10
    """,
    "A4 shape: filtered group-count top-k (top-amenities query, "
    "Readme.md:229-245). Scale: map-side partial count then tiny "
    "shuffle of (brand, partial) pairs; top-k distributed.",
)
def topk_group_count(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    return (
        part.groupBy(F.col("p_brand").alias("value"))
        .agg(F.count("*").alias("num"))
        .orderBy(F.desc("num"), "value")
        .limit(10)
    )


@query(
    "topk_order_limit",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    "T1: ORDER BY ... DESC LIMIT k → TakeOrderedAndProject: each "
    "partition keeps a k-heap, driver merges k*P rows — no global sort "
    "even at 100 TB.",
)
def topk_order_limit(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


# ===========================================================================
# LIKE filters (reference A5 — Readme.md:193-200) & scans (T2)
# ===========================================================================


@query(
    "like_filter_count",
    "SELECT COUNT(*) AS cnt FROM part WHERE p_name LIKE '%re%'",
    "A5: LIKE pattern filter + count ('coffee%shop%'). Case-sensitive "
    "variant. Scale: predicate evaluated in the scan stage.",
)
def like_filter_count(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("%re%")).agg(F.count("*").alias("cnt"))


@query(
    "scan_filter_project",
    """
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_size > 40 AND p_type LIKE '%AR%'
    """,
    "T2: un-aggregated filtered projection (the coffee-listing SELECT *, "
    "Readme.md:178-186). Scale: column pruning + pushed predicates — the "
    "parquet scan reads 3 of 6 columns and skips row groups on p_size stats. "
    "Predicates chosen to be selective but non-empty at sf0.01 so the "
    "oracle compare is not vacuous.",
)
def scan_filter_project(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    return part.filter((F.col("p_size") > 40) & F.col("p_type").like("%AR%")).select(
        "p_partkey", "p_name", "p_brand"
    )


# ===========================================================================
# Derived ratios over aggregates (reference A6 — Readme.md:226)
# ===========================================================================


@query(
    "pct_shares",
    """
    SELECT event_type AS value, COUNT(*) AS num,
           round(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 2) AS pct
    FROM events
    GROUP BY event_type
    ORDER BY num DESC, value
    """,
    "A6: percentages of group counts against the total (the hand-computed "
    "37.33% restaurant share). Scale: agg first (tiny result), then an "
    "unpartitioned window over the already-reduced rows — safe because the "
    "window input is |distinct groups|, not |rows|.",
)
def pct_shares(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    counts = events.groupBy(F.col("event_type").alias("value")).agg(
        F.count("*").alias("num")
    )
    w = Window.partitionBy()
    return counts.withColumn(
        "pct", F.round(100.0 * F.col("num") / F.sum("num").over(w), 2)
    ).orderBy(F.desc("num"), "value")


# ===========================================================================
# Multi-aggregate rollup (flagship; TPC-H Q1 shape)
# ===========================================================================


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(SUM(l_quantity), 2)                                   AS sum_qty,
           round(SUM(l_extendedprice), 2)                              AS sum_base_price,
           round(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(AVG(l_quantity), 4)                                   AS avg_qty,
           round(AVG(l_extendedprice), 4)                              AS avg_price,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "Flagship: multi-aggregate grouped rollup (TPC-H Q1 shape) — the "
    "generalization of the reference's count-by-group queries. Scale: "
    "pure map-side partial agg into a 4-6 group shuffle; filter pushed "
    "to parquet (min/max row-group skip on l_shipdate).",
)
def pricing_summary(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ===========================================================================
# Joins (SURVEY §2.3 — the FK schema the reference exists to serve)
# ===========================================================================


@query(
    "join_revenue_by_priority",
    """
    SELECT o.o_orderpriority AS priority,
           round(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS num_items
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
    "Equi inner join fact↔fact on the FK (tags→entities shape). Scale: "
    "both sides shuffle on orderkey (or co-located if both bucketed by "
    "orderkey at write time); AQE handles skewed keys.",
)
def join_revenue_by_priority(spark, sf_dir):
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("num_items"),
        )
        .orderBy("priority")
    )


@query(
    "runtime_bloom_filter_join",
    """
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY priority ORDER BY priority
    """,
    "Runtime bloom-filter join pruning — Spark's row-level runtime "
    "filter (SPARK-32268): a selective dim (one mktsegment) joined to "
    "the fact, in the 100 TB shape where the dim side exceeds any "
    "broadcast threshold so the join must shuffle BOTH sides. With "
    "spark.sql.optimizer.runtime.bloomFilter.* on, Catalyst plants a "
    "bloom_filter_agg subquery on the dim and a might_contain filter on "
    "the fact scan, so ~4/5 of fact rows drop BEFORE the fact's shuffle "
    "exchange — the single biggest shuffle-byte lever for selective "
    "fact-dim joins at scale. Configs are scoped to a child session "
    "(newSession shares the SparkContext but clones SQLConf) so no "
    "other query inherits the forced-shuffle shape. Bloom false "
    "positives cost only wasted shuffle rows; the exact join removes "
    "them, so the gated result is identical to the plain join the "
    "oracle runs — the bloom's presence is pinned by plan shape "
    "(tests/test_plan_shapes.py), its harmlessness by this hash gate.",
)
def runtime_bloom_filter_join(spark, sf_dir):
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    # fact side is far below the 10 GiB default application-side
    # threshold at test SFs — drop it so the sf0.01/sf0.1 plan is the
    # same one a 100 TB fact would get
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    orders, customer = _t(s2, sf_dir, "orders", "customer")
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
        .orderBy("priority")
    )


@query(
    "local_supplier_volume",
    """
    SELECT r_name AS region, n_name AS nation,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
    "The classic 6-table local-supplier-volume join (TPC-H Q5 shape): "
    "lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with "
    "the correlation predicate customer-nation = supplier-nation — the "
    "deepest join pipeline in the catalog and the canonical join-"
    "ordering stress test. Scale: the two fact-fact joins shuffle on "
    "their keys (orderkey, then custkey); supplier/nation/region ride "
    "broadcast hash joins so the deep tail adds zero exchanges; the "
    "nation-equality correlation is a post-join filter that Catalyst "
    "pushes into the supplier join condition. Revenue is the documented "
    "price*(1-disc) float class.",
)
def local_supplier_volume(spark, sf_dir):
    customer, orders, lineitem, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("region", "nation")
    )


@query(
    "star_join_customers_by_region",
    """
    SELECT r.r_name AS region, COUNT(*) AS num_customers,
           round(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0, 2)
             AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY region
    """,
    "Star join with explicitly broadcast dims (nation 25 rows, region 5): "
    "zero shuffle for the joins at any scale — only the final tiny agg "
    "shuffles. Balance total gated over EXACT integer cents (catalog "
    "float-SUM convention: the summand is an exact 2-decimal quantity, "
    "so a double SUM's accumulation order is avoidable risk).",
)
def star_join_customers_by_region(spark, sf_dir):
    customer, nation, region = _t(spark, sf_dir, "customer", "nation", "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("num_customers"),
            F.round(
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / 100.0, 2
            ).alias("total_acctbal"),
        )
        .orderBy("region")
    )


@query(
    "semi_join_active_customers",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "Left-semi join (EAV 'entities having tags' shape, SURVEY §2.3). "
    "Scale: semi-join shuffles only the key column of the probe side.",
)
def semi_join_active_customers(spark, sf_dir):
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey")


@query(
    "anti_join_inactive_customers",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '2-HIGH')
    """,
    "Left-anti join ('entities with no tags' — here customers with no "
    "high-priority order; the filter keeps the sf0.01 result non-empty "
    "so the oracle compare is not vacuous).",
)
def anti_join_inactive_customers(spark, sf_dir):
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    high = orders.filter(F.col("o_orderpriority") == "2-HIGH")
    return customer.join(
        high, customer.c_custkey == high.o_custkey, "left_anti"
    ).select("c_custkey")


# ===========================================================================
# Window / sequence semantics (ways_nodes.position analog, SURVEY §2.9)
# ===========================================================================


@query(
    "ordered_position_per_group",
    """
    SELECT l_orderkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1
             AS position
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
    "The ways_nodes (parent_id, child_id, position) ordered-list contract "
    "(amsterdam_map_data_wrangling.py:152-159) as a window: 0-based "
    "position per parent. Scale: partition-local sort per key after one "
    "hash shuffle on the parent key.",
)
def ordered_position_per_group(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        lineitem.filter(F.col("l_orderkey") % 100 == 0)
        .select(
            "l_orderkey",
            "l_partkey",
            (F.row_number().over(w) - 1).alias("position"),
        )
    )


@query(
    "topn_per_group",
    """
    SELECT priority, o_orderkey, round(o_totalprice, 2) AS totalprice FROM (
      SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    "Top-N per group (rank window) — the distributed generalization of "
    "the reference's global top-k. Scale: one shuffle on the group key; "
    "per-partition heap via window + filter.",
)
def topn_per_group(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_orderpriority").alias("priority"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


@query(
    "running_revenue_per_customer",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running_cents
    FROM orders WHERE o_custkey % 20 = 0
    """,
    "Explicit frame spec: per-customer cumulative revenue as EXACT "
    "INTEGER CENTS (ROWS UNBOUNDED PRECEDING → CURRENT ROW) with a total "
    "order inside the partition. RE-CONTRACTED r15 (its cohort-front "
    "round; prepared+guard-tested at r14): the old round(SUM(double),2) "
    "contract pinned float accumulation ORDER, forcing the whole history "
    "of a key into one task — measured 5.17x at 100x/10%-hot Zipf, "
    "deepening to 15x at 30%-hot (skew_soak_r14.json). Exact cents are "
    "order-free, unlocking the chunked two-level prefix sum below. "
    "Scale: max task = a key's orders per 31-day chunk (bounded by time "
    "density, not history length); the offsets relation is one row per "
    "(key, chunk).",
)
def running_revenue_per_customer(spark, sf_dir):
    """Chunked two-level prefix sum (skew-proof running total):

    1. chunk-local running cents: window over (custkey, 31-day chunk);
    2. per-key EXCLUSIVE prefix of chunk totals — tiny relation, one
       row per (key, chunk), so the hot key contributes #chunks rows,
       not #orders rows;
    3. join offsets back on (key, chunk) and add.

    Values identical to the naive one-partition window by associativity
    of integer addition (equivalence-pinned in tests/test_skew.py).
    Chunk ids use exact integer arithmetic on the day number (r14
    ADVICE: F.floor(col/lit) is double division and can mis-chunk near
    2^53); datediff is INT so `div` is total here.
    """
    (orders,) = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.filter(F.col("o_custkey") % 20 == 0).select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        cents.alias("cents"),
        F.expr(
            "datediff(o_orderdate, DATE '1970-01-01') div 31"
        ).alias("_chunk"),
    )
    dec = F.col("cents").cast("decimal(38,0)")
    w_local = (
        Window.partitionBy("o_custkey", "_chunk")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.select(
        "o_custkey",
        "o_orderkey",
        "_chunk",
        F.sum(dec).over(w_local).alias("_loc"),
    )
    w_off = (
        Window.partitionBy("o_custkey")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        base.groupBy("o_custkey", "_chunk")
        .agg(F.sum(dec).alias("_ctot"))
        .select(
            "o_custkey",
            "_chunk",
            F.coalesce(
                F.sum("_ctot").over(w_off), F.lit(0).cast("decimal(38,0)")
            ).alias("_off"),
        )
    )
    return local.join(off, ["o_custkey", "_chunk"]).select(
        "o_custkey",
        "o_orderkey",
        (F.col("_loc") + F.col("_off")).cast("bigint").alias("running_cents"),
    )


@query(
    "event_gap_stats",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch(ts) - epoch(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
      FROM events
    )
    SELECT event_type,
           COUNT(gap_s) AS n_gaps,
           round(avg(gap_s), 2) AS avg_gap_s,
           round(max(gap_s), 2) AS max_gap_s
    FROM gaps GROUP BY event_type ORDER BY event_type
    """,
    "lag() inter-event gaps per user, aggregated per type — the "
    "sequence-analysis shape (session length precursor). Scale: one "
    "shuffle on user_id for the window, then a tiny agg.",
)
def event_gap_stats(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    # data-adaptive lag plan (r15 high-null soak: 5.3x at factor 100 /
    # 50% NULL user_id on the one-partition lag; the chunked form wins
    # 4.1x there). Footer null-fraction probe as in gap_sessionization;
    # dense-key corpora (every gate/bench SF) keep the registered plan.
    # The chunked twin computes the gap from exact integer micros
    # (lag VALUES identical; the seconds division differs from the
    # double-cast subtraction by <1 ulp, absorbed by the 2-decimal
    # rounding on avg/max — oracle-gated on a half-null corpus in
    # tests/test_widerow.py).
    from amsterdam_map_data_wrangling_spark.plans.text import (
        _parquet_col_null_frac,
    )

    nf = _parquet_col_null_frac(f"{sf_dir}/events.parquet", "user_id")
    if nf is not None and nf < 0.10:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.col("ts").cast("double") - F.lag(
            F.col("ts").cast("double")
        ).over(w)
        gaps = events.select("event_type", gap.alias("gap_s"))
    else:
        from amsterdam_map_data_wrangling_spark.operators.skew import (
            chunked_lag,
        )

        base = events.select(
            "event_type",
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        gaps = chunked_lag(
            base, "user_id", "us", "event_id", 86_400_000_000, "_prev_us"
        ).select(
            "event_type",
            ((F.col("us") - F.col("_prev_us")) / 1e6).alias("gap_s"),
        )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
            F.round(F.max("gap_s"), 2).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# Relational extensions beyond the reference surface (SURVEY §2.3/§2.4
# "not present" rows): as-of join, rollup, EAV pivot-back
# ===========================================================================


@query(
    "weekly_cohort_retention",
    """
    WITH weekly AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
    )
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, week) // 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM weekly JOIN firsts USING (user_id)
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    "Weekly cohort retention — the product-analytics staple: users "
    "cohorted by their first active ISO week, counted per week offset "
    "since the cohort. Both engines truncate weeks Monday-based and the "
    "offsets are exact multiples of 7 days, so the integer division is "
    "boundary-free. Scale: the (user, week) activity relation is "
    "DISTINCT-collapsed before anything else (the only big shuffle), "
    "the first-week aggregate reuses its user partitioning, and the "
    "cohort matrix is ≤ weeks² rows.",
)
def weekly_cohort_retention(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    weekly = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    firsts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, event_type, ts, event_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
      FROM events
    ), s2 AS (
      SELECT *, max(CASE WHEN event_type = 'click' AND r1 = 1
                         THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
      FROM s1
    ), s3 AS (
      SELECT *, max(CASE WHEN event_type = 'purchase' AND r2 = 1
                         THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r3
      FROM s2
    ), per_user AS (
      SELECT user_id, max(r1) AS m1, max(r2) AS m2, max(r3) AS m3
      FROM s3 GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(m1) AS BIGINT) AS reached_view,
           CAST(SUM(m2) AS BIGINT) AS reached_click,
           CAST(SUM(m3) AS BIGINT) AS reached_purchase
    FROM per_user
    """,
    "Ordered-sequence funnel (view → click → purchase, in timestamp "
    "order per user) — the conversion query every event pipeline runs. "
    "Implemented as three chained running-max flags over ONE window "
    "(same partition + order ⇒ one shuffle, one sort): r1 = seen a "
    "view; r2 = seen a click at-or-after that view; r3 = seen a "
    "purchase at-or-after that click — then per-user maxima and a "
    "1-row global rollup. Scale: the per-user groupBy reuses the "
    "window's hash partitioning (no second wide exchange), and state "
    "per row is three bits — no per-user event list is ever collected.",
)
def funnel_conversion(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    # data-adaptive window plan (r15 high-null soak: 6.3x at factor
    # 100 / 50% NULL user_id — the chained running-max flags put the
    # NULL slice in one task). Footer null-fraction probe as in
    # gap_sessionization; dense-key corpora (every gate/bench SF) keep
    # the registered plan byte-identical. The chunked state-machine
    # twin (operators/skew.py:chunked_staged_funnel) is value-identical
    # by monotone-state composition — exact integers end to end,
    # equivalence pinned in tests/test_skew.py and oracle-gated on a
    # half-null corpus.
    from amsterdam_map_data_wrangling_spark.plans.text import (
        _parquet_col_null_frac,
    )

    nf = _parquet_col_null_frac(f"{sf_dir}/events.parquet", "user_id")
    if nf is not None and nf < 0.10:
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        s1 = events.withColumn(
            "r1", F.max((F.col("event_type") == "view").cast("int")).over(w)
        )
        s2 = s1.withColumn(
            "r2",
            F.max(
                ((F.col("event_type") == "click") & (F.col("r1") == 1)).cast(
                    "int"
                )
            ).over(w),
        )
        s3 = s2.withColumn(
            "r3",
            F.max(
                ((F.col("event_type") == "purchase") & (F.col("r2") == 1)).cast(
                    "int"
                )
            ).over(w),
        )
        per_user = s3.groupBy("user_id").agg(
            F.max("r1").alias("m1"),
            F.max("r2").alias("m2"),
            F.max("r3").alias("m3"),
        )
    else:
        from amsterdam_map_data_wrangling_spark.operators.skew import (
            chunked_staged_funnel,
        )

        base = events.select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("us"),
            "event_id",
            "event_type",
        )
        per_user = chunked_staged_funnel(
            base,
            "user_id",
            "us",
            "event_id",
            "event_type",
            ("view", "click", "purchase"),
        )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("m1").alias("reached_view"),
        F.sum("m2").alias("reached_click"),
        F.sum("m3").alias("reached_purchase"),
    )


@query(
    "key_skew_profile",
    """
    WITH counts AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT CAST(length(bin(cnt)) AS BIGINT) AS n_bits,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_per_key
    FROM counts GROUP BY n_bits ORDER BY n_bits
    """,
    "Key-skew profile — the diagnostic behind every shuffle-debug at "
    "scale: per-key row counts bucketed by bit length (power-of-two "
    "histogram), with keys/rows/max per bucket. A heavy-hitter key "
    "shows up as a lone populated high bucket — the signal that a join "
    "or agg on this key needs salting (operators/skew.py) or an AQE "
    "skew split. Bit length via length(bin(cnt)) — exact integer "
    "algebra on both engines, immune to the float-log2 boundary error "
    "at exact powers of two. Scale: one shuffle on the key, then a "
    "histogram over one row per DISTINCT key — output is ~64 rows no "
    "matter the corpus.",
)
def key_skew_profile(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return (
        counts.groupBy(F.length(F.bin("cnt")).cast("long").alias("n_bits"))
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_per_key"),
        )
        .orderBy("n_bits")
    )


#: Z-order (Morton) interleave of two 8-bit coordinates, generated as
#: plain integer arithmetic once per dialect — bit i of x lands at z-bit
#: 2i, bit i of y at 2i+1. Multiplication by the power of two instead of
#: a dialect-specific shift operator keeps the two strings semantically
#: identical symbol-for-symbol.
_Z8_SPARK = " + ".join(
    f"(shiftright(x, {i}) % 2) * {1 << (2 * i)}"
    f" + (shiftright(y, {i}) % 2) * {1 << (2 * i + 1)}"
    for i in range(8)
)
_Z8_DUCK = " + ".join(
    f"((x >> {i}) & 1) * {1 << (2 * i)}"
    f" + ((y >> {i}) & 1) * {1 << (2 * i + 1)}"
    for i in range(8)
)


@query(
    "zorder_layout_stats",
    f"""
    WITH coords AS (
      SELECT user_id % 256 AS x,
             CAST(floor(value) AS BIGINT) % 256 AS y
      FROM events
    ), z AS (
      SELECT x, y, {_Z8_DUCK} AS zval FROM coords
    )
    SELECT CAST(zval // 256 AS BIGINT) AS tile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(x) AS BIGINT) AS x_lo, CAST(MAX(x) AS BIGINT) AS x_hi,
           CAST(MIN(y) AS BIGINT) AS y_lo, CAST(MAX(y) AS BIGINT) AS y_hi
    FROM z GROUP BY tile ORDER BY tile
    """,
    "Z-order (Morton) layout clustering — the multi-dimensional data-"
    "layout op behind OPTIMIZE ZORDER-style file skipping: interleave "
    "the bits of two columns so one sort key preserves locality in "
    "BOTH, then files written in z order serve min/max pruning for "
    "predicates on either column. Gated output: per z-tile (top 8 of "
    "16 z bits) row counts plus per-tile x/y bounds — a contiguous "
    "z-tile is a 16x16 coordinate box, so the bounds THEMSELVES prove "
    "the locality property (x_hi-x_lo and y_hi-y_lo <= 15 on every "
    "row). The interleave is closed-form integer arithmetic generated "
    "identically for both engines. Scale: narrow map + one agg shuffle "
    "over <= 256 tiles; as a write-side layout the same expression "
    "feeds repartitionByRange(zval) before the parquet sink.",
)
def zorder_layout_stats(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    coords = events.select(
        (F.col("user_id") % 256).alias("x"),
        (F.floor("value").cast("long") % 256).alias("y"),
    )
    z = coords.withColumn("zval", F.expr(_Z8_SPARK))
    return (
        z.groupBy(F.shiftright("zval", 8).cast("long").alias("tile"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
        .orderBy("tile")
    )


@query(
    "asof_last_click_before_error",
    """
    WITH err AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'error'),
         clk AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT err.event_id, err.user_id, err.ts, c.ts AS last_click_ts
    FROM err ASOF LEFT JOIN clk c
      ON err.user_id = c.user_id AND err.ts >= c.ts
    """,
    "As-of join: each error event matched to the user's most recent click "
    "at-or-before it. Spark lacks a native ASOF join — expressed as the "
    "union+running-max window idiom: tag both streams, one window over "
    "(user, ts) carries the latest click timestamp forward. Scale: ONE "
    "shuffle on user_id + an in-order scan per key — same cost as the "
    "sort-merge ASOF a native engine (or DuckDB, the oracle here) runs.",
)
def asof_last_click_before_error(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    tagged = events.filter(F.col("event_type").isin("error", "click")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
    )
    # clicks sort before a tied error so an equal-timestamp click matches
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_click"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_click_ts",
        F.max(F.when(F.col("is_click"), F.col("ts"))).over(w),
    )
    return carried.filter(~F.col("is_click")).select(
        "event_id", "user_id", "ts", "last_click_ts"
    )


@query(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS num
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "ROLLUP hierarchy totals (flag, flag+status, grand total) in one pass "
    "— the grouping-sets surface Catalyst provides beyond the reference "
    "(SURVEY §2.4 note). Scale: one expand + one agg shuffle; partial "
    "aggregation applies to every grouping set.",
)
def rollup_revenue(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("num"),
    )


@query(
    "eav_pivot_wide",
    """
    WITH eav AS (
      SELECT p_partkey AS id, 'name' AS key, p_name AS value FROM part
      UNION ALL SELECT p_partkey, 'brand', p_brand FROM part
      UNION ALL SELECT p_partkey, 'ptype', p_type FROM part
    )
    SELECT id,
           max(CASE WHEN key = 'name' THEN value END) AS name,
           max(CASE WHEN key = 'brand' THEN value END) AS brand,
           max(CASE WHEN key = 'ptype' THEN value END) AS ptype
    FROM eav GROUP BY id
    """,
    "EAV → wide pivot-back (the inverse of eav_unpivot_topk): long "
    "(id, key, value) rows pivoted to columns with an explicit value "
    "list, so Spark needs no extra distinct-keys job. This is how the "
    "OSM nodes_tags EAV table re-materializes as a wide attribute view. "
    "Scale: conditional-aggregate pivot = one shuffle on id.",
)
def eav_pivot_wide(spark, sf_dir):
    (part,) = _t(spark, sf_dir, "part")
    eav = part.selectExpr(
        "p_partkey AS id",
        "stack(3, 'name', p_name, 'brand', p_brand, 'ptype', p_type) AS (key, value)",
    )
    return (
        eav.groupBy("id")
        .pivot("key", ["name", "brand", "ptype"])
        .agg(F.max("value"))
    )


@query(
    "range_join_balance_bands",
    """
    WITH bands AS (
      SELECT n_nationkey AS band_id,
             n_nationkey * 400.0 AS lo,
             n_nationkey * 400.0 + 700.0 AS hi
      FROM nation
    )
    SELECT band_id,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM bands JOIN customer ON c_acctbal BETWEEN lo AND hi
    GROUP BY band_id ORDER BY band_id
    """,
    "Range join (point-in-interval): customer balances against 25 "
    "overlapping price bands derived from nation. DuckDB plans the "
    "BETWEEN as an IEJoin; Spark would fall back to "
    "BroadcastNestedLoopJoin, so we use the bucketized band join "
    "(operators/range_join.py): points hash to floor(x/W), intervals "
    "explode to their covered buckets, equi-join + residual filter. "
    "Scale: O(N + M·len/W) instead of O(N·M); the equi-join shuffles, "
    "AQE-splittable like any other.",
)
def range_join_balance_bands(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.range_join import (
        point_in_interval_join,
    )

    nation, customer = _t(spark, sf_dir, "nation", "customer")
    bands = nation.select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 400.0).alias("lo"),
        (F.col("n_nationkey") * 400.0 + 700.0).alias("hi"),
    )
    matched = point_in_interval_join(
        customer.select("c_custkey", "c_acctbal"),
        bands,
        point_col="c_acctbal",
        lo_col="lo",
        hi_col="hi",
        bucket_width=350.0,
    )
    # Gate ORDER-FREE integers (round-5 ADVICE): even over exact cents,
    # round(sum/100/count, 2) diverges at exact half-cent averages —
    # Spark's Round on DOUBLE rounds the shortest decimal repr HALF_UP
    # (2.675 → 2.68) while DuckDB rounds the binary double
    # (2.67499… → 2.67). SUM of integer cents has no such boundary at
    # any data scale.
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        matched.groupBy("band_id")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(cents).alias("sum_cents"),
        )
        .orderBy("band_id")
    )


@query(
    "interval_overlap_balances",
    """
    WITH bands AS (
      SELECT n_nationkey AS band_id,
             n_nationkey * 400.0 AS lo_a,
             n_nationkey * 400.0 + 700.0 AS hi_a
      FROM nation
    ), windows AS (
      SELECT c_custkey,
             c_acctbal AS lo_b,
             c_acctbal + 300.0 AS hi_b
      FROM customer WHERE c_custkey % 100 = 50
    )
    SELECT band_id, c_custkey,
           CAST(round((least(hi_a, hi_b) - greatest(lo_a, lo_b)) * 100)
                AS BIGINT) AS overlap_cents
    FROM bands JOIN windows ON lo_a <= hi_b AND lo_b <= hi_a
    """,
    "Interval-overlap join (the second range-join flavor after the "
    "point-in-interval gate): nation-derived price bands against "
    "customer balance windows, matched on closed-interval overlap. "
    "DuckDB plans the inequality pair as an IEJoin; Spark would fall "
    "back to BroadcastNestedLoopJoin, so we use the bucketized overlap "
    "join (operators/range_join.py:interval_overlap_join): both sides "
    "explode to their covered width-350 buckets, equi-join on the "
    "bucket + residual overlap predicate, exactly-once via the "
    "overlap-start bucket guard. Overlap length gated as exact integer "
    "cents. Scale: O((N+M)·len/W) bucket rows and an equi-join shuffle "
    "— never an all-pairs comparison; AQE splits skewed buckets.",
)
def interval_overlap_balances(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.operators.range_join import (
        interval_overlap_join,
    )

    nation, customer = _t(spark, sf_dir, "nation", "customer")
    bands = nation.select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 400.0).alias("lo_a"),
        (F.col("n_nationkey") * 400.0 + 700.0).alias("hi_a"),
    )
    windows = customer.filter(F.col("c_custkey") % 100 == 50).select(
        "c_custkey",
        F.col("c_acctbal").alias("lo_b"),
        (F.col("c_acctbal") + 300.0).alias("hi_b"),
    )
    matched = interval_overlap_join(
        bands, windows, "lo_a", "hi_a", "lo_b", "hi_b", bucket_width=350.0
    )
    overlap = F.least("hi_a", "hi_b") - F.greatest("lo_a", "lo_b")
    return matched.select(
        "band_id",
        "c_custkey",
        F.round(overlap * 100).cast("long").alias("overlap_cents"),
    )


@query(
    "above_avg_orders_per_customer",
    """
    SELECT o_orderkey, o_custkey
    FROM orders o
    WHERE o_totalprice > round(1.5 * (
      SELECT AVG(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
    ), 2)
    """,
    "Correlated scalar subquery (each order vs 1.5× its customer's mean "
    "order value), decorrelated on the Spark side to a window aggregate — "
    "the rewrite every optimizer wants: one shuffle on the correlation "
    "key instead of a per-row subquery. The threshold is rounded to cents "
    "on both sides so engine summation order can't flip boundary rows. "
    "Scale: single hash shuffle on o_custkey; no join, no re-sort "
    "(unordered window frame).",
)
def above_avg_orders_per_customer(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    thresh = F.round(1.5 * F.avg("o_totalprice").over(w), 2)
    return (
        orders.withColumn("_thresh", thresh)
        .filter(F.col("o_totalprice") > F.col("_thresh"))
        .select("o_orderkey", "o_custkey")
    )


@query(
    "segment_event_counts",
    """
    SELECT c_mktsegment AS segment, event_type, COUNT(*) AS n_events
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY segment, event_type
    ORDER BY segment, event_type
    """,
    "Stream-static enrichment, batch twin: events joined to the "
    "broadcast user→segment dimension, counted per (segment, type). The "
    "identical plan runs as a Structured Streaming query "
    "(streaming/enrich.py) where the static side re-reads per "
    "micro-batch — stateless, no watermark needed for the join. Scale: "
    "broadcast dim ⇒ zero join shuffle; the only shuffle is the tiny "
    "post-join agg.",
)
def segment_event_counts(spark, sf_dir):
    from amsterdam_map_data_wrangling_spark.streaming.enrich import (
        enriched_segment_counts,
    )

    events, customer = _t(spark, sf_dir, "events", "customer")
    return enriched_segment_counts(events, customer).orderBy("segment", "event_type")


@query(
    "window_function_zoo",
    """
    WITH sub AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_custkey % 100 = 0
    )
    SELECT o_orderkey,
           o_orderpriority AS priority,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(first_value(o_totalprice) OVER w, 2) AS top_price,
           round(last_value(o_totalprice) OVER
                 (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING), 2) AS bottom_price
    FROM sub
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "The ranking/distribution window surface in one pass: ntile, "
    "percent_rank, cume_dist, first_value, and last_value with an "
    "explicit UNBOUNDED FOLLOWING frame (the default frame ends at "
    "CURRENT ROW, which silently makes last_value ≡ current row — the "
    "classic window gotcha). percent_rank/cume_dist are single exact "
    "rational divisions, so engine-portable. Scale: all five share one "
    "shuffle on the partition key; one in-order scan per key.",
)
def window_function_zoo(spark, sf_dir):
    (orders,) = _t(spark, sf_dir, "orders")
    sub = orders.filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return sub.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.first("o_totalprice").over(w), 2).alias("top_price"),
        F.round(F.last("o_totalprice").over(w_full), 2).alias("bottom_price"),
    )


@query(
    "bag_set_ops",
    """
    SELECT 'except_all' AS op, COUNT(*) AS cnt FROM (
      SELECT l_orderkey FROM lineitem WHERE l_orderkey % 10 = 0
      EXCEPT ALL
      SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0
    )
    UNION ALL
    SELECT 'intersect_all', COUNT(*) FROM (
      SELECT l_orderkey FROM lineitem WHERE l_orderkey % 10 = 0
      INTERSECT ALL
      SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0
    )
    """,
    "Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL) — the "
    "multiplicity-preserving complements of the distinct-set U2/U3 "
    "queries: lineitem carries each orderkey 1-7 times, so EXCEPT ALL "
    "keeps the copies beyond orders' single one (1-in-10 key subset — "
    "bag semantics verify the same on any slice). Spark plans these with "
    "per-row count bookkeeping through ONE shuffle per operand — no "
    "distinct pre-pass. Scale: same cost shape as a groupBy on the key.",
)
def bag_set_ops(spark, sf_dir):
    lineitem, orders = _t(spark, sf_dir, "lineitem", "orders")
    lkeys = lineitem.filter(F.col("l_orderkey") % 10 == 0).select(
        F.col("l_orderkey").alias("k")
    )
    okeys = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k")
    )
    ex = lkeys.exceptAll(okeys).agg(F.count("*").alias("cnt")).select(
        F.lit("except_all").alias("op"), "cnt"
    )
    inter = lkeys.intersectAll(okeys).agg(F.count("*").alias("cnt")).select(
        F.lit("intersect_all").alias("op"), "cnt"
    )
    return ex.unionByName(inter)


@query(
    "cube_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS num
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "CUBE over (returnflag, linestatus) with an explicit grouping_id "
    "column — all four grouping sets (both, each alone, grand total) in "
    "one pass, and gid disambiguates a real NULL from a rolled-up one. "
    "Completes the grouping-sets surface next to rollup_revenue. Scale: "
    "one Expand (4x) + one agg shuffle; partial aggregation applies per "
    "grouping set.",
)
def cube_revenue(spark, sf_dir):
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("num"),
    ).select("l_returnflag", "l_linestatus", "gid", "revenue", "num")


@query(
    "gap_sessionization",
    """
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sess AS (
      SELECT user_id, us,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING) AS sess_idx
      FROM flagged
    ), per_sess AS (
      SELECT user_id, sess_idx,
             CAST(COUNT(*) AS BIGINT) AS n_ev,
             MAX(us) - MIN(us) AS dur_us
      FROM sess GROUP BY user_id, sess_idx
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(MAX(n_ev) AS BIGINT) AS max_session_events,
           CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_sessions,
           CAST(SUM(dur_us) AS BIGINT) AS sum_duration_us,
           round(CAST(SUM(n_ev) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_session_events
    FROM per_sess
    """,
    "Gap-based sessionization — the lag+cumsum batch idiom (the OTHER "
    "classic sessionizer next to session_window_per_user's built-in): "
    "a session breaks when the inter-event gap exceeds 30 min; the "
    "running sum of break flags IS the session id. All time arithmetic "
    "in EXACT integer microseconds (unix_micros / epoch_us), so "
    "durations and sums are order-free integers; the one derived ratio "
    "divides two exact integers at the end. Scale: one shuffle on "
    "user_id serves BOTH windows (lag and the running sum share the "
    "partitioning), then a per-(user, session) partial agg and a tiny "
    "global agg. This is the 100 TB sessionization shape — no state "
    "store needed in batch.",
)
def gap_sessionization(spark, sf_dir):
    (events,) = _t(spark, sf_dir, "events")
    # data-adaptive window plan (r15 high-null soak): a NULL-heavy key
    # puts the whole NULL slice in ONE window partition — measured 4.5x
    # at factor 100 / 50% null, where the chunked two-level form wins
    # 2.9x. The NULL fraction reads from the parquet footers (no job);
    # sess_idx is exact integers in BOTH plans, so the choice is pure
    # performance (equivalence pinned incl. null keys and chunk seams
    # in tests/test_skew.py; the oracle gate replays the naive idiom on
    # a half-null corpus in tests/test_widerow.py). Dense-key corpora
    # (every gate/bench SF: 0 nulls) keep the registered one-shuffle
    # plan, which wins at uniform and <=10%-hot (the r14 crossover);
    # unknown stats fall to the bounded chunked plan.
    from amsterdam_map_data_wrangling_spark.plans.text import (
        _parquet_col_null_frac,
    )

    nf = _parquet_col_null_frac(f"{sf_dir}/events.parquet", "user_id")
    if nf is not None and nf < 0.10:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        us = F.unix_micros(F.col("ts"))
        gap = us - F.lag(us).over(w)
        flagged = events.select(
            "user_id",
            us.alias("us"),
            F.when(gap.isNull() | (gap > 1_800_000_000), 1)
            .otherwise(0)
            .alias("is_new"),
            F.col("event_id"),
        )
        # total order (us, event_id): with only us, tied timestamps
        # would make the session assignment engine-order-dependent
        wrun = (
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        sess = flagged.select(
            "user_id", "us", F.sum("is_new").over(wrun).alias("sess_idx")
        )
    else:
        from amsterdam_map_data_wrangling_spark.operators.skew import (
            chunked_gap_sessionize,
        )

        base = events.select(
            "user_id", F.unix_micros(F.col("ts")).alias("us"), "event_id"
        )
        sess = chunked_gap_sessionize(
            base, "user_id", "us", "event_id", 1_800_000_000
        ).select("user_id", "us", "sess_idx")
    per_sess = sess.groupBy("user_id", "sess_idx").agg(
        F.count("*").alias("n_ev"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return per_sess.agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("n_ev").alias("n_events"),
        F.max("n_ev").alias("max_session_events"),
        F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0)).alias(
            "singleton_sessions"
        ),
        F.sum("dur_us").alias("sum_duration_us"),
        F.round(
            F.col("n_events").cast("double")
            / F.col("n_sessions").cast("double"),
            6,
        ).alias("avg_session_events"),
    )


@query(
    "nation_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * CAST(round((1 - l.l_discount) * 100) AS BIGINT))
                AS BIGINT) AS volume_microcents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey < 5 AND n2.n_nationkey < 5
      AND n1.n_nationkey != n2.n_nationkey
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape (volume shipping between nation pairs) — the OTHER "
    "deep-join topology next to local_supplier_volume's Q5: here the "
    "two nation dims bind DIFFERENT sides (supplier's vs customer's "
    "nation) with an inequality between them, so the correlation "
    "predicate crosses the two fact-dim arms instead of closing a "
    "cycle. Revenue gated in exact integer MICROCENTS: price and "
    "(1 - discount) are both 2-decimal quantities, so cents(price) * "
    "centi-units(1-disc) is an exact 64-bit product and the SUM is "
    "order-free (the float form price*(1-disc) would depend on "
    "accumulation order). Scale: lineitem-orders and orders-customer "
    "shuffle on their keys (the two honest fact joins), supplier + "
    "both nation copies broadcast; AQE coalesces the residue. The "
    "nationkey < 5 dim filters prune build sides BEFORE the join "
    "(pushdown visible in the scan).",
)
def nation_volume_shipping(spark, sf_dir):
    lineitem, orders, customer, supplier, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = nation.filter(F.col("n_nationkey") < 5).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_nationkey") < 5).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    volume = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("s_nk") != F.col("c_nk"))
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            volume.alias("v"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("v").alias("volume_microcents"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )
