"""Relational core queries: scans, projections, filters, aggregates,
joins, windows, set ops (SURVEY §2.1 S1-S2, §2.3 P1-P4, §2.4, §2.5).

Oracle-parity conventions (see registry docstring): decimal-cast every
SUM, CAST DuckDB's HUGEINT sums to BIGINT, derive averages from exact
decimal sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import route
from ..registry import query, table

DEC2 = "decimal(38,2)"
DEC6 = "decimal(38,6)"


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)                         AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)                    AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))) AS DOUBLE)     AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)/COUNT(*)       AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)/COUNT(*)  AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,2))) AS DOUBLE)/COUNT(*)       AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped flagship: filter + 8-agg groupBy.

    Plan: parquet scan with shipdate filter pushed down, partial
    (map-side) aggregation, single shuffle on the 6-value group key.

    Sums are computed as exact DECIMAL then the FINAL column is cast
    to DOUBLE on both sides — driver-facing outputs must be
    decimal-free (round-1 driver gate canonicalized decimals
    differently than the local mirror; the exact-decimal→double
    conversion is deterministic on both engines).
    """
    li = table(spark, sf_dir, "lineitem", access="scan")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC2)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC2)).cast("double").alias("sum_base_price"),
            F.sum(disc_price.cast(DEC6)).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast(DEC6)).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(DEC2)).cast("double") / n).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast(DEC2)).cast("double") / n).alias("avg_price"),
            (F.sum(F.col("l_discount").cast(DEC2)).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_extendedprice > 50000
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 projection + predicate; both push into the parquet scan."""
    return (
        table(spark, sf_dir, "lineitem", access="scan")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
        .where(
            (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_extendedprice") > 50000)
        )
    )


@query(
    "scan_probes",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           (SELECT MAX(o_orderkey) FROM orders) AS max_orderkey,
           (SELECT MIN(o_orderkey) FROM orders) AS min_orderkey
    FROM lineitem GROUP BY 1, 2
    """,
)
def scan_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 max(objectid)-style id-counter probe (postgres.py:760-768)
    + A3 SELECT DISTINCT domain census (geometry-type probe shape),
    combined: the distinct flag pairs carry the global key bounds via
    a one-row broadcast cross join (no extra shuffle)."""
    flags = (
        table(spark, sf_dir, "lineitem", access="scan").select("l_returnflag", "l_linestatus").distinct()
    )
    bounds = table(spark, sf_dir, "orders", access="scan").agg(
        F.max("o_orderkey").alias("max_orderkey"),
        F.min("o_orderkey").alias("min_orderkey"),
    )
    return flags.crossJoin(F.broadcast(bounds))


@query(
    "ordered_collect",
    oracle="""
    SELECT c_nationkey, STRING_AGG(c_name, ',' ORDER BY c_name) AS customer_names
    FROM customer GROUP BY c_nationkey
    """,
)
def ordered_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 array_agg(col ORDER BY col) (db2/db2.py:368-379) as
    array_sort∘collect_list, joined to a string for stable hashing."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("customer_names"))
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders) t
    WHERE rn <= 5
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window (SURVEY §2.5 extension).

    Scale note: a row_number window sorts each group inside one task
    — right for many bounded groups (5 priorities × SF-bounded rows
    here after AQE skew split is NOT possible for windows). For a
    LOW-cardinality hot key at 100 TB use the threshold recipe
    documented at ``events_percentrank_by_type``: per-group
    ``orderstats.kth_smallest`` rank-(n−K) cut + map-side filter."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
    )


@query(
    "region_revenue",
    oracle="""
    SELECT r.r_name AS region_name,
           CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: fact-fact shuffle join on orderkey,
    then broadcast joins up the dimension chain (customer, nation,
    region are all below the broadcast threshold at any sane SF for
    dims; Catalyst picks broadcast from stats, we hint the tiny ones).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → fact join →
    grouped revenue. The c_mktsegment filter prunes customers before
    the join (pushed to the scan); customer side broadcasts."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "order_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS as a left-semi join with a
    non-equi residual (shipdate > orderdate)."""
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate
    pushes to the parquet scan, zero shuffles beyond the final
    single-row combine."""
    li = table(spark, sf_dir, "lineitem", access="scan")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC6)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT JOIN with an ON-clause filter (customers
    with zero qualifying orders must survive with count 0), then a
    distribution over the per-customer counts — two aggregation
    levels, two shuffles."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "important_nation_stock",
    oracle="""
    WITH per_nation AS (
      SELECT n.n_name AS nation_name,
             SUM(CAST(s.s_acctbal AS DECIMAL(38,2))) AS total_bal
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name),
    total AS (
      SELECT SUM(CAST(s_acctbal AS DECIMAL(38,2))) AS grand FROM supplier)
    SELECT p.nation_name, CAST(p.total_bal AS DOUBLE) AS total_bal
    FROM per_nation p, total t
    WHERE CAST(p.total_bal AS DOUBLE) > 0.05 * CAST(t.grand AS DOUBLE)
    """,
)
def important_nation_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global scalar aggregate —
    the scalar side is a one-row broadcast cross join, so the filter
    evaluates map-side with no extra shuffle."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    per_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(F.col("s_acctbal").cast("decimal(38,2)")).alias("total_bal"))
    )
    grand = s.agg(F.sum(F.col("s_acctbal").cast("decimal(38,2)")).alias("grand"))
    return (
        per_nation.crossJoin(F.broadcast(grand))
        .where(F.col("total_bal").cast("double") > 0.05 * F.col("grand").cast("double"))
        .select("nation_name", F.col("total_bal").cast("double").alias("total_bal"))
    )


@query(
    "set_ops",
    oracle="""
    SELECT 'intersect' AS op, o_orderkey, o_custkey FROM (
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0
      INTERSECT ALL
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 = 0)
    UNION ALL
    SELECT 'except' AS op, o_orderkey, o_custkey FROM (
      SELECT o_orderkey, o_custkey FROM orders
      EXCEPT ALL
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 multiset set ops in one tagged union: INTERSECT ALL and
    EXCEPT ALL (the relational core of delete-stale, J3)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    inter = o.where(F.col("o_orderkey") % 2 == 0).intersectAll(
        o.where(F.col("o_orderkey") % 3 == 0)
    )
    o3 = table(spark, sf_dir, "orders")
    exc = o.exceptAll(
        o3.where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_custkey")
    )
    return inter.select(F.lit("intersect").alias("op"), "*").unionByName(
        exc.select(F.lit("except").alias("op"), "*")
    )


@query(
    "approx_sketches",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS orders_in_band, TRUE AS parts_in_band, TRUE AS median_in_band
    FROM lineitem GROUP BY 1
    """,
    gate=False,
)
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB aggregation scale path — approx_count_distinct
    (HLL++) and approx_percentile (quantile sketch), AUDITED: the
    sketch VALUES are engine-specific (DuckDB's HLL has a different
    layout), but they are deterministic within Spark (hash-based,
    merge-order-insensitive), so the oracle-checkable surface is the
    exact statistics plus est-vs-exact IN-BAND flags the oracle pins
    to TRUE (r6-verdict task: every sketch family gets the
    KMV-style est-vs-truth audit, not a smoke run). Bands are 5×rsd
    for the HLLs and the exact [p45, p55] value corridor for the
    approx median (accuracy 10000 → rank error ≤ n/10⁴, two orders
    inside the corridor) — generous enough that a pass is a property
    of the data, not of luck; a band flip means the sketch broke.
    The exact sides: one distinct-agg shuffle (the thing the sketch
    replaces at 100 TB — here it's the honesty anchor) and a grouped
    bucketed selection (`kth_smallest_by`) for the corridor, never a
    per-group sort."""
    from ..operators.orderstats import kth_smallest_by

    li = table(spark, sf_dir, "lineitem", access="scan")
    vals, counts = kth_smallest_by(
        li,
        "l_returnflag",
        "l_extendedprice",
        lambda n: {max(1, (n * 45) // 100), max(1, (n * 55) // 100)},
    )
    corridor = route.driver_frame(
        spark,
        [
            (
                g[0],
                float(vals[g][max(1, (counts[g] * 45) // 100)]),
                float(vals[g][max(1, (counts[g] * 55) // 100)]),
            )
            for g in counts
        ],
        "l_returnflag string, _p45 double, _p55 double",
    )
    # Exact distinct counts and sketch aggregates run as SEPARATE
    # aggregations joined on the 3-row group key: mixing DISTINCT and
    # non-distinct aggregates in one groupBy plans Expand + two
    # aggregate phases with every sketch buffer updated per expanded
    # row (measured 48 s vs 0.9 + 0.9 s split, sf0.1).
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    sk = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("_a_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("_a_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_a_med"),
    )
    agg = exact.join(sk, "l_returnflag")
    return agg.join(F.broadcast(corridor), "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        (
            F.abs(F.col("_a_orders") - F.col("exact_orders"))
            <= 5 * 0.05 * F.col("exact_orders")
        ).alias("orders_in_band"),
        (
            F.abs(F.col("_a_parts") - F.col("exact_parts"))
            <= 5 * 0.01 * F.col("exact_parts")
        ).alias("parts_in_band"),
        ((F.col("_a_med") >= F.col("_p45")) & (F.col("_a_med") <= F.col("_p55"))).alias(
            "median_in_band"
        ),
    )




@query(
    "min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2),
    eu_supply AS (
      SELECT su.partkey, su.suppkey, su.unit_cost, s.s_name, n.n_name
      FROM supply su
      JOIN supplier s ON s.s_suppkey = su.suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE')
    SELECT p.p_partkey, p.p_name, e.s_name, e.n_name AS nation, e.unit_cost
    FROM part p JOIN eu_supply e ON p.p_partkey = e.partkey
    WHERE p.p_size <= 15
      AND e.unit_cost = (SELECT MIN(e2.unit_cost) FROM eu_supply e2
                         WHERE e2.partkey = p.p_partkey)
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-MIN subquery — for each small
    part, the European supplier(s) offering the minimum unit cost.

    The oracle keeps the correlated form; the Spark plan is the
    decorrelated one Catalyst would produce anyway, written directly:
    a window MIN over the part key replaces the per-row subquery, so
    the whole query is one shuffle on partkey after the supplier-side
    broadcasts (supplier/nation/region are dimension-sized).

    Determinism: unit_cost is a scalar double division (IEEE-identical
    on both engines) under MIN (order-independent) — safe to compare
    for equality cross-engine, per the registry rules.
    """
    li = table(spark, sf_dir, "lineitem")
    supply = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_dim = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    eu_supply = supply.join(eu_dim, supply.suppkey == eu_dim.s_suppkey)
    p = table(spark, sf_dir, "part").where(F.col("p_size") <= 15)
    joined = p.join(eu_supply, p.p_partkey == eu_supply.partkey)
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("_min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("_min_cost"))
        .select(
            "p_partkey", "p_name", "s_name", F.col("n_name").alias("nation"), "unit_cost"
        )
    )


@query(
    "forest_part_suppliers",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_nationkey % 2 = 1
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate <  TIMESTAMP '1996-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(38,2))) > 50)
    """,
)
def forest_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-joins — suppliers (from a nation
    subset that exists at every scale factor) who moved more than a threshold quantity of any 'red%' part
    during 1995. Three nesting levels: part-name semi inside a
    lineitem HAVING aggregate inside a supplier IN.

    Plan: the part-key semi broadcasts (name-filtered parts are
    small), the lineitem aggregate is one shuffle on (suppkey,
    partkey), and the outer membership is a left-semi against the
    distinct qualifying suppkeys. The quantity SUM is decimal-cast so
    the HAVING threshold is exact on both engines (registry rules).
    """
    li = table(spark, sf_dir, "lineitem")
    red_parts = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    qualifying = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(red_parts), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC2)).alias("q"))
        .where(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").where(F.col("n_nationkey") % 2 == 1)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@query(
    "volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_13')
          OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_12'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    gate=False,
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two fact-fact joins (lineitem⋈orders on
    orderkey, then ⋈customer on custkey) under a symmetric nation-pair
    predicate, revenue by shipping year.

    Plan: supplier/nation broadcast; the nation-pair OR filter
    evaluates after the broadcast joins (both orientations in one
    pass — no union of two sub-plans). Year extraction and the
    decimal-cast SUM follow the registry determinism rules.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.withColumnRenamed("n_name", "supp_nation").withColumnRenamed(
        "n_nationkey", "sn_key"
    )
    n2 = n.withColumnRenamed("n_name", "cust_nation").withColumnRenamed(
        "n_nationkey", "cn_key"
    )
    pair = (
        (F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_13")
    ) | ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_12"))
    joined = (
        li.where(
            F.col("l_shipdate").between(
                F.lit("1995-01-01").cast("timestamp_ntz"),
                F.lit("1996-12-31").cast("timestamp_ntz"),
            )
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(F.col("volume").cast(DEC6)).cast("double").alias("revenue"))
    )


@query(
    "market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_12' THEN vol_dec ELSE 0 END) AS DOUBLE)
             / CAST(SUM(vol_dec) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6)) AS vol_dec,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY')
    GROUP BY o_year
    """,
    gate=False,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a part-type's volume
    sold into a region, by order year — conditional aggregation
    (CASE inside SUM) over a 7-table join.

    Plan: part filter broadcasts into the lineitem scan side;
    supplier/nation/region dims broadcast; the only shuffles are the
    two fact-fact joins. Share = exact-decimal numerator and
    denominator, each cast to DOUBLE before one scalar division
    (IEEE-deterministic both sides).
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n2 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("cn_key")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol_dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_12", F.col("vol_dec")).otherwise(
            F.lit(0).cast(DEC6)
        )
    ).cast("double")
    den = F.sum("vol_dec").cast("double")
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"), vol_dec.alias("vol_dec"), "supp_nation"
        )
        .groupBy("o_year")
        .agg((num / den).alias("mkt_share"))
    )


@query(
    "top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
    gate=False,
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a revenue view joined against its own global
    MAX — ties all surface (no arbitrary LIMIT 1).

    Plan: the revenue aggregate computes once (no CTE recompute: the
    max side is a one-row aggregate of the SAME cached frame,
    cross-joined broadcast); equality on exact decimals.
    """
    li = table(spark, sf_dir, "lineitem")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC6)).alias(
                "total_rev"
            )
        )
        .localCheckpoint(eager=False)
    )
    best = rev.agg(F.max("total_rev").alias("best_rev"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(best), F.col("total_rev") == F.col("best_rev"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


@query(
    "waiting_sole_late_supplier",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_nationkey % 2 = 1
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    """,
)
def waiting_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + correlated NOT EXISTS on
    the same relation — suppliers (odd nations) who were the ONLY
    late shipper (>60 days after order date) on a finalized
    multi-supplier order.

    The oracle keeps both correlated quantifiers; the Spark plan
    decorrelates them into ONE per-order aggregate: n_suppliers > 1
    replaces EXISTS(other supplier), n_late_suppliers == 1 replaces
    NOT EXISTS(other late supplier) given the probe row is itself
    late. One extra shuffle (orderkey aggregate) instead of two
    correlated self-joins — and the aggregate reuses the
    already-joined late flag, so lineitem⋈orders happens once.
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    flagged = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "_late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").where(F.col("n_nationkey") % 2 == 1)
    qualifying = (
        flagged.where(F.col("_late"))
        .join(per_order, "l_orderkey")
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        qualifying.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "join_cardinality_estimate",
    oracle="""
    WITH co AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c
                FROM orders GROUP BY 1),
    cl AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
           FROM lineitem GROUP BY 1),
    exact AS (SELECT CAST(sum(co.c * cl.c) AS BIGINT) AS exact_rows
              FROM co JOIN cl USING (k)),
    so AS (SELECT k, c FROM co
           WHERE CAST('0x'||substr(md5('jce:'||CAST(k AS VARCHAR)), 1, 8)
                      AS BIGINT) < 268435456),
    sl AS (SELECT k, c FROM cl
           WHERE CAST('0x'||substr(md5('jce:'||CAST(k AS VARCHAR)), 1, 8)
                      AS BIGINT) < 268435456),
    est AS (SELECT CAST(16 * COALESCE(sum(so.c * sl.c), 0) AS BIGINT)
                     AS est_rows
            FROM so JOIN sl USING (k))
    SELECT est_rows, exact_rows,
           CAST(abs(est_rows - exact_rows) * 1000000 // exact_rows AS BIGINT)
             AS err_ppm
    FROM est, exact
    """,
    gate=False,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRE-JOIN CARDINALITY ESTIMATE — the planner-grade probe a
    100 TB pipeline runs before committing to a join strategy:
    |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k), estimated from a DETERMINISTIC
    1/16 hash sample of the KEY UNIVERSE (include key k iff the
    md5-prefix hash < 2^32/16 — the same key set on both sides by
    construction, so matched keys survive sampling together; the
    estimator is unbiased over the key population, Horvitz–Thompson
    with uniform inclusion). The hash predicate is a map-side filter
    BEFORE each side's count aggregate — the probe touches ~1/16 of
    the key space end to end, never the join. Audited in-row against
    the exact Σ cnt·cnt (the expensive side — one full count + join
    per side), with the error in exact integer ppm. Content-hash
    sampling ⇒ reproducible across engines, layouts, and appends."""
    T = 268435456  # 2^32 // 16
    o = table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )

    def hv(c):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit("jce:"), c.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")

    def counts(df):
        return df.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("c"))

    # merge hint on both count-joins: orders/lineitem are co-bucketed
    # on the key, so the sort-merge join is bucket-local with ZERO
    # exchange — the scale-correct plan (a broadcast of the counts
    # table is impossible at 100 TB, and building the 147k-entry
    # hashed relation was the dominant cost of this probe at sf0.1:
    # 0.63 s broadcast vs 0.50 s bucket-local merge, r14 root-cause)
    co, cl = counts(o), counts(li)
    exact = (
        co.hint("merge")
        .join(cl, "k")
        .select((co["c"] * cl["c"]).alias("p"))
        .agg(F.sum("p").cast("bigint").alias("exact_rows"))
    )
    so = counts(o.where(hv(F.col("k")) < T))
    sl = counts(li.where(hv(F.col("k")) < T))
    est = (
        so.hint("merge")
        .join(sl, "k")
        .select((so["c"] * sl["c"]).alias("p"))
        .agg(
            (F.lit(16) * F.coalesce(F.sum("p"), F.lit(0)))
            .cast("bigint")
            .alias("est_rows")
        )
    )
    return (
        est.crossJoin(exact)
        .select(
            "est_rows",
            "exact_rows",
            F.expr(
                "CAST(abs(est_rows - exact_rows) * 1000000 DIV exact_rows"
                " AS BIGINT)"
            ).alias("err_ppm"),
        )
    )


def _curve_codes_oracle(bits: int = 8) -> str:
    """DuckDB twin of the layout curve codes: Morton as a literal
    bit-interleave sum, Hilbert as a recursive CTE running the SAME
    per-level quadrant descent as ``zorder.hilbert_value``'s fold
    (rx/ry from integer division, full-order flip ``mask − coord``
    so intermediates never go negative — the cross-engine ``%``
    hazard the operator documents)."""
    mask = (1 << bits) - 1
    morton = " + ".join(
        f"(((x >> {b}) & 1) << {2 * b}) + (((y >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )
    return f"""
    WITH RECURSIVE g AS (
      SELECT p_partkey, CAST(p_partkey % 256 AS BIGINT) AS x,
             CAST(p_size AS BIGINT) AS y
      FROM part),
    hil AS (
      SELECT p_partkey, x AS cx, y AS cy,
             CAST({1 << (bits - 1)} AS BIGINT) AS s,
             CAST({4 ** (bits - 1)} AS BIGINT) AS m,
             CAST(0 AS BIGINT) AS d, 0 AS lvl
      FROM g
      UNION ALL
      SELECT p_partkey,
             CASE WHEN (cy // s) % 2 = 1 THEN cx
                  WHEN (cx // s) % 2 = 0 THEN cy
                  ELSE {mask} - cy END,
             CASE WHEN (cy // s) % 2 = 1 THEN cy
                  WHEN (cx // s) % 2 = 0 THEN cx
                  ELSE {mask} - cx END,
             s // 2, m // 4,
             d + m * xor(3 * ((cx // s) % 2), (cy // s) % 2),
             lvl + 1
      FROM hil WHERE lvl < {bits})
    SELECT g.p_partkey, g.x AS gx, g.y AS gy,
           CAST({morton} AS BIGINT) AS zval,
           h.d AS hval
    FROM g JOIN (SELECT p_partkey, d FROM hil WHERE lvl = {bits}) h
      ON g.p_partkey = h.p_partkey
    """


@query("layout_curve_codes", oracle=_curve_codes_oracle(), gate=False)
def layout_curve_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPACE-FILLING-CURVE CODES — the per-row Morton and Hilbert
    indexes behind `layout zorder` (the data-clustering move that
    makes multi-column range scans skip files at 100 TB), surfaced
    as an oracle-checked query so the curve arithmetic itself sits
    in the driver gate, not only in pytest: the Morton interleave is
    a pure JVM bit expression, the Hilbert index is the per-level
    quadrant-descent fold (`zorder.hilbert_value`), and the DuckDB
    twin re-runs the same descent as a recursive CTE — every row's
    code must agree bit-for-bit. Coordinates: p_partkey mod 256 ×
    p_size on an 8-bit grid (the operator's masking contract)."""
    from ..operators.zorder import hilbert_value, zvalue

    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") % 256).cast("bigint").alias("gx"),
        F.col("p_size").cast("bigint").alias("gy"),
    )
    return p.select(
        "p_partkey",
        "gx",
        "gy",
        zvalue(["gx", "gy"], bits=8).alias("zval"),
        hilbert_value("gx", "gy", bits=8).alias("hval"),
    )


def _hilbert3_oracle(bits: int = 8) -> str:
    """DuckDB twin of the d=3 Skilling transform: one recursive-CTE
    ITERATION per (Q level, dimension) pair — the inner per-dim loop
    is sequential (x0 evolves within a level), so each step applies
    exactly one dimension's update (i = step mod 3, Q = 2^(bits−1−
    step div 3)); Gray code, the t-correction XOR chain, and the bit
    interleave run on the final state."""
    d, steps = 3, (bits - 1) * 3
    mexp = bits - 1

    def q(s="s"):
        return f"(1 << ({mexp} - {s} // 3))"

    t_terms = [
        f"(CASE WHEN (g2 & {1 << e}) != 0 THEN {(1 << e) - 1} ELSE 0 END)"
        for e in range(bits - 1, 0, -1)
    ]
    t_chain = t_terms[0]
    for t in t_terms[1:]:
        t_chain = f"xor({t_chain}, {t})"
    h_terms = " + ".join(
        f"(((f{i} >> {b}) & 1) << {b * d + (d - 1 - i)})"
        for b in range(bits)
        for i in range(d)
    )
    return f"""
    WITH RECURSIVE g AS (
      SELECT p_partkey,
             CAST(p_partkey % 256 AS BIGINT) AS gx,
             CAST(p_size AS BIGINT) AS gy,
             CAST((p_partkey // 7) % 256 AS BIGINT) AS gz
      FROM part),
    st AS (
      SELECT p_partkey, gx AS x0, gy AS x1, gz AS x2, 0 AS s FROM g
      UNION ALL
      SELECT p_partkey,
        CASE s % 3
          WHEN 0 THEN CASE WHEN (x0 & {q()}) != 0
                           THEN xor(x0, {q()} - 1) ELSE x0 END
          WHEN 1 THEN CASE WHEN (x1 & {q()}) != 0
                           THEN xor(x0, {q()} - 1)
                           ELSE xor(x0, xor(x0, x1) & ({q()} - 1)) END
          ELSE        CASE WHEN (x2 & {q()}) != 0
                           THEN xor(x0, {q()} - 1)
                           ELSE xor(x0, xor(x0, x2) & ({q()} - 1)) END
        END,
        CASE WHEN s % 3 = 1 AND (x1 & {q()}) = 0
             THEN xor(x1, xor(x0, x1) & ({q()} - 1)) ELSE x1 END,
        CASE WHEN s % 3 = 2 AND (x2 & {q()}) = 0
             THEN xor(x2, xor(x0, x2) & ({q()} - 1)) ELSE x2 END,
        s + 1
      FROM st WHERE s < {steps}),
    fin AS (
      SELECT p_partkey, x0 AS g0, xor(x1, x0) AS g1,
             xor(x2, xor(x1, x0)) AS g2
      FROM st WHERE s = {steps}),
    tt AS (SELECT p_partkey, g0, g1, g2, {t_chain} AS t FROM fin),
    ff AS (SELECT p_partkey, xor(g0, t) AS f0, xor(g1, t) AS f1,
                  xor(g2, t) AS f2
           FROM tt)
    SELECT ff.p_partkey, g.gx, g.gy, g.gz,
           CAST({h_terms} AS BIGINT) AS h3
    FROM ff JOIN g ON ff.p_partkey = g.p_partkey
    """


@query("layout_hilbert3_codes", oracle=_hilbert3_oracle(), gate=False)
def layout_hilbert3_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d=3 HILBERT CODES — puts the Skilling transpose algorithm
    (``zorder.hilbert_value_nd``, the r8 lift of the 2-D limit)
    under the driver gate: per-row 3-column Hilbert indexes on an
    8-bit grid, with a DuckDB twin that re-runs the transform as a
    recursive CTE advancing one (Q level, dimension) update per
    iteration — 21 exact integer steps per row, bit-for-bit. The
    curve is what 3-column `layout zorder --curve hilbert`
    range-sorts on."""
    from ..operators.zorder import hilbert_value_nd

    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") % 256).cast("bigint").alias("gx"),
        F.col("p_size").cast("bigint").alias("gy"),
        F.expr("CAST((p_partkey DIV 7) % 256 AS BIGINT)").alias("gz"),
    )
    return p.select(
        "p_partkey",
        "gx",
        "gy",
        "gz",
        hilbert_value_nd(["gx", "gy", "gz"], bits=8).alias("h3"),
    )
