"""TPC-H-shaped headline queries over the driver's star schema.

These exercise the full read path the reference implements (scan + filter +
projection + limit pushdown — ``TrinoMetadataBase.applyFilter/applyProjection/
applyLimit``, SURVEY §2.A4-A8) composed with the engine operators Trino
provides above the connector (agg, join, sort — SURVEY §2.B).

Scale notes (100 TB design):
- Filters/projections are declarative → Catalyst pushes them into the parquet
  scan (verify: ``PushedFilters`` in the physical plan).
- Broadcast hints are FIXED-SIZE-ONLY: region (5 rows) and nation (25 rows)
  get an explicit ``F.broadcast``; customer/supplier/part grow linearly with
  scale factor, so forcing them would OOM executors at 100 TB — those joins
  are left to the optimizer, whose file-size statistics and AQE runtime
  re-planning pick broadcast-hash at small SF and shuffle (or skew-split)
  joins once the dim outgrows the broadcast threshold.
  ``tests/test_plan_quality.py`` asserts the small-SF plans still broadcast.
- Aggregations are partial (map-side) + final by Spark's default hash
  aggregate; group-by keys are low-cardinality so no skew concern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.operators.registry import (
    dec2,
    register,
    sql_davg,
    sql_dsum,
)
from incubator_paimon_trino_spark.sources import table

def _one():
    # F.lit needs an active SparkContext, so this can't be a module constant.
    return F.lit(1).cast("decimal(9,2)")


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2))) * (CAST(1 AS DECIMAL(9,2)) + CAST(l_tax AS DECIMAL(9,2)))) AS DOUBLE) AS sum_charge,
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan + filter pushdown + 8-agg groupBy + sort.

    Flagship query — the exact shape named in SURVEY §7 step 1.

    The BigDecimal aggregation chain was ~1.0 s of the 1.6 s sf0.1
    query, serialized on the single-split scan task. Rewritten on integer
    CENTS (guide §2.3 "narrower types"): each 2-decimal double becomes an
    exact LONG cents column at the scan, the four simple sums accumulate as
    LONG, and the two product sums multiply in LONG and accumulate in
    DECIMAL(38,0) (a LONG product sum would overflow past ~10^7 rows per
    group — the decimal accumulator is unbounded, so this holds at 100 TB;
    the pure-LONG sums hold to ≥10^11 rows/group, far past 100 TB, and ANSI
    mode would fail loudly rather than wrap beyond that). The final values
    divide by 10^scale in EXACT decimal arithmetic before the double cast,
    so every output is BIT-IDENTICAL to the dec2 spelling (verified
    struct-packed at sf0.01 and sf0.1; the DuckDB oracle is unchanged).
    Measured 0.88→0.57 s noop — faster than the earlier fan_out variant
    (0.63 s), so the fan-out exchange was dropped again: cheap LONG partials
    no longer need spreading (A/B: plain 0.51 vs fanned 0.60 on the
    all-long prototype).
    """
    li = table(spark, sf_dir, "lineitem")
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731
    pre = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        cents("l_quantity").alias("qc"),
        cents("l_extendedprice").alias("pc"),
        cents("l_discount").alias("dc"),
        cents("l_tax").alias("tc"),
    )
    g = pre.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qc").alias("sq"),
        F.count("qc").alias("nq"),
        F.sum("pc").alias("sp"),
        F.count("pc").alias("np"),
        F.sum("dc").alias("sd"),
        F.count("dc").alias("nd"),
        F.sum(F.expr("CAST(pc * (100 - dc) AS DECIMAL(38,0))")).alias("sdp"),
        F.sum(F.expr("CAST(pc * (100 - dc) * (100 + tc) AS DECIMAL(38,0))")).alias("sch"),
        F.count("*").alias("count_order"),
    )
    # exact decimal division (scale >= needed digits), THEN the double cast:
    # bit-identical to casting the dec2 decimal sum (both round the same
    # exact rational to nearest double once)
    dbl = lambda s, scale: F.expr(  # noqa: E731
        f"CAST(CAST({s} AS DECIMAL(38,0)) / {10**scale} AS DOUBLE)"
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        dbl("sq", 2).alias("sum_qty"),
        dbl("sp", 2).alias("sum_base_price"),
        dbl("sdp", 4).alias("sum_disc_price"),
        dbl("sch", 6).alias("sum_charge"),
        (dbl("sq", 2) / F.col("nq")).alias("avg_qty"),
        (dbl("sp", 2) / F.col("np")).alias("avg_price"),
        (dbl("sd", 2) / F.col("nd")).alias("avg_disc"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: dim join + fact-fact join + top-K (TakeOrderedAndProject).

    ``customer`` is SF-scaled, so no forced broadcast — the optimizer
    broadcasts it while it fits and falls back to a shuffle join beyond;
    orders↔lineitem co-shuffle on the order key. Deterministic top-10 via
    full tie-break in the sort key.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    # Measured fan_out here and REVERTED it — the probe chain over the
    # pushed-filter scan costs less serially (~0.46 s at sf0.1) than the
    # added exchange (~0.69 s); see OPTIMIZATION_r13.md interleaved A/B.
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(dec2("l_extendedprice") * (_one() - dec2("l_discount"))).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-table join. nation/region broadcast by hint (fixed-size);
    customer/supplier by optimizer size estimate while they fit — only
    orders↔lineitem must shuffle."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    # Measured fan_out here and REVERTED it (A/B: 0.39 s plain vs
    # 0.52 s fanned — the 5-probe chain is cheaper serially than an extra
    # exchange at this scale; see OPTIMIZATION_r13.md).
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(dec2("l_extendedprice") * (_one() - dec2("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+global agg — the pushdown showcase.

    All four predicates reach the parquet reader as ``PushedFilters``; only two
    columns are read (``ReadSchema``). At 100 TB this is the difference between
    scanning 2 columns of row-groups that pass min/max stats vs the full table.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(dec2("l_extendedprice") * dec2("l_discount")).cast("double").alias("revenue"))
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: EXISTS decorrelated to a left-semi join + count."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    sem = orders.join(
        li, (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate), "left_semi"
    )
    return (
        sem.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counts by priority class."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: left join with ON-clause filter + double aggregation."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))
                 ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: part join (optimizer-broadcast while it fits) + conditional
    revenue (exact decimals)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = dec2("l_extendedprice") * (_one() - dec2("l_discount"))
    zero = F.lit(0).cast("decimal(9,2)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(9,2))) > 250
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: IN over a grouped-HAVING subquery → semi join on the
    aggregated key set.

    Measured fan_out here and REVERTED it (A/B: 0.85 s plain vs 1.06 s
    fanned — the high-cardinality partial agg doesn't reduce enough for the
    extra exchange to pay; see OPTIMIZATION_r13.md).

    The HAVING aggregate sums LONG cents instead of DECIMAL(9,2)
    (guide §2.3 "narrower types": LONG adds, not BigDecimal) — driver-table
    doubles are 2-decimal by the registry contract, so round(qty*100) is
    the same integer as the decimal cents and the >250 set is identical
    (HAVING leg 0.88→0.43 s noop).

    One-scan restructure (guide §1.2 step 1 "don't compute things you
    throw away"): the original shape scanned lineitem TWICE — once for the
    HAVING aggregate and again to re-sum l_quantity per surviving order for
    the output — but o_orderkey is the orders PK, so the outer
    GROUP BY (c_custkey, o_orderkey, o_orderdate, o_totalprice) groups are
    exactly the surviving orders and total_qty IS the HAVING sum. The
    output column divides the exact cents sum by 100 in decimal arithmetic
    before the double cast — bit-identical to casting the DECIMAL(9,2) sum
    (both round the same exact rational to nearest double once; verified
    struct-packed at sf0.001/0.01/0.1 against the unchanged oracle). One
    lineitem scan + one shuffle agg replace two of each: 0.87→0.56 s noop."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"))
        .filter(F.col("q") > 250 * 100)
        .select(
            "l_orderkey",
            F.expr("CAST(CAST(q AS DECIMAL(38,0)) / 100 AS DOUBLE)").alias("total_qty"),
        )
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR of conjunctive brand/size/quantity bands across the
    join — the optimizer-stress disjunction shape."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(band).agg(
        F.sum(dec2("l_extendedprice") * (_one() - dec2("l_discount"))).cast("double").alias("revenue")
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (CAST(1 AS DECIMAL(9,2)) - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item reporting — join + group + top-20."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    # Measured fan_out here and REVERTED it (A/B: 0.29 s plain vs
    # 0.56 s fanned — the returnflag filter pushes into the scan and leaves
    # too little work above it to amortize an exchange).
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(dec2("l_extendedprice") * (_one() - dec2("l_discount"))).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )
