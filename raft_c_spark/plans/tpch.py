"""Analytics queries over the TPC-H-ish star schema — the engine's
general-SQL surface beyond strict reference parity (the reference is
single-series-FROM only, SURVEY §2.7; joins/group-bys are where Spark
adds capability and where 100 TB design choices live).

Scale notes, checked via .explain("formatted"):
- dimension joins (region/nation/customer/supplier/part) are broadcast
  — no shuffle of the fact table;
- fact-side filters are pushed to the parquet scan (PushedFilters);
- aggregates are partial+final (map-side combine) on the grouping keys.

Money arithmetic is exact-decimal end-to-end (see plans/exact.py):
price DECIMAL(9,2), discount/tax DECIMAL(3,2) keep every product well
under precision 38, so Spark and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from raft_c_spark.functions.exact import (
    dec,
    exact_avg,
    exact_sum,
    sql_avg,
    sql_dec,
    sql_sum,
    sql_sum_expr,
)
from raft_c_spark.sources.testdata import load_table


def _disc_price():
    # DECIMAL(9,2) * DECIMAL(4,2) → DECIMAL(14,4): exact
    return dec("l_extendedprice", "9,2") * (F.lit(1) - dec("l_discount", "3,2"))


def _charge():
    # DECIMAL(14,4) * DECIMAL(4,2) → DECIMAL(19,6): exact
    return _disc_price() * (F.lit(1) + dec("l_tax", "3,2"))


_SQL_DISC_PRICE = (
    f"{sql_dec('l_extendedprice', '9,2')} * (1 - {sql_dec('l_discount', '3,2')})"
)
_SQL_CHARGE = f"({_SQL_DISC_PRICE}) * (1 + {sql_dec('l_tax', '3,2')})"


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: groupBy two flags, 8 aggregates,
    shipdate cutoff pushed to the scan."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(_disc_price()).alias("sum_disc_price"),
            exact_sum(_charge()).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped: segment-filtered customer (broadcast) ⋈ orders
    ⋈ lineitem, revenue top-10."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        # Q3 uses ONE pivot date on both sides — the previous
        # 1998-03-15 order bound (reviewer r8: copy-paste typo) kept
        # ~half of all orders and gutted the selective-date join shape
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    # orders is a fact table (grows with SF) — no broadcast hint; the
    # lineitem⋈orders join shuffles on orderkey and AQE may still pick
    # broadcast at small SF. Dimension hint stays on customer only.
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(exact_sum(_disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6-shaped: pure scan-filter-aggregate; every predicate
    pushes to parquet row-group pruning."""
    l = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice", "9,2") * dec("l_discount", "3,2")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shaped: five-way join with broadcast dimension chain,
    revenue by nation."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    # orders is fact-sized: shuffle join on orderkey (AQE decides
    # broadcast at small SF); customer/supplier/nation/region are true
    # dimensions and keep their hints
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(exact_sum(_disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


QUERIES = {
    "tpch_pricing_summary": q_pricing_summary,
    "tpch_shipping_priority": q_shipping_priority,
    "tpch_forecast_revenue": q_forecast_revenue,
    "tpch_local_supplier_volume": q_local_supplier_volume,
}

ORACLES = {
    "tpch_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {sql_sum('l_quantity')} AS sum_qty,
               {sql_sum('l_extendedprice')} AS sum_base_price,
               {sql_sum_expr(_SQL_DISC_PRICE)} AS sum_disc_price,
               {sql_sum_expr(_SQL_CHARGE)} AS sum_charge,
               {sql_avg('l_quantity')} AS avg_qty,
               {sql_avg('l_extendedprice')} AS avg_price,
               {sql_avg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_shipping_priority": f"""
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               {sql_sum_expr(_SQL_DISC_PRICE)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "tpch_forecast_revenue": f"""
        SELECT {sql_sum_expr(sql_dec('l_extendedprice', '9,2') + ' * ' + sql_dec('l_discount', '3,2'))} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_local_supplier_volume": f"""
        SELECT n_name AS nation,
               {sql_sum_expr(_SQL_DISC_PRICE)} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """,
}
