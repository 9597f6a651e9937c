"""Flagship query: TPC-H-Q1-style pricing summary.

Proves the full scan → pushed filter → hash-aggregate → sort pipeline in
one declarative plan. At scale: the filter and the 4-column projection are
pushed into the parquet scan; aggregation is partial (map-side combine)
before a 2-key shuffle onto a tiny key space; the final sort is on the
already-tiny aggregate output.

The reference has no aggregation operators at all (SURVEY.md §2.2) — this
is the first operator of the analytics extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.functions.numeric import (
    davg,
    dsum,
    money,
    rate,
    sql_davg,
    sql_dsum,
    sql_money,
    sql_rate,
)
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

CUTOFF = "2000-12-01"

_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum("l_quantity")} AS sum_qty,
  {sql_dsum("l_extendedprice", 12, 2)} AS sum_base_price,
  cast(sum({sql_money("l_extendedprice")} * (1 - {sql_rate("l_discount")})) as double) AS sum_disc_price,
  cast(sum({sql_money("l_extendedprice")} * (1 - {sql_rate("l_discount")}) * (1 + {sql_rate("l_tax")})) as double) AS sum_charge,
  {sql_davg("l_quantity")} AS avg_qty,
  {sql_davg("l_extendedprice", 12, 2)} AS avg_price,
  {sql_davg("l_discount", 4, 2)} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", oracle=_ORACLE, bench=True)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All-decimal form on purpose. An unscaled-integer rewrite (exact
    # longs multiplied in codegen, one decimal(38,0) sum) beat it on an
    # isolated charge-product aggregate (0.61 vs 1.14 s at sf0.1), but
    # the full gate measured ~0.25-0.3 s SLOWER in an interleaved A/B:
    # extracting each unscaled value costs a per-row decimal multiply
    # by 10^s per column, which across seven aggregates outweighs the
    # BigDecimal products it avoids. queries/relational._revenue()
    # measured the same.
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = money("l_extendedprice") * (F.lit(1) - rate("l_discount"))
    charge = disc_price * (F.lit(1) + rate("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice", 12, 2).alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice", 12, 2).alias("avg_price"),
            davg("l_discount", 4, 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_INTERFACE = """
SELECT n_name,
       count(*) AS n_customers,
       cast(sum(cast(c_acctbal as decimal(14,2))) as double)
         AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment <> 'FURNITURE'
GROUP BY n_name
"""


@query("q_sql_interface", oracle=_SQL_INTERFACE)
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end round-trip (csv2db_spark/sqlapi.py): the SAME ANSI
    SQL string is compiled by Spark (through ``run_sql`` over the
    registered fixture views) and by DuckDB as the oracle — dialect-
    portable SQL is the contract, and the decimal-sum discipline holds
    inside raw SQL exactly as in the DataFrame API. The physical plan is
    identical to the hand-built DataFrame one: pushed filter, pruned
    columns, broadcast nation join."""
    from csv2db_spark.sqlapi import run_sql

    return run_sql(spark, sf_dir, _SQL_INTERFACE)
