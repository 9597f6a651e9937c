"""Additional TPC-H-shaped gate queries (Q4/Q12/Q14/Q16/Q22 analogues,
adapted to the fixture's trimmed column set). Each exercises a DISTINCT
optimizer path not covered by the existing join/subquery families:

- Q4: correlated EXISTS with an inequality predicate → left-semi join
  with a non-equi condition component.
- Q12: conditional aggregation (CASE inside SUM) over a fact join.
- Q14: single-row conditional ratio with exact-decimal numerator and
  denominator (promo revenue share).
- Q16: NOT IN exclusion (rewritten to a broadcast anti join on the
  non-null key — the scale-safe form), plus count(distinct) per group.
- Q22: anti join against a fact + scalar aggregate subquery threshold.

All money arithmetic goes through the exact-decimal discipline
(functions/numeric.py) so results hash-match DuckDB at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.functions.numeric import money, rate, sql_davg, sql_money, sql_rate
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table


@query(
    "q_tpch_q4_exists",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders in a half-year window having at least one line item
    shipped after the order date, counted by priority. The EXISTS becomes
    a LEFT SEMI join whose condition carries the l_shipdate >
    o_orderdate inequality — Spark pushes the equi part (l_orderkey) into
    the hash join and evaluates the inequality as a join residual, so no
    per-order subquery ever runs. Date predicates push to the orders
    scan."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sat = o.join(
        li,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
        "semi",
    )
    return sat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q_tpch_q12_case_agg",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
           cast(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN {sql_money('l.l_extendedprice')}
                         ELSE {sql_money('0')} END) as double) AS high_revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q_tpch_q12_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional tallies (CASE inside SUM) partitioned by
    priority class over a fact-fact join. Ship-date range pushes to the
    lineitem scan; the CASE branches evaluate inside the aggregate's
    partial (map-side) phase — one shuffle on l_orderkey, one on the
    group key."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
            F.sum(
                F.when(high, money("l_extendedprice")).otherwise(money(F.lit(0)))
            )
            .cast("double")
            .alias("high_revenue"),
        )
    )


@query(
    "q_tpch_q14_promo_ratio",
    oracle=f"""
    SELECT cast(sum(CASE WHEN p.p_type = 'PROMO'
                   THEN {sql_money('l.l_extendedprice')} * (1 - {sql_rate('l.l_discount')})
                   ELSE {sql_money('0')} * (1 - {sql_rate('0')}) END) * 100 as double)
           / cast(sum({sql_money('l.l_extendedprice')} * (1 - {sql_rate('l.l_discount')})) as double)
           AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-02-01 00:00:00'
    """,
)
def q_tpch_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share — a single-row conditional ratio.
    Both numerator and denominator accumulate as exact decimals (the
    CASE's else-branch uses the same decimal expression so the sum stays
    in one decimal type); the one final double division is IEEE-identical
    on both engines. part is a broadcast dimension."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-02-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = money("l_extendedprice") * (F.lit(1) - rate("l_discount"))
    zero = money(F.lit(0)) * (F.lit(1) - rate(F.lit(0)))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                (F.sum(promo) * F.lit(100)).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q_tpch_q16_notin_distinct",
    oracle="""
    SELECT p.p_brand, p.p_type,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'SMALL%'
      AND p.p_size NOT IN (
        SELECT DISTINCT p_size FROM part WHERE p_retailprice > 999.0
      )
    GROUP BY p.p_brand, p.p_type
    """,
)
def q_tpch_q16_notin_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: supplier variety per (brand, type) with brand/type/size
    exclusions. The oracle's NOT IN subquery is deliberately rewritten as
    a plain broadcast ANTI join on the Spark side: NOT IN over a nullable
    column forces Spark's null-aware anti join (potentially a broadcast
    nested-loop at scale), while p_size is non-null by schema — the
    rewrite is semantics-identical here and is THE standard scale fix for
    NOT IN. count(distinct) runs as a two-phase expand+aggregate; the
    size exclusion list is tiny → broadcast."""
    p = load_table(spark, sf_dir, "part")
    excluded_sizes = p.where(F.col("p_retailprice") > 999.0).select(
        "p_size"
    ).distinct()
    pf = (
        p.where(F.col("p_brand") != "Brand#1")
        .where(~F.col("p_type").like("SMALL%"))
        .join(
            F.broadcast(excluded_sizes),
            p.p_size == excluded_sizes.p_size,
            "anti",
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(pf), li.l_partkey == pf.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_tpch_q22_antijoin_scalar",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS numcust,
           cast(sum(cast(c.c_acctbal as decimal(12,2))) as double) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT cast(sum(cast(c_acctbal as decimal(12,2))) as double) / count(*)
        FROM customer WHERE c_acctbal > 0.00
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c.c_mktsegment
    """,
)
def q_tpch_q22_antijoin_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: well-funded customers with no RECENT orders (none since
    1999), by segment. The scalar average broadcasts as a one-row cross
    join (no per-row subquery); the NOT EXISTS is a plain anti join on
    o_custkey with the date predicate pushed to the orders scan before
    the anti side is built. avg goes through exact decimal, and the
    comparison threshold is the same double on both engines, so the
    boundary rows agree. (The fixture's orders cover every customer, so
    the textbook "never ordered" predicate is empty at every SF — the
    recency variant keeps the identical plan shape with non-trivial
    output.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")
    )
    thr = (
        c.where(F.col("c_acctbal") > 0.00)
        .agg(
            (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
             / F.count(F.lit(1))).alias("thr")
        )
    )
    return (
        c.join(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("thr"))
        .join(o, c.c_custkey == o.o_custkey, "anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


_REV = (
    f"cast(sum({sql_money('l_extendedprice')}"
    f" * (1 - {sql_rate('l_discount')})) as double)"
)


def _rev() -> F.Column:
    return (
        F.sum(money("l_extendedprice") * (F.lit(1) - rate("l_discount")))
        .cast("double")
    )


@query(
    "q_tpch_q7_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           cast(sum({sql_money('l.l_extendedprice')}
                    * (1 - {sql_rate('l.l_discount')})) as double) AS volume
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_4')
        OR (n1.n_name = 'NATION_4' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume between nation pairs by ship
    year. The nation-pair disjunction can't be a join key, but its
    single-side implication (each nation IN the 4-name set) is applied
    to the two broadcast nation dims BEFORE the fact joins — suppliers
    and customers outside those nations never reach the shuffle — and
    the pair predicate runs as a residual filter afterwards: the
    standard derived-predicate plan for disjunctive joins. Year
    extraction is timezone-free (timestamp_ntz on both engines)."""
    pair_nations = ("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair_nations))
        .select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair_nations))
        .select(
            F.col("n_nationkey").alias("c_nkey"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pairs = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    ) | (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_4")
    ) | (
        (F.col("supp_nation") == "NATION_4") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .where(pairs)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_rev().alias("volume"))
    )


@query(
    "q_tpch_q8_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           cast(sum(CASE WHEN n1.n_name = 'NATION_3'
                         THEN {sql_money('l.l_extendedprice')}
                              * (1 - {sql_rate('l.l_discount')})
                         ELSE {sql_money('0')} * (1 - {sql_rate('0')})
                    END) as double)
           / cast(sum({sql_money('l.l_extendedprice')}
                      * (1 - {sql_rate('l.l_discount')})) as double)
           AS mkt_share
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    JOIN region r ON n2.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_3's share of PROMO-part revenue sold into ASIA,
    per order year — an 8-table join tree where every dimension
    (part-filtered, nation x2, region-filtered) broadcasts and only the
    three fact joins shuffle. Numerator and denominator accumulate in
    ONE aggregate pass as exact decimals (the CASE else-branch keeps the
    decimal type identical); the single final double division is
    IEEE-identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    )
    s = load_table(spark, sf_dir, "supplier")
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"),
            F.col("n_regionkey").alias("c_rkey"),
        )
    )
    r = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    rev = money("l_extendedprice") * (F.lit(1) - rate("l_discount"))
    zero = money(F.lit(0)) * (F.lit(1) - rate(F.lit(0)))
    nat3 = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero)
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .join(r, F.col("c_rkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(nat3).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@query(
    "q_tpch_q9_profit_proxy",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           cast(sum({sql_money('l.l_extendedprice')}
                    * (1 - {sql_rate('l.l_discount')})
                    - {sql_money('p.p_retailprice')}
                      * cast(l.l_quantity as decimal(5,1))
                      * cast(0.1 as decimal(2,1))) as double) AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_tpch_q9_profit_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit by supplier nation x order year for parts whose
    name matches a substring. The fixture has no partsupp/supplycost, so
    cost is proxied as 10% of retail price x quantity (documented
    divergence; the SHAPE — LIKE-filtered part dim, 5-way join, signed
    decimal amount, nation x year rollup — is Q9's). The LIKE filter
    prunes the broadcast part dim before any shuffle; the amount stays
    one exact decimal expression end-to-end."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    o = load_table(spark, sf_dir, "orders")
    amount = money("l_extendedprice") * (F.lit(1) - rate("l_discount")) - money(
        "p_retailprice"
    ) * F.col("l_quantity").cast("decimal(5,1)") * F.lit(0.1).cast("decimal(2,1)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@query(
    "q_tpch_q10_returned",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           cast(sum({sql_money('l.l_extendedprice')}
                    * (1 - {sql_rate('l.l_discount')})) as double) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by revenue lost to returned items in
    one quarter. Both date and returnflag predicates push to their
    scans; nation broadcasts; the top-20 is TakeOrdered over the
    aggregated (per-customer) rows — never a full sort of the fact side.
    c_custkey tiebreak makes the limit deterministic."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_rev().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_tpch_q17_avg_quantity",
    oracle=f"""
    WITH j AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#5'
    ),
    thr AS (
      SELECT l_partkey,
             ({sql_davg('l_quantity', 5, 1)}) * 0.2 AS qty_thr
      FROM j GROUP BY l_partkey
    )
    SELECT cast(sum(cast(j.l_extendedprice as decimal(12,2))) as double) / 7.0
           AS avg_yearly
    FROM j JOIN thr ON j.l_partkey = thr.l_partkey
    WHERE j.l_quantity < thr.qty_thr
    """,
)
def q_tpch_q17_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from small-quantity orders of one brand's
    parts, where "small" is 20% of that part's own average quantity —
    the classic correlated scalar-aggregate, planned as aggregate + 
    self-join instead of a per-row subquery. The brand filter lands on
    the broadcast part dim so only that brand's lineitems are scanned
    into the aggregate, which Spark reuses for the threshold join (same
    shuffle key l_partkey). Threshold arithmetic: exact-decimal sum ->
    double divide -> *0.2, identical double ops on both engines, so
    boundary rows agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#5")
        .select("p_partkey")
    )
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thr = j.groupBy("l_partkey").agg(
        (
            (
                F.sum(F.col("l_quantity").cast("decimal(5,1)")).cast("double")
                / F.count(F.lit(1))
            )
            * F.lit(0.2)
        ).alias("qty_thr")
    )
    return (
        j.join(thr, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_thr"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@query(
    "q_tpch_q19_disjunctive",
    oracle=f"""
    SELECT cast(sum({sql_money('l.l_extendedprice')}
                    * (1 - {sql_rate('l.l_discount')})) as double) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs spanning both join sides. The composite
    disjunction can't push down whole, so its single-side implications
    are derived and applied early — brand IN set on the (broadcast) part
    dim, quantity range on the lineitem scan — and the full residual OR
    evaluates after the join: the plan Catalyst should reach, made
    explicit. Single-row exact-decimal revenue."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(1, 50)
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(
            F.col("p_brand").isin("Brand#2", "Brand#3", "Brand#4")
        )
    )
    disj = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .where(disj)
        .agg(_rev().alias("revenue"))
    )


@query(
    "q_tpch_q21_waiting",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (adapted: the fixture has no commit/receipt dates, so
    "late" means shipped >60 days after the order date on a finalized
    order): suppliers who were the SOLE late supplier on a
    multi-supplier order. EXISTS -> semi join, NOT EXISTS -> anti join,
    both on the equi key l_orderkey with the supplier-inequality as the
    join residual — no per-row subquery; the late set is computed once
    and reused for both the probe side and the anti side. Top-20 with
    s_name tiebreak is TakeOrdered on the small per-supplier aggregate."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    late3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("sk3")
    )
    sole_late = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "semi",
        )
        .join(
            late3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "anti",
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        sole_late.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# The remaining TPC-H shapes. Q3/Q5/Q6/Q13/Q15/Q18 are direct
# analogues; Q2/Q11/Q20 need the partsupp table the fixture does not ship,
# so their *optimizer shapes* (correlated per-group MIN, global-fraction
# threshold, nested above-average semi chain) are kept and the supply facts
# are derived from lineitem instead. With these, all 22 TPC-H query shapes
# have a gate analogue.
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           cast(sum({sql_money('l.l_extendedprice')}
                    * (1 - {sql_rate('l.l_discount')})) as double) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: top-10 unshipped orders by potential revenue for one
    market segment. The segment filter reduces customer before its join
    (broadcast at any SF — customers-per-segment is a fifth of the dim),
    both date filters push to their scans, and the top-10 is TakeOrdered
    over per-order aggregates with the l_orderkey tiebreak making the
    limit deterministic. (The fixture drops o_shippriority; the grouping
    shape is unchanged.)"""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_rev().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5_local_supplier",
    oracle=f"""
    SELECT n.n_name,
           cast(sum({sql_money('l.l_extendedprice')}
                    * (1 - {sql_rate('l.l_discount')})) as double) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue from *local* supply chains (customer and
    supplier in the same nation) per nation of one region. The
    c_nationkey = s_nationkey equality rides the supplier hash join as a
    second key, not a residual; region/nation broadcast and their
    r_name filter prunes suppliers before the fact join. One shuffle per
    fact join + one for the final small agg."""
    r = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_rev().alias("revenue"))
    )


@query(
    "q_tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT cast(sum({sql_money('l_extendedprice')}
                    * {sql_rate('l_discount')}) as double) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND {sql_rate('l_discount')} BETWEEN {sql_rate('0.03')} AND {sql_rate('0.07')}
      AND l_quantity < 24
    """,
)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: single-scan, single-row forecast — revenue given up to
    mid-range discounts in one year. No join, no shuffle beyond the
    1-row final agg: date + quantity predicates push into the parquet
    scan; the discount band compares in decimal(4,2) on both engines so
    the boundary rows classify identically. The whole query is one
    WholeStageCodegen pass over lineitem."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & rate("l_discount").between(rate(F.lit(0.03)), rate(F.lit(0.07)))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(money("l_extendedprice") * rate("l_discount"))
        .cast("double")
        .alias("revenue")
    )


@query(
    "q_tpch_q13_cust_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of customers by order count, *including*
    zero-order customers — the left join with the exclusion predicate
    inside the join condition (not a post-filter, which would turn the
    join inner). Two aggregations: per-customer count rides the join
    shuffle's partitioning; the histogram agg is over ~thousands of
    rows. (The fixture has no o_comment, so the classic not-like-
    'special requests' exclusion is an o_orderpriority predicate with
    the same plan shape.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q_tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             sum({sql_money('l_extendedprice')}
                 * (1 - {sql_rate('l_discount')})) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, cast(rev.r as double) AS total_revenue
    FROM supplier s
    JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.r = (SELECT max(r) FROM rev)
    """,
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) achieving the maximum quarterly revenue.
    SQL writes this as the view joined against its own scalar max — but
    Spark does NOT reuse the view's subtree across the two references
    (no ReusedExchange: the quarter's lineitem scan would run twice).
    Instead the global argmax runs as rank() over the *per-supplier
    aggregate*: one fact scan, one agg shuffle, then a single-partition
    window over |suppliers| rows — at 100 TB that window input is ~1e6
    narrow rows, which beats a second 100 TB scan by orders of
    magnitude. Revenue stays DECIMAL through the ranking (exact ties,
    every argmax row survives); cast to double only on output."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-10-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(money("l_extendedprice") * (F.lit(1) - rate("l_discount"))).alias("r")
    )
    ranked = rev.withColumn(
        "rk", F.rank().over(Window.orderBy(F.col("r").desc()))
    ).where(F.col("rk") == 1)
    s = load_table(spark, sf_dir, "supplier")
    return (
        ranked.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue")
        )
    )


@query(
    "q_tpch_q18_large_volume",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           cast(big.sum_qty as double) AS sum_qty
    FROM (
      SELECT l_orderkey, sum({sql_money('l_quantity')}) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum({sql_money('l_quantity')}) > 250
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: customers with orders above a total-quantity threshold
    (the classic group-HAVING-then-join-back, here folded so lineitem
    aggregates FIRST and only qualifying orderkeys — a few percent —
    reach the orders/customer joins). Quantity sums run in decimal; the
    top-100 sorts on the raw o_totalprice with an orderkey tiebreak so
    the limit is deterministic on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).alias("sq"))
        .where(F.col("sq") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.col("sq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             min({sql_money('l_extendedprice')}) AS cost
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    ),
    cand AS (
      SELECT p.p_partkey, s.s_suppkey, s.s_name, s.s_acctbal,
             n.n_name, supply.cost
      FROM supply
      JOIN part p ON p.p_partkey = supply.l_partkey
                 AND p.p_size <= 15 AND p.p_type IN ('LARGE', 'STANDARD')
      JOIN supplier s ON s.s_suppkey = supply.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    )
    SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey,
           cast(c.cost as double) AS supply_cost
    FROM cand c
    JOIN (SELECT p_partkey, min(cost) AS mc FROM cand GROUP BY p_partkey) m
      ON c.p_partkey = m.p_partkey AND c.cost = m.mc
    """,
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (adapted — the fixture ships no partsupp, so the supply
    relation is derived as min line price per (part, supplier)): for
    each qualifying part, the European supplier(s) quoting the minimum
    cost. The correlated MIN subquery is the per-part min of the
    *filtered* candidate set joined back on (partkey, cost) equality —
    cost stays decimal through the comparison. Part/region filters prune
    before any wide join; nation/region broadcast. Ties return every
    minimal supplier (deterministic, no limit).

    The SQL join-back form would evaluate the candidate subtree twice
    (Spark plans no ReusedExchange across the two references → double
    fact scan); the per-part MIN runs as a window over the candidate
    set instead — one pass, one extra shuffle on p_partkey."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(money("l_extendedprice")).alias("cost")
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type").isin("LARGE", "STANDARD"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    )
    cand = (
        supply.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("n_regionkey"))
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name", "cost")
    )
    return (
        cand.withColumn(
            "mc", F.min("cost").over(Window.partitionBy("p_partkey"))
        )
        .where(F.col("cost") == F.col("mc"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("cost").cast("double").alias("supply_cost"),
        )
    )


@query(
    "q_tpch_q11_important_stock",
    oracle=f"""
    WITH val AS (
      SELECT l.l_partkey,
             sum({sql_money('l.l_extendedprice')}) AS v
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_1', 'NATION_2')
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, cast(v as double) AS part_value
    FROM val
    WHERE v * 1000 > (SELECT sum(v) FROM val)
    """,
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (adapted — part value derives from lineitem revenue
    rather than partsupp stock): parts carrying more than 0.1% of the
    two target nations' total value. The global-fraction threshold is
    the scalar-subquery-over-the-same-aggregate pattern; the comparison
    is pure decimal (v*1000 > total — multiplied instead of divided so
    no rounding enters) against a 1-row broadcast. The nation filter
    prunes suppliers before the fact join."""
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").where(
            F.col("n_name").isin("NATION_1", "NATION_2")
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    val = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(money("l_extendedprice")).alias("v"))
    )
    total = F.broadcast(val.agg(F.sum("v").alias("t")))
    return (
        val.join(total, F.col("v") * 1000 > F.col("t"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
    )


@query(
    "q_tpch_q20_part_promotion",
    oracle=f"""
    WITH pair AS (
      SELECT l.l_partkey, l.l_suppkey,
             sum({sql_money('l.l_quantity')}) AS sq
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'small%'
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    per_part AS (
      SELECT l_partkey, sum(sq) AS tq, count(*) AS ns
      FROM pair GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM pair
    JOIN per_part ON pair.l_partkey = per_part.l_partkey
                 AND pair.sq * per_part.ns > per_part.tq
    JOIN supplier s ON s.s_suppkey = pair.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name IN ('NATION_0', 'NATION_1', 'NATION_2',
                       'NATION_3', 'NATION_4', 'NATION_5')
    """,
)
def q_tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (adapted — no partsupp, so 'excess availability' becomes
    'above-average supplier of a promoted part'): suppliers in target
    nations who shipped strictly more of a small-prefix part in 1997
    than that part's average across its suppliers. Keeps Q20's nested
    structure — inner agg per (part, supplier), a per-part aggregate
    threshold, then a semi-style reduction to distinct suppliers. The
    above-average test multiplies by the supplier count instead of
    dividing by it, so the comparison stays exact decimal on both
    engines. Part-name prefix filter prunes the fact before the first
    shuffle; nation broadcast. The per-part totals run as a window over
    the (part, supplier) aggregate — the SQL self-join form would
    evaluate the pair subtree twice (no ReusedExchange), i.e. scan the
    fact twice at 100 TB; the window costs one extra shuffle of the
    already-aggregated pairs onto l_partkey instead."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part").where(F.col("p_name").startswith("small"))
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    pair = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(money("l_quantity")).alias("sq"))
    )
    w = Window.partitionBy("l_partkey")
    above_avg = (
        pair.withColumn("tq", F.sum("sq").over(w))
        .withColumn("ns", F.count(F.lit(1)).over(w))
        .where(F.col("sq") * F.col("ns") > F.col("tq"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").where(
            F.col("n_name").isin(
                "NATION_0", "NATION_1", "NATION_2",
                "NATION_3", "NATION_4", "NATION_5",
            )
        )
    )
    return (
        above_avg.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )
