"""Join operator coverage (SURVEY.md §2.2 row 'Joins' — absent in the
reference, part of the analytics extension surface).

Scale notes per query are in each docstring; common principles:
- dimension sides (region/nation, inline band tables, scalar aggregates)
  are explicitly ``broadcast()`` — zero shuffle of the fact table;
- fact⋈fact equi-joins rely on shuffled hash/sort-merge with AQE skew
  splitting enabled (session.py);
- the as-of join is one shuffle + in-partition sort (operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
from csv2db_spark.operators import asof_join, range_join, top_k
from csv2db_spark.operators.runtime_filter import bitset_prefilter_join
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

_REV = "cast(sum({m} * (1 - {r})) as double)".format(
    m=sql_money("l_extendedprice"), r=sql_rate("l_discount")
)


def _revenue():
    # All-decimal form on purpose. An unscaled-integer rewrite (exact
    # longs multiplied in codegen, one decimal(38,0) sum) measured both
    # consumers slower on a cold JVM (q_join_inner_topk best-of-3
    # 0.656→0.885 s, q_join_multiway_revenue 1.059→1.248 s): extracting
    # each unscaled value costs a per-row decimal multiply by 10^s, more
    # than the BigDecimal product it avoids — the same reason q01 keeps
    # the decimal form (queries/core.py).
    return F.sum(money("l_extendedprice") * (F.lit(1) - rate("l_discount"))).cast(
        "double"
    )


# --------------------------------------------------------------------------
# Q3-style: shipping-priority top-k over a 3-way join
# --------------------------------------------------------------------------
@query(
    "q_join_inner_topk",
    oracle=f"""
    SELECT l_orderkey,
           {_REV} AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    bench=True,
)
def q_join_inner_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter → join → agg → top-k. Filters land before the joins
    (Catalyst pushdown), the final top-10 is TakeOrdered, not a global
    sort."""
    cutoff = F.lit("1998-07-01").cast("timestamp_ntz")
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey).join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        _revenue().alias("revenue")
    )
    return top_k(agg, 10, F.col("revenue").desc(), F.col("l_orderkey")).select(
        "l_orderkey", "revenue", "o_orderdate", "o_orderpriority"
    )


# --------------------------------------------------------------------------
# Q5-style: 6-way join with broadcast dimensions
# --------------------------------------------------------------------------
@query(
    "q_join_multiway_revenue",
    oracle=f"""
    SELECT n_name, {_REV} AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
    bench=True,
)
def q_join_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region/nation are broadcast (no shuffle); the fact-side joins
    shuffle on their keys with AQE handling skew. The local-supplier
    predicate (c_nationkey = s_nationkey) rides on the supplier join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(
            F.col("r_name").isin("ASIA", "EUROPE")
        )
    )
    joined = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(_revenue().alias("revenue"))


# --------------------------------------------------------------------------
# Left outer with NULL-preserving aggregation
# --------------------------------------------------------------------------
@query(
    "q_join_left_nulls",
    oracle=f"""
    SELECT n_name,
           count(c_custkey) AS n_customers,
           coalesce({sql_dsum("c_acctbal", 12, 2)}, 0.0) AS total_acctbal
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_left_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    return (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.coalesce(dsum("c_acctbal", 12, 2), F.lit(0.0)).alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Semi / anti joins
# --------------------------------------------------------------------------
_BIG_ORDER = 400000.0


@query(
    "q_join_semi",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > {_BIG_ORDER})
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > _BIG_ORDER
    )
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > {_BIG_ORDER})
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > _BIG_ORDER
    )
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# Explicit broadcast join over two dimensions
# --------------------------------------------------------------------------
@query(
    "q_join_broadcast_dim",
    oracle="""
    SELECT s_suppkey, s_name, n_name, r_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        supp.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


# --------------------------------------------------------------------------
# Range (band) join
# --------------------------------------------------------------------------
_BANDS = [(0.0, 100.0, "low"), (100.0, 300.0, "mid"), (300.0, 1e9, "high")]


@query(
    "q_join_range_band",
    oracle=f"""
    SELECT band,
           count(*) AS n_events,
           {sql_dsum("value", 12, 2)} AS total_value
    FROM events
    JOIN (VALUES (0.0, 100.0, 'low'), (100.0, 300.0, 'mid'), (300.0, 1e9, 'high'))
         t(lo, hi, band)
      ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def q_join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join against a broadcast band table (operators/relational).
    For a large ranges side the scale path is bucketizing the value into an
    equi-key; here the bands are 3 rows — broadcast NLJ is the right plan."""
    events = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        _BANDS,
        T.StructType(
            [
                T.StructField("lo", T.DoubleType()),
                T.StructField("hi", T.DoubleType()),
                T.StructField("band", T.StringType()),
            ]
        ),
    )
    return (
        range_join(events, bands, "value")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 12, 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# As-of join (point-in-time): last 'view' before each 'purchase'
# --------------------------------------------------------------------------
@query(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, v.event_id AS view_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union+window as-of join (operators/asof.py) vs DuckDB's native
    ASOF JOIN as the oracle — same >= tie rule."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    return asof_join(
        purchases, views, on="ts", by="user_id", right_payload=["view_event_id"]
    ).select("event_id", "user_id", "ts", "view_event_id")


@query(
    "q_join_full_outer",
    oracle="""
    WITH a AS (
      SELECT c_nationkey AS nk, count(*) AS rich_customers
      FROM customer WHERE c_acctbal > 7000 GROUP BY c_nationkey
    ),
    b AS (
      SELECT s_nationkey AS nk, count(*) AS rich_suppliers
      FROM supplier WHERE s_acctbal > 4000 GROUP BY s_nationkey
    )
    SELECT coalesce(a.nk, b.nk) AS nationkey,
           coalesce(rich_customers, 0) AS rich_customers,
           coalesce(rich_suppliers, 0) AS rich_suppliers
    FROM a FULL OUTER JOIN b ON a.nk = b.nk
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with nulls on BOTH sides (thresholds chosen so each
    aggregate drops different nations). At scale a full-outer is always a
    shuffle join (no broadcast possible) — both sides hash on the key."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 7000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("rich_customers"))
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 4000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("rich_suppliers"))
    )
    j = cust.alias("a").join(sup.alias("b"), F.col("a.nk") == F.col("b.nk"), "full_outer")
    return j.select(
        F.coalesce(F.col("a.nk"), F.col("b.nk")).alias("nationkey"),
        F.coalesce("rich_customers", F.lit(0)).alias("rich_customers"),
        F.coalesce("rich_suppliers", F.lit(0)).alias("rich_suppliers"),
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name,
           (r.r_regionkey = n.n_regionkey) AS is_home_region
    FROM region r CROSS JOIN nation n
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product (5 x 25 here). Only ever sane when one
    side is tiny — Spark requires the explicit crossJoin call precisely
    to keep accidental products out of big plans; the blocked similarity
    join (llm/similarity.py) is the disciplined large-scale use."""
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = load_table(spark, sf_dir, "nation").select("n_regionkey", "n_name")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_home_region"),
    )


@query(
    "q_join_bitset_prefilter",
    oracle=f"""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           {sql_dsum("o.o_totalprice", 14, 2)} AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY c.c_mktsegment
    """,
)
def q_join_bitset_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast bitset runtime filter
    (operators/runtime_filter.py:bitset_prefilter_join): the selective
    dim predicate (c_acctbal > 9000, ~5% of customers) is turned into a
    1 Mbit membership bitset that prunes orders BEFORE the join shuffle;
    the exact join then removes the <1% hash false positives, so the
    oracle is the plain join — the prefilter is pure physical
    optimization, invisible in the result. At 100 TB this is the
    difference between shuffling every fact row and shuffling only the
    ~5% that can match."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    joined = bitset_prefilter_join(o, c, "o_custkey", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 14, 2).alias("total_price"),
    )


@query(
    "q_cdc_snapshot_diff",
    oracle="""
    WITH o AS (SELECT c_custkey, c_acctbal FROM customer),
    n AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 10
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 17 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, c_acctbal
      FROM customer WHERE c_custkey % 19 = 0
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN n.c_custkey IS NULL THEN 'delete'
                WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update'
           END AS change_type
    FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
    WHERE (CASE WHEN n.c_custkey IS NULL THEN 'delete'
                WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update'
           END) IS NOT NULL
    """,
)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/merge.py:snapshot_diff): today's customer
    snapshot is derived from yesterday's by deterministic deletes
    (custkey % 17 = 0), balance updates (% 13 = 0) and inserts (% 19 = 0
    re-keyed) — the operator must report exactly those keys with the
    right change_type and stay silent on unchanged rows. One full outer
    join on the key; NULL-safe column comparison in codegen; output
    proportional to the changes."""
    from csv2db_spark.operators.merge import snapshot_diff

    c = load_table(spark, sf_dir, "customer")
    old = c.select("c_custkey", "c_acctbal")
    new = (
        c.where(F.col("c_custkey") % 17 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 10)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 19 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"), "c_acctbal"
            )
        )
    )
    return snapshot_diff(old, new, keys=["c_custkey"], compare=["c_acctbal"])


@query(
    "q_join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, v.event_id AS error_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') v
      ON p.user_id = v.user_id AND p.ts <= v.ts
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py direction='forward'): each
    purchase picks the user's NEAREST FOLLOWING error — the
    which-failure-came-next investigation join — vs DuckDB's native
    forward ASOF (`<=`) as the oracle. Same single-shuffle union+window
    plan as the backward gate, sort reversed."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_event_id")
    )
    return asof_join(
        purchases,
        errors,
        on="ts",
        by="user_id",
        right_payload=["error_event_id"],
        direction="forward",
    ).select("event_id", "user_id", "ts", "error_event_id")


@query(
    "q_join_null_safe",
    oracle="""
    WITH c AS (
        SELECT c_custkey, nullif(c_nationkey, 3) AS nk, c_acctbal
        FROM customer
    ),
    n AS (
        SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation
    )
    SELECT coalesce(CAST(c.nk AS VARCHAR), '<null>') AS nk_str,
           n.n_name,
           count(*) AS n_matches,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM c JOIN n ON c.nk IS NOT DISTINCT FROM n.nk
    GROUP BY 1, 2
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (eqNullSafe / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently dropping — the semantics
    CDC key comparison and snapshot_diff rely on, exposed as a join
    operator. The fixture has no NULL keys, so both sides NULLIF one
    value into NULL-ness; the hash proves the NULL-NULL matches appear
    exactly once per pair and the non-null keys join normally. Plan
    note: Spark plans <=> as a regular hash join key (it is an
    equality on a coalesced struct), so this broadcasts like any dim
    join — no nested-loop fallback."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk"),
        "c_acctbal",
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(3)).alias("nk"), "n_name"
    )
    joined = c.join(F.broadcast(n), c["nk"].eqNullSafe(n["nk"]), "inner")
    return joined.groupBy(
        F.coalesce(c["nk"].cast("string"), F.lit("<null>")).alias("nk_str"),
        "n_name",
    ).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_bal"),
    )


@query(
    "q_join_asof_nearest",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT user_id, ts, event_id AS view_event_id FROM events
          WHERE event_type = 'view'),
    ranked AS (
      SELECT p.event_id, p.user_id, p.ts,
             v.ts AS ts_near, v.view_event_id,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch(p.ts) - epoch(v.ts)),
                        CASE WHEN v.ts <= p.ts THEN 0 ELSE 1 END
             ) AS rn
      FROM p LEFT JOIN v ON p.user_id = v.user_id
    )
    SELECT event_id, user_id, ts, ts_near, view_event_id AS view_near
    FROM ranked WHERE rn = 1
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (operators/asof.asof_join_nearest — pandas
    merge_asof direction='nearest', equidistant ties prefer backward):
    each purchase picks the user's closest view either side. The engine
    runs two single-shuffle union+window passes plus a row-local pick;
    the ORACLE is the naive per-group cross join ranked by absolute
    distance — the formulation that is quadratic per group and exactly
    what the operator avoids at scale."""
    from csv2db_spark.operators.asof import asof_join_nearest

    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    return asof_join_nearest(
        purchases, views, on="ts", by="user_id",
        right_payload=["view_event_id"],
    ).select(
        "event_id",
        "user_id",
        "ts",
        "ts_near",
        F.col("view_event_id_near").alias("view_near"),
    )


@query(
    "q_join_not_in_null_semantics",
    oracle="""
    WITH dim AS (
      SELECT CASE WHEN n_nationkey = 7 THEN NULL ELSE n_nationkey END AS nk
      FROM nation
    )
    SELECT 'null_poisoned' AS variant, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE c_nationkey NOT IN (SELECT nk FROM dim WHERE nk IS NULL OR nk < 10)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'null_free', c_mktsegment, CAST(count(*) AS BIGINT)
    FROM customer
    WHERE c_nationkey NOT IN (SELECT nk FROM dim
                              WHERE nk IS NOT NULL AND nk < 10)
    GROUP BY c_mktsegment
    """,
)
def q_join_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NOT IN with a NULL in the subquery — the classic three-
    valued-logic trap: one NULL makes ``x NOT IN (...)`` UNKNOWN for
    every non-matching x, so the filter keeps NOTHING unless the
    planner implements null-aware anti-join semantics exactly: the
    null-poisoned branch must return ZERO groups while the null-free
    branch (same predicate, NULLs filtered) returns the real counts —
    both in one result so the gate is non-vacuous. Spark plans the
    poisoned branch as a null-aware BroadcastNestedLoopJoin (bounded:
    25-row dimension); q_tpch_q16's rewrite shows how to AVOID that
    plan when the subquery is provably NULL-free."""
    from csv2db_spark.sqlapi import run_sql

    return run_sql(
        spark,
        sf_dir,
        """
        WITH dim AS (
          SELECT CASE WHEN n_nationkey = 7 THEN NULL
                      ELSE n_nationkey END AS nk
          FROM nation
        )
        SELECT 'null_poisoned' AS variant, c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM customer
        WHERE c_nationkey NOT IN (SELECT nk FROM dim
                                  WHERE nk IS NULL OR nk < 10)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'null_free', c_mktsegment, CAST(count(*) AS BIGINT)
        FROM customer
        WHERE c_nationkey NOT IN (SELECT nk FROM dim
                                  WHERE nk IS NOT NULL AND nk < 10)
        GROUP BY c_mktsegment
        """,
    )
