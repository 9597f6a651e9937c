"""Aggregation operator coverage (SURVEY.md §2.2 row 'Aggregations' —
absent in the reference).

All money aggregates route through exact DECIMAL (functions/numeric.py).
Multi-level grouping (rollup/cube/grouping sets) maps 1:1 onto Spark's
native operators — a single shuffle with partial aggregation; Catalyst
expands the grouping sets without extra passes over the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.functions.numeric import (
    davg,
    dec,
    dsum,
    sql_davg,
    sql_dsum,
)
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table


@query(
    "q_agg_groupby_multi",
    oracle=f"""
    SELECT o_orderpriority,
           o_orderstatus,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", 12, 2)} AS total_price,
           {sql_davg("o_totalprice", 12, 2)} AS avg_price,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
    bench=True,
)
def q_agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 12, 2).alias("total_price"),
            davg("o_totalprice", 12, 2).alias("avg_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "q_agg_distinct_count",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact distinct aggregates — Spark plans an Expand + two-phase
    aggregation; at 100 TB prefer approx_count_distinct (next query) when
    exactness isn't required."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query("q_agg_approx_distinct", oracle=None)  # HLL sketch — engine-specific,
# no cross-engine oracle; the exact counterpart is q_agg_distinct_count.
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate: map-side-combinable sketch, no
    Expand, one narrow shuffle — the 100 TB-scale path for cardinality."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q_agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           {sql_dsum("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           {sql_dsum("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "q_agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           {sql_dsum("l_extendedprice", 12, 2)} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows,
               {sql_dsum("l_extendedprice", 12, 2)} AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 3
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 3)
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           (cast(sum(cast(l_quantity as decimal(18,2)) * cast(l_quantity as decimal(18,2))) as double)
            - cast(sum(cast(l_quantity as decimal(18,2))) as double)
              * cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*)
           ) / (count(*) - 1) AS var_qty,
           sqrt(
             (cast(sum(cast(l_quantity as decimal(18,2)) * cast(l_quantity as decimal(18,2))) as double)
              - cast(sum(cast(l_quantity as decimal(18,2))) as double)
                * cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*)
             ) / (count(*) - 1)
           ) AS stddev_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev via exact decimal sum-of-squares — both
    engines derive the identical double from identical exact inputs
    (built-in var_samp is a streaming double aggregate → order-dependent,
    so it cannot be hash-compared across engines)."""
    q = dec("l_quantity", 18, 2)
    n = F.count(F.lit(1))
    s = F.sum(q).cast("double")
    sq = F.sum(q * q).cast("double")
    var = (sq - s * s / n) / (n - F.lit(1))
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            n.alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            var.alias("var_qty"),
            F.sqrt(var).alias("stddev_qty"),
        )
    )


@query(
    "q_agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.50) AS p50,
           quantile_cont(l_extendedprice, 0.90) AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. Spark's percentile() and
    DuckDB's quantile_cont share linear-interpolation semantics — probed
    bit-identical on this data. Exact percentile sorts per group; at
    100 TB switch to approx_percentile (t-digest) and accept the rows-only
    gate."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE percentile buffer via the array form:
    # four scalar percentile() aggregates each collected the full group
    # into their own buffer — 4x the state and merge traffic for the
    # same sorted walk; the values are identical (same function, same
    # interpolation, one buffer queried at four points)
    ps = F.percentile("l_extendedprice", F.array(*[F.lit(x) for x in (0.25, 0.50, 0.90, 0.99)]))
    return (
        li.groupBy("l_returnflag")
        .agg(ps.alias("_ps"))
        .select(
            "l_returnflag",
            F.col("_ps")[0].alias("p25"),
            F.col("_ps")[1].alias("p50"),
            F.col("_ps")[2].alias("p90"),
            F.col("_ps")[3].alias("p99"),
        )
    )


@query("q_agg_approx_percentile", oracle=None)  # t-digest sketch is
# engine-specific; accuracy vs the exact percentile is asserted in
# tests/test_approx.py
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-style sketch): the mergeable,
    single-pass, bounded-memory percentile for 100 TB — exact percentile
    sorts each group; the sketch merges map-side like any aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    # one sketch queried at both points (same values: the sketch build
    # is deterministic per group, so two identical sketches queried
    # once each equal one sketch queried twice)
    ap = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.99)), F.lit(10000)
    )
    return (
        li.groupBy("l_returnflag")
        .agg(ap.alias("_ap"))
        .select(
            "l_returnflag",
            F.col("_ap")[0].alias("p50_approx"),
            F.col("_ap")[1].alias("p99_approx"),
        )
    )


@query(
    "q_agg_argmax",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice) AS priciest_order,
           arg_min(o_orderkey, o_totalprice) AS cheapest_order,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax) aggregates. Deterministic because
    o_totalprice ties cannot occur for the same customer in the fixture —
    at scale break ties explicitly (struct ordering) before trusting
    argmax across engines."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "q_agg_bool",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
             AS n_over_200k
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) plus a FILTER-style conditional
    count."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_over_200k"),
    )


@query(
    "q_agg_collect_sorted",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list(c_custkey ORDER BY c_custkey), ',')
             AS keys_sorted,
           CAST(count(*) AS BIGINT) AS n
    FROM customer
    WHERE c_acctbal > 9000
    GROUP BY c_nationkey
    """,
)
def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list into a canonically-sorted array — collect order is
    partition-dependent, so sort_array makes the result deterministic
    (the same discipline any array-building aggregate needs at scale).
    The array is serialized to a comma-joined string in the gate result:
    the driver canonicalizer hashes scalar cells only (raw list cells are
    unhashable in its pandas sort), and DuckDB's ``array_to_string``
    renders integers identically, so the value-hash check stays exact."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    return c.groupBy("c_nationkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("c_custkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("keys_sorted"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_corr_exact",
    oracle="""
    WITH a AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
             sum(CAST(CAST(l_quantity AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)
                 AS DECIMAL(38,0))) AS sxy,
             sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                 AS DECIMAL(38,0))) AS sxx,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           (CAST(CAST(n AS DECIMAL(38,0)) * sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
           (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
            sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price
    FROM a
    """,
)
def q_agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation with EXACT cross-engine parity: the sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact integers
    (Σxy, Σx², Σy² in decimal128 — their n-scaled products exceed int64
    around sf1, which under ANSI/overflow-checked engines would error),
    then the closed form runs in double — identical IEEE ops on identical
    inputs, so the result is bit-identical on any engine and any
    partitioning. The built-in corr() is a running-covariance stream whose
    result depends on accumulation order — unusable under a
    hash-comparison gate."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = "decimal(38,0)"
    a = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum(y.cast(dec) * y).alias("syy"),
    )
    n_dec = F.col("n").cast(dec)
    corr = (
        (n_dec * F.col("sxy")).cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        F.sqrt(
            (n_dec * F.col("sxx")).cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * F.sqrt(
            (F.col("n").cast("decimal(38,0)") * F.col("syy")).cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return a.select("l_returnflag", "n", corr.alias("corr_qty_price"))


@query(
    "q_agg_incremental_merge",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", 14, 2)} AS total_price,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance
    (operators/merge.py:merge_aggregates): the orders fact is split at a
    date boundary into 'history' and 'new batch', each aggregated
    independently, and the partials merged — the result must be
    IDENTICAL to aggregating the whole table (which is what the oracle
    does). Sums stay DECIMAL through the merge (double partials would
    re-introduce order dependence); counts merge by summing; min/max
    merge by min/max. At 100 TB this is how a daily pipeline maintains
    rollups without re-scanning history: aggregate only the new
    partition, merge group-level partials."""
    from csv2db_spark.operators.merge import merge_aggregates

    o = load_table(spark, sf_dir, "orders")
    split = F.lit("1999-01-01").cast("timestamp_ntz")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice", 14, 2)).alias("total_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    hist = partial(o.where(F.col("o_orderdate") < split))
    newb = partial(o.where(F.col("o_orderdate") >= split))
    merged = merge_aggregates(
        hist,
        newb,
        keys=["o_orderpriority"],
        sums=["total_price"],
        counts=["n_orders"],
        mins=["first_order"],
        maxs=["last_order"],
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        "first_order",
        "last_order",
    )


@query(
    "q_agg_mode_exact",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS modal_status, cnt AS n_rows
    FROM (
      SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY count(*) DESC, o_orderstatus
             ) AS rn
      FROM orders
      GROUP BY o_orderpriority, o_orderstatus
    )
    WHERE rn = 1
    """,
)
def q_agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (most frequent value, lexicographic
    tie-break): the missing member of the aggregate family — argmax
    over value counts, one count aggregate + a rank over the tiny
    (group, value) table. Deterministic by construction; at 100 TB the
    heavy shuffle is the count's (map-side combined), the window runs
    on |groups x distinct values| rows."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cnt").desc(), F.col("o_orderstatus")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("modal_status"),
            F.col("cnt").alias("n_rows"),
        )
    )


# Bound gates for the engine-specific sketches: the estimates cannot be
# value-matched cross-engine, but their ACCURACY CONTRACT can — the
# violations view is empty iff every estimate sits inside a loose bound
# around the exact answer, hash-compared against an empty oracle (the
# same driver-visible upgrade as the ANN recall floors).


@query(
    "q_agg_approx_distinct_bounds",
    oracle="SELECT '' AS l_returnflag, 0.0 AS rel_err WHERE 1 = 0",
)
def q_agg_approx_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violations of |approx_count_distinct - exact| / exact <= 0.10 per
    group (rsd=0.02, so the bound is 5 sigma) — expected empty; a
    sketch regression becomes a driver hash mismatch."""
    li = load_table(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("est"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    rel = F.abs(F.col("est") - F.col("exact")) / F.col("exact")
    return both.select("l_returnflag", rel.alias("rel_err")).where(
        F.col("rel_err") > 0.10
    )


@query(
    "q_agg_approx_percentile_bounds",
    oracle="SELECT '' AS l_returnflag, 0.0 AS p50_approx WHERE 1 = 0",
)
def q_agg_approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violations of exact-p25 <= approx-p50 <= exact-p75 per group
    (t-digest with accuracy 10000 sits far inside this) — expected
    empty under ANY merge order, so the gate is deterministic even
    though the t-digest blob itself is not."""
    li = load_table(spark, sf_dir, "lineitem")
    both = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_extendedprice", 0.5, 10000).alias(
                "p50_approx"
            ),
            # one exact-percentile buffer for both bounds (guide §1.2)
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.75D))"
            ).alias("_px"),
        )
        .select(
            "l_returnflag",
            "p50_approx",
            F.col("_px")[0].alias("p25_exact"),
            F.col("_px")[1].alias("p75_exact"),
        )
    )
    return both.select("l_returnflag", "p50_approx").where(
        (F.col("p50_approx") < F.col("p25_exact"))
        | (F.col("p50_approx") > F.col("p75_exact"))
    )


@query(
    "q_agg_ivm_retract",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, l_suppkey % 10 AS supp_bucket,
           count(*) AS n_rows,
           {sql_dsum("l_quantity", 14, 2)} AS sum_qty,
           {sql_dsum("l_extendedprice", 16, 2)} AS sum_price
    FROM lineitem
    WHERE l_suppkey % 5 <> 0
    GROUP BY l_returnflag, l_linestatus, l_suppkey % 10
    """,
)
def q_agg_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH DELETES
    (operators/merge.apply_retractions — the counting algorithm): a
    standing (returnflag, linestatus, supplier-bucket) rollup is
    maintained against a retraction stream — inserts (+1) for a new
    order partition, retractions (-1) replaying every row of the
    suppkey%5=0 suppliers — without ever rescanning the base fact.
    Buckets 0 and 5 lose ALL their rows, so the maintained count hits 0
    and the group is dropped from the view (the path insert-only merging
    cannot express). The oracle recomputes the final state from scratch;
    the engine's plan only ever aggregates the delta batch and merges
    |groups| rows. Sums ride DECIMAL end to end (order-independent),
    presented as double."""
    from csv2db_spark.operators.merge import apply_retractions

    li = load_table(spark, sf_dir, "lineitem")
    bucket = (F.col("l_suppkey") % 10).alias("supp_bucket")
    keys = ["l_returnflag", "l_linestatus", "supp_bucket"]

    base = li.where(F.col("l_orderkey") % 4 != 0).select("*", bucket)
    view0 = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec("l_quantity", 14, 2)).alias("sum_qty"),
        F.sum(dec("l_extendedprice", 16, 2)).alias("sum_price"),
    )
    inserts = (
        li.where((F.col("l_orderkey") % 4 == 0) & (F.col("l_suppkey") % 5 != 0))
        .select("*", bucket)
        .withColumn("op", F.lit(1))
    )
    deletes = base.where(F.col("l_suppkey") % 5 == 0).withColumn(
        "op", F.lit(-1)
    )
    maintained = apply_retractions(
        view0,
        inserts.unionByName(deletes),
        keys=keys,
        op_col="op",
        count_alias="n_rows",
        sum_cols={
            "sum_qty": dec("l_quantity", 14, 2),
            "sum_price": dec("l_extendedprice", 16, 2),
        },
    )
    return maintained.select(
        "l_returnflag",
        "l_linestatus",
        "supp_bucket",
        "n_rows",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


@query(
    "q_agg_ivm_dirty_refresh",
    oracle=f"""
    SELECT o_orderpriority, year(o_orderdate) AS order_year,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", 14, 2)} AS total_price,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders
    WHERE NOT (year(o_orderdate) = 2001 AND o_orderkey % 3 = 0)
    GROUP BY o_orderpriority, year(o_orderdate)
    """,
)
def q_agg_ivm_dirty_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-group view refresh (operators/merge.ivm_dirty_group_refresh)
    for measures deletes break algebraically: a (priority, year) rollup
    with MIN/MAX holds a stale state built before a batch deleted a
    third of year-2001's orders; the refresh recomputes ONLY the dirty
    (priority, 2001) groups from the current base — the semi-join prunes
    every other year's rows — and carries 1995-2000 over from the
    standing view untouched. The oracle recomputes everything from
    scratch; equality proves carried-over groups were genuinely
    unreadable-stale-free. Composes with apply_retractions (counts/sums
    from the delta alone; min/max through here)."""
    from csv2db_spark.operators.merge import ivm_dirty_group_refresh

    o = load_table(spark, sf_dir, "orders")
    keys = ["o_orderpriority", "order_year"]

    def aggregate(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice", 14, 2)).alias("total_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    with_year = o.withColumn("order_year", F.year("o_orderdate"))
    deleted = with_year.where(
        (F.col("order_year") == 2001) & (F.col("o_orderkey") % 3 == 0)
    )
    current = with_year.exceptAll(deleted)
    stale_view = aggregate(with_year)  # built BEFORE the delete batch
    refreshed = ivm_dirty_group_refresh(
        stale_view, current, deleted, keys, aggregate
    )
    return refreshed.select(
        "o_orderpriority",
        "order_year",
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
        "first_order",
        "last_order",
    )
