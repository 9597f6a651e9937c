"""Driver-gate queries for extended sources/sinks and merge.

- JSON / ORC roundtrips: write a deterministic slice of ``orders`` out
  through the format, read it back with the explicit schema, aggregate.
  The oracle computes the same aggregate straight from the parquet view —
  matching hashes prove the format roundtrip is value- and
  schema-preserving (the reference supports only CSV in / JDBC out;
  SURVEY.md §2.2 'Scans/sources').
- Upsert: merge-by-key (operators/merge.py) against a derived change
  set; oracle is the equivalent anti-join + union in SQL.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.functions.numeric import dsum, sql_dsum
from csv2db_spark.operators import stage
from csv2db_spark.operators.merge import upsert
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

_RT_DIRS: dict[str, str] = {}


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """orders slice -> write fmt -> read back (explicit schema) -> agg."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    key = f"{fmt}:{sf_dir}"
    path = _RT_DIRS.get(key)
    if path is None:
        path = os.path.join(
            tempfile.mkdtemp(prefix=f"c2s_rt_{fmt}_"), "orders"
        )
        _RT_DIRS[key] = path
    src.write.mode("overwrite").format(fmt).save(path)
    back = spark.read.format(fmt).schema(src.schema).load(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            dsum("o_totalprice", 12, 2).alias("sum_price"),
            F.max("o_orderdate").alias("max_date"),
        )
    )


_RT_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key,
       {sql_dsum("o_totalprice", 12, 2)} AS sum_price,
       max(o_orderdate) AS max_date
FROM orders
GROUP BY o_orderstatus
"""


@query("q_src_json_roundtrip", oracle=_RT_ORACLE)
def q_src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


@query("q_src_orc_roundtrip", oracle=_RT_ORACLE)
def q_src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


_UPSERT_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
),
chg AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 'N' AS o_orderstatus,
         o_totalprice
  FROM base WHERE o_orderkey % 7 = 0
)
SELECT * FROM chg
UNION ALL
SELECT b.* FROM base b
WHERE NOT EXISTS (SELECT 1 FROM chg c WHERE c.o_orderkey = b.o_orderkey)
"""


_SALT_ORACLE = f"""
SELECT n.n_name,
       count(*) AS n_items,
       {sql_dsum("l.l_quantity")} AS sum_qty
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name
"""


@query("q_join_salted_skew", oracle=_SALT_ORACLE)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/skew.py): lineitem salted into 16
    sub-keys, supplier⋈nation replicated per salt. The oracle is the PLAIN
    join — hash-match proves salting is semantics-preserving; only the
    shuffle distribution changes."""
    from csv2db_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .select(F.col("s_suppkey").alias("l_suppkey"), "n_name")
    )
    joined = salted_join(li, dim, on="l_suppkey", salt=16)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity").alias("sum_qty"),
    )


_PART_DIRS: dict[str, str] = {}


@query(
    "q_sink_partitioned_pruning",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n,
           {sql_dsum("o_totalprice", 12, 2)} AS sum_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-pruned scan: orders
    written partitionBy(o_orderstatus); the o_orderstatus='F' filter then
    prunes directories at planning time (PartitionFilters in the scan —
    asserted in tests/test_partitioned_sink.py). At 100 TB, partition
    layout is the first-order scan-cost lever."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    path = _PART_DIRS.get(sf_dir)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="c2s_part_"), "orders")
        _PART_DIRS[sf_dir] = path
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", 12, 2).alias("sum_price"),
        )
    )


@query("q_merge_upsert", oracle=_UPSERT_ORACLE)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics: derived change set (updates on key%10, inserts
    with shifted keys on key%7) merged into orders by key — change rows
    win, untouched base rows survive."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
    )
    inserts = base.where(F.col("o_orderkey") % 7 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return upsert(base, updates.unionByName(inserts), ["o_orderkey"])


_BKT_DONE: dict[str, bool] = {}


@query(
    "q_sink_bucketed_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           {sql_dsum("l.l_quantity")} AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) fact-fact join: orders and lineitem written
    bucketed+sorted by order key, then joined WITHOUT a shuffle (broadcast
    disabled during the join so the shuffle-free SortMergeJoin is the
    path actually exercised). Hash-match against the plain-join oracle
    proves bucketing is invisible to semantics."""
    from csv2db_spark.sink import write_bucketed

    tag = abs(hash(sf_dir)) % 100000
    bo, bl = f"c2s_bkt_orders_{tag}", f"c2s_bkt_lineitem_{tag}"
    if not _BKT_DONE.get(sf_dir):
        base = os.path.join(tempfile.mkdtemp(prefix="c2s_bkt_"), "t")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(o, bo, base + "_o", "o_orderkey")
        write_bucketed(l, bl, base + "_l", "l_orderkey")
        _BKT_DONE[sf_dir] = True
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(bo).join(
            spark.table(bl),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        out = j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
        )
        out.count()  # force execution under the no-broadcast conf
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


@query(
    "q_sink_compaction_plan",
    oracle="""
    WITH m AS (
      SELECT CAST(o_orderkey % 16 AS BIGINT) AS file_id,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT file_id, n_rows,
             sum(n_rows) OVER (ORDER BY n_rows DESC, file_id
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM m
    )
    SELECT file_id, n_rows,
           CAST(floor((cum - n_rows) / 1500.0) AS BIGINT) AS bin
    FROM c
    """,
)
def q_sink_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning (sink.plan_compaction): a 16-file manifest
    (sizes derived relationally so both engines see identical numbers)
    grouped into ~1500-row rewrite bins by deterministic sequential
    fill — the plan that turns small-file cleanup into bounded per-bin
    jobs. The manifest window is file-count-sized, never row data."""
    from csv2db_spark.sink import plan_compaction

    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy((F.col("o_orderkey") % 16).alias("file_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return plan_compaction(m, "n_rows", target=1500)


@query("q_src_xml_roundtrip", oracle=_RT_ORACLE)
def q_src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink roundtrip via Spark 4's NATIVE xml data source
    (no external package): the orders slice is written as one
    ``<order>`` element per row, re-read with the explicit schema and
    ``rowTag``, and must reproduce the parquet aggregate bit for bit —
    same invariant as the JSON/ORC roundtrips. The reference reads only
    CSV (csv2db.go:84, SURVEY §2.2 'Scans/sources'); XML is a common
    enterprise feed format, so the engine treats it as a first-class
    scan. Scale: the xml reader splits by files (one task per file like
    json); dates/decimals parse through the supplied schema, not
    inference, so a 100 TB feed never pays a sampling pass."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    key = f"xml:{sf_dir}"
    path = _RT_DIRS.get(key)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="c2s_rt_xml_"), "orders")
        _RT_DIRS[key] = path
    src.write.mode("overwrite").format("xml").option("rowTag", "order").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(src.schema)
        .load(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        dsum("o_totalprice", 12, 2).alias("sum_price"),
        F.max("o_orderdate").alias("max_date"),
    )


_TT_AGG_SQL = f"""
count(*) AS n,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key,
       {sql_dsum("o_totalprice", 12, 2)} AS sum_price
"""


@query(
    "q_sink_snapshot_timetravel",
    oracle=f"""
    SELECT 1 AS version, {_TT_AGG_SQL} FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 2 AS version, {_TT_AGG_SQL} FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 3 AS version, {_TT_AGG_SQL} FROM orders WHERE o_orderkey % 3 = 2
    """,
)
def q_sink_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table (csv2db_spark/snapshots.SnapshotTable):
    create v1 from a third of orders, append a second third (v2),
    overwrite with the final third (v3), then TIME-TRAVEL read all
    three versions and aggregate each — the hash proves every manifest
    lists exactly the right immutable files (an append that re-read
    directory contents instead of the parent manifest, or an overwrite
    that leaked old files, changes a version's aggregate). Commits are
    atomic O_EXCL manifest publishes; reads plan from the manifest,
    never a directory listing."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="c2s_snap_")
    try:
        t = SnapshotTable(spark, os.path.join(root, "orders"))
        t.create(orders.where(F.col("o_orderkey") % 3 == 0))
        t.append(orders.where(F.col("o_orderkey") % 3 == 1))
        t.overwrite(orders.where(F.col("o_orderkey") % 3 == 2))

        def agg(v: int) -> DataFrame:
            return t.read(v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                dsum("o_totalprice", 12, 2).alias("sum_price"),
            ).select("version", "n", "min_key", "max_key", "sum_price")

        out = agg(1).unionByName(agg(2)).unionByName(agg(3))
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "q_sink_snapshot_incremental",
    oracle=f"""
    SELECT {_TT_AGG_SQL} FROM orders WHERE o_orderkey % 3 = 1
    """,
)
def q_sink_snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read off the snapshot table
    (snapshots.SnapshotTable.incremental_read): after create(v1) +
    append(v2), reading the file-list DIFF must yield exactly the
    appended slice — the O(changed data) feed an incremental training
    run tails instead of rescanning the table. The hash proves the
    manifest diff captures precisely the new files' rows."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="c2s_snap_inc_")
    try:
        t = SnapshotTable(spark, os.path.join(root, "orders"))
        t.create(orders.where(F.col("o_orderkey") % 3 == 0))
        t.append(orders.where(F.col("o_orderkey") % 3 == 1))
        out = t.incremental_read(1, 2).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            dsum("o_totalprice", 12, 2).alias("sum_price"),
        )
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "q_sink_snapshot_delete",
    oracle=f"""
    SELECT 1 AS version, {_TT_AGG_SQL} FROM orders
    UNION ALL
    SELECT 2 AS version, {_TT_AGG_SQL} FROM orders WHERE o_orderkey % 7 <> 0
    """,
)
def q_sink_snapshot_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write delete on the snapshot table
    (snapshots.SnapshotTable.delete_where): only files holding matching
    rows are rewritten; the new manifest references every untouched
    file verbatim and publishes atomically — no backup/restore dance,
    no half-deleted window. The gate aggregates BOTH versions: v1
    proves time travel still shows the pre-delete table, v2 proves the
    delete removed exactly the predicate's rows and nothing else."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="c2s_snap_del_")
    try:
        t = SnapshotTable(spark, os.path.join(root, "orders"))
        t.create(orders)
        t.delete_where(F.col("o_orderkey") % 7 == 0)

        def agg(v: int) -> DataFrame:
            return t.read(v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                dsum("o_totalprice", 12, 2).alias("sum_price"),
            ).select("version", "n", "min_key", "max_key", "sum_price")

        # lifetime: the rows outlive the temp dir removed below
        out = agg(1).unionByName(agg(2)).transform(stage.materialize_stage)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "q_sink_snapshot_pruned_delete",
    oracle=f"""
    SELECT 1 AS version, {_TT_AGG_SQL} FROM orders
    UNION ALL
    SELECT 2 AS version, {_TT_AGG_SQL} FROM orders
    WHERE o_orderkey NOT BETWEEN 3000 AND 8999
    """,
)
def q_sink_snapshot_pruned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only range delete (snapshots.SnapshotTable.delete_range)
    over a range-partitioned layout with per-file manifest stats: files
    wholly inside [3000, 8999] leave the table WITHOUT being read or
    rewritten (just absent from the new manifest), provably-disjoint
    files are referenced verbatim, and only the ~2 straddling boundary
    files get the copy-on-write rewrite — at 100 TB a retention-window
    drop costs O(boundary files), not O(table). v1 pins time travel,
    v2 hash-proves the delete's exact row semantics."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="c2s_snap_rng_")
    try:
        t = SnapshotTable(
            spark, os.path.join(root, "orders"), stats_cols=["o_orderkey"]
        )
        t.create(orders.repartitionByRange(8, "o_orderkey"))
        t.delete_range("o_orderkey", 3000, 8999)

        def agg(v: int) -> DataFrame:
            return t.read(v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                dsum("o_totalprice", 12, 2).alias("sum_price"),
            ).select("version", "n", "min_key", "max_key", "sum_price")

        # lifetime: the rows outlive the temp dir removed below
        out = agg(1).unionByName(agg(2)).transform(stage.materialize_stage)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "q_sink_snapshot_pruned_read",
    oracle=f"""
    SELECT {_TT_AGG_SQL} FROM orders WHERE o_orderkey BETWEEN 1000 AND 3999
    """,
)
def q_sink_snapshot_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats-pruned range read (snapshots.SnapshotTable.
    read_where): planning keeps only files whose [min, max] span can
    intersect [1000, 3999] — the rest are never opened, not even their
    footers (the per-file tax that dominates selective scans over
    millions of files). The hash proves pruning is invisible: identical
    rows to a full scan + filter. File-count reduction is pinned in
    tests/test_snapshots.py."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="c2s_snap_prd_")
    try:
        t = SnapshotTable(
            spark, os.path.join(root, "orders"), stats_cols=["o_orderkey"]
        )
        t.create(orders.repartitionByRange(8, "o_orderkey"))
        # lifetime: the rows outlive the temp dir removed below
        out = (
            t.read_where("o_orderkey", 1000, 3999)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                dsum("o_totalprice", 12, 2).alias("sum_price"),
            )
            .transform(stage.materialize_stage)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# CAST the sum(CASE...) — uncast it types HUGEINT, which pandas turns
# into float64 (harmless HERE because the version-1 NULL row makes both
# engines' columns float64 anyway, and the gate was driver-green r08 —
# but tests/test_canonicalization.py bans the construct registry-wide
# after it sank q_stream_cdc_upsert for three rounds).
_SE_AGG_SQL = f"""
count(*) AS n, {sql_dsum("o_totalprice", 12, 2)} AS sum_price,
       cast(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_prio
"""


@query(
    "q_sink_snapshot_schema_evolution",
    oracle=f"""
    SELECT 1 AS version, count(*) AS n,
           {sql_dsum("o_totalprice", 12, 2)} AS sum_price,
           CAST(NULL AS BIGINT) AS n_null_prio, 2 AS n_cols
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 2 AS version, {_SE_AGG_SQL}, 3 AS n_cols FROM orders
    UNION ALL
    SELECT 3 AS version, {_SE_AGG_SQL}, 4 AS n_cols FROM orders
    UNION ALL
    SELECT 4 AS version, count(*) AS n,
           {sql_dsum("o_totalprice", 12, 2)} AS sum_price,
           CAST(NULL AS BIGINT) AS n_null_prio, 3 AS n_cols
    FROM orders
    """,
)
def q_sink_snapshot_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot-table schema evolution without rewrites: v1 commits two
    columns; v2 APPENDS rows carrying a third (``o_orderpriority``) —
    readers NULL-fill it for every v1 file (reconcile-by-name at the
    table-format level, the file-level twin of ingest.reconcile); v3 is
    a metadata-only ``alter_add_column`` (zero files touched, all rows
    NULL); v4 a metadata-only ``alter_drop_column`` of the v2 column —
    projected away at the head while time travel below v4 still reads
    it, because every manifest owns its version's schema. The hash
    pins, per version: exact rows, exact NULL-fill count, and exact
    column arity — evolution that leaked into history or rewrote data
    would break one of them."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="c2s_snap_se_")
    try:
        t = SnapshotTable(spark, os.path.join(root, "orders"))
        t.create(
            orders.where(F.col("o_orderkey") % 2 == 0).select(
                "o_orderkey", "o_totalprice"
            )
        )
        t.append(
            orders.where(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            )
        )
        t.alter_add_column("score", "double")
        t.alter_drop_column("o_orderpriority")

        def agg(v: int) -> DataFrame:
            df = t.read(v)
            prio = (
                F.sum(F.col("o_orderpriority").isNull().cast("long"))
                if "o_orderpriority" in df.columns
                else F.lit(None).cast("long")
            )
            return df.agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n"),
                dsum("o_totalprice", 12, 2).alias("sum_price"),
                prio.alias("n_null_prio"),
                F.lit(len(df.columns)).alias("n_cols"),
            ).select("version", "n", "sum_price", "n_null_prio", "n_cols")

        # lifetime: the rows outlive the temp dir removed below
        out = (
            agg(1)
            .unionByName(agg(2))
            .unionByName(agg(3))
            .unionByName(agg(4))
            .transform(stage.materialize_stage)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "q_sink_snapshot_merge",
    oracle=f"""
    SELECT 1 AS version, count(*) AS n, min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           {sql_dsum("o_totalprice", 12, 2)} AS sum_price
    FROM orders
    UNION ALL
    SELECT 2 AS version, count(*) AS n, min(k) AS min_key,
           max(k) AS max_key, {sql_dsum("p", 12, 2)} AS sum_price
    FROM (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS p
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000 AS k, o_totalprice AS p
      FROM orders WHERE o_orderkey % 5 = 1
    )
    """,
)
def q_sink_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO on the snapshot table
    (snapshots.SnapshotTable.merge_into): a delta of doubled-price
    updates (keys %5==0) plus brand-new keys (+10M) merges in one
    commit — matched rows replaced, unmatched inserted, untouched files
    referenced verbatim. The gate aggregates v1 (pre-merge, proving
    time travel survives the merge) and v2 (post-merge, hash-proving
    update-exactly-the-matched + insert-exactly-the-new semantics)."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="c2s_snap_mrg_")
    try:
        t = SnapshotTable(spark, os.path.join(root, "orders"))
        t.create(orders)
        updates = orders.where(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        inserts = orders.where(F.col("o_orderkey") % 5 == 1).select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            "o_totalprice",
        )
        t.merge_into(updates.unionByName(inserts), on="o_orderkey")

        def agg(v: int) -> DataFrame:
            return t.read(v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                dsum("o_totalprice", 12, 2).alias("sum_price"),
            ).select("version", "n", "min_key", "max_key", "sum_price")

        # lifetime: the rows outlive the temp dir removed below
        out = agg(1).unionByName(agg(2)).transform(stage.materialize_stage)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "q_sink_snapshot_asof_read",
    oracle=f"""
    SELECT CAST(150 AS BIGINT) AS as_of, {_TT_AGG_SQL}
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT CAST(250 AS BIGINT) AS as_of, {_TT_AGG_SQL}
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT CAST(999 AS BIGINT) AS as_of, {_TT_AGG_SQL}
    FROM orders WHERE o_orderkey % 3 = 2
    """,
)
def q_sink_snapshot_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel (snapshots.read_as_of — Iceberg's FOR
    TIMESTAMP AS OF): three commits stamped 100/200/300 by an injected
    deterministic clock, then reads as-of 150, 250 and 999 must resolve
    to v1, v2 and v3 respectively — the latest manifest committed at or
    before the asked instant, resolved from manifests alone (O(history),
    data never opened for resolution). Same immutable-file contract as
    the version-addressed gate; the clock is injectable precisely so
    this is hash-verifiable."""
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="c2s_snap_asof_")
    try:
        ticks = iter([100.0, 200.0, 300.0])
        t = SnapshotTable(
            spark, os.path.join(root, "orders"), clock=lambda: next(ticks)
        )
        t.create(orders.where(F.col("o_orderkey") % 3 == 0))
        t.append(orders.where(F.col("o_orderkey") % 3 == 1))
        t.overwrite(orders.where(F.col("o_orderkey") % 3 == 2))

        def agg(ts: int) -> DataFrame:
            return t.read_as_of(float(ts)).agg(
                F.lit(ts).cast("long").alias("as_of"),
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                dsum("o_totalprice", 12, 2).alias("sum_price"),
            ).select("as_of", "n", "min_key", "max_key", "sum_price")

        out = agg(150).unionByName(agg(250)).unionByName(agg(999))
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query(
    "q_src_text_lines",
    oracle="""
    SELECT length(text) AS line_len,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT text, length(text) AS n_chars FROM documents)
    GROUP BY length(text)
    """,
)
def q_src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line source (``spark.read.text``) — how unstructured corpora
    actually arrive before any schema exists: documents staged one per
    line, read back as a single ``value`` column, aggregated by line
    length. Completes the source matrix (csv/tsv/json/orc/parquet/xml/
    binary/fixed-width/jdbc/gzip already gated). The text reader splits
    large files on line boundaries, so this path scales like CSV."""
    import os

    staged = os.path.join(
        "/tmp", f"c2s_textsrc_{sf_dir.strip('/').replace('/', '_')}"
    )
    docs = load_table(spark, sf_dir, "documents")
    # one doc per line: fixture text has no newlines
    docs.select("text").write.mode("overwrite").text(staged)
    lines = spark.read.text(staged)
    return (
        lines.select(F.length("value").alias("line_len"))
        .groupBy("line_len")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("line_len").cast("long")).alias("total_chars"),
        )
    )
