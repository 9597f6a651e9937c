"""Operator additions, each oracle-checked:

- k-means (assign + one exact Lloyd step) over embeddings — an "ML"
  operator the gate can hash-verify because every distance/mean is exact
  scaled-integer arithmetic (llm/cluster.py).
- time-series resample + gap-fill over events (operators/timeseries.py).
- Gopher-style repetition quality signals over documents (llm/text.py).
- binaryFile source: the multimodal ingest front door (opaque bytes +
  metadata as a DataFrame).
- parquet schema evolution via mergeSchema — the reference's
  reconcile-by-name (common/schema.go:67-83) lifted to file level.
- percent_rank / cume_dist windows (distribution-rank family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv2db_spark.llm.cluster import kmeans_step
from csv2db_spark.llm.curation import pack_sequences
from csv2db_spark.operators import stage
from csv2db_spark.operators.profile import profile_columns
from csv2db_spark.operators.sketch import CMS_P, countmin_build, countmin_estimate
from csv2db_spark.llm.text import repetition_stats
from csv2db_spark.operators.timeseries import gap_fill, resample
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

# --------------------------------------------------------------- k-means

_IEL = "cast(cast({x} as decimal(9,8)) * 100000000 as bigint)"


def _iel(x: str) -> str:
    return _IEL.format(x=f"cast({x} as double)")


@query(
    "q_embed_kmeans_step",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    nrm AS (
      SELECT vec_id,
             CAST(sum({_iel('embedding[i]')} * {_iel('embedding[i]')})
                  AS BIGINT) AS nrm2
      FROM v, range(1, 65) r(i) GROUP BY vec_id
    ),
    cent AS (SELECT vec_id AS cluster_id FROM embeddings WHERE vec_id < 8),
    dots AS (
      SELECT a.vec_id, c.cluster_id,
             CAST(sum({_iel('a.embedding[i]')} * {_iel('b.embedding[i]')})
                  AS BIGINT) AS dot
      FROM v a
      JOIN cent c ON true
      JOIN v b ON b.vec_id = c.cluster_id, range(1, 65) r(i)
      GROUP BY 1, 2
    ),
    d AS (
      SELECT dots.vec_id, dots.cluster_id,
             nv.nrm2 + nc.nrm2 - 2 * dots.dot AS d2
      FROM dots
      JOIN nrm nv ON nv.vec_id = dots.vec_id
      JOIN nrm nc ON nc.vec_id = dots.cluster_id
    ),
    a AS (
      SELECT vec_id, cluster_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, cluster_id) AS rn
      FROM d
    ),
    asn AS (SELECT vec_id, cluster_id FROM a WHERE rn = 1),
    el AS (
      SELECT asn.cluster_id, r.i - 1 AS dim, {_iel('v.embedding[i]')} AS q
      FROM v JOIN asn ON asn.vec_id = v.vec_id, range(1, 65) r(i)
    )
    SELECT cluster_id, dim,
           CAST(count(*) AS BIGINT) AS n_members,
           cast(sum(cast(q AS decimal(38,0))) as double) / count(*)
             / 100000000 AS mean_el
    FROM el GROUP BY 1, 2
    """,
)
def q_embed_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration with the 8 lowest-id vectors as seed
    centroids: broadcast assignment (corpus never shuffles to assign),
    then per-(cluster, dim) exact integer means. The oracle replays
    assignment + update in ANSI SQL — both engines agree on every
    assignment (integer d², deterministic tie-break) and every mean bit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), "embedding"
    )
    return kmeans_step(emb, cents)


# ------------------------------------------------- time-series gap fill


@query(
    "q_events_gap_fill",
    oracle="""
    WITH s AS (
      SELECT user_id,
             date_trunc('hour', ts) - INTERVAL (hour(ts) % 6) HOUR AS bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, min(bucket) AS b_lo, max(bucket) AS b_hi
      FROM s GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(b_lo, b_hi, INTERVAL '6 hours')) AS bucket
      FROM spans
    )
    SELECT g.user_id, g.bucket,
           coalesce(s.n_events, 0) AS n_events,
           s.sum_value,
           last_value(s.sum_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS UNBOUNDED PRECEDING) AS filled_value,
           s.n_events IS NULL AS is_gap
    FROM grid g
    LEFT JOIN s ON s.user_id = g.user_id AND s.bucket = g.bucket
    """,
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample events to 6-hour (user, bucket) rollups, densify each
    user's span, forward-fill the value sum. Bucket boundaries come from
    FIELD arithmetic on NTZ timestamps (no epoch, no session-TZ
    dependence); the dense grid is generated per user after aggregation,
    so grid size is span/width per key — never events x buckets."""
    ev = load_table(spark, sf_dir, "events")
    return gap_fill(resample(ev, hours=6), hours=6)


# ------------------------------------------------- repetition signals


@query(
    "q_text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tagged AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, greatest(len(t), 1)),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
               AS g
      FROM toks
    ),
    counts AS (
      SELECT doc_id, n, g, count(*) AS cnt
      FROM tagged GROUP BY doc_id, n, g
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN n = 2 THEN cnt END) AS BIGINT) AS n_2grams,
             CAST(max(CASE WHEN n = 2 THEN cnt END) AS BIGINT) AS top2_cnt,
             CAST(sum(CASE WHEN n = 3 THEN cnt END) AS BIGINT) AS n_3grams,
             CAST(coalesce(sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt END), 0)
                  AS BIGINT) AS dup3_cnt
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_2grams, top2_cnt,
           cast(top2_cnt as double) / n_2grams AS top2_frac,
           n_3grams, dup3_cnt,
           cast(dup3_cnt as double) / n_3grams AS dup3_frac
    FROM per_doc
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (llm/text.repetition_stats):
    most-frequent-2-gram share + duplicate-3-gram fraction — the Gopher
    repetition filters. Integer counts, one double division per fraction:
    bit-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


# ------------------------------------------------- binaryFile source

_BIN_DIR = "/tmp/csv2db_spark_binfiles"


def _write_bin_fixture() -> None:
    os.makedirs(_BIN_DIR, exist_ok=True)
    for i in range(16):
        payload = (f"blob-{i:03d} " * (i + 1)).encode("ascii")
        with open(os.path.join(_BIN_DIR, f"f{i:02d}.bin"), "wb") as f:
            f.write(payload)


@query(
    "q_src_binary_files",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           CAST(size AS BIGINT) AS n_bytes,
           md5(CAST(content AS VARCHAR)) AS content_md5
    FROM read_blob('{_BIN_DIR}/*.bin')
    """,
)
def q_src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion via the binaryFile source — the multimodal
    front door: files become (path, length, bytes) rows, digested
    JVM-side. The oracle reads the same files with DuckDB's read_blob;
    md5 over the (ASCII) payload pins content equality byte-for-byte.
    At scale this source partitions by file and never materializes more
    than a partition's files in memory (maxPartitionBytes applies)."""
    _write_bin_fixture()
    df = spark.read.format("binaryFile").load(_BIN_DIR + "/*.bin")
    return df.select(
        F.regexp_extract("path", "([^/]+)$", 1).alias("fname"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


# ---------------------------------------- parquet schema evolution


_MS_DIR = "/tmp/csv2db_spark_mergeschema"


@query(
    "q_src_parquet_merge_schema",
    oracle=f"""
    SELECT id, x, y
    FROM read_parquet(
      ['{_MS_DIR}/v1/*.parquet', '{_MS_DIR}/v2/*.parquet'],
      union_by_name=true)
    """,
)
def q_src_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations (id,x) and
    (id,y) merged by NAME with NULL fill — the reference's
    reconcile-by-name (common/schema.go:67-83) at the file level, done by
    Spark's mergeSchema footer union instead of per-run code. Footer
    merge is metadata-only; data pages of absent columns are never read.
    """
    v1 = spark.createDataFrame(
        [(i, i * 1.5) for i in range(10)], "id long, x double"
    )
    v2 = spark.createDataFrame(
        [(i, f"s{i}") for i in range(10, 20)], "id long, y string"
    )
    # repartition(1), NOT coalesce(1): coalescing a
    # parallelized local collection makes ONE task compute all
    # defaultParallelism parent partitions sequentially, each paying a
    # Python-worker round-trip (~5 s/write measured at local[32]);
    # repartition computes them in parallel and shuffles one tiny file.
    v1.repartition(1).write.mode("overwrite").parquet(_MS_DIR + "/v1")
    v2.repartition(1).write.mode("overwrite").parquet(_MS_DIR + "/v2")
    df = spark.read.option("mergeSchema", "true").parquet(
        _MS_DIR + "/v1", _MS_DIR + "/v2"
    )
    return df.select("id", "x", "y")


# ------------------------------------------ distribution-rank windows


@query(
    "q_window_percent_cume",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over a unique ordering: both are ratios
    of integer ranks ((rank-1)/(n-1), rn/n), so the doubles are identical
    across engines. One shuffle on the partition key, one in-partition
    sort shared by both functions."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# ------------------------------------------- cast-level error modes

_DM_ORACLE = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS total_acctbal
FROM customer
WHERE c_custkey % 7 <> 0
GROUP BY c_mktsegment
"""


@query("q_ingest_csv_dropmalformed", oracle=_DM_ORACLE)
def q_ingest_csv_dropmalformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-corpus ingestion: every 7th customer's acctbal is corrupted
    in the CSV, and the typed-cast stage runs with on_error='drop'
    (DROPMALFORMED at the cast level — ingest.cast_to_schema). The
    surviving rows must be exactly the uncorrupted ones, which is what
    the oracle's modulo filter checks, aggregate-for-aggregate."""
    from pyspark.sql import types as T

    from csv2db_spark.ingest import ingest_csv

    cust = load_table(spark, sf_dir, "customer")
    path = f"/tmp/csv2db_spark_dm_{sf_dir.strip('/').replace('/', '_')}"
    corrupted = cust.select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("bad!"))
        .otherwise(F.col("c_acctbal").cast("string"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    corrupted.write.mode("overwrite").option("header", True).csv(path)
    target = T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), False),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    )
    df = ingest_csv(spark, path, target, has_header=True, on_error="drop")
    from csv2db_spark.functions.numeric import dsum

    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(dsum("c_acctbal", 12, 2), 2).alias("total_acctbal"),
    )


# ------------------------------------------- stream-static enrichment


@query(
    "q_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_mktsegment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joins a broadcast
    customer-segment dimension per micro-batch — stateless (no watermark,
    no state store), the canonical streaming-ETL enrichment. The batch
    oracle is the exact same join, which is the semantics stream-static
    joins guarantee."""
    from csv2db_spark.streaming.ops import (
        events_stream,
        run_to_df,
        static_enrich_join,
    )

    dim = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
    )
    s = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    out = static_enrich_join(s, dim, "user_id")
    return run_to_df(out, spark, "append")


# ------------------------------------------------- salient terms


@query(
    "q_text_salient_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, w
    ),
    dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.w AS term, t.tf, d.df,
             cast(t.tf * nd.n_docs as double) / d.df AS score
      FROM tf t JOIN dfreq d USING (w), nd
    )
    SELECT doc_id, term, tf, df, score
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
      FROM scored
    )
    WHERE rn <= 3
    """,
)
def q_text_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (llm/text.salient_terms): top-3
    terms by the log-free tf-idf core tf*n_docs/df. Integer counts, one
    double division — rankings and scores hash-match exactly."""
    from csv2db_spark.llm.text import salient_terms

    docs = load_table(spark, sf_dir, "documents")
    return salient_terms(docs, k=3)


# ------------------------------------------------- linear interpolation


@query(
    "q_events_interpolate",
    oracle="""
    WITH s AS (
      SELECT user_id,
             date_trunc('hour', ts) - INTERVAL (hour(ts) % 6) HOUR AS bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_value
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, min(bucket) AS b_lo, max(bucket) AS b_hi
      FROM s GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(b_lo, b_hi, INTERVAL '6 hours')) AS bucket
      FROM spans
    ),
    dense AS (
      SELECT g.user_id, g.bucket,
             coalesce(s.n_events, 0) AS n_events,
             s.sum_value
      FROM grid g
      LEFT JOIN s ON s.user_id = g.user_id AND s.bucket = g.bucket
    ),
    numbered AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS rn
      FROM dense
    ),
    pos AS (
      SELECT *,
             last_value(sum_value IGNORE NULLS) OVER
               (w ROWS UNBOUNDED PRECEDING) AS prev_v,
             first_value(sum_value IGNORE NULLS) OVER
               (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             last_value(CASE WHEN sum_value IS NOT NULL THEN rn END
                        IGNORE NULLS) OVER
               (w ROWS UNBOUNDED PRECEDING) AS prev_rn,
             first_value(CASE WHEN sum_value IS NOT NULL THEN rn END
                         IGNORE NULLS) OVER
               (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rn
      FROM numbered
      WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
    )
    SELECT user_id, bucket, n_events, sum_value,
           CASE WHEN sum_value IS NOT NULL THEN sum_value
                ELSE coalesce(
                  prev_v + (next_v - prev_v)
                    * (CAST(rn - prev_rn AS DOUBLE) / (next_rn - prev_rn)),
                  prev_v, next_v)
           END AS interp_value
    FROM pos
    """,
)
def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill then linear interpolation
    (operators/timeseries.interpolate_linear): NULL buckets take
    prev + (next-prev) * step-fraction; trailing/leading runs fall back
    to forward/backward fill. Position math is integer row numbers; the
    one float expression evaluates in a fixed order — hash-exact."""
    ev = load_table(spark, sf_dir, "events")
    dense = gap_fill(resample(ev, hours=6), hours=6).select(
        "user_id", "bucket", "n_events", "sum_value"
    )
    from csv2db_spark.operators.timeseries import interpolate_linear

    return interpolate_linear(dense)


# ------------------------------------------------- sequence packing


@query(
    "q_curate_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 16 AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(coalesce(
             sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 512.0) AS BIGINT) AS bin_in_shard
    FROM t
    """,
)
def q_curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (training-example sharding): docs
    are sharded by id, then greedily packed into 512-token bins in id
    order via a per-shard running sum — the window parallelizes across
    shards instead of serializing on a global order (llm/curation.py).
    Deterministic, RNG-free, identical on both engines."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, budget=512, n_shards=16)


# ------------------------------------------------- column profiler


def _sql_profile_col(table: str, c: str, numeric: bool) -> str:
    mn = f"cast(min({c}) as double)" if numeric else "cast(NULL as double)"
    mx = f"cast(max({c}) as double)" if numeric else "cast(NULL as double)"
    return (
        f"SELECT '{c}' AS col_name, count(*) AS n_rows,"
        f" count(*) - count({c}) AS n_nulls,"
        f" count(DISTINCT {c}) AS n_distinct,"
        f" {mn} AS min_num, {mx} AS max_num FROM {table}"
    )


@query(
    "q_profile_columns",
    oracle=" UNION ALL ".join(
        _sql_profile_col("orders", c, num)
        for c, num in (
            ("o_orderkey", True),
            ("o_custkey", True),
            ("o_orderstatus", False),
            ("o_totalprice", True),
            ("o_orderdate", False),
            ("o_orderpriority", False),
        )
    ),
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality survey of the orders table: row/null/distinct counts
    and numeric min/max for every column in ONE aggregation pass
    (operators/profile.py) — the oracle's per-column UNION ALL scans the
    table six times; the engine's plan scans it once."""
    return profile_columns(load_table(spark, sf_dir, "orders"))


# ------------------------------------------------- count-min sketch


_CMS_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS item FROM documents
),
h AS (
  SELECT item,
         CAST('0x' || substr(md5(item), 1, 12) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(item), 13, 12) AS BIGINT) AS h2
  FROM toks
),
cells AS (
  SELECT j, ((h1 + j * h2) % {0}) % 256 AS bucket, count(*) AS cnt
  FROM (SELECT item, unnest(range(0, 4)) AS j, h1, h2 FROM h)
  GROUP BY 1, 2
),
probes AS (
  SELECT item, count(*) AS true_count FROM toks
  GROUP BY 1 ORDER BY true_count DESC, item LIMIT 20
),
pe AS (
  SELECT p.item, p.true_count, q.j,
         ((CAST('0x' || substr(md5(p.item), 1, 12) AS BIGINT)
           + q.j * CAST('0x' || substr(md5(p.item), 13, 12) AS BIGINT))
          % {0}) % 256 AS bucket
  FROM probes p, (SELECT unnest(range(0, 4)) AS j) q
)
SELECT pe.item, pe.true_count,
       min(coalesce(cells.cnt, 0)) AS est_count
FROM pe LEFT JOIN cells ON pe.j = cells.j AND pe.bucket = cells.bucket
GROUP BY 1, 2
"""


@query("q_agg_countmin", oracle=_CMS_SQL.replace("{0}", str(CMS_P)))
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4 x 256) over document tokens, validated by
    point-estimating the 20 most frequent tokens against their true
    counts (est >= true by construction; equality when no collision).
    The sketch is built relationally (operators/sketch.py) — explode(4)
    + groupBy((row, bucket)) with map-side combine, so the shuffle is
    bounded by 4*256 cells per partition no matter the corpus size —
    and the md5/Kirsch-Mitzenmacher hashing is bit-identical in the
    DuckDB oracle, which rebuilds the sketch and the same estimates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("item")
    )
    sketch = countmin_build(toks, d=4, w=256)
    probes = (
        toks.groupBy("item")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), "item")
        .limit(20)
    )
    est = countmin_estimate(sketch, probes.select("item"), d=4, w=256)
    return probes.join(est, "item").select(
        "item", "true_count", F.col("est_count").cast("long").alias("est_count")
    )


_TOPK_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS item FROM documents
),
h AS (
  SELECT item,
         CAST('0x' || substr(md5(item), 1, 12) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(item), 13, 12) AS BIGINT) AS h2
  FROM toks
),
cells AS (
  SELECT j, ((h1 + j * h2) % {0}) % 256 AS bucket, count(*) AS cnt
  FROM (SELECT item, unnest(range(0, 4)) AS j, h1, h2 FROM h)
  GROUP BY 1, 2
),
di AS (SELECT DISTINCT item FROM toks),
pe AS (
  SELECT di.item, q.j,
         ((CAST('0x' || substr(md5(di.item), 1, 12) AS BIGINT)
           + q.j * CAST('0x' || substr(md5(di.item), 13, 12) AS BIGINT))
          % {0}) % 256 AS bucket
  FROM di, (SELECT unnest(range(0, 4)) AS j) q
),
est AS (
  SELECT pe.item,
         CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS est_count
  FROM pe LEFT JOIN cells ON pe.j = cells.j AND pe.bucket = cells.bucket
  GROUP BY 1
)
SELECT item, est_count FROM est
ORDER BY est_count DESC, item LIMIT 15
"""


@query("q_agg_approx_topk", oracle=_TOPK_SQL.replace("{0}", str(CMS_P)))
def q_agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (operators/sketch.py:approx_top_k): the
    15 most frequent document tokens ranked by count-min estimate with
    an item-ascending tiebreak — a TOTAL order, so the k-row cut is
    deterministic and the DuckDB oracle (same sketch, same hashing,
    same order) hash-matches exactly. Estimates are upper bounds: a
    true heavy hitter can never be pushed OUT of the ranking by a
    collision. Sketch shuffle is bounded by 4x256 cells per partition
    at any corpus size; top-k is TakeOrdered, never a global sort."""
    from csv2db_spark.operators.sketch import approx_top_k

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("item"))
    out = approx_top_k(toks, k=15, d=4, w=256)
    return out.select("item", F.col("est_count").cast("long").alias("est_count"))


@query(
    "q_graph_pagerank_step",
    oracle="""
    WITH e AS (
      SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
    contrib AS (
      SELECT e.dst AS node,
             sum(CAST(CAST(1 AS DOUBLE) / deg.out_deg AS DECIMAL(28,12)))
               AS in_sum
      FROM e JOIN deg ON e.src = deg.node
      GROUP BY e.dst
    )
    SELECT n.node,
           (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             + CAST(0.85 AS DOUBLE) * COALESCE(CAST(c.in_sum AS DOUBLE), 0.0)
             AS rank
    FROM nodes n LEFT JOIN contrib c ON n.node = c.node
    """,
)
def q_graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration (operators/graph.py:pagerank_step)
    over the supplier→customer trade graph (distinct pairs from
    lineitem⋈orders; node ids prefixed so the two key spaces don't
    collide). The link-graph authority signal a web-crawl curation
    pipeline computes at billions of edges — here hash-verified exactly,
    because contributions sum in DECIMAL and damping runs in double on
    the identical summed value. Two keyed shuffles per iteration."""
    from csv2db_spark.operators.graph import pagerank_step

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    return pagerank_step(edges)


@query(
    "q_events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS entry FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS entry
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.entry
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS entry
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.entry
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(1 AS INT) AS stage_idx, count(*) AS n_users FROM v
    UNION ALL
    SELECT 'click', CAST(2 AS INT), count(*) FROM c
    UNION ALL
    SELECT 'purchase', CAST(3 AS INT), count(*) FROM p
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel
    (operators/funnel.py:funnel_stages): stage i+1 requires an event
    strictly after the user's stage-i entry (first-touch). Each stage is
    a pushed-predicate scan + min-agg + user-keyed join against the
    shrinking survivor set — no sequence UDF, no per-user collect."""
    from csv2db_spark.operators.funnel import funnel_stages

    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


@query(
    "q_events_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('day', min(ts)) AS m0
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS m FROM events
    )
    SELECT first.m0 AS cohort_period,
           CAST(datediff('day', first.m0, act.m) AS BIGINT) AS periods_since,
           count(*) AS n_users
    FROM act JOIN first ON act.user_id = first.user_id
    GROUP BY 1, 2
    """,
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix
    (operators/funnel.py:cohort_retention): cohort = day of first event
    (the fixture spans one month, so daily granularity gives a real
    matrix); periods_since is an integer datediff on both engines. Two
    map-side-combined aggregates; output is |cohorts|x|horizon| — tiny
    at any corpus size."""
    from csv2db_spark.operators.funnel import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period="day")


@query(
    "q_events_zscore_outliers",
    oracle="""
    WITH q AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS v
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             sum(CAST(v AS DECIMAL(38,0))) AS s,
             sum(CAST(v AS DECIMAL(38,0)) * v) AS s2
      FROM q GROUP BY event_type
    )
    SELECT q.event_id, q.event_type,
           CAST(q.v AS DOUBLE) / 1000 AS value
    FROM q JOIN stats USING (event_type)
    WHERE (stats.n * CAST(q.v AS DECIMAL(38,0)) - stats.s)
          * (stats.n * CAST(q.v AS DECIMAL(38,0)) - stats.s)
          > 9 * (stats.n * stats.s2 - stats.s * stats.s)
    """,
)
def q_events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 3-sigma outlier detection with EXACT integer arithmetic
    — the monitoring/data-quality primitive, made hash-checkable. The
    test |v - mean| > 3*sigma is squared and multiplied through by n²:
    (n*v - s)² > 9 * (n*s2 - s²), where v is the value quantized to
    fixed-point and (n, s, s2) are integer sufficient statistics — no
    division, no sqrt, no float accumulation, so every engine flags
    exactly the same rows at any partitioning.

    Overflow discipline (the "exact at any scale" contract): n and v are
    cast to DECIMAL(38,0) BEFORE every multiply — never long*long, which
    Spark would silently wrap (non-ANSI) while DuckDB errors. All
    intermediates then stay inside precision 38 as long as
    n * max|v| <= 1.5e18: dev = n*v - s is bounded by 2*n*max|v| = 3e18,
    dev^2 <= 9e36 (37 digits), and 9*(n*s2 - s^2) <= 9*(n*max|v|)^2 ~
    2e37. With the 10^3 quantization that means 3*10^12 rows per group
    at |value| <= 500 — a full 100 TB events table — before any
    intermediate can overflow (Spark would null-and-drop, DuckDB would
    error; neither happens inside the documented domain). One
    map-side-combined stats pass + one broadcast join of |groups| rows
    back onto the scan."""
    ev = load_table(spark, sf_dir, "events")
    # decimal(18,3)*1000 is integral by construction, so the cast to long
    # is exact on both engines (no round-vs-truncate divergence).
    q = ev.select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,3)") * 1000)
        .cast("long")
        .alias("v"),
    )
    stats = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("s2"),
    )
    vdec = F.col("v").cast("decimal(38,0)")
    dev = F.col("n") * vdec - F.col("s")
    var_n2 = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    return (
        q.join(F.broadcast(stats), "event_type")
        .where(dev * dev > 9 * var_n2)
        .select(
            "event_id",
            "event_type",
            (F.col("v").cast("double") / 1000).alias("value"),
        )
    )


# ------------------------------------------------- data-skipping manifest

_SKIP_DIR = "/tmp/csv2db_spark_skipping"


@query(
    "q_src_pruned_read",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           {{}}
    FROM orders
    WHERE o_totalprice >= 100000 AND o_totalprice <= 200000
    GROUP BY o_orderpriority
    """.format("cast(sum(cast(o_totalprice as decimal(14,2))) as double) AS total_price"),
)
def q_src_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based data skipping (sources/skipping.py): orders are
    laid out range-partitioned + sorted on o_totalprice
    (sink.write_sorted_parquet), a (file, min, max) manifest is built,
    and the band read opens ONLY the files whose span intersects — the
    others are never listed into the scan. The oracle runs the same
    band predicate on the raw table: pruning must be invisible in the
    result. This is the Delta/Iceberg data-skipping core without the
    table format; at 100 TB it removes the per-file open+footer tax
    that dominates selective scans over millions of files."""
    import os as _os

    from csv2db_spark.sink import write_sorted_parquet
    from csv2db_spark.sources.skipping import build_minmax_manifest, read_pruned

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    d = f"{_SKIP_DIR}_{sf_tag}"
    if not _os.path.isdir(d):
        write_sorted_parquet(
            load_table(spark, sf_dir, "orders"),
            d,
            ["o_totalprice"],
            target_files=8,
        )
    manifest = build_minmax_manifest(spark, d, ["o_totalprice"])
    band = read_pruned(spark, manifest, "o_totalprice", 100000.0, 200000.0)
    from csv2db_spark.functions.numeric import dec

    return band.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice", 14, 2)).cast("double").alias("total_price"),
    )


# ------------------------------------------------- fixed-width ingest

_FW_PATH = "/tmp/csv2db_spark_fixedwidth.txt"
_FW_FIELDS = [("rec_id", 6), ("name", 12), ("amount", 10), ("due", 10)]


def _write_fw_fixture() -> None:
    if os.path.exists(_FW_PATH):
        return
    with open(_FW_PATH + ".tmp", "w") as f:
        for i in range(48):
            f.write(
                f"{i:>6d}{'item-' + str(i * 7 % 30):<12s}"
                f"{(i * 137) % 9000 / 100:>10.2f}{f'2026-{i % 12 + 1:02d}-15':>10s}\n"
            )
    os.replace(_FW_PATH + ".tmp", _FW_PATH)


@query(
    "q_ingest_fixed_width",
    oracle=f"""
    SELECT trim(substr(line, 1, 6)) AS rec_id,
           trim(substr(line, 7, 12)) AS name,
           trim(substr(line, 19, 10)) AS amount,
           trim(substr(line, 29, 10)) AS due
    FROM read_csv('{_FW_PATH}', delim=chr(1), header=false,
                  columns={{'line': 'VARCHAR'}})
    """,
)
def q_ingest_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record ingestion (ingest.py:read_fixed_width): lines
    sliced at declared (name, width) offsets, whitespace-trimmed, as an
    all-string frame ready for the reconcile/cast pipeline — the
    mainframe-export format outside the CSV-only reference's reach. One
    codegen'd text scan; the oracle slices the same bytes in SQL."""
    from csv2db_spark.ingest import read_fixed_width

    _write_fw_fixture()
    return read_fixed_width(spark, _FW_PATH, _FW_FIELDS)


@query(
    "q_graph_triangles",
    oracle="""
    WITH p AS (
      SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS w
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_suppkey < b.l_suppkey
      GROUP BY sa, sb
    ),
    t AS (SELECT count(*) AS np, sum(w) AS tw FROM p),
    e AS (SELECT sa AS lo, sb AS hi FROM p, t WHERE w * np * 10 > 11 * tw),
    tri AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM e e1
      JOIN e e2 ON e1.hi = e2.lo
      JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node, count(*) AS n_triangles FROM corners GROUP BY node
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts (operators/graph.py:triangle_count)
    over the co-supply graph: suppliers are linked when their pair
    co-occurs in strictly more orders than 1.1x the average pair (a
    relative cut, so the graph stays sparse at every SF — the compare is
    pure integer cross-multiplication, no division). Triangles are the
    cohesion signal; the enumeration is the canonical ordered 3-way
    self-join, each triangle counted once and credited to all three
    corners."""
    from csv2db_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # per-order pair expansion instead of a lineitem self-join: ONE
    # orderkey shuffle builds the sorted supplier list (multiplicity
    # kept — the oracle counts row pairs), then ordered pairs explode
    # per row with zero joins; the sa < sb filter drops same-supplier
    # row pairs exactly like the join condition did
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_suppkey")).alias("ss")
    )
    lhs = per_order.select(F.posexplode("ss").alias("i", "sa"), "ss")
    pairs = (
        lhs.select(
            "sa",
            F.explode(
                F.slice("ss", F.col("i") + 2, F.size("ss") - F.col("i") - 1)
            ).alias("sb"),
        )
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    tot = F.broadcast(
        pairs.agg(F.count(F.lit(1)).alias("np"), F.sum("w").alias("tw"))
    )
    edges = (
        pairs.crossJoin(tot)
        .where(F.col("w") * F.col("np") * 10 > 11 * F.col("tw"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    )
    return triangle_count(edges)


@query(
    "q_agg_hll_distinct",
    oracle="""
    WITH h AS (
      SELECT o_orderpriority AS g,
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12)
               AS BIGINT) AS h
      FROM orders
    ),
    r AS (
      SELECT g, h % 64 AS j,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(bin(h // 64)) END AS rho
      FROM h
    ),
    regs AS (SELECT g, j, max(rho) AS m_j FROM r GROUP BY 1, 2),
    s AS (
      SELECT g,
             CAST(sum(CAST(1 AS BIGINT) << CAST(43 - m_j AS INT))
                  + (64 - count(*)) * 8796093022208 AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_registers
      FROM regs GROUP BY g
    )
    SELECT g AS o_orderpriority, n_registers,
           ((CAST(0.709 AS DOUBLE) * 4096.0) * 8796093022208.0) / s
             AS est_distinct
    FROM s
    """,
)
def q_agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct customers per order priority
    (operators/sketch.py:hll_distinct) — the approximate-distinct
    aggregate made HASH-CHECKABLE: the relational register construction
    (md5 -> register/rank -> per-register max) is rebuilt identically
    by the DuckDB oracle and the closed-form estimate is one IEEE
    division of exact integers, so unlike `approx_count_distinct`
    (opaque HLL++ blob, rows-only gate) every bit of this estimate is
    verified. Register tables merge by MAX — the mergeable-sketch
    pattern that makes distinct-counting one bounded shuffle at any
    corpus size."""
    from csv2db_spark.operators.sketch import hll_distinct

    orders = load_table(spark, sf_dir, "orders")
    return hll_distinct(
        orders.select(F.col("o_orderpriority"), F.col("o_custkey").alias("item")),
        group_cols=["o_orderpriority"],
    )


@query(
    "q_embed_silhouette",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    nrm AS (
      SELECT vec_id,
             CAST(sum({_iel('embedding[i]')} * {_iel('embedding[i]')})
                  AS BIGINT) AS nrm2
      FROM v, range(1, 65) r(i) GROUP BY vec_id
    ),
    cent AS (SELECT vec_id AS cluster_id FROM embeddings WHERE vec_id < 8),
    dots AS (
      SELECT a.vec_id, c.cluster_id,
             CAST(sum({_iel('a.embedding[i]')} * {_iel('b.embedding[i]')})
                  AS BIGINT) AS dot
      FROM v a
      JOIN cent c ON true
      JOIN v b ON b.vec_id = c.cluster_id, range(1, 65) r(i)
      GROUP BY 1, 2
    ),
    d AS (
      SELECT dots.vec_id, dots.cluster_id,
             nv.nrm2 + nc.nrm2 - 2 * dots.dot AS d2
      FROM dots
      JOIN nrm nv ON nv.vec_id = dots.vec_id
      JOIN nrm nc ON nc.vec_id = dots.cluster_id
    ),
    a AS (
      SELECT vec_id, cluster_id, d2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, cluster_id) AS rn
      FROM d
    )
    SELECT own.vec_id, own.cluster_id,
           CAST(own.d2 AS BIGINT) AS d2_own,
           CAST(nxt.d2 AS BIGINT) AS d2_next,
           CASE WHEN greatest(own.d2, nxt.d2) = 0 THEN 0.0
                ELSE CAST(nxt.d2 - own.d2 AS DOUBLE)
                     / greatest(own.d2, nxt.d2) END AS silhouette
    FROM (SELECT vec_id, cluster_id, d2 FROM a WHERE rn = 1) own
    JOIN (SELECT vec_id, d2 FROM a WHERE rn = 2) nxt USING (vec_id)
    """,
)
def q_embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector simplified silhouette against the 8 seed centroids
    (llm/cluster.py:silhouette_proxy) — the cluster-quality monitor an
    embedding pipeline runs after k-means, made hash-checkable: a and b
    are the exact scaled-integer d² to the nearest and second-nearest
    centroid, so s = (b−a)/max(a,b) is one IEEE division and every row
    bit-matches the oracle's replay. Broadcast centroids, map-only
    scoring, one vec_id-keyed window — the corpus never shuffles."""
    from csv2db_spark.llm.cluster import silhouette_proxy

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), "embedding"
    )
    return silhouette_proxy(emb, cents)


@query(
    "q_agg_histogram_quantile",
    oracle="""
    WITH b AS (
      SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 6000.0)
                                 AS BIGINT), 0), 99) AS bucket
      FROM orders
    ),
    counts AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
    cum AS (
      SELECT bucket, cnt,
             sum(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS n
      FROM counts
    ),
    qs AS (SELECT unnest([25, 50, 75, 90]) AS q),
    hits AS (
      SELECT q, bucket, cnt, cum,
             CAST(-floor(-(q * n) / 100) AS BIGINT) AS target_rank,
             row_number() OVER (PARTITION BY q ORDER BY bucket) AS rn
      FROM cum CROSS JOIN qs
      WHERE cum >= -floor(-(q * n) / 100)
    )
    SELECT q, target_rank, bucket,
           0.0 + 6000.0 * (bucket + CAST(target_rank - (cum - cnt) AS DOUBLE)
                                    / cnt) AS est_value
    FROM hits WHERE rn = 1
    """,
)
def q_agg_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantiles of o_totalprice
    (operators/profile.py:histogram_quantile) — the deterministic,
    hash-checkable alternative to approx_percentile's t-digest (whose
    merge-order-dependent blob forces a rows-only gate): equal-width
    binning, integer rank targets ceil(q*N/100), one interpolation
    division per percentile. Error bounded by a bucket width; shuffle
    bounded by n_buckets rows per partition."""
    from csv2db_spark.operators.profile import histogram_quantile

    orders = load_table(spark, sf_dir, "orders")
    return histogram_quantile(
        orders, "o_totalprice", lo=0.0, hi=600000.0, n_buckets=100,
        qs=(25, 50, 75, 90),
    )


_ZORDER_DIR = "/tmp/csv2db_spark_zorder"


@query(
    "q_src_zorder_pruned_read",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           cast(sum(cast(o_totalprice as decimal(14,2))) as double)
             AS total_price
    FROM orders
    WHERE o_custkey >= 1000 AND o_custkey <= 3000
    GROUP BY o_orderpriority
    """,
)
def q_src_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout + manifest skipping (sink.write_zorder_parquet +
    sources/skipping.py): orders laid out on the Morton interleave of
    (o_totalprice, o_custkey), then a selective band read on the SECOND
    dimension — the predicate a single-column sort cannot prune (every
    x-sorted file spans all of y; the z-layout bounds both). The oracle
    runs the same band on the raw table: pruning must be invisible in
    the result. This is Delta's OPTIMIZE ZORDER BY for plain parquet;
    at 100 TB it is the difference between opening every file and
    opening ~sqrt(files) for either predicate."""
    import os as _os

    from csv2db_spark.sink import write_zorder_parquet
    from csv2db_spark.sources.skipping import build_minmax_manifest, read_pruned

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    d = f"{_ZORDER_DIR}_{sf_tag}"
    if not _os.path.isdir(d):
        write_zorder_parquet(
            load_table(spark, sf_dir, "orders"),
            d,
            "o_totalprice",
            "o_custkey",
            target_files=16,
        )
    manifest = build_minmax_manifest(spark, d, ["o_custkey"])
    band = read_pruned(spark, manifest, "o_custkey", 1000, 3000)
    from csv2db_spark.functions.numeric import dec

    return band.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice", 14, 2)).cast("double").alias("total_price"),
    )


@query(
    "q_agg_join_size_estimate",
    oracle="""
    WITH oa AS (
      SELECT CAST(o_custkey AS VARCHAR) AS item FROM orders
    ),
    ob AS (
      SELECT CAST(c_custkey AS VARCHAR) AS item FROM customer
    ),
    ha AS (
      SELECT CAST('0x' || substr(md5(item), 1, 12) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(item), 13, 12) AS BIGINT) AS h2
      FROM oa
    ),
    hb AS (
      SELECT CAST('0x' || substr(md5(item), 1, 12) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(item), 13, 12) AS BIGINT) AS h2
      FROM ob
    ),
    ca AS (
      SELECT j, ((h1 + j * h2) % {0}) % 65536 AS bucket, count(*) AS cnt
      FROM (SELECT h1, h2, unnest(range(0, 4)) AS j FROM ha)
      GROUP BY 1, 2
    ),
    cb AS (
      SELECT j, ((h1 + j * h2) % {0}) % 65536 AS bucket, count(*) AS cnt
      FROM (SELECT h1, h2, unnest(range(0, 4)) AS j FROM hb)
      GROUP BY 1, 2
    ),
    ip AS (
      SELECT ca.j,
             sum(CAST(ca.cnt AS DECIMAL(38,0)) * cb.cnt) AS ip
      FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket
      GROUP BY ca.j
    ),
    est AS (
      SELECT CAST(CAST(min(ip) AS DECIMAL(38,0)) AS BIGINT)
               AS est_join_size
      FROM ip
    ),
    truth AS (
      SELECT count(*) AS true_join_size
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT est.est_join_size, truth.true_join_size
    FROM est CROSS JOIN truth
    """.replace("{0}", str(CMS_P)),
)
def q_agg_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join cardinality estimation
    (operators/sketch.py:countmin_join_size): |orders join customer on
    custkey| estimated from two 4x65536 count-min sketches (w sized so
    collision noise n_a*n_b/w stays below the true cardinality) — the
    cost-based-planner statistic, computed without touching either
    table again, alongside the true join size for calibration. The
    estimate is an upper bound by construction (collisions only add);
    both numbers are exact integers, so the gate hash-checks the
    estimator itself, not a tolerance band."""
    from csv2db_spark.operators.sketch import countmin_build, countmin_join_size

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("item")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("item")
    )
    est = countmin_join_size(
        countmin_build(orders, d=4, w=65536), countmin_build(cust, d=4, w=65536)
    )
    true_n = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .agg(F.count(F.lit(1)).alias("true_join_size"))
    )
    return est.crossJoin(true_n)


@query(
    "q_agg_grouped_histogram_quantile",
    oracle="""
    WITH b AS (
      SELECT lang,
             least(greatest(CAST(floor((n_chars - 0.0) / 50.0) AS BIGINT),
                            0), 39) AS bucket
      FROM documents
    ),
    counts AS (SELECT lang, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT lang, bucket, cnt,
             sum(cnt) OVER (PARTITION BY lang ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n
      FROM counts
    ),
    qs AS (SELECT unnest([25, 50, 90]) AS q),
    hits AS (
      SELECT lang, q, bucket, cnt, cum,
             CAST(-floor(-(q * n) / 100) AS BIGINT) AS target_rank,
             row_number() OVER (PARTITION BY lang, q ORDER BY bucket) AS rn
      FROM cum CROSS JOIN qs
      WHERE cum >= -floor(-(q * n) / 100)
    )
    SELECT lang, q, target_rank, bucket,
           0.0 + 50.0 * (bucket + CAST(target_rank - (cum - cnt) AS DOUBLE)
                                  / cnt) AS est_value
    FROM hits WHERE rn = 1
    """,
)
def q_agg_grouped_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length percentiles
    (operators/profile.py:histogram_quantile with group_cols) — the
    per-bucket distribution profile a curation pipeline reads before
    setting length filters per language. Same exact-integer rank
    targets and single interpolation division as the global variant;
    the cumulative windows key on the group, so the group count scales
    freely."""
    from csv2db_spark.operators.profile import histogram_quantile

    docs = load_table(spark, sf_dir, "documents")
    return histogram_quantile(
        docs, "n_chars", lo=0.0, hi=2000.0, n_buckets=40,
        qs=(25, 50, 90), group_cols=["lang"],
    )


_BLOOM_DIR = "/tmp/csv2db_spark_bloom"


@query(
    "q_src_bloom_pruned_read",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderkey IN (32, 4000, 29987)
    """,
)
def q_src_bloom_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-manifest point lookups (sources/skipping.py:
    build_bloom_manifest/read_bloom_pruned): orders are laid out
    HASH-SPREAD (no clustering on o_orderkey, so a min/max manifest
    prunes nothing) and three point lookups run through the per-file
    membership bitsets — each opens ~1 file instead of all of them.
    The oracle runs the same IN-filter on the raw table: pruning must
    be invisible in the result (false positives only cost an extra
    open; false negatives cannot happen). This is the equality-
    predicate complement of min/max skipping — parquet/Iceberg bloom
    filters at file granularity without the format."""
    import os as _os

    from csv2db_spark.sources.skipping import (
        build_bloom_manifest,
        read_bloom_pruned,
    )

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    d = f"{_BLOOM_DIR}_{sf_tag}"
    if not _os.path.isdir(d):
        load_table(spark, sf_dir, "orders").repartition(16).write.parquet(d)
    manifest = build_bloom_manifest(spark, d, "o_orderkey", log2m=20)
    # reuse: each of the three probes reads the manifest
    manifest = stage.materialize_stage(manifest)
    parts = [
        read_bloom_pruned(spark, manifest, "o_orderkey", k, log2m=20)
        for k in (32, 4000, 29987)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


def _sql_pagerank_k_cte(k: int) -> str:
    """Chained-CTE mirror of k power iterations of operators/graph.py
    pagerank_step over the supplier->customer trade graph: per-step
    contributions quantized to DECIMAL(28,12) before the sum (exact,
    order-free), damping in double on the identical summed value —
    and the damping constant spelled (1 - 0.85) in DOUBLE to reproduce
    Python's 0.15000000000000002 bit-for-bit."""
    damp = "(CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE)"
    parts = [
        """e AS (
      SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1)"""
    ]
    for i in range(k):
        rank_expr = (
            "CAST(1 AS DOUBLE)" if i == 0 else "r.rank"
        )
        rank_join = "" if i == 0 else f" JOIN r{i - 1} r ON r.node = e.src"
        parts.append(f"""c{i} AS (
      SELECT e.dst AS node,
             sum(CAST({rank_expr} / deg.out_deg AS DECIMAL(28,12))) AS in_sum
      FROM e JOIN deg ON e.src = deg.node{rank_join}
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             {damp} * COALESCE(CAST(c.in_sum AS DOUBLE), 0.0) AS rank
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
    )""")
    return ",\n    ".join(parts)


@query(
    "q_graph_pagerank_k3",
    oracle=f"""
    WITH {_sql_pagerank_k_cte(3)}
    SELECT node, rank FROM r2
    """,
)
def q_graph_pagerank_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE full PageRank power iterations through the driver-steered
    loop (operators/graph.pagerank, tol=0 pins exactly k rounds) — the
    gate that hash-verifies the ITERATION machinery (rank feedback,
    localCheckpoint lineage cuts), not just one step. Oracle: the same
    three steps as chained CTEs, same decimal-quantized contribution
    sums, same double damping fold. Two keyed map-combinable shuffles
    per round; rank vectors never leave executors."""
    from csv2db_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, max_iter=3, tol=0.0)


# --------------------------------------------------- record linkage (ER)


@query(
    "q_link_sorted_neighborhood",
    oracle="""
    WITH c AS (
      SELECT c_custkey AS id, reverse(c_name) AS k FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, reverse('K' || substr(c_name, 2))
      FROM customer WHERE c_custkey % 50 = 0
    ),
    w AS (SELECT id, k, substr(k, 1, 1) AS blk FROM c),
    l AS (
      SELECT id, k,
             lead(id, 1) OVER win AS id1, lead(k, 1) OVER win AS k1,
             lead(id, 2) OVER win AS id2, lead(k, 2) OVER win AS k2
      FROM w WINDOW win AS (PARTITION BY blk ORDER BY k, id)
    ),
    raw_pairs AS (
      SELECT id AS a, id1 AS b, k AS ka, k1 AS kb FROM l WHERE id1 IS NOT NULL
      UNION ALL
      SELECT id, id2, k, k2 FROM l WHERE id2 IS NOT NULL
    ),
    pairs AS (
      SELECT DISTINCT
             least(a, b) AS id_a, greatest(a, b) AS id_b,
             CASE WHEN a < b THEN ka ELSE kb END AS key_a,
             CASE WHEN a < b THEN kb ELSE ka END AS key_b
      FROM raw_pairs
    )
    SELECT id_a, id_b, levenshtein(key_a, key_b) AS lev
    FROM pairs WHERE levenshtein(key_a, key_b) <= 2
    """,
)
def q_link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by sorted-neighborhood blocking
    (operators/linkage.py): typo'd clones of every 50th customer are
    injected (first name char flipped, id + 1e6, identically in the
    oracle), the sort key is the REVERSED name — the classic multi-pass
    SN key that (a) spreads blocks across the trailing digits and
    (b) keeps a leading-char typo sort-adjacent to its original — the
    prefix-blocked window proposes linear candidates and
    Levenshtein <= 2 classifies matches. Block -> compare -> classify
    with the quadratic step bounded by the window, hash-verified
    end-to-end. One keyed window shuffle; no corpus self-join."""
    from csv2db_spark.operators.linkage import (
        edit_distance_matches,
        sorted_neighborhood_pairs,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.reverse(F.col("c_name")).alias("k")
    )
    clones = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 50 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("id"),
            F.reverse(
                F.concat(F.lit("K"), F.substring(F.col("c_name"), 2, 1 << 20))
            ).alias("k"),
        )
    )
    pairs = sorted_neighborhood_pairs(
        cust.unionByName(clones), key_col="k", id_col="id"
    )
    return edit_distance_matches(pairs, max_distance=2)


@query(
    "q_graph_label_propagation",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    sym AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM e0
      UNION
      SELECT dst AS a, src AS b FROM e0
    ),
    l0 AS MATERIALIZED (
      SELECT 's' || s_suppkey AS node, s_nationkey AS label,
             0 AS round_assigned
      FROM supplier WHERE s_suppkey % 10 = 0
    ),
    p1 AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT sym.a AS node, l.label,
               row_number() OVER (PARTITION BY sym.a
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM sym JOIN l0 l ON sym.b = l.node
        GROUP BY sym.a, l.label
      ) WHERE rn = 1
    ),
    l1 AS MATERIALIZED (
      SELECT * FROM l0
      UNION ALL
      SELECT node, label, 1 FROM p1
      WHERE node NOT IN (SELECT node FROM l0)
    ),
    p2 AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT sym.a AS node, l.label,
               row_number() OVER (PARTITION BY sym.a
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM sym JOIN l1 l ON sym.b = l.node
        GROUP BY sym.a, l.label
      ) WHERE rn = 1
    )
    SELECT node, label, round_assigned FROM l1
    UNION ALL
    SELECT node, label, 2 FROM p2
    WHERE node NOT IN (SELECT node FROM l1)
    """,
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded label propagation (operators/graph.label_propagation) over
    the supplier↔customer trade graph: every 10th supplier is seeded
    with its nation, then two synchronous rounds spread the label —
    the first reaches the customers of seeded suppliers, the second the
    remaining suppliers through shared customers. Modal-label voting
    with (count desc, label) tie-break and clamped seeds make every
    assignment deterministic, so the oracle unrolls both rounds in SQL.
    O(|E|) per round — the semi-supervised twin of the PageRank step."""
    from csv2db_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    seeds = s.where(F.col("s_suppkey") % 10 == 0).select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("node"),
        F.col("s_nationkey").alias("label"),
    )
    return label_propagation(edges, seeds, rounds=2)


@query(
    "q_src_file_metadata",
    oracle="""
    WITH staged AS (
      SELECT *, 'part-' || CAST(o_orderkey % 4 AS VARCHAR) AS part_file
      FROM orders
    )
    SELECT part_file,
           count(*) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM staged GROUP BY part_file
    """,
)
def q_src_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level lineage via the hidden ``_metadata`` struct: a 4-file
    staged copy of orders (partitioned on a derived key so the oracle
    can re-derive file membership) is read back with
    ``_metadata.file_name`` projected — the per-source-file audit every
    ingest pipeline needs (which file contributed which rows; which
    file to quarantine when a count is off). ``_metadata`` is
    constant-folded per split, so the projection costs nothing and the
    per-file rollup is one map-combined aggregate. The engine reads
    REAL file names; the gate maps them back to the staging rule."""
    import os

    staged = os.path.join(
        "/tmp", f"c2s_meta_{sf_dir.strip('/').replace('/', '_')}"
    )
    o = load_table(spark, sf_dir, "orders")
    (
        o.withColumn(
            "part_file",
            F.concat(F.lit("part-"), (F.col("o_orderkey") % 4).cast("string")),
        )
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("part_file")
        .parquet(staged)
    )
    df = spark.read.parquet(staged)
    # one parquet file per part_file partition dir: the real file name in
    # _metadata identifies it; recover the partition label from the path
    return (
        df.select(
            "o_orderkey",
            F.col("part_file"),
            F.col("_metadata.file_path").alias("_fp"),
        )
        .withColumn(
            "_from_path",
            F.regexp_extract(F.col("_fp"), r"part_file=(part-\d)", 1),
        )
        .where(F.col("_from_path") == F.col("part_file"))  # lineage agrees
        .groupBy("part_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    body = ["""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    g0 AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM e0
      UNION
      SELECT dst AS a, src AS b FROM e0
    )"""]
    for r in range(1, rounds + 1):
        body.append(f""",
    k{r} AS MATERIALIZED (
      SELECT a FROM g{r - 1} GROUP BY a HAVING count(*) >= {k}
    ),
    g{r} AS MATERIALIZED (
      SELECT g.a, g.b FROM g{r - 1} g
      JOIN k{r} x ON g.a = x.a
      JOIN k{r} y ON g.b = y.a
    )""")
    body.append(f"""
    SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
    FROM g{rounds} GROUP BY a HAVING count(*) >= {k}
    """)
    return "".join(body)


@query("q_graph_k_core", oracle=_kcore_oracle(3, 3))
def q_graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core densification (operators/graph.k_core, k=3, three peeling
    rounds) over the supplier↔customer trade graph: nodes with fewer
    than 3 within-core partners peel away round over round — the spam/
    leaf-trimming step before community analysis. Peeling is confluent
    (the core is unique), so the bounded-round result is deterministic
    and the oracle unrolls the same three rounds; fixpoint mode (the
    connected_components count-loop discipline) is pytest-verified.
    O(|E|) per round."""
    from csv2db_spark.operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    return k_core(edges, k=3, rounds=3)
