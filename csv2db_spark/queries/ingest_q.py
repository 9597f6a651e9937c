"""Ingestion-parity queries: exercise the P1-P8 CSV pipeline end-to-end
inside the driver's correctness gate.

Each query dumps a fixture table to CSV (distributed write, part files),
re-ingests it through csv2db_spark.ingest (header/headerless, reconcile by
name/ordinal, typed cast with empty→NULL semantics), then aggregates; the
oracle runs the same aggregate on the original parquet — so any loss or
corruption in the CSV path breaks the hash match.

Doubles survive the text roundtrip bit-exactly: Spark writes shortest
round-trip representations and the cast back is IEEE nearest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv2db_spark.functions.numeric import dsum, sql_dsum
from csv2db_spark.ingest import ingest_csv
from csv2db_spark.registry import query
from csv2db_spark.sources import load_table

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), False),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

_ORACLE = f"""
SELECT c_mktsegment,
       count(*) AS n_customers,
       {sql_dsum("c_acctbal", 12, 2)} AS total_acctbal
FROM customer
GROUP BY c_mktsegment
"""


def _tmp_dir(sf_dir: str, tag: str) -> str:
    safe = sf_dir.strip("/").replace("/", "_")
    return os.path.join("/tmp", f"csv2db_spark_{tag}_{safe}")


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal", 12, 2).alias("total_acctbal"),
    )


@query("q_ingest_csv_roundtrip", oracle=_ORACLE)
def q_ingest_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header CSV → reconcile by name (scrambled column order on write to
    prove the by-name path reorders)."""
    cust = load_table(spark, sf_dir, "customer")
    path = _tmp_dir(sf_dir, "rt_header")
    scrambled = cust.select(
        "c_mktsegment", "c_acctbal", "c_custkey", "c_name", "c_nationkey"
    )
    scrambled.write.mode("overwrite").option("header", True).csv(path)
    df = ingest_csv(spark, path, CUSTOMER_SCHEMA, has_header=True)
    return _agg(df)


@query("q_ingest_csv_headerless", oracle=_ORACLE)
def q_ingest_csv_headerless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headerless CSV → col0..colN synthesis → reconcile by ordinal."""
    cust = load_table(spark, sf_dir, "customer")
    path = _tmp_dir(sf_dir, "rt_headerless")
    ordered = cust.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    ordered.write.mode("overwrite").option("header", False).csv(path)
    df = ingest_csv(spark, path, CUSTOMER_SCHEMA, has_header=False)
    return _agg(df)


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


@query(
    "q_ingest_csv_multiline",
    oracle="""
    WITH d AS (
      SELECT doc_id, replace(text, ' ', chr(10)) AS text, source
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts
    FROM d GROUP BY source
    """,
)
def q_ingest_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-multiline CSV roundtrip (ingest.read_csv multiline=True):
    every document's spaces become embedded NEWLINES, the frame writes
    to CSV (the writer must quote every such field), and the multiline
    reader reassembles records across physical lines — the Go
    encoding/csv behavior (csv2db.go:84) that Spark makes opt-in
    because multiline files aren't newline-splittable (one task per
    file; ship many medium files at 100 TB). The oracle aggregates the
    transformed documents DIRECTLY — any record-boundary corruption in
    the quote/newline path changes counts, char totals, or text hashes."""
    docs = load_table(spark, sf_dir, "documents")
    path = _tmp_dir(sf_dir, "rt_multiline")
    moddocs = docs.select(
        "doc_id",
        F.regexp_replace("text", " ", "\n").alias("text"),
        "source",
    )
    moddocs.write.mode("overwrite").options(
        header=True, quote='"', escape='"'
    ).csv(path)
    df = ingest_csv(spark, path, DOCS_SCHEMA, has_header=True, multiline=True)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.count_distinct(F.md5("text")).alias("distinct_texts"),
    )


NAME_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), False),
        T.StructField("c_name", T.StringType(), True),
    ]
)


@query(
    "q_ingest_csv_latin1",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(length(c_name || ' café-Ø')) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT md5(c_name || ' café-Ø')) AS BIGINT)
             AS distinct_names
    FROM customer
    """,
)
def q_ingest_csv_latin1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset decode parity (reference P2, csv2db.go:190-199): customer
    names with non-ASCII suffixes round-trip through an ISO-8859-1
    encoded CSV — written AND re-read in latin-1 via the reader's
    ``encoding`` option — and the aggregate (char totals + per-name
    md5s, computed AFTER decode) must equal the same computed straight
    from the parquet originals. A mojibake'd byte anywhere changes the
    hash; the reference's whole charset map exists for exactly this
    path."""
    cust = load_table(spark, sf_dir, "customer")
    path = _tmp_dir(sf_dir, "rt_latin1")
    mod = cust.select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit(" café-Ø")).alias("c_name"),
    )
    mod.write.mode("overwrite").options(
        header=True, encoding="ISO-8859-1"
    ).csv(path)
    from csv2db_spark.ingest import ingest_csv

    typed = ingest_csv(spark, path, NAME_SCHEMA, encoding="ISO-8859-1")
    return typed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("c_name")).alias("total_chars"),
        F.count_distinct(F.md5("c_name")).alias("distinct_names"),
    )


@query(
    "q_ingest_csv_crlf",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT md5(c_name)) AS BIGINT) AS distinct_names
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_ingest_csv_crlf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windows line-ending parity: the customer table rewritten as a CSV
    with CRLF record terminators (the Go encoding/csv reader accepts
    both endings transparently, csv2db.go:84) must re-ingest to the
    identical per-segment counts and name hashes — a stray \\r absorbed
    into the last field would change every md5. The file is staged with
    explicit CRLF join so the test controls the terminator, not the
    writer."""
    import os

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    path = _tmp_dir(sf_dir, "rt_crlf")
    os.makedirs(path, exist_ok=True)
    rows = cust.collect()  # 1.5k rows at gate scale — staging only
    lines = ["c_custkey,c_name,c_mktsegment"] + [
        f"{r.c_custkey},{r.c_name},{r.c_mktsegment}" for r in rows
    ]
    with open(os.path.join(path, "part-000.csv"), "w", newline="") as fh:
        fh.write("\r\n".join(lines) + "\r\n")
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), False),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    )
    df = ingest_csv(spark, path, schema, has_header=True)
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count_distinct(F.md5("c_name")).alias("distinct_names"),
    )


@query("q_ingest_csv_gzip", oracle=_ORACLE)
def q_ingest_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV ingest: the same header/reconcile/cast path
    reads .csv.gz transparently (Spark dispatches on the extension via
    Hadoop codecs — no flag on the read side). 100 TB note, documented
    because it bites: gzip is NOT splittable, so one .gz file = one
    task regardless of size — compressed drops must arrive as many
    files (as here: one per writer task), or use a splittable codec
    (bzip2) / recompress on landing. The write side pins
    codec=gzip so the gate actually exercises the decompressor."""
    cust = load_table(spark, sf_dir, "customer")
    path = _tmp_dir(sf_dir, "rt_gzip")
    cust.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    ).write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(path)
    df = ingest_csv(spark, path, CUSTOMER_SCHEMA, has_header=True)
    return _agg(df)


@query("q_ingest_tsv_delimiter", oracle=_ORACLE)
def q_ingest_tsv_delimiter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-delimiter ingest — the reference's ``--delimiter`` flag
    (config.go Validate: exactly one char; P3): the same
    read/reconcile/cast path over tab-separated files. Written with
    sep='\\t' so the gate proves the delimiter actually reaches the
    parser (a comma-default read of TSV collapses every row into one
    column and the aggregate hash detonates)."""
    cust = load_table(spark, sf_dir, "customer")
    path = _tmp_dir(sf_dir, "rt_tsv")
    cust.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    ).write.mode("overwrite").option("header", True).option(
        "sep", "\t"
    ).csv(path)
    df = ingest_csv(spark, path, CUSTOMER_SCHEMA, has_header=True, delimiter="\t")
    return _agg(df)
