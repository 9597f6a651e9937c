"""File-level data skipping for plain parquet directories: a min/max
manifest plus a pruned reader — the core of what table formats
(Delta/Iceberg) add over raw parquet, expressed as two small DataFrame
ops with no new storage format.

Spark's parquet reader already skips ROW GROUPS via footer statistics,
but it must still list, open, and read the footer of EVERY file; at
100 TB with millions of files that per-file tax dominates selective
scans. A manifest read once (or maintained incrementally at write time)
turns a selective read into: scan the tiny manifest, keep the files
whose [min, max] intersects the predicate, and hand Spark ONLY those
paths — the others are never opened.

Correctness contract: pruning is safe, never semantic — the pruned read
applies the SAME predicate afterwards, so a file that survives pruning
but contains no matching rows contributes nothing. Tests pin both the
equality of results and the strict reduction in files read. Pairs with
``sink.write_sorted_parquet``: range-partitioned files have disjoint
[min, max] spans, so pruning selects ~(selectivity x files) instead of
every file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_minmax_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """One row per parquet file with per-column min/max: the manifest a
    selective reader prunes against. Built with one pass over the data
    (each file's rows aggregate map-side within their own input split);
    at scale you maintain it incrementally per written file instead of
    rebuilding — the schema (file, <col>_min, <col>_max) is the same.
    """
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return (
        spark.read.parquet(path)
        .withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(*aggs)
    )


def read_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Read only the files whose [min, max] span for ``col`` intersects
    [lo, hi], then apply the exact predicate. The manifest filter runs
    on |files| rows (driver-collectible by construction — a manifest is
    KB per thousand files); the returned DataFrame is a normal parquet
    scan over the surviving paths, so all the usual pushdown applies on
    top."""
    keep = [
        r["_file"]
        for r in manifest.where(
            (F.col(f"{col}_max") >= F.lit(lo)) & (F.col(f"{col}_min") <= F.lit(hi))
        )
        .select("_file")
        .collect()
    ]
    if not keep:
        # empty selection: preserve schema by reading the full dir's
        # schema with an always-false filter on zero files is impossible;
        # read one file lazily and filter-false instead
        any_file = manifest.select("_file").limit(1).collect()
        if not any_file:
            raise ValueError("read_pruned: empty manifest")
        return (
            spark.read.parquet(any_file[0]["_file"]).where(F.lit(False))
        )
    return (
        spark.read.parquet(*keep)
        .where((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    )


def build_bloom_manifest(
    spark: SparkSession, path: str, col: str, log2m: int = 20
) -> DataFrame:
    """Per-file membership bitset over ``col`` — the skipping structure
    for EQUALITY predicates on columns the layout is NOT sorted by,
    where a min/max manifest prunes nothing (every file's [min, max]
    spans the domain). Same single-hash bitset construction as
    ``operators/runtime_filter.key_bitset``, grouped per file: rows are
    (file, word_idx, bits), at most 2^log2m/64 words per file, built in
    one pass with map-side combine (each file's rows aggregate inside
    their own split). False positives open an extra file; false
    negatives cannot happen, so pruning is safe.

    This is the parquet/Iceberg bloom-filter story at FILE granularity
    without the format dependency: with log2m=20 (128 KiB of words per
    file, before sparsity) and ~10k distinct keys per file the FP rate
    is ~1%, so a point lookup opens ~1 file instead of all of them.
    """
    m = 1 << log2m
    df = spark.read.parquet(path)
    # record the column's type: the probe literal must hash with the
    # SAME Spark type (xxhash64 of int 5 != xxhash64 of bigint 5)
    ctype = df.schema[col].dataType.simpleString()
    pos = F.pmod(F.xxhash64(F.col(col)), F.lit(m))
    return (
        df.withColumn("_file", F.input_file_name())
        .select("_file", pos.alias("_pos"))
        .groupBy(
            "_file", (F.col("_pos") / 64).cast("long").alias("word_idx")
        )
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))")
            ).alias("bits")
        )
        .withColumn("col_type", F.lit(ctype))
    )


def read_bloom_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    value,
    log2m: int = 20,
) -> DataFrame:
    """Point-lookup read: open only the files whose bloom word has the
    value's bit set, then apply the exact equality predicate (pruning
    stays invisible in the result). The value's hash position is
    evaluated through Spark itself (one 1-row job), so it is bit-exact
    with the manifest's hashing."""
    m = 1 << log2m
    ctype = manifest.select("col_type").limit(1).collect()[0]["col_type"]
    probe = F.lit(value).cast(ctype)
    pos = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(probe), F.lit(m)).alias("p"))
        .collect()[0]["p"]
    )
    word_idx, bit = pos // 64, pos % 64
    keep = [
        r["_file"]
        for r in manifest.where(
            (F.col("word_idx") == word_idx)
            & (
                F.expr(f"shiftrightunsigned(bits, {int(bit)})")
                .bitwiseAND(F.lit(1))
                == 1
            )
        )
        .select("_file")
        .collect()
    ]
    if not keep:
        any_file = manifest.select("_file").limit(1).collect()
        if not any_file:
            raise ValueError("read_bloom_pruned: empty manifest")
        return spark.read.parquet(any_file[0]["_file"]).where(F.lit(False))
    return spark.read.parquet(*keep).where(F.col(col) == F.lit(value).cast(ctype))
