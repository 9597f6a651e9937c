"""Parquet fixture tables (TESTDATA.md).

``load_table`` is a thin wrapper over ``spark.read.parquet`` — scans stay
fully declarative so Catalyst applies column pruning and filter pushdown to
the parquet reader (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``).

Every table but ``events`` is read with the schema its parquet footer
declares (read on the driver with pyarrow, well under a millisecond),
so building the scan runs no Spark job: an inferred parquet read
launches one schema-inference job per call (measured at local[4]:
95 ms per call inferred, 17 ms with the footer's schema). The inferred
read stays wherever the footer could not stand in for it (see
``_footer_schema``).

Special case — ``events``: the fixture stores ``ts`` as parquet
TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright
(PARQUET_TYPE_ILLEGAL). We read it via the ``nanosAsLong`` legacy conf and
rebuild a TIMESTAMP_NTZ with pure interval arithmetic from epoch — no
session-timezone dependence, so results match a naive-timestamp oracle
regardless of the host TZ. Nanos are floor-truncated to micros, exactly
what DuckDB/pyarrow do on the same file.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation"})

# Epoch-anchored NTZ reconstruction: micros -> interval -> naive timestamp.
_NS_TO_NTZ = (
    "TIMESTAMP_NTZ '1970-01-01 00:00:00' + "
    "make_interval(0, 0, 0, 0, 0, 0, CAST({c} DIV 1000 AS DECIMAL(26,6)) / 1000000)"
)

# Arrow types whose Spark reading ``_reads_alike`` vouches for.
_NESTED = (pa.types.is_list, pa.types.is_large_list, pa.types.is_struct, pa.types.is_map)
_LEAVES = (
    pa.types.is_boolean,
    pa.types.is_signed_integer,
    pa.types.is_float32,
    pa.types.is_float64,
    pa.types.is_string,
    pa.types.is_large_string,
    pa.types.is_date,
    pa.types.is_decimal128,
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The Spark schema of the parquet file at ``path`` from its footer,
    or None where Spark's inference could read it otherwise: ``path``
    is not a local file (a directory of part files, an ``hdfs://`` or
    ``file:`` URI), pyarrow cannot read it, or a column has a type
    outside ``_reads_alike``."""
    if not os.path.isfile(path):
        return None
    try:
        arrow = pq.read_schema(path)
    except (OSError, pa.ArrowException):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    if not all(_reads_alike(f.type, ntz == "true") for f in arrow):
        return None
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def _reads_alike(t: pa.DataType, ntz: bool) -> bool:
    """Whether Spark's parquet inference reads a column of arrow type
    ``t`` as ``from_arrow_schema`` converts it. Not so, among others,
    for unsigned ints (widened by Spark), durations (bigint), NULL
    columns (int), timestamp[ns] (INT96 or TIMESTAMP(NANOS) in the
    file: LTZ or an error), unannotated binary (string under
    ``binaryAsString``), or naive timestamps when NTZ inference is off."""
    if pa.types.is_timestamp(t):
        return t.unit in ("ms", "us") and (ntz or t.tz is not None)
    if pa.types.is_dictionary(t):
        return _reads_alike(t.value_type, ntz)
    if any(is_(t) for is_ in _NESTED):
        return all(_reads_alike(t.field(i).type, ntz) for i in range(t.num_fields))
    return any(is_(t) for is_ in _LEAVES)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr(_NS_TO_NTZ.format(c="ts")))
    return df
