"""Shared fixtures: one SparkSession per test session, one DuckDB
connection with the fixture tables registered as views (mirrors the
driver's oracle setup)."""

from __future__ import annotations

import os
from contextlib import contextmanager
from functools import partial

import duckdb
import pytest

from csv2db_spark import get_spark
from csv2db_spark.plans import ADAPTIVE_SMALL_KEY
from csv2db_spark.sources.tables import TABLES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("csv2db-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


# Small-input thresholds that force one twin plan shape: nothing is
# under 0 bytes, and every Catalyst estimate — join products included —
# is under 2**256.
SHAPE_THRESHOLDS = {"scale": "0", "small": str(2**256)}


@contextmanager
def _forced_shape(spark, shape: str | int):
    prior = spark.conf.get(ADAPTIVE_SMALL_KEY, None)
    spark.conf.set(ADAPTIVE_SMALL_KEY, str(SHAPE_THRESHOLDS.get(shape, shape)))
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(ADAPTIVE_SMALL_KEY)
        else:
            spark.conf.set(ADAPTIVE_SMALL_KEY, prior)


@pytest.fixture(scope="session")
def plan_shape(spark):
    """``with plan_shape("scale"):`` / ``with plan_shape("small"):`` —
    every twin operator BUILT inside the block takes that shape (the
    shape is picked while the DataFrame is built, from
    plans.small_input), and the prior threshold is restored after. The
    modes-equal tests build both twins on the same rows this way. An
    int instead of a shape name sets that many bytes as the
    threshold."""
    return partial(_forced_shape, spark)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
