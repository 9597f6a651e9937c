"""Fixture-drift guard: the engine's readers encode assumptions about the
PHYSICAL parquet types of the driver-generated fixtures (most notably
events.ts, which has shipped both as TIMESTAMP(NANOS) and
TIMESTAMP(MICROS) and silently broke the whole streaming family once —
VERDICT r3). If the driver regenerates a fixture with different physical
types, this test fails in ONE obvious place instead of as a pile of
unrelated stack traces.

The readers that consume these contracts:
- sources/tables.py:_load_events (nanos-bigint vs NTZ branch)
- streaming/ops.py:events_stream (same branch, streaming side)
- llm/similarity.py (embedding is list<float>)
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from csv2db_spark.sources.tables import TABLES, load_table

# table -> {column: physical arrow type string}. events.ts may be either
# of the two types the fixture has actually shipped with; both are
# handled by the readers and exercised in their tests.
EXPECTED = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64",
        "c_name": "string",
        "c_nationkey": "int32",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64",
        "s_name": "string",
        "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int32",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64",
        "o_custkey": "int64",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp[us]",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64",
        "l_partkey": "int64",
        "l_suppkey": "int64",
        "l_linenumber": "int32",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp[us]",
    },
    "events": {
        "event_id": "int64",
        "ts": ("timestamp[us]", "timestamp[ns]", "int64"),
        "user_id": "int64",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "int64",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64",
        "embedding": "list<element: float>",
        "label": "int32",
    },
}


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_fixture_physical_schema(sf_dir, table):
    schema = pq.read_schema(f"{sf_dir}/{table}.parquet")
    got = {f.name: str(f.type) for f in schema}
    want = EXPECTED[table]
    assert set(got) == set(want), (
        f"{table}: column set drifted; got {sorted(got)}, want {sorted(want)}"
    )
    for col, exp in want.items():
        allowed = exp if isinstance(exp, tuple) else (exp,)
        assert got[col] in allowed, (
            f"{table}.{col}: physical type drifted to {got[col]!r} "
            f"(expected one of {allowed}) — update the readers listed in "
            "this file's docstring along with this contract"
        )


def _load_table_jobs(spark, root, name):
    """load_table's frame, and the Spark jobs building it launched."""
    sc = spark.sparkContext
    group = f"load_table_{abs(hash(root))}_{name}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, root, name)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schemas_equal_inferred(spark, sf_dir, sf):
    """load_table builds every fixture table but events with the schema
    Spark infers from the file, at every scale factor, without
    launching a Spark job (an inferred read launches one)."""
    root = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(root):
        pytest.skip(f"no fixtures at {root}")
    for name in TABLES:
        if name == "events":
            continue
        df, jobs = _load_table_jobs(spark, root, name)
        assert df.schema == spark.read.parquet(f"{root}/{name}.parquet").schema, name
        assert jobs == [], name


_US = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)


@pytest.mark.parametrize(
    "column, footer_read",
    [
        (pa.array([[1.5]], pa.list_(pa.float32())), True),
        (pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())), True),
        (pa.array([{"a": 1}]), True),
        (pa.array(["a"]).dictionary_encode(), True),
        (pa.array([_US], pa.timestamp("ms")), True),
        (pa.array([_US], pa.timestamp("us", tz="UTC")), True),
        # types Spark infers otherwise than from_arrow_schema converts
        (pa.array([_US], pa.timestamp("us")), False),  # written as INT96
        (pa.array([1], pa.uint32()), False),
        (pa.array([1], pa.duration("us")), False),
        (pa.array([b"a"]), False),
        (pa.nulls(1), False),
    ],
    ids=[
        "list", "map", "struct", "dictionary", "timestamp_ms", "timestamp_utc",
        "int96", "uint32", "duration", "binary", "null",
    ],
)
def test_load_table_reads_what_spark_infers(
    spark, tmp_path, column, footer_read
):
    """Any column type loads with the schema and rows Spark infers:
    through the footer when its conversion agrees, else through the
    inferred read (one Spark job)."""
    int96 = pa.types.is_timestamp(column.type) and not footer_read
    pq.write_table(
        pa.table({"doc_id": pa.array([7], pa.int64()), "c": column}),
        tmp_path / "documents.parquet",
        use_deprecated_int96_timestamps=int96,
    )
    df, jobs = _load_table_jobs(spark, str(tmp_path), "documents")
    inferred = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert df.schema == inferred.schema
    assert df.collect() == inferred.collect()
    assert (jobs == []) == footer_read


def test_load_table_has_no_column_the_file_lacks(spark, sf_dir, tmp_path):
    """A fixture copy without n_chars loads without it, rather than with
    an all-NULL n_chars as a read with a fixed schema would."""
    table = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(table.drop_columns(["n_chars"]), tmp_path / "documents.parquet")
    df = load_table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text", "lang", "source"]
    assert df.count() == table.num_rows


def test_load_table_reads_a_spark_written_directory(spark, sf_dir, tmp_path):
    """A directory of part files, as Spark writes a table, is no file
    pyarrow opens alone: load_table reads it the way the inferred read
    does."""
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(3).write.parquet(str(tmp_path / "documents.parquet"))
    df = load_table(spark, str(tmp_path), "documents")
    assert df.schema == docs.schema
    assert sorted(df.collect()) == sorted(docs.collect())
