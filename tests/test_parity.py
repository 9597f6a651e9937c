"""Local replica of the driver's correctness gate: every registered query
runs on Spark and (when an oracle exists) on DuckDB over the same parquet
fixtures; results must match order-insensitively and bit-exactly."""

from __future__ import annotations

import pytest

from csv2db_spark.registry import load_all_queries
from tests.compare import assert_frames_match

QUERIES = load_all_queries()
# One gate per staging family runs in the fast tier: a graph loop, a
# result that outlives its temp dir, a stream, and a reused stage.
FAST = {"q_dedup_clusters", "q_sink_snapshot_timetravel",
        "q_stream_hll_rollup", "q_text_bm25_topk"}


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=() if n in FAST else pytest.mark.slow)
    for n in sorted(QUERIES)
])
def test_query_parity(name, spark, duck, sf_dir):
    qd = QUERIES[name]
    sdf = qd.fn(spark, sf_dir)
    # Driver-canonicalizer contract: the driver sorts pandas columns to
    # hash them, and non-scalar cells are unhashable there (an array
    # column crashed the r6 driver row for q_embed_pca_project). Every
    # gate output must be scalar-typed — flatten in the GATE, keep rich
    # types in the library API.
    exotic = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if any(
            k in f.dataType.simpleString()
            for k in ("array", "map<", "struct", "binary")
        )
    ]
    assert not exotic, f"non-scalar gate output columns: {exotic}"
    pdf = sdf.toPandas()
    if qd.oracle is None:
        # rows-only check, mirroring the driver's weaker path
        assert pdf is not None
        return
    odf = duck.execute(qd.oracle).df()
    assert_frames_match(pdf, odf, name)


@pytest.mark.slow
def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.slow
def test_contract_shapes():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())


@pytest.mark.slow
def test_correctness_window_order():
    """The driver checks the FIRST 50 queries() entries: they must be
    exactly CHECK_FIRST, in order — a broken rotation silently unchecks
    the queries this round is supposed to verify."""
    import __spark_entry__ as e

    from csv2db_spark.registry import CHECK_FIRST

    names = list(e.queries().keys())
    assert len(CHECK_FIRST) == 50
    assert names[: len(CHECK_FIRST)] == list(CHECK_FIRST)
