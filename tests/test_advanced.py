"""Operator-level tests for the round-2 additions (k-means, time-series
gap fill, repetition signals). Cross-engine parity is covered by
tests/test_parity.py; these pin the operator semantics themselves on
crafted inputs, plus the plan shapes that matter at scale."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from csv2db_spark.llm.cluster import kmeans_assign, kmeans_step
from csv2db_spark.llm.text import repetition_stats
from csv2db_spark.operators.timeseries import gap_fill, resample
from csv2db_spark.sources import load_table


# ------------------------------------------------------------- k-means


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_kmeans_assign_matches_numpy(spark, emb):
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), "embedding"
    )
    got = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(emb, cents).collect()
    }
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    cmat = {i: vecs[i] for i in range(8)}
    for vid, v in vecs.items():
        d2 = {cid: float(((v - c) ** 2).sum()) for cid, c in cmat.items()}
        best = min(d2, key=lambda cid: (d2[cid], cid))
        # quantized-integer argmin must agree with float argmin except on
        # genuine near-ties; allow 1e-9 relative slack
        assert d2[got[vid]] <= d2[best] * (1 + 1e-9)


def test_kmeans_step_means(spark, emb):
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), "embedding"
    )
    asn = {r.vec_id: r.cluster_id for r in kmeans_assign(emb, cents).collect()}
    step = kmeans_step(emb, cents).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    members: dict[int, list[np.ndarray]] = {}
    for vid, cid in asn.items():
        members.setdefault(cid, []).append(vecs[vid])
    for row in step:
        grp = np.stack(members[row.cluster_id])
        assert row.n_members == len(grp)
        assert row.mean_el == pytest.approx(grp[:, row.dim].mean(), abs=2e-8)


def test_kmeans_assign_broadcasts_centroids(spark, emb):
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cluster_id"), "embedding"
    )
    plan = kmeans_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan  # the corpus must not shuffle to assign


# ------------------------------------------------------- gap fill


def test_gap_fill_semantics(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        (1, 100, ts(1), 10.0),   # bucket 00:00
        (2, 100, ts(2), 5.0),    # bucket 00:00
        (3, 100, ts(26), 7.0),   # bucket 24:00 -> two 6h gaps between
        (4, 200, ts(3), 1.0),    # single-bucket user: no gaps
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    out = gap_fill(resample(ev, hours=6), hours=6).collect()
    u100 = sorted(
        [r for r in out if r.user_id == 100], key=lambda r: r.bucket
    )
    assert [r.bucket.hour // 6 + r.bucket.day * 4 for r in u100] == [4, 5, 6, 7, 8]
    assert [r.n_events for r in u100] == [2, 0, 0, 0, 1]
    assert [r.is_gap for r in u100] == [False, True, True, True, False]
    assert [r.sum_value for r in u100] == [15.0, None, None, None, 7.0]
    assert [r.filled_value for r in u100] == [15.0, 15.0, 15.0, 15.0, 7.0]
    u200 = [r for r in out if r.user_id == 200]
    assert len(u200) == 1 and u200[0].n_events == 1 and not u200[0].is_gap


# ------------------------------------------------- repetition signals


def test_repetition_stats_crafted(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "w x y z q r")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    r1 = out[1]
    # 2-grams: ab ba ab ba ab -> 5 total, top (a b) x3
    assert (r1.n_2grams, r1.top2_cnt) == (5, 3)
    assert r1.top2_frac == pytest.approx(0.6)
    # 3-grams: aba bab aba bab -> all four belong to duplicated grams
    assert (r1.n_3grams, r1.dup3_cnt) == (4, 4)
    assert r1.dup3_frac == pytest.approx(1.0)
    r2 = out[2]
    # all-distinct text: top 2-gram appears once, no duplicate 3-grams
    assert (r2.n_2grams, r2.top2_cnt, r2.dup3_cnt) == (5, 1, 0)
    assert r2.dup3_frac == 0.0


# --------------------------------------------- cast error modes / progress


def test_cast_on_error_modes(spark):
    from pyspark.sql import types as T

    from csv2db_spark.ingest import cast_to_schema

    target = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    raw = spark.createDataFrame(
        [("1", "1.5"), ("2", "oops"), ("3", "")], "k string, v string"
    )
    dropped = cast_to_schema(raw, target, on_error="drop").collect()
    assert [(r.k, r.v) for r in sorted(dropped)] == [(1, 1.5), (3, None)]
    nulled = cast_to_schema(raw, target, on_error="null").collect()
    assert [(r.k, r.v) for r in sorted(nulled)] == [(1, 1.5), (2, None), (3, None)]
    with pytest.raises(Exception, match="cannot cast"):
        cast_to_schema(raw, target, on_error="raise").collect()
    with pytest.raises(ValueError):
        cast_to_schema(raw, target, on_error="bogus")


def test_progress_meter_samples(spark):
    from csv2db_spark.progress import ProgressMeter

    with ProgressMeter(spark, input_bytes=10_000, interval=0.05) as m:
        spark.range(0, 30_000_000, 1, 64).selectExpr(
            "sum(id) as s"
        ).write.format("noop").mode("overwrite").save()
    assert all(d <= t for d, t in m.samples)
    # below the reference's 100-byte threshold the meter must stay off
    with ProgressMeter(spark, input_bytes=50, interval=0.05) as m2:
        spark.range(10).count()
    assert m2.samples == [] and m2._thread is None


def test_progress_meter_logs_the_error_that_stops_it(caplog):
    """A failed poll stops the meter, and the error is logged, not lost."""
    import logging
    import time

    from csv2db_spark.progress import ProgressMeter

    class Gone:
        @property
        def sparkContext(self):
            raise RuntimeError("session torn down")

    with caplog.at_level(logging.DEBUG, logger="csv2db_spark.progress"):
        with ProgressMeter(Gone(), interval=0.01) as m:
            time.sleep(0.2)
    assert not m._thread.is_alive() and m.samples == []
    (rec,) = [r for r in caplog.records if r.name == "csv2db_spark.progress"]
    assert rec.levelno == logging.DEBUG and "session torn down" in rec.exc_text


def test_interpolate_linear_crafted(spark):
    import datetime as dt

    from csv2db_spark.operators.timeseries import interpolate_linear

    b = lambda h: dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
    dense = spark.createDataFrame(
        [
            (1, b(0), 1, 10.0),
            (1, b(6), 0, None),
            (1, b(12), 0, None),
            (1, b(18), 1, 40.0),
            (1, b(24), 0, None),   # trailing gap -> ffill
            (2, b(0), 0, None),    # leading gap -> bfill
            (2, b(6), 1, 5.0),
        ],
        "user_id long, bucket timestamp_ntz, n_events long, sum_value double",
    )
    got = {
        (r.user_id, r.bucket.hour + r.bucket.day * 24): r.interp_value
        for r in interpolate_linear(dense).collect()
    }
    assert got[(1, 24)] == 10.0
    assert got[(1, 30)] == pytest.approx(20.0)   # 10 + (40-10)*1/3
    assert got[(1, 36)] == pytest.approx(30.0)   # 10 + (40-10)*2/3
    assert got[(1, 42)] == 40.0
    assert got[(1, 48)] == 40.0                   # ffill past last obs
    assert got[(2, 24)] == 5.0                    # bfill before first obs


def test_salient_terms_crafted(spark):
    from csv2db_spark.llm.text import salient_terms

    docs = spark.createDataFrame(
        [(1, "apple apple apple common"), (2, "pear common common pear")],
        "doc_id long, text string",
    )
    out = salient_terms(docs, k=1).collect()
    top = {r.doc_id: (r.term, r.tf, r.df) for r in out}
    # 'apple'/'pear' are doc-exclusive (df=1) and beat 'common' (df=2)
    assert top[1] == ("apple", 3, 1)
    assert top[2] == ("pear", 2, 1)


def test_sqlapi_composes_with_operators(spark, sf_dir):
    """run_sql results are plain DataFrames: feed one into an operator."""
    from csv2db_spark.operators.quality import benford_report
    from csv2db_spark.sqlapi import run_sql

    df = run_sql(
        spark, sf_dir, "SELECT o_totalprice FROM orders WHERE o_custkey < 100"
    )
    out = benford_report(df, "o_totalprice")
    assert out.count() >= 1


def test_sqlapi_view_registration_idempotent(spark, sf_dir):
    from csv2db_spark.sqlapi import register_tables

    register_tables(spark, sf_dir)
    register_tables(spark, sf_dir)  # second call must not raise
    assert spark.sql("SELECT count(*) FROM region").collect()[0][0] > 0
