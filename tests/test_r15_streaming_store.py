"""Streaming minhash store: band-key-partitioned state. Pins the
properties the layout must keep:

1. **At-least-once replay idempotence** — a batch owns its ``b=N``
   store partitions and rewrites them wholesale, so re-running a batch
   handler (the foreachBatch replay case) reproduces identical store
   contents and identical pairs, never a double-append.
2. **Partition-pruned standing reads** — the per-batch band and
   signature lookups carry PartitionFilters over the bucket columns
   instead of flat store scans (the scale property the layout exists
   for).
3. **A fixed bucket count** — the session cannot change the buckets a
   later batch probes away from those the store was written to.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from csv2db_spark.sources import load_table
from csv2db_spark.streaming.ops import (
    _partition_values,
    minhash_dedup_batch_handler,
)


def _pairs(spark, work):
    return sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.read.parquet(os.path.join(work, "pairs")).collect()
    )


def _sig_rows(spark, work):
    return sorted(
        (r.doc_id, tuple(sorted(r.hset)))
        for r in spark.read.parquet(os.path.join(work, "sig")).collect()
    )


@pytest.fixture(scope="module")
def dedup_store(spark, sf_dir):
    """One two-batch store built through the real batch handler,
    shared by both pins (building it dominates the tests' cost)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="c2s_smd_store_")
    handle = minhash_dedup_batch_handler(spark, work, threshold=0.2)
    for b in range(2):
        handle(docs.where(F.col("doc_id") % 2 == b), b)
    return docs, work, handle


def test_minhash_batch_replay_is_idempotent(spark, dedup_store):
    docs, work, handle = dedup_store
    first = _pairs(spark, work)
    sig_first = _sig_rows(spark, work)
    # at-least-once replay: batch 1 fires again with identical input
    handle(docs.where(F.col("doc_id") % 2 == 1), 1)
    assert _pairs(spark, work) == first, "replay double-appended pairs"
    assert _sig_rows(spark, work) == sig_first, (
        "replay changed the signature store"
    )
    assert first, "vacuous: no near-dup pairs found at this threshold"
    # an EMPTY micro-batch writes no partition directories; the
    # explicit-schema reads must cope (a schema-inferring read of the
    # empty b=2 store partition would fail), and detection state must
    # be unchanged
    handle(docs.where(F.lit(False)), 2)
    assert _pairs(spark, work) == first, "empty batch changed the pairs"


def test_minhash_standing_reads_are_partition_pruned(spark, dedup_store):
    _, work, _ = dedup_store
    band_dir = os.path.join(work, "bands")
    sig_dir = os.path.join(work, "sig")
    # the directory-name probe the handler uses must agree with the data
    probed = _partition_values(os.path.join(band_dir, "b=1"), "bk")
    assert probed is not None and probed == sorted(set(probed))
    got = sorted(
        r.bk
        for r in spark.read.parquet(os.path.join(band_dir, "b=1"))
        .select("bk")
        .distinct()
        .collect()
    )
    assert probed == got
    # the standing reads, exactly as the handler issues them, must carry
    # PartitionFilters (pruned bucket directories), not flat scans
    bands_all = (
        spark.read.parquet(band_dir).where(F.col("bk").isin(probed))
    )
    plan = bands_all._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bk" in plan, plan
    store = spark.read.parquet(sig_dir).where(F.col("dk").isin([0, 1, 2]))
    splan = store._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [dk" in splan, splan


def test_store_buckets_do_not_follow_the_session_conf(spark, tmp_path):
    """The store's bucket count is a layout constant: a handler created
    after the session's ``spark.csv2db.stream.storeBuckets`` changed
    (a restart with another setting) still probes the buckets the
    earlier batch was written to, so a duplicate across the two batches
    is found."""
    text = "the quick brown fox jumps over the lazy dog " * 4
    work = str(tmp_path / "store")
    key = "spark.csv2db.stream.storeBuckets"

    def docs(doc_id):
        return spark.createDataFrame([(doc_id, text)], "doc_id long, text string")

    minhash_dedup_batch_handler(spark, work)(docs(1), 0)
    spark.conf.set(key, "1000")
    try:
        minhash_dedup_batch_handler(spark, work)(docs(2), 1)
    finally:
        spark.conf.unset(key)
    assert [(a, b) for a, b, _ in _pairs(spark, work)] == [(1, 2)]
