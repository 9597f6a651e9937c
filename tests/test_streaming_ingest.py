"""Continuous CSV ingestion: batch ingest semantics (P1-P8) through a
streaming directory watch."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import types as T

from csv2db_spark.streaming.ops import run_to_df, streaming_ingest_csv

TARGET = T.StructType(
    [
        T.StructField("a", T.LongType(), True),
        T.StructField("b", T.IntegerType(), False),
        T.StructField("c", T.StringType(), True),
    ]
)


def _messages(exc) -> str:
    """The message of a captured exception and of the JVM exceptions
    that caused it, where Spark's reader errors sit."""
    out = []
    while exc is not None:
        out.append(str(exc))
        exc = getattr(exc, "_cause", None)
    return "\n".join(out)


def test_streaming_ingest_two_files(spark, tmp_path):
    watch = tmp_path / "incoming"
    watch.mkdir()
    (watch / "f1.csv").write_text("a,b,c\n1,2,x\n,3,\n")
    (watch / "f2.csv").write_text("a,b,c\n9,8,y\n")
    out = streaming_ingest_csv(spark, str(watch), TARGET)
    got = run_to_df(out, spark, "append")
    rows = {tuple(r) for r in got.collect()}
    # empty string -> NULL for nullable a and c; non-null b parsed
    assert rows == {(1, 2, "x"), (None, 3, None), (9, 8, "y")}
    assert [f.dataType for f in got.schema.fields] == [
        T.LongType(), T.IntegerType(), T.StringType(),
    ]


def test_streaming_ingest_scrambled_header_aligns_by_name(spark, tmp_path):
    # file header order differs from target order: the sniffed file
    # layout + reconcile_by_name must land values in the right columns
    watch = tmp_path / "incoming_scrambled"
    watch.mkdir()
    (watch / "f.csv").write_text("c,a,b\nx,1,2\n,,3\n")
    out = streaming_ingest_csv(spark, str(watch), TARGET)
    got = run_to_df(out, spark, "append")
    assert got.columns == ["a", "b", "c"]
    rows = {tuple(r) for r in got.collect()}
    assert rows == {(1, 2, "x"), (None, 3, None)}


def test_streaming_ingest_header_subset_null_fills(spark, tmp_path):
    # file carries a subset of target columns (+ an extra): by-name
    # reconcile drops the extra and null-fills the missing nullable
    watch = tmp_path / "incoming_subset"
    watch.mkdir()
    (watch / "f.csv").write_text("b,c,junk\n7,hello,zzz\n")
    out = streaming_ingest_csv(spark, str(watch), TARGET)
    got = run_to_df(out, spark, "append").collect()
    assert [tuple(r) for r in got] == [(None, 7, "hello")]


def test_streaming_ingest_inconsistent_headers_raise(spark, tmp_path):
    # the streaming CSV source binds ONE positional schema per directory;
    # a second layout in the same watch dir would be loaded by position,
    # so the scan's header check fails the stream instead
    watch = tmp_path / "incoming_mixed"
    watch.mkdir()
    (watch / "f1.csv").write_text("a,b,c\n1,2,x\n")
    (watch / "f2.csv").write_text("c,a,b\nx,1,2\n")
    out = streaming_ingest_csv(spark, str(watch), TARGET)
    with pytest.raises(StreamingQueryException) as failed:
        run_to_df(out, spark, "append")
    assert "CSV header does not conform" in _messages(failed.value)


def test_streaming_ingest_late_file_with_swapped_header_fails(spark, tmp_path):
    """A file that reaches the watched directory after the stream is
    defined is checked against the first file's header too: with two
    columns swapped its values would cast cleanly into each other's
    columns."""
    watch = tmp_path / "incoming_late"
    watch.mkdir()
    (watch / "f1.csv").write_text("a,b,c\n1,2,x\n")
    out = streaming_ingest_csv(spark, str(watch), TARGET)
    (watch / "f2.csv").write_text("b,a,c\n3,4,y\n")
    with pytest.raises(StreamingQueryException) as failed:
        run_to_df(out, spark, "append")
    assert "CSV header does not conform" in _messages(failed.value)


def test_streaming_and_batch_agree_on_empty_cells(spark, tmp_path):
    """An empty cell in a NOT NULL string column loads "" in batch (the
    identity mapper, common/val_mapper.go:44-46); the stream must load
    the same rows instead of failing on a NULL the reader made up."""
    from csv2db_spark.ingest import ingest_csv

    target = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("s", T.StringType(), False),
        ]
    )
    watch = tmp_path / "incoming_empty"
    watch.mkdir()
    (watch / "f.csv").write_text('a,s\n1,\n2,x\n3,""\n')
    batch = ingest_csv(spark, str(watch / "f.csv"), target).collect()
    out = streaming_ingest_csv(spark, str(watch), target)
    streamed = run_to_df(out, spark, "append").collect()
    assert sorted(tuple(r) for r in streamed) == sorted(tuple(r) for r in batch)
    assert sorted(tuple(r) for r in batch) == [(1, ""), (2, "x"), (3, "")]


def test_streaming_ingest_headerless_by_ordinal(spark, tmp_path):
    watch = tmp_path / "incoming2"
    watch.mkdir()
    # 4 columns in the file, 3 in the target: excess dropped by ordinal
    (watch / "f.csv").write_text("5,6,z,junk\n")
    out = streaming_ingest_csv(spark, str(watch), TARGET, has_header=False)
    got = run_to_df(out, spark, "append").collect()
    assert [tuple(r) for r in got] == [(5, 6, "z")]


def test_stream_rollup_matches_batch_aggregation(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from csv2db_spark.sources import load_table
    from csv2db_spark.streaming.ops import events_stream, stream_rollup_to_parquet

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            F.min("ts_i").alias("first_ts"),
            F.max("ts_i").alias("last_ts"),
        )

    store = str(tmp_path / "rollup")
    stream = events_stream(spark, sf_dir)
    stream_rollup_to_parquet(
        stream,
        store,
        agg_builder=partial,
        keys=["event_type"],
        sums=["sum_value"],
        counts=["n_events"],
        mins=["first_ts"],
        maxs=["last_ts"],
        checkpoint=str(tmp_path / "ckpt"),
    )
    # maintained store must equal one batch aggregation over everything
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_i", F.col("ts").cast("timestamp")
    )
    want = {
        r.event_type: (r.n_events, r.sum_value, r.first_ts, r.last_ts)
        for r in partial(ev).collect()
    }
    got = {
        r.event_type: (r.n_events, r.sum_value, r.first_ts, r.last_ts)
        for r in spark.read.parquet(store).collect()
    }
    assert got == want


def test_stream_rollup_replay_is_idempotent(spark, sf_dir, tmp_path):
    # foreachBatch is at-least-once: a crash between the store swap and
    # the checkpoint commit replays the batch on restart. The persisted
    # _last_batch_id marker must make the fold skip the replay instead
    # of double-counting it.
    import glob
    import os

    import pyspark.sql.functions as F

    from csv2db_spark.streaming.ops import events_stream, stream_rollup_to_parquet

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )

    store = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    kwargs = dict(
        agg_builder=partial,
        keys=["event_type"],
        sums=["sum_value"],
        counts=["n_events"],
        checkpoint=ckpt,
    )
    stream_rollup_to_parquet(events_stream(spark, sf_dir), store, **kwargs)
    before = {
        r.event_type: (r.n_events, r.sum_value)
        for r in spark.read.parquet(store).collect()
    }
    # simulate the crash: drop the last commit marker so Spark replays
    # the final batch (same offsets, same data) on the next start
    commits = sorted(
        c
        for c in glob.glob(os.path.join(ckpt, "commits", "*"))
        if not os.path.basename(c).startswith(".")
    )
    assert commits, "checkpoint recorded no commits"
    os.remove(commits[-1])
    # drop the Hadoop local-FS checksum sidecar too, or the recreate of
    # the commit file fails and masquerades as a concurrent-query error
    crc = os.path.join(
        os.path.dirname(commits[-1]),
        "." + os.path.basename(commits[-1]) + ".crc",
    )
    if os.path.exists(crc):
        os.remove(crc)
    stream_rollup_to_parquet(events_stream(spark, sf_dir), store, **kwargs)
    after = {
        r.event_type: (r.n_events, r.sum_value)
        for r in spark.read.parquet(store).collect()
    }
    assert after == before  # replayed batch folded once, not twice


def test_stream_retractions_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The retraction sink's marker must skip a replayed batch: a
    double-applied tombstone corrupts the view as badly as a
    double-counted insert."""
    import glob
    import os

    import pyspark.sql.functions as F

    from csv2db_spark.streaming.ops import (
        events_stream,
        stream_retractions_to_parquet,
    )

    def delta(sf_dir_):
        ev = events_stream(spark, sf_dir_)
        return ev.select(
            "event_type",
            "value",
            F.explode(
                F.when(
                    F.col("event_id") % 5 == 0, F.array(F.lit(1), F.lit(-1))
                ).otherwise(F.array(F.lit(1)))
            ).alias("op"),
        )

    store = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    kwargs = dict(
        keys=["event_type"],
        op_col="op",
        count_alias="n_rows",
        sum_cols={
            "sum_value": F.coalesce(F.col("value"), F.lit(0.0)).cast(
                "decimal(18,3)"
            )
        },
        checkpoint=ckpt,
    )
    stream_retractions_to_parquet(delta(sf_dir), store, **kwargs)
    before = {
        r.event_type: (r.n_rows, r.sum_value)
        for r in spark.read.parquet(store).collect()
    }
    # every group must have survived retraction with a positive count
    assert before and all(n > 0 for n, _ in before.values())
    commits = sorted(
        c
        for c in glob.glob(os.path.join(ckpt, "commits", "*"))
        if not os.path.basename(c).startswith(".")
    )
    assert commits, "checkpoint recorded no commits"
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]),
        "." + os.path.basename(commits[-1]) + ".crc",
    )
    if os.path.exists(crc):
        os.remove(crc)
    stream_retractions_to_parquet(delta(sf_dir), store, **kwargs)
    after = {
        r.event_type: (r.n_rows, r.sum_value)
        for r in spark.read.parquet(store).collect()
    }
    assert after == before


def test_stream_retractions_drop_cancelled_groups(spark, tmp_path):
    """A group whose rows are all retracted leaves the view entirely."""
    import pyspark.sql.functions as F

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [("a", 1.0, 1), ("a", 1.0, -1), ("b", 2.0, 1)],
        "g string, v double, op int",
    ).coalesce(1).write.parquet(str(src / "batch"))

    from csv2db_spark.streaming.ops import stream_retractions_to_parquet

    stream = (
        spark.readStream.schema("g string, v double, op int")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    store = str(tmp_path / "view")
    stream_retractions_to_parquet(
        stream,
        store,
        keys=["g"],
        op_col="op",
        sum_cols={"sv": F.col("v").cast("decimal(10,2)")},
        checkpoint=str(tmp_path / "ckpt"),
    )
    rows = {r.g: (r.n_rows, float(r.sv)) for r in spark.read.parquet(store).collect()}
    assert rows == {"b": (1, 2.0)}  # 'a' fully cancelled -> absent


def test_stream_cdc_upsert_batch_split_invariant(spark, tmp_path):
    """The r08 driver flake, forced: a change stream split into multiple
    micro-batches (maxFilesPerTrigger=1) staged in ADVERSARIAL order —
    the file holding each key's NEWEST change is processed FIRST, the
    stale changes arrive in a LATER batch. Per-batch latest-wins +
    unconditional merge would clobber the fresh values with the stale
    batch; the recency-conditioned merge (version_col) must equal the
    global max_by reduction regardless of how Spark groups files into
    batches."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from csv2db_spark.snapshots import SnapshotTable
    from csv2db_spark.streaming.ops import stream_cdc_to_snapshot

    src = tmp_path / "cdc_src"
    src.mkdir()
    cols = ["event_id", "user_id", "value"]

    def stage(rows, name, mtime):
        d = tmp_path / ("w_" + name)
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(str(d))
        part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        tgt = src / name
        shutil.move(str(part), str(tgt))
        os.utime(tgt, (mtime, mtime))

    # FileStreamSource orders unread files oldest-mtime-first: the file
    # with the NEWER event_ids gets the older mtime, so batch 0 applies
    # the fresh values and batch 1 replays the stale ones.
    stage([(10, 1, 111.0), (11, 2, 222.0)], "newer.parquet", 1_000)
    stage([(1, 1, -5.0), (2, 2, -6.0), (3, 3, 333.0)], "older.parquet", 2_000)

    base = (
        spark.createDataFrame([(1,), (2,), (3,), (99,)], ["user_id"])
        .withColumn("last_value", F.lit(-1.0))
        .withColumn("last_event_id", F.lit(None).cast("long"))
    )
    t = SnapshotTable(spark, str(tmp_path / "users_tbl"))
    t.create(base)

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )

    def latest(b):
        return b.groupBy("user_id").agg(
            F.expr("max_by(value, event_id)").alias("last_value"),
            F.max("event_id").alias("last_event_id"),
        )

    stream_cdc_to_snapshot(
        stream,
        t,
        on="user_id",
        reduce=latest,
        checkpoint=str(tmp_path / "cp"),
        version_col="last_event_id",
    )

    # two merge batches really happened: create=1, batch0=2, batch1=3
    assert t.current_version() == 3
    # version 2 proves the adversarial order held (newer file first)
    v2 = {r["user_id"]: r["last_value"] for r in t.read(2).collect()}
    assert v2[1] == 111.0 and v2[2] == 222.0
    # head: the stale second batch must NOT have clobbered fresh keys
    got = {
        r["user_id"]: (r["last_value"], r["last_event_id"])
        for r in t.read().collect()
    }
    assert got == {
        1: (111.0, 10),
        2: (222.0, 11),
        3: (333.0, 3),
        99: (-1.0, None),
    }
