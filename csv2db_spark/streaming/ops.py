"""Structured Streaming operator surface over the ``events`` fixture.

The reference streams *bytes* through a 2-stage pipeline but has no
event-time semantics at all (SURVEY.md §2.2: streaming **Absent**; the
single-pass loop is ``csv2db.go:80-113``). This module supplies the
streaming surface a Spark-native engine should have: event-time windows
(tumbling / sliding / session), watermark-driven late-data handling,
streaming dedup, and an arbitrary-stateful operator via
``applyInPandasWithState``.

Design notes (scale-first):

- **Event-time is an instant, not a wall clock.** The fixture stores naive
  timestamps; ``withWatermark`` requires TIMESTAMP (with local
  zone), whose wall-clock rendering depends on the session timezone. We
  therefore build the event-time column directly from epoch micros
  (timezone-free arithmetic from the file's actual physical type — see
  ``events_stream``), window on it (window boundaries are epoch-aligned),
  and convert the window bounds back to naive-UTC TIMESTAMP_NTZ on
  output. Results are bit-identical under any driver session timezone.
- **State partitioning.** Stateful operators shuffle by grouping key; the
  state-store partition count is fixed at first run from
  ``spark.sql.shuffle.partitions``. At 100 TB you size that (or let the
  operator-specific ``spark.sql.streaming.statefulOperator`` knobs and
  RocksDB state backend take over); the operator code is unchanged.
- **Watermark semantics are part of the contract.** In append mode a
  window is emitted only once the watermark (max event time - delay)
  passes its end; with ``Trigger.AvailableNow`` the final watermark is
  ``max(ts) - delay``, so trailing windows are *withheld* — our DuckDB
  oracles reproduce exactly that (``HAVING w_end <= max(ts) - delay``),
  making the late-data behavior itself hash-checked, not just row counts.

Tests replay the parquet fixture through a real ``readStream`` (file
source needs a directory; the read-only single-file fixture is staged via
symlink) with ``availableNow`` into a memory sink.
"""

from __future__ import annotations

import itertools
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.operators import stage

# naive-UTC NTZ from a TIMESTAMP instant: epoch + micros, session-TZ-free
_NTZ_FROM_TS = (
    "TIMESTAMP_NTZ '1970-01-01 00:00:00' + "
    "make_interval(0,0,0,0,0,0, CAST(unix_micros({c}) AS DECIMAL(26,6)) / 1000000)"
)

_MEMQ = itertools.count()

# Hash buckets of the streaming MinHash store (``dk``/``bk`` partition
# values). A layout constant, not a setting: a store written under one
# count and probed under another silently misses its duplicates.
STORE_BUCKETS = 16

_STAGED: dict[str, str] = {}


def ntz(c: str) -> Column:
    """TIMESTAMP (instant) column/expr -> naive-UTC TIMESTAMP_NTZ."""
    return F.expr(_NTZ_FROM_TS.format(c=c))


def _stage_dir(sf_dir: str, table: str) -> str:
    """File stream source wants a directory; fixtures are single read-only
    files. Stage a per-table symlink directory under the system tmpdir."""
    key = f"{sf_dir}/{table}"
    d = _STAGED.get(key)
    if d and os.path.isdir(d):
        return d
    d = tempfile.mkdtemp(prefix=f"c2s_stream_{table}_")
    os.symlink(f"{sf_dir}/{table}.parquet", f"{d}/{table}.parquet")
    _STAGED[key] = d
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events fixture with a timezone-independent
    event-time instant column ``ts_i`` (TIMESTAMP) alongside the raw cols.

    The fixture has shipped ``ts`` as both parquet TIMESTAMP(NANOS) (read
    as bigint under the ``nanosAsLong`` legacy conf — the vectorized
    reader rejects NANOS outright) and TIMESTAMP(MICROS)/NTZ, so the
    instant is derived from whichever physical type the file actually has
    (mirrors sources/tables.py:_load_events on the batch side)."""
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    d = _stage_dir(sf_dir, "events")
    schema = spark.read.parquet(d).schema
    sdf = spark.readStream.schema(schema).parquet(d)
    ts_t = schema["ts"].dataType
    if isinstance(ts_t, T.LongType):
        # nanos-since-epoch bigint -> floor to micros -> instant
        ts_i = F.timestamp_micros(F.expr("ts div 1000"))
    elif isinstance(ts_t, T.TimestampNTZType):
        # naive-UTC micros: micros-since-NTZ-epoch -> instant; pure NTZ
        # arithmetic, so no session-timezone dependence
        ts_i = F.timestamp_micros(
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        )
    else:  # already an instant
        ts_i = F.col("ts").cast("timestamp")
    return sdf.withColumn("ts_i", ts_i)


def run_to_df(
    out: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    state_partitions: int = 32,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink; return the materialized result as a batch DataFrame.

    The state-store partition count is pinned from
    ``spark.sql.shuffle.partitions`` at first batch; a vanilla session's
    default (200) is far too many state files for a replay test, so it is
    scoped down around the run and restored after. On a real cluster you
    size this to executor count x cores before the FIRST run of a query
    (it is frozen into the checkpoint thereafter)."""
    name = f"c2s_mem_{next(_MEMQ)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_to_jdbc(
    out: DataFrame,
    url: str,
    table: str,
    mode: str = "as-is",
    checkpoint: str | None = None,
) -> None:
    """Run a streaming DataFrame to completion (AvailableNow) into a JDBC
    table via foreachBatch + the batch mode-matrix writer (sink.write_jdbc)
    — the reference's stream-a-CSV-into-a-table identity, end to end.

    Micro-batch 0 applies ``mode`` (create/truncate/...); every later
    batch appends — per-load semantics belong to the load, not to every
    micro-batch. The gate is ``batch_id == 0``, NOT "first batch this
    process": on a checkpointed restart the resumed batches carry their
    original ids, so a destructive mode is never re-applied over rows
    committed before the restart. (If batch 0 itself is replayed —
    foreachBatch is at-least-once — re-running its truncate/drop before
    re-inserting is exactly the idempotent recovery you want.) With a
    persistent ``checkpoint`` dir, restarts resume from the last
    committed batch; exactly-once then depends on the sink's
    transactionality like any Spark JDBC pipeline (idempotent upserts or
    staging tables at scale)."""
    from csv2db_spark.sink import TableMode, write_jdbc

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        m = TableMode(mode) if batch_id == 0 else TableMode.AS_IS
        write_jdbc(batch_df, url, table, mode=m)

    w = out.writeStream.foreachBatch(write_batch).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    w.start().awaitTermination()


def _exact_sum(col: str) -> Column:
    # exact decimal accumulation -> double -> round: bit-stable vs oracle
    return F.round(F.sum(F.col(col).cast("decimal(18,2)")).cast("double"), 2)


def tumbling_window_agg(stream: DataFrame, width: str, delay: str) -> DataFrame:
    """Per-(tumbling window, event_type) counts + exact value sums; append
    mode withholds windows newer than the final watermark."""
    return (
        stream.withWatermark("ts_i", delay)
        .groupBy(F.window("ts_i", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _exact_sum("value").alias("sum_value"))
        .select(
            ntz("w.start").alias("w_start"),
            ntz("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(stream: DataFrame, width: str, slide: str, delay: str) -> DataFrame:
    """Overlapping (hopping) windows: each event lands in width/slide
    windows. Same append/watermark emission rule as tumbling."""
    return (
        stream.withWatermark("ts_i", delay)
        .groupBy(F.window("ts_i", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            _exact_sum("value").alias("sum_value"),
        )
        .select(
            ntz("w.start").alias("w_start"),
            ntz("w.end").alias("w_end"),
            "n_events",
            "min_event_id",
            "max_event_id",
            "sum_value",
        )
    )


def ohlc_window_agg(stream: DataFrame, width: str, delay: str) -> DataFrame:
    """Streaming candlestick bars: per-(tumbling window, event_type)
    open/high/low/close + count — the streaming twin of
    operators/timeseries.ohlc_bars, same no-float-arithmetic contract
    (open/close via min_by/max_by on the (ts_i, event_id) composite, so
    every emitted number is an input number).

    min_by/max_by are declarative aggregates with a partial/merge form,
    so the state per open window is ONE candidate pair per group — late
    rows fold in exactly like the batch op, and append mode withholds a
    bar until the watermark passes its window end. NULL measurements are
    dropped up front (min_by would otherwise surface them; the batch gate
    filters identically)."""
    order_key = F.struct(F.col("ts_i"), F.col("event_id"))
    return (
        stream.where(F.col("value").isNotNull())
        .withWatermark("ts_i", delay)
        .groupBy(F.window("ts_i", width).alias("w"), "event_type")
        .agg(
            F.min_by("value", order_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            ntz("w.start").alias("w_start"),
            ntz("w.end").alias("w_end"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def session_window_agg(stream: DataFrame, gap: str, delay: str) -> DataFrame:
    """Per-user session windows: sessions merge while events are < gap
    apart; a session closes (and is emitted) when the watermark passes
    last_event + gap."""
    return (
        stream.withWatermark("ts_i", delay)
        .groupBy(F.session_window("ts_i", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _exact_sum("value").alias("sum_value"))
        .select(
            ntz("w.start").alias("session_start"),
            ntz("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_keys(stream: DataFrame, keys: list[str], delay: str) -> DataFrame:
    """Streaming dedup: first occurrence per key, state expired once the
    watermark passes (bounded state at 100 TB — the point of the
    WithinWatermark variant). Output projected to the keys so the emitted
    row per key is deterministic."""
    return (
        stream.select(*keys, "ts_i")
        .withWatermark("ts_i", delay)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def stateful_user_stats(stream: DataFrame, delay: str) -> DataFrame:
    """Arbitrary stateful aggregation via ``applyInPandasWithState``:
    per-user running (n_events, sum_value, last_seen) kept in explicit
    GroupState and emitted in update mode each micro-batch.

    This is the escape hatch for operators window()/session_window() can't
    express (custom merge logic, per-key ML state, CEP-ish patterns). The
    reference's closest artifact is its per-run row counter
    (``common/inserter/batch.go:25-29``) — not stateful streaming at all.

    Batch-split-INVARIANT by algebra, no buffering needed: count and the
    exact-cents sum are commutative, and ``last_event_type`` is
    recency-conditioned on the event's own (ts, event_id) — the cdc
    merge trick — so the state equals the event-time answer under any
    micro-batch grouping or ordering (the event_id tiebreak closes the
    equal-timestamp nondeterminism the ts-only compare had).
    """
    import pandas as pd  # noqa: F401  (worker-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, sum_value_cents bigint, last_event_type string"
    )
    state_schema = (
        "n bigint, cents bigint, last_us bigint, last_id bigint, last_type string"
    )

    def update(key, pdf_iter, state: GroupState):
        n, cents, last_us, last_id, last_type = (
            state.get if state.exists else (0, 0, -1, -1, "")
        )
        for pdf in pdf_iter:
            n += len(pdf)
            # exact integer cents — no float accumulation drift; NULL
            # measurements are skipped (dropna) like SQL SUM — casting
            # NaN to int64 would raise and kill the streaming query
            cents += int(
                (pdf["value"].dropna() * 100).round().astype("int64").sum()
            )
            for r in pdf.itertuples(index=False):
                # event_id tiebreak when the source carries one; a
                # source without ids keeps the ts-only compare
                cand = (int(r.ts_us), int(getattr(r, "event_id", -1)))
                if cand > (last_us, last_id):
                    last_us, last_id = cand
                    last_type = str(r.event_type)
        state.update((n, cents, last_us, last_id, last_type))
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value_cents": [cents],
                "last_event_type": [last_type],
            }
        )

    return (
        stream.withColumn("ts_us", F.unix_micros("ts_i"))
        .withWatermark("ts_i", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def stateful_ewma(stream: DataFrame, delay: str, alpha: float = 0.25) -> DataFrame:
    """Per-key UNBOUNDED exponential smoothing in explicit GroupState —
    the true recursion y_t = alpha*x_t + (1-alpha)*y_{t-1} that the
    batch operator deliberately truncates (operators/timeseries.ewma
    keeps k lags so a DuckDB oracle can replay it; a streaming engine
    carries y_{t-1} as STATE, so the full recursion costs one float per
    key). The complementary pair is the point: batch = reproducible
    truncation, streaming = exact recursion, same smoother.

    Within each micro-batch rows fold in (ts, event_id) order; the
    recursion is correct when batches arrive in event-time order per
    key (file replay does; for out-of-order streams use
    ``stateful_ewma_buffered``, which IS this recursion behind a
    watermark buffer). Emits (user_id, n_obs, ewma) per key per batch
    in update mode — the last emission is the final state.

    Scale shape: state is (count, one float) per key; each batch
    shuffles only its own rows to their key's state partition."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_obs bigint, ewma double"
    state_schema = "n bigint, y double"

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, y = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for v in pdf["value"].astype("float64"):
                if n == 0:
                    y = v
                else:
                    y = alpha * v + (1.0 - alpha) * y
                n += 1
        state.update((n, y))
        yield pd.DataFrame({"user_id": [key[0]], "n_obs": [n], "ewma": [y]})

    return (
        stream.where(F.col("value").isNotNull())
        .withColumn("ts_us", F.unix_micros("ts_i"))
        .withWatermark("ts_i", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def stateful_ewma_buffered(
    stream: DataFrame, delay: str, alpha: float = 0.25
) -> DataFrame:
    """OUT-OF-ORDER-tolerant ``stateful_ewma`` — the "production job
    buffers by watermark first" its sibling's docstring promises, made
    real with the same mechanism as ``stateful_attribution_buffered``:
    pending (ts, event_id, value) triples live in GroupState, each
    invocation folds exactly the watermark-MATURED prefix in
    (ts, event_id) order through the recursion, and an event-time
    timeout re-fires keys so buffered tails flush on the closing
    no-data micro-batch. For disorder bounded by ``delay`` the final
    emission per key equals the in-order recursion over the event-time-
    sorted stream under ANY batch split (adversarial test in
    tests/test_streaming.py). Update mode; rows report only the matured
    observation count, so consumers can tell finality from arrival."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_obs bigint, ewma double"
    state_schema = (
        "pend_ts array<bigint>, pend_id array<bigint>, "
        "pend_val array<double>, n bigint, y double"
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            p_ts, p_id, p_val, n, y = state.get
            pend = list(zip(p_ts, p_id, p_val))
        else:
            pend, n, y = [], 0, 0.0
        for pdf in pdf_iter:
            for r in pdf.itertuples(index=False):
                pend.append((int(r.ts_us), int(r.event_id), float(r.value)))
        pend.sort()
        i = 0
        while i < len(pend) and pend[i][0] <= wm_us:
            v = pend[i][2]
            y = v if n == 0 else alpha * v + (1.0 - alpha) * y
            n += 1
            i += 1
        pend = pend[i:]
        state.update(
            (
                [p[0] for p in pend],
                [p[1] for p in pend],
                [p[2] for p in pend],
                n,
                y,
            )
        )
        if pend:
            state.setTimeoutTimestamp(
                max(pend[0][0] // 1000, wm_us // 1000 + 1)
            )
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_obs": [n], "ewma": [y]}
        )

    return (
        stream.where(F.col("value").isNotNull())
        .withColumn("ts_us", F.unix_micros("ts_i"))
        .withWatermark("ts_i", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stateful_attribution(
    stream: DataFrame,
    delay: str,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback_hours: int = 168,
) -> DataFrame:
    """Streaming last-touch attribution in explicit GroupState: per
    user, carry the most recent touch event (one struct of state) and
    emit an attribution row the moment a conversion arrives within the
    lookback — the real-time face of
    operators/funnel.last_touch_attribution. Under in-order replay the
    emitted rows are EXACTLY the batch operator's output, so unlike
    most stateful streaming this gate carries a full value-hash oracle
    (the batch SQL) rather than a rows-only check.

    Rows fold in (ts, event_id) order within each batch; correctness
    across batches needs event-time-ordered arrival per key (file
    replay provides it; for out-of-order streams use
    ``stateful_attribution_buffered`` — the same fold behind a
    watermark buffer). State: one (ts_us, id, type) triple per user,
    forever."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, conversion_id bigint, conversion_ts_us bigint, "
        "touch_id bigint, touch_type string, seconds_since_touch bigint"
    )
    state_schema = "t_us bigint, t_id bigint, t_type string"
    lookback_us = lookback_hours * 3600 * 1_000_000

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        t_us, t_id, t_type = state.get if state.exists else (None, None, None)
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for r in pdf.itertuples(index=False):
                if (
                    r.event_type == conversion_type
                    and t_us is not None
                    and (r.ts_us - t_us) <= lookback_us
                ):
                    out.append(
                        (
                            key[0],
                            int(r.event_id),
                            int(r.ts_us),
                            int(t_id),
                            t_type,
                            (int(r.ts_us) - int(t_us)) // 1_000_000,
                        )
                    )
                if r.event_type in touch_types:
                    t_us, t_id, t_type = int(r.ts_us), int(r.event_id), r.event_type
        if t_us is not None:
            state.update((t_us, t_id, t_type))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "conversion_id",
                "conversion_ts_us",
                "touch_id",
                "touch_type",
                "seconds_since_touch",
            ],
        )

    return (
        stream.withColumn("ts_us", F.unix_micros("ts_i"))
        .withWatermark("ts_i", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stateful_attribution_buffered(
    stream: DataFrame,
    delay: str,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback_hours: int = 168,
) -> DataFrame:
    """OUT-OF-ORDER-tolerant last-touch attribution — the production
    face of ``stateful_attribution``, which (like any sequential fold)
    is only correct when each user's events arrive in event-time order
    across micro-batches; Spark's file-listing batch grouping guarantees
    no such thing (the r08 cdc lesson, applied to the one stateful shape
    that cannot be made order-free algebraically).

    Per user, GroupState holds a BUFFER of pending events plus the
    folded (last-touch) state. Each invocation merges new arrivals into
    the buffer, then folds — in (ts, event_id) order — exactly the
    MATURED prefix: events at or below the current event-time watermark,
    which no still-admissible arrival can precede (anything older than
    the watermark is dropped by Spark before it reaches the state
    function). Unmatured events wait; an event-time TIMEOUT re-fires
    the key when the watermark passes its oldest pending event, so
    buffered tails flush without new data for that user (Spark's
    closing no-data micro-batch drives the final flush). Result: for
    disorder bounded by ``delay``, the emitted rows equal the in-order
    fold of the event-time-sorted stream under ANY batch split —
    pinned by the adversarial maxFilesPerTrigger=1 test in
    tests/test_streaming.py.

    State per user: the folded triple + the pending buffer, whose size
    is bounded by the user's arrivals within one watermark delay — the
    same bound every watermarked stream-stream join buffers; a user
    emitting faster than the watermark advances is backpressure, not a
    leak. Events inside the final watermark window of an availableNow
    run stay pending (they might still be preceded in a live stream) —
    the standard watermark finality contract."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, conversion_id bigint, conversion_ts_us bigint, "
        "touch_id bigint, touch_type string, seconds_since_touch bigint"
    )
    state_schema = (
        "pend_ts array<bigint>, pend_id array<bigint>, pend_type array<string>, "
        "t_us bigint, t_id bigint, t_type string"
    )
    lookback_us = lookback_hours * 3600 * 1_000_000

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            p_ts, p_id, p_ty, t_us, t_id, t_ty = state.get
            pend = list(zip(p_ts, p_id, p_ty))
        else:
            pend, t_us, t_id, t_ty = [], None, None, None
        for pdf in pdf_iter:
            for r in pdf.itertuples(index=False):
                pend.append((int(r.ts_us), int(r.event_id), r.event_type))
        pend.sort()
        out = []
        i = 0
        while i < len(pend) and pend[i][0] <= wm_us:
            ts, eid, ety = pend[i]
            i += 1
            if (
                ety == conversion_type
                and t_us is not None
                and (ts - t_us) <= lookback_us
            ):
                out.append(
                    (key[0], eid, ts, t_id, t_ty, (ts - t_us) // 1_000_000)
                )
            if ety in touch_types:
                t_us, t_id, t_ty = ts, eid, ety
        pend = pend[i:]
        state.update(
            (
                [p[0] for p in pend],
                [p[1] for p in pend],
                [p[2] for p in pend],
                t_us,
                t_id,
                t_ty,
            )
        )
        if pend:
            # fire when the watermark passes the oldest pending event;
            # must stay strictly above the current watermark
            state.setTimeoutTimestamp(
                max(pend[0][0] // 1000, wm_us // 1000 + 1)
            )
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "conversion_id",
                "conversion_ts_us",
                "touch_id",
                "touch_type",
                "seconds_since_touch",
            ],
        )

    return (
        stream.withColumn("ts_us", F.unix_micros("ts_i"))
        .withWatermark("ts_i", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_stream_join(
    stream_a: DataFrame,
    stream_b: DataFrame,
    gap: str = "10 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: for every 'click' event, the 'error'
    events of the same user within ``gap`` afterwards.

    Both sides carry watermarks and the join condition bounds event time
    — the two requirements that let Spark evict join state (otherwise a
    stream-stream join buffers forever). At 100 TB/day the state held is
    only ``gap + delay`` worth of events per side, shuffled by user_id.
    """
    a = (
        stream_a.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts_i").alias("a_ts"),
        )
        .withWatermark("a_ts", delay)
    )
    b = (
        stream_b.where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts_i").alias("b_ts"),
        )
        .withWatermark("b_ts", delay)
    )
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {gap}"))
    )
    return a.join(b, cond).select(
        F.col("a_user").alias("user_id"),
        "click_id",
        "error_id",
        (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("gap_us"),
    )


def streaming_ingest_csv(
    spark: SparkSession,
    watch_dir: str,
    target,
    has_header: bool = True,
    delimiter: str = ",",
):
    """The reference's whole identity — stream a CSV into a table
    (``csv2db.go:80-113``) — as a CONTINUOUS pipeline: watch a directory,
    and every CSV dropped into it is parsed, reconciled and cast with the
    exact batch ingest semantics (ingest.py P1-P8: header naming,
    by-name/by-ordinal alignment, empty-string→NULL iff nullable,
    FAILFAST on malformed rows and bad values), then appended to the
    sink.

    The scan (``ingest.scan_csv``, handed ``spark.readStream``) and the
    reconcile/cast (``ingest.align_and_cast``) are the batch functions
    themselves — one semantics, two execution modes. At scale: the file
    source lists incrementally (maxFilesPerTrigger batches),
    checkpointing gives exactly-once into transactional sinks.

    Header alignment: Spark's streaming CSV source applies a user schema
    POSITIONALLY, so the raw schema is built in the order of the first
    record of the first file in the watched directory (``first_record``,
    the batch sniff) and ``reconcile_by_name`` then reorders to the
    target — a scrambled header aligns correctly, like the batch path.
    Every file, including one that arrives later, must carry that header:
    the scan checks each file's header and a mismatch fails the stream
    with Spark's ``CSV header does not conform to the schema`` error.
    If the directory is empty at stream definition, names fall back to
    target order. Headerless files take their width from a file present
    at stream definition (else the target's), as batch takes it from the
    first record.
    """
    from csv2db_spark.ingest import align_and_cast, first_record, scan_csv

    first = first_record(spark, watch_dir, delimiter)
    if has_header:
        names = first or target.fieldNames()
    else:
        # the FAILFAST scan rejects a row wider than the schema, so the
        # width comes from the files like batch's first-record sniff, and
        # reconcile_by_index drops the excess columns
        width = len(first) if first else len(target.fields)
        names = [f"col{i}" for i in range(width)]
    sdf = scan_csv(spark.readStream, watch_dir, names, has_header, delimiter)
    return align_and_cast(sdf, target, has_header)


def static_enrich_join(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (broadcast) static dimension — stateless, no watermark required, the
    canonical streaming-ETL enrichment step. The dim is re-resolvable per
    batch (Spark re-plans the static side), so slowly-refreshing
    dimension snapshots work by pointing it at a table path.

    At scale the dimension broadcast is the whole story: the stream
    never shuffles; a dimension too big to broadcast means pre-keying
    the stream (shuffle on ``on``) instead — at that point consider a
    state-store join (stream-stream with a static replay) or a
    key-bucketed layout."""
    return stream.join(F.broadcast(dim), on)


def stream_to_snapshot(
    stream: DataFrame,
    table,
    checkpoint: str | None = None,
) -> None:
    """Continuously append a stream into a snapshots.SnapshotTable with
    exactly-once batches: foreachBatch hands each micro-batch to
    ``SnapshotTable.append_stream_batch``, which commits the data AND
    the batch-id marker in one atomic manifest publish — replayed
    batches (foreachBatch is at-least-once) are skipped, so the table
    equals the stream's row set exactly. Every committed version is a
    time-travel point: downstream training runs pin the version the
    moment they start and are isolated from later arrivals — the
    streaming face of reproducible dataset lineage.

    At 100 TB this is the standard "streaming lakehouse ingest" shape:
    per-batch files land under the table, one tiny JSON commit each,
    and ``compact()`` + ``vacuum()`` handle the small-file buildup the
    cadence creates."""
    import tempfile as _tempfile

    cp = checkpoint or _tempfile.mkdtemp(prefix="c2s_snapsink_cp_")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: table.append_stream_batch(b, i)
        )
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_cdc_to_snapshot(
    stream: DataFrame,
    table,
    on: list[str] | str,
    reduce=None,
    checkpoint: str | None = None,
    version_col: str | None = None,
) -> None:
    """Continuously UPSERT a change stream into a snapshots.
    SnapshotTable: each micro-batch is first reduced to one row per key
    (``reduce``, e.g. latest-event-wins via max_by — MERGE requires
    unique source keys), then handed to ``merge_stream_batch``, which
    commits the copy-on-write merge and the batch-id marker in one
    atomic manifest publish. Replayed batches are skipped, so at-least-
    once foreachBatch delivery becomes an exactly-once materialized
    view of the keyed stream — the streaming CDC-into-lakehouse shape:
    per batch, cost is O(delta + affected files), never a table
    rewrite, and every batch is a time-travel point.

    ``version_col`` names the change-ordering column the reduced batch
    carries (e.g. max event_id per key); the merge then updates a
    matched key only when the batch's version is newer, making the
    materialized view equal to the stream's GLOBAL latest-wins
    reduction under any micro-batch split. Omit it only when the
    source guarantees key-monotonic batches — Spark's file-listing
    batch grouping does not."""
    import tempfile as _tempfile

    cp = checkpoint or _tempfile.mkdtemp(prefix="c2s_cdcsink_cp_")

    def _apply(b: DataFrame, i: int) -> None:
        table.merge_stream_batch(reduce(b) if reduce else b, i, on, version_col)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_rollup_to_parquet(
    stream: DataFrame,
    path: str,
    agg_builder,
    keys: list[str],
    sums: list[str] | None = None,
    counts: list[str] | None = None,
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    checkpoint: str | None = None,
) -> None:
    """Continuously maintain a standing rollup from a RAW stream: each
    micro-batch is aggregated batch-locally by ``agg_builder(batch_df)``
    (a partial aggregate at the rollup grain — proportional to the
    batch, never to history) and folded into the parquet rollup store
    with ``operators.merge.merge_aggregates`` — the streaming face of
    incremental rollup maintenance. The batch aggregation happens
    INSIDE foreachBatch precisely so each batch contributes disjoint
    partials; a streaming groupBy in update mode would emit cumulative
    rows and double-count on merge.

    Store update is read-merge-rewrite of the rollup only (|groups|
    rows), swapped in via two renames (each atomic; between them the
    store path briefly does not exist — a racing reader can get
    path-not-found but never a mixed layout; a crash in the gap is
    restored from ``path._old`` on the next batch).

    Exactly-once fold: foreachBatch itself is at-least-once (a crash
    between the store swap and the checkpoint commit replays the batch),
    so the fold persists the last-merged ``batch_id`` in a
    ``_last_batch_id`` sidecar WRITTEN INTO the new store directory
    before the swap — store and marker commit together under one
    rename, and a replayed batch (id <= marker) is skipped instead of
    double-counted. The marker is scoped to the checkpoint: reusing an
    existing store with a FRESH checkpoint restarts batch ids at 0, so
    clear the store (or the marker) when you clear the checkpoint.
    Exactness: decimal measures merge losslessly, so the maintained
    store equals a from-scratch aggregation of every row seen (asserted
    in tests/test_streaming_ingest.py, including the replay case).
    """
    import os as _os
    import shutil as _shutil

    from csv2db_spark.operators.merge import merge_aggregates

    spark = stream.sparkSession
    marker = "_last_batch_id"  # "_" prefix: invisible to parquet readers

    def _last_folded() -> int | None:
        try:
            with open(_os.path.join(path, marker)) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        old = path + "._old"
        tmp = path + "._next"
        if not _os.path.isdir(path) and _os.path.isdir(old):
            # crash landed between the two swap renames: restore the
            # pre-merge store; the replayed batch re-merges below
            _os.rename(old, path)
        if _os.path.isdir(old):
            # crash landed after the swap, before cleanup
            _shutil.rmtree(old)
        if _os.path.isdir(path):
            last = _last_folded()
            if last is not None and batch_id <= last:
                return  # replayed batch already folded — idempotent skip
            merged = merge_aggregates(
                spark.read.parquet(path),
                agg_builder(batch_df),
                keys=keys,
                sums=sums or [],
                counts=counts or [],
                mins=mins or [],
                maxs=maxs or [],
            )
        else:
            merged = agg_builder(batch_df)
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        with open(_os.path.join(tmp, marker), "w") as fh:
            fh.write(str(batch_id))
        if _os.path.isdir(path):
            _os.rename(path, old)
            _os.rename(tmp, path)
            _shutil.rmtree(old)
        else:
            _os.rename(tmp, path)

    w = stream.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    w.start().awaitTermination()


def stream_minhash_dedup(
    doc_stream: DataFrame,
    work_dir: str,
    threshold: float = 0.5,
    checkpoint: str | None = None,
) -> None:
    """Streaming near-duplicate detection — the flagship MinHash+LSH
    dedup running under Structured Streaming with STANDING STATE: each
    arriving document micro-batch computes only its own signatures
    (one Arrow pass, batch-sized), band-joins against the signature
    store accumulated from every earlier batch, exact-verifies the
    band collisions on hash sets, and appends the verified pairs.
    Detection is ORDER-INVARIANT by construction: a pair is emitted
    exactly when its LATER member arrives (the earlier member is in
    the store, or both are in the batch), so the union over any batch
    partitioning of the corpus equals the from-scratch whole-corpus
    run — which is exactly what the gate's oracle checks.

    State layout under ``work_dir`` (a band-key-partitioned store):
    ``sig/b=N/dk=H`` (per-batch signatures, sub-partitioned by
    a doc-id hash bucket), ``bands/b=N/bk=H`` (per-batch PRECOMPUTED
    band rows, sub-partitioned by a band-key hash bucket) and
    ``pairs/b=N`` (per-batch verified pairs). Idempotence needs no
    marker sidecar: a batch owns its three ``b=N`` directories and
    rewrites them wholesale (``mode=overwrite``), so an at-least-once
    foreachBatch replay reproduces byte-identical partitions instead
    of double-appending — the store must start empty for a fresh
    checkpoint (the replay contract is scoped to one checkpoint
    lineage, like stream_rollup_to_parquet's marker).

    Scale shape per batch: the signature pass touches only the batch;
    band rows are computed ONCE, when their batch arrives — history is
    never re-banded (the r14 shape re-projected every stored signature
    into bands on every arrival). The batch's band-bucket set (<=
    ``STORE_BUCKETS`` ints) is collected
    to a PLAN-TIME literal, so the standing band read prunes to the
    ``bk=`` directories the batch can possibly collide with —
    PartitionFilters on the scan, not a flat store pass; the same
    device prunes the hset verify read to the candidate ids' ``dk=``
    buckets. The band join then BROADCASTS the batch's bands
    (batch_docs x 4 bands x 3 longs) against the pruned store, and the
    verify joins only docs appearing in surviving candidate pairs. At
    100 TB the per-batch read is |store|/buckets per probed bucket."""
    import os as _os

    handle = minhash_dedup_batch_handler(
        doc_stream.sparkSession, work_dir, threshold
    )
    ckpt = checkpoint or _os.path.join(work_dir, "ckpt")
    q = (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _with_batch_col(schema):
    """A store-root read schema: the per-batch data schema plus the
    ``b=N`` partition directory column."""
    from pyspark.sql import types as T

    return T.StructType(
        list(schema.fields) + [T.StructField("b", T.IntegerType())]
    )


def _partition_values(path: str, key: str) -> list[int] | None:
    """Partition-column values present under a parquet directory, read
    from the ``key=value`` directory names — a driver-side listing that
    costs no Spark job. Returns None when ``path`` is not a locally
    listable directory (object store / HDFS), so callers fall back to a
    collect."""
    import os as _os

    try:
        names = _os.listdir(path)
    except OSError:
        return None
    vals = [
        int(n.split("=", 1)[1]) for n in names if n.startswith(f"{key}=")
    ]
    return sorted(vals) if vals else None


def minhash_dedup_batch_handler(
    spark: SparkSession, work_dir: str, threshold: float = 0.5
):
    """The per-batch handler behind ``stream_minhash_dedup``, exposed
    so tests can drive at-least-once REPLAYS directly (call it twice
    with the same batch_id: the second call must rewrite the batch's
    ``b=N`` partitions to identical contents, never double-append)."""
    import os as _os

    from csv2db_spark.llm import dedup as _D

    sig_dir = _os.path.join(work_dir, "sig")
    band_dir = _os.path.join(work_dir, "bands")
    res_dir = _os.path.join(work_dir, "pairs")
    rows = _D.BAND_ROWS
    band_keys = ["band_id"] + [f"v{j}" for j in range(rows)]
    # few write tasks: a micro-batch's store append is small by
    # definition, and each extra reduce task costs a launch + a file
    # commit (measured: 32 tasks ~1 s/write slower than 8 at fixture
    # size for the identical one-file-per-bucket layout)
    n_write_tasks = 8

    def _bucket(*cols) -> Column:
        return F.pmod(F.xxhash64(*cols), F.lit(STORE_BUCKETS))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sig_new = _D.minhash_doc_signatures(
            batch_df.select("doc_id", "text")
        ).withColumn("dk", _bucket(F.col("doc_id")))
        # repartition ON the partition column before each partitionBy
        # write: without it every signature-pass task writes a file per
        # bucket it holds (measured 11k files over 4 fixture batches —
        # a 6x gate slowdown from commit+listing alone); with it each
        # bucket is one task -> one file per (batch, bucket)
        sig_new.repartition(n_write_tasks, "dk").write.mode(
            "overwrite"
        ).partitionBy("dk").parquet(_os.path.join(sig_dir, f"b={batch_id}"))
        # reads carry EXPLICIT schemas: an all-short-docs (or empty)
        # micro-batch writes no partition directories at all, and a
        # schema-inferring read of such a store would fail where the
        # old non-partitioned layout wrote an empty file with metadata
        sig_b = spark.read.schema(sig_new.schema).parquet(
            _os.path.join(sig_dir, f"b={batch_id}")
        )
        bands_new = _D.minhash_bands(sig_b.drop("dk")).withColumn(
            "bk", _bucket(*[F.col(k) for k in band_keys])
        )
        bands_new.repartition(n_write_tasks, "bk").write.mode(
            "overwrite"
        ).partitionBy("bk").parquet(_os.path.join(band_dir, f"b={batch_id}"))
        bands_probe = spark.read.schema(bands_new.schema).parquet(
            _os.path.join(band_dir, f"b={batch_id}")
        )
        # the batch's bucket set becomes a plan-time literal, so the
        # standing band read below carries PartitionFilters — only bk=
        # directories the batch can collide with are listed and
        # scanned. The set comes from the just-written directory names
        # (driver-side listing, zero Spark jobs); the bounded collect
        # (<= STORE_BUCKETS ints) is the fallback when the store is not
        # on a locally listable filesystem
        probed = _partition_values(
            _os.path.join(band_dir, f"b={batch_id}"), "bk"
        )
        if probed is None:
            probed = sorted(
                r.bk for r in bands_probe.select("bk").distinct().collect()
            )
        bands_all = (
            spark.read.schema(_with_batch_col(bands_new.schema))
            .parquet(band_dir)
            .where(F.col("bk").isin(probed))
            .drop("b", "bk")
        )
        cand = (
            bands_all.alias("a")
            .join(
                F.broadcast(bands_probe.drop("bk")).alias("n"),
                [F.col(f"a.{k}") == F.col(f"n.{k}") for k in band_keys]
                + [F.col("a.doc_id") != F.col("n.doc_id")],
            )
            .select(
                F.least("a.doc_id", "n.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "n.doc_id").alias("doc_b"),
            )
            .distinct()
            # reuse: the dk probe, both id legs and both verify joins
            # read the candidate set
            .transform(stage.materialize_stage)
        )
        ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # candidate ids' dk buckets (bounded collect over the
        # checkpointed candidate set) prune the hset verify read the
        # same way the band buckets pruned the band read
        dprobed = sorted(
            r.d
            for r in ids.select(_bucket(F.col("doc_id")).alias("d"))
            .distinct()
            .collect()
        )
        store = (
            spark.read.schema(_with_batch_col(sig_new.schema))
            .parquet(sig_dir)
            .where(F.col("dk").isin(dprobed))
            .drop("b", "dk")
        )
        hs = store.join(F.broadcast(ids), "doc_id").select("doc_id", "hset")
        sa = hs.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("ha"))
        sb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("hb"))
        inter = F.size(F.array_intersect("ha", "hb"))
        jac = inter / (F.size("ha") + F.size("hb") - inter)
        out = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
        )
        out.write.mode("overwrite").parquet(
            _os.path.join(res_dir, f"b={batch_id}")
        )

    return handle


def stream_retractions_to_parquet(
    stream: DataFrame,
    path: str,
    keys: list[str],
    op_col: str,
    count_alias: str = "n_rows",
    sum_cols: dict | None = None,
    checkpoint: str | None = None,
) -> None:
    """Streaming MATERIALIZED VIEW with deletes: each micro-batch is a
    retraction feed (rows carrying ``op_col`` = ±1 — the
    insert/tombstone shape of a Debezium/CDC stream) folded into a
    standing GROUP BY store with ``operators.merge.apply_retractions``
    — counts and decimal sums maintain algebraically, groups whose
    count reaches zero leave the view. The streaming complement of
    ``stream_rollup_to_parquet`` (which is insert-only): this one keeps
    a view correct while history is being corrected underneath it.

    Same exactly-once discipline as the insert-only sink: the batch is
    pre-aggregated inside foreachBatch (|batch groups| partials, never
    history-sized), the merged store lands under a ``_last_batch_id``
    marker committed with the directory swap, and a replayed batch is
    skipped — so retractions are never applied twice (double-applying a
    delete is as corrupting as double-counting an insert). State is
    |live groups| rows forever.
    """
    import os as _os
    import shutil as _shutil

    from csv2db_spark.operators.merge import apply_retractions

    spark = stream.sparkSession
    marker = "_last_batch_id"
    sums = dict(sum_cols or {})

    def _zero_view(batch_df: DataFrame) -> DataFrame:
        # aggregate of zero delta rows under the same spec: the right
        # (keys, count, sums) schema for the first fold
        op = F.col(op_col).cast("long")
        return batch_df.limit(0).groupBy(*keys).agg(
            F.sum(op).alias(count_alias),
            *[F.sum(op * expr).alias(a) for a, expr in sums.items()],
        )

    def _last_folded() -> int | None:
        try:
            with open(_os.path.join(path, marker)) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        old = path + "._old"
        tmp = path + "._next"
        if not _os.path.isdir(path) and _os.path.isdir(old):
            _os.rename(old, path)
        if _os.path.isdir(old):
            _shutil.rmtree(old)
        if _os.path.isdir(path):
            last = _last_folded()
            if last is not None and batch_id <= last:
                return
            view = spark.read.parquet(path)
        else:
            view = _zero_view(batch_df)
        merged = apply_retractions(
            view, batch_df, keys, op_col, count_alias, sums
        )
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        with open(_os.path.join(tmp, marker), "w") as fh:
            fh.write(str(batch_id))
        if _os.path.isdir(path):
            _os.rename(path, old)
            _os.rename(tmp, path)
            _shutil.rmtree(old)
        else:
            _os.rename(tmp, path)

    w = stream.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    w.start().awaitTermination()
