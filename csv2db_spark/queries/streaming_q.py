"""Driver-gate queries for the Structured Streaming surface.

Each query replays the events fixture through a REAL streaming plan
(readStream -> event-time op -> availableNow -> memory sink) and returns
the materialized result. The DuckDB oracles reproduce the *streaming*
semantics in batch SQL — including the append-mode watermark emission rule
(windows withheld until the watermark passes their end: ``HAVING w_end <=
max(ts) - delay``) and session-window merging (gaps-and-islands) — so the
hash comparison checks late-data behavior, not just aggregate math.

``q_stream_stateful_user_stats`` (applyInPandasWithState) keeps exact
integer-cents state, so even the custom-state path is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv2db_spark.operators import stage
from csv2db_spark.registry import query
from csv2db_spark.streaming import (
    events_stream,
    run_to_df,
    session_window_agg,
    sliding_window_agg,
    stateful_user_stats,
    stream_dedup_keys,
    tumbling_window_agg,
)

_E = "SELECT event_id, ts, user_id, event_type, value FROM events"
_CSV_DIRS: dict[str, str] = {}


@query(
    "q_stream_tumbling_window",
    oracle=f"""
    WITH e AS ({_E}),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS t FROM e)
    SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS w_end,
           event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM e
    GROUP BY 1, 2, 3
    HAVING w_end <= (SELECT t FROM wm)
    """,
)
def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tumbling_window_agg(events_stream(spark, sf_dir), "6 hours", "1 hour")
    return run_to_df(out, spark, "append")


@query(
    "q_stream_sliding_window",
    oracle=f"""
    WITH e AS ({_E}),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS t FROM e),
    hops AS (SELECT unnest([0, 1, 2]) AS k)
    SELECT time_bucket(INTERVAL '2 hours', ts) - k * INTERVAL '2 hours' AS w_start,
           time_bucket(INTERVAL '2 hours', ts) - k * INTERVAL '2 hours'
             + INTERVAL '6 hours' AS w_end,
           count(*) AS n_events,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM e CROSS JOIN hops
    GROUP BY 1, 2
    HAVING w_end <= (SELECT t FROM wm)
    """,
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sliding_window_agg(events_stream(spark, sf_dir), "6 hours", "2 hours", "1 hour")
    return run_to_df(out, spark, "append")


@query(
    "q_stream_session_window",
    oracle=f"""
    WITH e AS ({_E}),
    wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS t FROM e),
    brk AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM brk
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    HAVING session_end <= (SELECT t FROM wm)
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = session_window_agg(events_stream(spark, sf_dir), "30 minutes", "2 hours")
    return run_to_df(out, spark, "append")


@query(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stream_dedup_keys(events_stream(spark, sf_dir), ["user_id", "event_type"], "1 hour")
    return run_to_df(out, spark, "append")


@query(
    "q_stream_stateful_user_stats",
    oracle=f"""
    WITH e AS ({_E})
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
           arg_max(event_type, ts) AS last_event_type
    FROM e
    GROUP BY user_id
    """,
)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stateful_user_stats(events_stream(spark, sf_dir), "1 hour")
    return run_to_df(out, spark, "update")


@query(
    "q_stream_stream_join",
    oracle=f"""
    WITH e AS ({_E})
    SELECT a.user_id,
           a.event_id AS click_id,
           b.event_id AS error_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM e a
    JOIN e b ON a.user_id = b.user_id
            AND a.event_type = 'click' AND b.event_type = 'error'
            AND b.ts >= a.ts
            AND b.ts <= a.ts + INTERVAL 10 MINUTE
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (clicks -> errors of the same user within
    10 minutes) with watermarks on both sides and a time-bounded join
    condition — the two requirements for bounded join state. Inner-join
    matches all emit under availableNow; the oracle is the equivalent
    batch self-join."""
    from csv2db_spark.streaming.ops import stream_stream_join

    out = stream_stream_join(
        events_stream(spark, sf_dir),
        events_stream(spark, sf_dir),
        gap="10 minutes",
        delay="1 hour",
    )
    return run_to_df(out, spark, "append")


@query(
    "q_stream_ingest_csv",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust
    FROM orders
    WHERE o_orderkey % 4 = 0
    GROUP BY o_orderstatus
    """,
)
def q_stream_ingest_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole use-case as a continuous pipeline: orders
    rows exported to CSV files in a watch directory, STREAM-ingested back
    through the P1-P8 cast path (header naming, typed casts), aggregated.
    Oracle reads the same rows straight from parquet — matching hashes
    prove the CSV roundtrip and streaming ingest are lossless. Integer and
    string columns only, so the textual roundtrip is exact by
    construction."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from csv2db_spark.sources import load_table
    from csv2db_spark.streaming.ops import run_to_df, streaming_ingest_csv

    src = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )
    key = f"ingest:{sf_dir}"
    path = _CSV_DIRS.get(key)
    if path is None:
        path = os.path.join(tempfile.mkdtemp(prefix="c2s_csvwatch_"), "orders")
        _CSV_DIRS[key] = path
    src.coalesce(2).write.mode("overwrite").option("header", True).csv(path)

    target = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
        ]
    )
    ingested = streaming_ingest_csv(spark, path, target, has_header=True)
    agg = (
        ingested.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("sum_keys"),
            F.sum("o_custkey").alias("sum_cust"),
        )
        .select("o_orderstatus", "n", "sum_keys", "sum_cust")
    )
    # no event-time column -> complete output mode for the aggregation
    return run_to_df(agg, spark, "complete")


@query(
    "q_stream_ohlc_bars",
    oracle=f"""
    WITH e AS ({_E}),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS t FROM e),
    f AS (SELECT * FROM e WHERE value IS NOT NULL),
    r AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start,
             time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS w_end,
             event_type, ts, event_id, value,
             row_number() OVER (
               PARTITION BY time_bucket(INTERVAL '6 hours', ts), event_type
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY time_bucket(INTERVAL '6 hours', ts), event_type
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM f
    )
    SELECT w_start, w_end, event_type,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY 1, 2, 3
    HAVING w_end <= (SELECT t FROM wm)
    """,
)
def q_stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming candlestick bars (streaming/ops.ohlc_window_agg): the
    OHLC aggregate run as a REAL append-mode streaming plan — min_by /
    max_by keep one candidate pair of state per open bar, and the oracle
    replays both the bar math AND the watermark emission rule (bars
    withheld until the watermark passes their end). Every emitted number
    is an input number — the no-float-arithmetic contract of the batch
    twin q_ts_ohlc_bars, under late-data semantics."""
    from csv2db_spark.streaming import events_stream, ohlc_window_agg, run_to_df

    out = ohlc_window_agg(events_stream(spark, sf_dir), "6 hours", "1 hour")
    return run_to_df(out, spark, "append")


@query(
    "q_stream_hll_rollup",
    oracle=f"""
    WITH e AS ({_E}),
    h AS (
      SELECT event_type AS g,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
               AS BIGINT) AS h
      FROM e
    ),
    r AS (
      SELECT g, h % 64 AS j,
             CASE WHEN h // 64 = 0 THEN 43
                  ELSE 43 - length(bin(h // 64)) END AS rho
      FROM h
    ),
    regs AS (SELECT g, j, max(rho) AS m_j FROM r GROUP BY 1, 2),
    s AS (
      SELECT g,
             CAST(sum(CAST(1 AS BIGINT) << CAST(43 - m_j AS INT))
                  + (64 - count(*)) * 8796093022208 AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_registers
      FROM regs GROUP BY g
    )
    SELECT g AS event_type, n_registers,
           ((CAST(0.709 AS DOUBLE) * 4096.0) * 8796093022208.0) / s
             AS est_distinct
    FROM s
    """,
)
def q_stream_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimation per event type: each
    micro-batch builds its HLL register partials
    (operators/sketch.hll_registers) and the standing register store
    folds them by per-(type, register) MAX through the idempotent
    rollup sink (streaming/ops.stream_rollup_to_parquet — batch-id
    marker, crash-safe swap). The oracle builds the registers ONE-SHOT
    over the whole fixture: hash-equality proves the streamed,
    incrementally-merged sketch is bit-identical to a from-scratch
    build — the mergeable-sketch contract under streaming delivery.
    Exact distinct of a stream is unbounded state; the register store
    is 64 rows per group forever."""
    import shutil
    import tempfile

    from csv2db_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import stream_rollup_to_parquet

    def partial(batch_df: DataFrame) -> DataFrame:
        return hll_registers(
            batch_df.select(
                "event_type", F.col("user_id").alias("item")
            ),
            group_cols=["event_type"],
        )

    work = tempfile.mkdtemp(prefix="c2s_hll_rollup_")
    store = f"{work}/store"
    try:
        stream_rollup_to_parquet(
            events_stream(spark, sf_dir),
            store,
            agg_builder=partial,
            keys=["event_type", "_j"],
            maxs=["m_j"],
            checkpoint=f"{work}/ckpt",
        )
        regs = spark.read.parquet(store).select("event_type", "_j", "m_j")
        out = hll_estimate_from_registers(regs, ["event_type"])
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query("q_stream_stateful_ewma", oracle=None)  # true unbounded recursion —
# not expressible in set-based SQL; exact equality vs an in-Python replay
# of the same fold is pinned in tests/test_streaming.py
def q_stream_stateful_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded per-user exponential smoothing in GroupState
    (streaming/ops.stateful_ewma): the full recursion y = αx + (1−α)y
    that the batch EWMA gate deliberately truncates for oracle
    replayability — a streaming engine carries y as one float of state
    per key. Rows fold in event-time order; state is (count, float)
    per key forever."""
    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import run_to_df, stateful_ewma

    out = stateful_ewma(events_stream(spark, sf_dir), "1 hour")
    return run_to_df(out, spark, "update")


@query(
    "q_stream_ewma_parity",
    oracle="SELECT CAST(0 AS BIGINT) AS user_id, 0.0 AS err WHERE 1 = 0",
)
def q_stream_ewma_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible parity for the unbounded streaming EWMA — the
    empty-oracle upgrade for the one stateful gate whose output no SQL
    oracle can replay. Two INDEPENDENT implementations of the same
    recursion y_t = a*x_t + (1-a)*y_{t-1}, y_1 = x_1:

    - streaming: the sequential GroupState fold
      (streaming/ops.stateful_ewma), final emission per key;
    - batch: the closed form y_N = (1-a)^(N-1)x_1 +
      sum_{i>1} a(1-a)^(N-i)x_i as one codegen window + aggregate —
      pow()-weighted sum, a completely different fp evaluation order.

    Violations = keys where the two disagree beyond 1e-8 relative (fp
    reassociation noise is ~N*eps ~ 1e-13 here) or on observation
    count. EMPTY means the streaming state machine (batching, state
    carry, in-batch ordering) reproduces the mathematical recursion;
    a state-loss or ordering regression surfaces as a driver hash
    mismatch. The raw gate above stays rows-only as the liveness
    check. Batch side orders by (ts, event_id) — any monotone image of
    the stream's (ts_us, event_id) gives the identical permutation."""
    from pyspark.sql import Window

    from csv2db_spark.sources import load_table
    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import run_to_df, stateful_ewma

    alpha = 0.25
    out = run_to_df(
        stateful_ewma(events_stream(spark, sf_dir), "1 hour"), spark, "update"
    )
    final = out.groupBy("user_id").agg(
        F.max_by("ewma", "n_obs").alias("ewma_s"),
        F.max("n_obs").alias("n_s"),
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = F.col("value").cast("double")
    terms = (
        ev.select(
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("n"),
            x.alias("x"),
        )
        .select(
            "user_id",
            "n",
            F.when(
                F.col("rn") == 1,
                F.pow(F.lit(1.0 - alpha), F.col("n") - 1) * F.col("x"),
            )
            .otherwise(
                F.lit(alpha)
                * F.pow(F.lit(1.0 - alpha), F.col("n") - F.col("rn"))
                * F.col("x")
            )
            .alias("term"),
        )
    )
    batch = terms.groupBy("user_id").agg(
        F.sum("term").alias("ewma_b"), F.max("n").alias("n_b")
    )
    err = F.abs(F.col("ewma_s") - F.col("ewma_b")) / F.greatest(
        F.abs(F.col("ewma_b")), F.lit(1e-6)
    )
    return (
        final.join(batch, "user_id", "full")
        .select(
            "user_id",
            F.when(
                F.col("n_s").isNull()
                | F.col("n_b").isNull()
                | (F.col("n_s") != F.col("n_b")),
                F.lit(1e9),
            )
            .otherwise(err)
            .alias("err"),
        )
        .where(F.col("err") > 1e-8)
    )


@query(
    "q_stream_histogram_rollup",
    oracle="""
    WITH b AS (
      SELECT event_type,
             least(greatest(CAST(floor((value - 0.0) / 10.0) AS BIGINT), 0), 49)
               AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    counts AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT event_type, bucket, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM counts
    ),
    qs AS (SELECT unnest([50, 90, 99]) AS q),
    hits AS (
      SELECT event_type, q, bucket, cnt, cum,
             CAST(-floor(-(q * n) / 100) AS BIGINT) AS target_rank,
             row_number() OVER (PARTITION BY event_type, q ORDER BY bucket) AS rn
      FROM cum CROSS JOIN qs
      WHERE cum >= -floor(-(q * n) / 100)
    )
    SELECT event_type, q, target_rank, bucket,
           0.0 + 10.0 * (bucket + CAST(target_rank - (cum - cnt) AS DOUBLE)
                                  / cnt) AS est_value
    FROM hits WHERE rn = 1
    """,
)
def q_stream_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-event-type latency/value percentiles: each
    micro-batch bins its values (operators/profile.histogram_cells) and
    the standing cell store folds by SUM through the idempotent rollup
    sink — equal-width histogram cells are the third mergeable sketch
    next to the HLL (MAX-merge) and count-min (SUM-merge) rollups, and
    the one that answers "p99 right now" on an unbounded stream with
    <= groups x n_buckets rows of state forever. The final estimates
    (histogram_quantile_from_cells) are computed from the MERGED cells
    and hash-match a one-shot batch build over the whole fixture — the
    mergeable-sketch contract under streaming delivery."""
    import shutil
    import tempfile

    from csv2db_spark.operators.profile import (
        histogram_cells,
        histogram_quantile_from_cells,
    )
    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import stream_rollup_to_parquet

    LO, HI, NB = 0.0, 500.0, 50

    def partial(batch_df: DataFrame) -> DataFrame:
        return histogram_cells(
            batch_df.where(F.col("value").isNotNull()),
            "value",
            LO,
            HI,
            NB,
            ["event_type"],
        )

    work = tempfile.mkdtemp(prefix="c2s_hist_rollup_")
    store = f"{work}/store"
    try:
        stream_rollup_to_parquet(
            events_stream(spark, sf_dir),
            store,
            agg_builder=partial,
            keys=["event_type", "bucket"],
            sums=["cnt"],
            checkpoint=f"{work}/ckpt",
        )
        cells = spark.read.parquet(store).select("event_type", "bucket", "cnt")
        out = histogram_quantile_from_cells(
            cells, LO, HI, NB, (50, 90, 99), ["event_type"]
        )
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "q_stream_countmin_rollup",
    oracle=f"""
    WITH e AS ({_E}),
    h AS (
      SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
               AS BIGINT) AS h1,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 13, 12)
               AS BIGINT) AS h2
      FROM e
    ),
    cells AS (
      SELECT j, ((h1 + j * h2) % 281474976710597) % 256 AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM h, (SELECT unnest(range(0, 4)) AS j)
      GROUP BY 1, 2
    )
    SELECT CAST(j AS INT) AS j, bucket, cnt FROM cells
    """,
)
def q_stream_countmin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min maintenance: each micro-batch builds its
    (j, bucket, cnt) cell partials (operators/sketch.countmin_build
    over the batch's user ids) and the standing sketch folds them by
    SUM through the idempotent rollup sink — count-min cells are
    additive, the second mergeable-sketch pattern next to the HLL
    rollup's MAX-merge. The oracle builds the cells ONE-SHOT over the
    whole fixture: hash equality proves the streamed sketch is
    bit-identical to a batch build, so every downstream point estimate
    and heavy-hitter ranking agrees too. State: ≤ d·w = 1024 cells
    forever, regardless of stream length."""
    import shutil
    import tempfile

    from csv2db_spark.operators.sketch import countmin_build
    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import stream_rollup_to_parquet

    def partial(batch_df: DataFrame) -> DataFrame:
        return countmin_build(
            batch_df.select(F.col("user_id").cast("string").alias("item"))
        )

    work = tempfile.mkdtemp(prefix="c2s_cms_rollup_")
    store = f"{work}/store"
    try:
        stream_rollup_to_parquet(
            events_stream(spark, sf_dir),
            store,
            agg_builder=partial,
            keys=["j", "bucket"],
            sums=["cnt"],
            checkpoint=f"{work}/ckpt",
        )
        cells = spark.read.parquet(store).select("j", "bucket", "cnt")
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(cells)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "q_stream_attribution",
    oracle=f"""
    WITH e AS ({_E}),
    carried AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(
               CASE WHEN event_type IN ('click', 'view')
                    THEN struct_pack(t_ts := ts, t_id := event_id,
                                     t_type := event_type) END
               IGNORE NULLS
             ) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt
      FROM e
    )
    SELECT user_id,
           event_id AS conversion_id,
           epoch_us(ts) AS conversion_ts_us,
           lt.t_id AS touch_id,
           lt.t_type AS touch_type,
           date_sub('second', lt.t_ts, ts) AS seconds_since_touch
    FROM carried
    WHERE event_type = 'purchase'
      AND lt IS NOT NULL
      AND date_sub('second', lt.t_ts, ts) <= 168 * 3600
    """,
)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time last-touch attribution
    (streaming/ops.stateful_attribution): one carried touch struct of
    GroupState per user, an attribution row emitted the moment a
    purchase arrives within the 7-day lookback. Under in-order replay
    the emissions are EXACTLY the batch operator's rows, so this
    stateful-streaming gate carries a full value-hash oracle — the
    batch carried-struct SQL — not a rows-only check."""
    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import run_to_df, stateful_attribution

    out = stateful_attribution(events_stream(spark, sf_dir), "1 hour")
    return run_to_df(out, spark, "append")


_TREND_X0 = 1704067200  # 2024-01-01 UTC — mirrors q_ts_linear_trend


@query(
    "q_stream_trend_rollup",
    oracle=f"""
    WITH p AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 1000000 - {_TREND_X0} AS DECIMAL(18,0)) AS x,
             CAST(value AS DECIMAL(14,2)) AS y
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM p GROUP BY user_id
    )
    SELECT user_id, n_points,
           CAST(n_points * sxy - sx * sy AS DOUBLE)
             / CAST(n_points * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
              - (CAST(n_points * sxy - sx * sy AS DOUBLE)
                 / CAST(n_points * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / n_points AS intercept
    FROM s
    WHERE n_points >= 2 AND n_points * sxx - sx * sx <> 0
    """,
)
def q_stream_trend_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user drift line: each micro-batch contributes its
    five OLS sufficient statistics (operators/timeseries.
    trend_sufficient_stats — exact decimals, all additive) and the
    standing store folds them by SUM through the idempotent rollup
    sink; slope/intercept are finished from the MERGED statistics
    (trend_from_stats) and hash-match the one-shot batch fit over the
    whole fixture — regression-as-a-mergeable-sketch, state = five
    numbers per key forever. The answer to "is this metric drifting,
    live" without ever re-scanning history."""
    import shutil
    import tempfile

    from csv2db_spark.operators.timeseries import (
        trend_from_stats,
        trend_sufficient_stats,
    )
    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import stream_rollup_to_parquet

    def partial(batch_df: DataFrame) -> DataFrame:
        x = (
            F.expr("unix_micros(ts_i) div 1000000") - F.lit(_TREND_X0)
        )
        return trend_sufficient_stats(
            batch_df.where(F.col("value").isNotNull()),
            ["user_id"],
            x=x,
            y=F.col("value").cast("decimal(14,2)"),
        )

    work = tempfile.mkdtemp(prefix="c2s_trend_rollup_")
    store = f"{work}/store"
    try:
        stream_rollup_to_parquet(
            events_stream(spark, sf_dir),
            store,
            agg_builder=partial,
            keys=["user_id"],
            sums=["n_points", "_sx", "_sy", "_sxy", "_sxx"],
            checkpoint=f"{work}/ckpt",
        )
        stats = spark.read.parquet(store)
        out = trend_from_stats(stats, ["user_id"])
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


@query(
    "q_stream_minhash_dedup",
    oracle=None,  # assembled below via _register_stream_minhash_oracle()
)
def q_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship MinHash+LSH near-dedup under Structured Streaming
    (streaming/ops.stream_minhash_dedup): the augmented corpus arrives
    as FOUR micro-batches (one staged file each, maxFilesPerTrigger=1);
    every batch signs only itself, band-joins the standing signature
    store, exact-verifies on hash sets, and commits its pairs into an
    idempotent per-batch partition. Detection is order-invariant — a
    pair is found exactly when its later member arrives — so the
    accumulated result must HASH-MATCH the from-scratch whole-corpus
    oracle (capless: bucket membership is arrival-order-dependent, so
    the cap stays a batch-mode feature). This is the streaming twin of
    q_dedup_minhash_lsh the way q_stream_hll_rollup twins
    q_agg_hll_distinct: same algebra, incremental delivery, provably
    identical output."""
    import os
    import shutil
    import tempfile

    from csv2db_spark.llm.corpus import augmented_docs
    from csv2db_spark.streaming.ops import stream_minhash_dedup

    aug = augmented_docs(spark, sf_dir).select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="c2s_stream_minhash_")
    batches = os.path.join(work, "in")
    os.makedirs(batches)
    try:
        # one corpus pass stages all four batch files: the per-batch
        # filter+coalesce(1) loop it replaces scanned the corpus FOUR
        # times (measured 1.0 -> 0.37 s warm at sf0.1). partitionBy
        # strips the _b routing column, so each staged file carries the
        # identical (doc_id, text) rows the filter produced — row order
        # differs, which the signature pass and the oracle are both
        # invariant to.
        tmp = os.path.join(work, "w")
        (
            aug.withColumn("_b", (F.col("doc_id") % 4).cast("int"))
            .repartition(4, "_b")
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(tmp)
        )
        for b in range(4):
            d = os.path.join(tmp, f"_b={b}")
            part = next(
                f for f in os.listdir(d) if f.endswith(".parquet")
            )
            os.rename(
                os.path.join(d, part), os.path.join(batches, f"batch_{b}.parquet")
            )
        stream = (
            spark.readStream.schema(aug.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(batches)
        )
        stream_minhash_dedup(stream, work)
        out = spark.read.parquet(os.path.join(work, "pairs")).select(
            "doc_a", "doc_b", "jaccard"
        )
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def _register_stream_minhash_oracle() -> None:
    """The oracle is the FULL-CORPUS capless pipeline — identical CTEs
    to q_dedup_minhash_lsh's oracle with the bucket cap off — assembled
    from queries/llm.py's shared SQL builders. Imported lazily to keep
    module import order symmetric (queries/__init__ imports both)."""
    from csv2db_spark.queries.llm import (
        _CTE_EX,
        _JACCARD_H1_TAIL,
        _sql_minhash_cte,
    )
    from csv2db_spark.registry import REGISTRY

    qd = REGISTRY["q_stream_minhash_dedup"]
    oracle = f"""
    {_CTE_EX},
    {_sql_minhash_cte(max_bucket=None).strip()},
    {_JACCARD_H1_TAIL.strip()}
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM cand c JOIN jacc j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    WHERE j.jaccard >= 0.5
    """
    REGISTRY["q_stream_minhash_dedup"] = type(qd)(
        qd.name, qd.fn, oracle, qd.bench
    )


_register_stream_minhash_oracle()


@query(
    "q_stream_snapshot_sink",
    oracle="""
    SELECT count(*) AS n,
           min(event_id) AS min_id,
           max(event_id) AS max_id,
           count(DISTINCT user_id) AS n_users,
           cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
    FROM events
    """,
)
def q_stream_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lakehouse ingest with exactly-once batches: the events
    stream lands in a snapshots.SnapshotTable via foreachBatch
    (streaming/ops.stream_to_snapshot), each micro-batch committing its
    data and its batch-id marker in ONE atomic manifest publish. The
    gate then REPLAYS batch 0 with the full fixture — the at-least-once
    delivery foreachBatch actually gives — and hash-equality against a
    plain batch aggregate proves the replay was skipped, not
    double-appended: the table is exactly the stream's row set."""
    import os
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable
    from csv2db_spark.sources import load_table
    from csv2db_spark.streaming.ops import events_stream, stream_to_snapshot

    cols = ["event_id", "user_id", "event_type", "value"]
    root = tempfile.mkdtemp(prefix="c2s_snapsink_")
    try:
        t = SnapshotTable(spark, os.path.join(root, "events"))
        stream_to_snapshot(
            events_stream(spark, sf_dir).select(*cols),
            t,
            checkpoint=os.path.join(root, "_cp"),
        )
        # adversarial replay of an already-committed batch id: must be
        # a no-op (returns None), or the sum below doubles
        assert (
            t.append_stream_batch(
                load_table(spark, sf_dir, "events").select(*cols), 0
            )
            is None
        )
        # lifetime: the rows outlive the temp dir removed below
        out = (
            t.read()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("event_id").alias("min_id"),
                F.max("event_id").alias("max_id"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .transform(stage.materialize_stage)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# Shared oracle body for q_stream_cdc_upsert and its one-round
# canonicalization twin: every output column is an EXACT INTEGER cast to
# BIGINT on both engines. Two hard-won rules are encoded here (r11,
# closing the only never-green gate of 316 after three red rounds):
# (1) never leave a DuckDB sum(CASE...) uncast — it returns HUGEINT,
#     which .df() converts to float64, so the oracle cell renders "30.0"
#     against Spark's int64 "30" under any per-column canonicalizer
#     (this gate was the registry's only uncast instance; the old local
#     compare's iterrows() row-upcast masked it — fixed in
#     tests/compare.py the same round);
# (2) money totals cross engines as integer cents
#     (sum(decimal(18,2))*100 → BIGINT), the exact-integer discipline of
#     functions/numeric.py, immune to any float repr policy.
_CDC_ORACLE_BODY = """
    WITH latest AS (
        SELECT user_id, max_by(value, event_id) AS last_value
        FROM events GROUP BY user_id
    ),
    base AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 2 = 0
        UNION
        SELECT DISTINCT user_id + 1000000 FROM events WHERE user_id % 5 = 0
    ),
    merged AS (
        SELECT coalesce(l.user_id, b.user_id) AS user_id,
               coalesce(l.last_value, -1.0) AS last_value
        FROM base b FULL OUTER JOIN latest l ON b.user_id = l.user_id
    )
    SELECT cast(count(*) AS BIGINT) AS n,
           cast(min(user_id) AS BIGINT) AS min_u,
           cast(max(user_id) AS BIGINT) AS max_u,
           cast(sum(CASE WHEN last_value = -1.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_untouched,
           cast(sum(cast(last_value AS decimal(18,2))) * 100
                AS BIGINT) AS sum_last_cents
    FROM merged
"""


def _cdc_agg(df: DataFrame) -> DataFrame:
    """The cdc gate's final aggregate over the merged table state.
    All-BIGINT by construction (see _CDC_ORACLE_BODY)."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("user_id").cast("long").alias("min_u"),
        F.max("user_id").cast("long").alias("max_u"),
        F.sum((F.col("last_value") == -1.0).cast("long")).alias("n_untouched"),
        (F.sum(F.col("last_value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("sum_last_cents"),
    )


def _cdc_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body of the CDC-upsert gates: stream-merge into a snapshot
    table, adversarially replay batch 0, aggregate the final state to one
    all-BIGINT row (n, min_u, max_u, n_untouched, sum_last_cents)."""
    import os
    import shutil
    import tempfile

    from csv2db_spark.snapshots import SnapshotTable
    from csv2db_spark.sources import load_table
    from csv2db_spark.streaming.ops import events_stream, stream_cdc_to_snapshot

    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.where(F.col("user_id") % 2 == 0)
        .select("user_id")
        .distinct()
        .unionByName(
            ev.where(F.col("user_id") % 5 == 0)
            .select((F.col("user_id") + 1000000).alias("user_id"))
            .distinct()
        )
        .distinct()
        .withColumn("last_value", F.lit(-1.0))
        # NULL version on seed rows: any real change outranks them
        .withColumn("last_event_id", F.lit(None).cast("long"))
    )

    def latest(b: DataFrame) -> DataFrame:
        return b.groupBy("user_id").agg(
            F.expr("max_by(value, event_id)").alias("last_value"),
            F.max("event_id").alias("last_event_id"),
        )

    root = tempfile.mkdtemp(prefix="c2s_cdcsink_")
    try:
        t = SnapshotTable(spark, os.path.join(root, "users"))
        t.create(base)
        stream_cdc_to_snapshot(
            events_stream(spark, sf_dir).select("event_id", "user_id", "value"),
            t,
            on="user_id",
            reduce=latest,
            checkpoint=os.path.join(root, "_cp"),
            version_col="last_event_id",
        )
        # adversarial replay of the committed batch id: must be a no-op
        assert (
            t.merge_stream_batch(
                latest(ev.select("event_id", "user_id", "value")),
                0,
                "user_id",
                version_col="last_event_id",
            )
            is None
        )
        # lifetime: the rows outlive the temp dir removed below
        out = _cdc_agg(t.read()).transform(stage.materialize_stage)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@query("q_stream_cdc_upsert", oracle=_CDC_ORACLE_BODY)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert with exactly-once batches (streaming/ops.
    stream_cdc_to_snapshot + snapshots.SnapshotTable.merge_stream_batch):
    a keyed base table takes a change stream via per-batch latest-wins
    reduction (max_by on event_id — MERGE needs unique source keys) and
    RECENCY-CONDITIONED copy-on-write merge (version_col=last_event_id:
    a matched key updates only when the batch's event_id is newer), each
    batch committing data + batch-id marker in ONE atomic manifest
    publish. The version condition is what makes the gate deterministic:
    micro-batch composition is an accident of file listing (one batch
    today, N batches under maxFilesPerTrigger or a different file
    split), and per-batch latest-wins + unconditional update equals the
    oracle's global max_by only under version-ordered batches — the r08
    driver flake. With the condition the result is batch-split-invariant
    by construction (pinned by the adversarial multi-batch regression in
    tests/test_streaming_ingest.py). The gate replays batch 0 afterwards
    — the at-least-once delivery foreachBatch actually gives — and the
    hash against a full-outer-join oracle proves the replay was skipped:
    a re-applied merge would create a phantom version and corrupt state.
    Untouched base keys (the +1000000 synthetics) keep their sentinel,
    matched keys carry the stream's latest value, new keys are
    inserts. Output is all-BIGINT (money as exact integer cents) — see
    _CDC_ORACLE_BODY for why the r08–r10 double/HUGEINT shape was the
    gate's only driver-red divergence. The r09–r11 self-evidencing
    diagnostic (_cdc_diag, one STREAM_DIAG.jsonl line per run with
    manifest history, a pure-batch twin aggregate, and a dup-key count)
    was removed in r12 once the gate went driver-green at sf0.01 and
    sf0.1 — its invariants live on as the adversarial multi-batch
    regression in tests/test_streaming_ingest.py."""
    return _cdc_run(spark, sf_dir)


@query(
    "q_stream_ivm_rollup",
    oracle=f"""
    WITH e AS ({_E})
    SELECT event_type, user_id % 10 AS user_bucket,
           count(*) AS n_rows,
           CAST(sum(CAST(COALESCE(value, 0.0) AS DECIMAL(18,3)))
                AS DOUBLE) AS sum_value
    FROM e WHERE event_id % 5 <> 0
    GROUP BY event_type, user_id % 10
    """,
)
def q_stream_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view under RETRACTIONS
    (streaming/ops.stream_retractions_to_parquet): the event stream is
    reshaped into a CDC feed — every row arrives as an insert (+1) and
    every 5th event additionally replays itself as a tombstone (-1),
    the Debezium delete shape — and a standing (event_type,
    user-bucket) view folds each micro-batch through
    apply_retractions with the exactly-once batch-id marker. The
    maintained store must equal a from-scratch aggregate over only the
    never-retracted rows (the oracle) — groups fully cancelled leave
    the view, and a replayed batch neither double-counts inserts nor
    double-applies deletes. State is |live groups| rows forever."""
    import shutil
    import tempfile

    from csv2db_spark.streaming import events_stream
    from csv2db_spark.streaming.ops import stream_retractions_to_parquet

    ev = events_stream(spark, sf_dir)
    # insert feed + tombstone replay of every 5th event, one codegen pass
    delta = (
        ev.select(
            "event_id",
            "event_type",
            (F.col("user_id") % 10).alias("user_bucket"),
            "value",
            F.explode(
                F.when(
                    F.col("event_id") % 5 == 0,
                    F.array(F.lit(1), F.lit(-1)),
                ).otherwise(F.array(F.lit(1)))
            ).alias("op"),
        )
    )
    work = tempfile.mkdtemp(prefix="c2s_ivm_rollup_")
    store = f"{work}/store"
    try:
        stream_retractions_to_parquet(
            delta,
            store,
            keys=["event_type", "user_bucket"],
            op_col="op",
            count_alias="n_rows",
            sum_cols={
                "sum_value": F.coalesce(F.col("value"), F.lit(0.0)).cast(
                    "decimal(18,3)"
                )
            },
            checkpoint=f"{work}/ckpt",
        )
        out = spark.read.parquet(store).select(
            "event_type",
            "user_bucket",
            "n_rows",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        # lifetime: the rows outlive the temp dir removed below
        out = stage.materialize_stage(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out
