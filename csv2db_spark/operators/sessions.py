"""Batch sessionization: split each user's event stream into sessions at
inactivity gaps, then aggregate per-session stats.

(The streaming twin is ``streaming/ops.py``'s session_window aggregation;
this is the batch/backfill formulation over the full history.)

Algorithm: one window pass per user ordered by event time — a row starts
a new session when its gap from the previous event exceeds the
threshold; the session id is the running count of session starts. This
is the standard gaps-and-islands formulation, expressed as two stacked
window functions over the SAME (partition, order) — Spark evaluates them
in a single Window exchange + sort.

Scale: the only shuffle keys on user_id (hash-partitioned); per-user
ordering is a within-partition sort. Skewed power users are bounded by
per-user history length, not corpus size; a pathological single-user
firehose would be pre-split by day before this pass.

Timestamps stay TIMESTAMP_NTZ end-to-end and the gap test is interval
arithmetic (no epoch conversion), so results are session-timezone-free —
bit-identical across engines and driver sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-event session assignment: adds ``session_id`` (1-based, per
    user, in time order)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    prev = F.lag(ts_col).over(w)
    new_session = F.when(
        prev.isNull() | (F.col(ts_col) > prev + F.expr(f"INTERVAL {gap}")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def active_users(
    events: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """DAU / rolling-WAU / stickiness per calendar day — the standard
    product-analytics triple. Exact rolling distinct is the hard part:
    a distinct count is not algebraic, so a window frame cannot
    maintain it. The scale-correct exact form used here: dedup to
    (user, day) once, EXPLODE each row into the ``window_days`` days it
    contributes to (a bounded ×7 fan-out of the deduped table, not the
    event table), and take one distinct count per (day, user) group —
    two keyed shuffles over |users|·|days| rows regardless of event
    volume. (The sketch alternative: keep per-day HLL registers and
    MAX-merge 7 of them — operators/sketch.hll_registers — when
    approximate is acceptable.)

    Returns (day, dau, wau, stickiness) for days observed in the data;
    leading days' WAU covers the partial window that exists.
    stickiness = dau/wau — one IEEE division of exact longs. day is the
    NTZ midnight timestamp (TZ-free field arithmetic)."""
    day = F.date_trunc("day", F.col(ts_col))  # NTZ midnight timestamp
    user_days = events.select(
        F.col(user_col).alias("_u"), day.alias("_d")
    ).distinct()
    dau = user_days.groupBy(F.col("_d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    contrib = user_days.select(
        "_u",
        F.explode(
            F.sequence(
                F.col("_d"),
                F.col("_d") + F.make_interval(days=F.lit(window_days - 1)),
                F.expr("INTERVAL '1' DAY"),
            )
        ).alias("day"),
    )
    wau = (
        contrib.distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


def rfm_scores(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic lifecycle-marketing cut (Hughes' quintile method): per user,
    the last-activity timestamp, the event count, and the exact spend
    sum, each scored into quintiles where 5 = best, concatenated into
    the '555'-style segment label.

    Determinism: quintiles are ntile over a TOTAL order — the metric
    plus a ``user_id`` tie-break — so identical inputs give identical
    segments on any partitioning and in the SQL oracle. The monetary
    sum rides DECIMAL (order-independent); NULL measurements count 0.

    Scale shape: one map-combined groupBy(user)
    over the event stream — the only corpus-sized shuffle — then three
    total-order ntiles over the |users|-row aggregate. Users GROW with
    the corpus, so a plain unpartitioned ntile is a single-task global
    sort of the user dimension three times over; each ntile routes
    through ``operators/ranking.grouped_ntile``, which sizes its input
    by the leaves it reads (the event scan): the exact window at gate
    scale, the histogram-offset cutpoint rank — bit-identical, no
    whole-table sort — above the threshold.
    Order coarsenings: day-truncated recency, the integer event count,
    and the floor of the decimal spend keep the cutpoint histograms
    bounded."""
    from csv2db_spark.operators.ranking import grouped_ntile

    per_user = events.groupBy(F.col(user_col).alias("user_id")).agg(
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.coalesce(F.col(value_col), F.lit(0.0)).cast("decimal(18,3)")
        ).alias("_monetary_dec"),
    )
    scored = per_user.withColumn("_g", F.lit(0))
    for out_col, order_col, bucket in (
        ("_nt_r", "last_ts", F.date_trunc("day", F.col("last_ts"))),
        ("_nt_f", "n_events", None),
        ("_nt_m", "_monetary_dec", F.floor(F.col("_monetary_dec"))),
    ):
        scored = grouped_ntile(
            scored,
            "_g",
            order_col,
            "user_id",
            n_tiles,
            descending=True,
            out_col=out_col,
            bucket=bucket,
        )
    n1 = n_tiles + 1
    return (
        scored.withColumn("r_score", n1 - F.col("_nt_r"))
        .withColumn("f_score", n1 - F.col("_nt_f"))
        .withColumn("m_score", n1 - F.col("_nt_m"))
        .select(
            "user_id",
            "last_ts",
            "n_events",
            F.col("_monetary_dec").cast("double").alias("monetary"),
            "r_score",
            "f_score",
            "m_score",
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("segment"),
        )
    )
