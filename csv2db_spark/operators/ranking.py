"""Skew-safe exact per-group ranking — the scale shape behind the CCNet
bucketing family.

``row_number() OVER (PARTITION BY lang ORDER BY score)`` and its
``ntile`` cousin are the canonical curation cut (quantile_filter, CCNet
head/middle/tail), and at gate scale the plain window is the right
plan. At 100 TB it is not: a web corpus is ~90% one language, so the
"en" window partition is a SINGLE TASK doing a total sort over most of
the corpus — the one plan shape that cannot be saved by adding
executors.

The cutpoint shape computes the SAME rank exactly, with no whole-group
sort, by splitting the rank into two bounded pieces:

1. **Run offset** — aggregate the corpus to a per-(group, score)
   HISTOGRAM (map-side-combinable shuffle, |distinct scores| rows per
   group), then a running sum over the histogram gives every score run
   its global offset ``below`` = number of group rows ranking strictly
   ahead. The only group-wide window left partitions over histogram
   rows, not documents.
2. **Tie rank** — rank rows WITHIN one (group, score) run by the id
   tiebreak: a window partitioned by (group, score), so each sort task
   holds one tie set, never a language. rank = below + tie_rank.

Equivalence (pinned in tests/test_runtime_ops.py): the window order is
(score, id) total, so rank decomposes uniquely into the run's offset
plus the position among equal scores — both shapes are bit-identical,
so every gate hashes the same whichever shape its input size picks.
Degenerate case: if one (group, score) pair dominates (a truly
constant score over a giant group), its tie set IS the group and the
skew returns — quantize or pre-bucket the score upstream; real quality
scores (integer-scaled permilles, LM permilles) have bounded runs by
construction.

``ntile`` needs no window at all once the rank exists: Spark's bucket
assignment is a closed form over (rank, group size) — first n%k buckets
get ceil(n/k) rows, the rest floor(n/k) — so the scale shape derives it
arithmetically from the cutpoint rank plus a broadcast of per-group
totals.

Each public operator picks its shape once, with
``plans.small_input`` on its own input against the one
``spark.csv2db.adaptive.smallInputMaxBytes`` setting: the plain window
below it, the cutpoint plan above. The estimate reads the plan's
leaves (scans, stored checkpoints), so an input that sits below a join
is sized by what it reads, not by the join's product estimate. There
is no per-call shape argument; tests force either shape through the
setting. The cutpoint plan's extra exchanges cost ~0.2-0.5 s per gate
at fixture size, while the window plan's whole-group single-task sort
is the unscalable shape at corpus size.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from csv2db_spark import plans


def _groups(group_cols: str | list[str]) -> list[str]:
    return [group_cols] if isinstance(group_cols, str) else list(group_cols)


_INT_MAX = 2_147_483_647


def checked_int_rank(rank: Column, what: str) -> Column:
    """Cast a long rank to int for window-shape dtype parity, ERRORING
    past 2^31-1 instead of silently wrapping: the cutpoint shape
    exists precisely for groups that can exceed int range, where a
    wrapped rank would silently corrupt every downstream cut. The guard
    is one codegen'd comparison per row; the assert_true branch only
    evaluates on overflow."""
    over = rank > F.lit(_INT_MAX)
    return F.when(
        over,
        F.assert_true(
            ~over, F.lit(f"{what} exceeds int32 range; rank would wrap")
        ).cast("int"),
    ).otherwise(rank.cast("int"))


def join_totals_nullsafe(
    ranked: DataFrame, totals: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Broadcast-join per-group totals back onto ranked rows with
    NULL-SAFE key equality. A plain ``join(totals, cols)`` drops rows
    whose group value is NULL — while the window shapes rank NULL groups
    as a real partition (and grouped_rank's histogram join is already
    eqNullSafe) — so the bit-identical shape equivalence would break
    for NULL-group data. Null-safe equality is a supported
    hash-join key, so this stays a BroadcastHashJoin."""
    renamed = totals.select(
        *[F.col(c).alias(f"_t_{c}") for c in group_cols],
        *[c for c in totals.columns if c not in group_cols],
    )
    cond = reduce(
        Column.__and__,
        [ranked[c].eqNullSafe(renamed[f"_t_{c}"]) for c in group_cols],
    )
    return ranked.join(F.broadcast(renamed), cond).drop(
        *[f"_t_{c}" for c in group_cols]
    )


def grouped_rank(
    df: DataFrame,
    group_cols: str | list[str],
    order_col: str,
    id_col: str,
    descending: bool = False,
    out_col: str = "_rn",
    bucket: Column | None = None,
) -> DataFrame:
    """``row_number() OVER (PARTITION BY group ORDER BY order_col
    [DESC], id_col)`` — exact, total (the id tiebreak), identical in
    both shapes. A small input (``plans.small_input(df)``) gets
    the plain window; a large one the histogram-offset + tie-rank plan
    with no whole-group DOC sort (see module doc). NULL scores order
    the way the window would (NULLS FIRST asc / NULLS LAST desc); the
    histogram join is null-safe so they rank, not vanish.

    ``bucket`` (cutpoint shape only) is an ORDER-COARSENING of the score
    — any monotone nondecreasing expression over it, e.g.
    ``F.floor(F.col(score) * 4096)`` for a [0, 1] probability. Without
    it the histogram is per DISTINCT score, which is only small for
    quantized scores: a continuous (double) score makes |histogram| =
    |group| and hands its cumulative window a group-sized single task
    right back. With it the histogram has |buckets| rows, the
    cumulative runs over buckets, and rows rank within (group, bucket)
    by the TRUE (score, id) order — still exact for any granularity,
    task size bounded by bucket occupancy. (The one shape neither form
    fixes: a group where one exact (score)—or (bucket)—value dominates;
    then the ordering lives entirely in the id tiebreak and the tie set
    IS the group.)"""
    return _grouped_rank(
        df, _groups(group_cols), order_col, id_col, descending, out_col,
        bucket, small=plans.small_input(df),
    )


def _grouped_rank(
    df: DataFrame,
    gs: list[str],
    order_col: str,
    id_col: str,
    descending: bool,
    out_col: str,
    bucket: Column | None,
    small: bool,
) -> DataFrame:
    ordc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    if small:
        w = Window.partitionBy(*gs).orderBy(ordc, F.col(id_col).asc())
        return df.withColumn(out_col, F.row_number().over(w))
    ord_alias = "_gr_ord"
    base = df.withColumn(ord_alias, F.col(order_col)).withColumn(
        "_gr_b", bucket if bucket is not None else F.col(order_col)
    )
    hord = F.col("_gr_b").desc() if descending else F.col("_gr_b").asc()
    hist = (
        base.groupBy(*gs, "_gr_b")
        .agg(F.count(F.lit(1)).alias("_gr_cnt"))
        .withColumn(
            "_gr_below",
            F.sum("_gr_cnt").over(Window.partitionBy(*gs).orderBy(hord))
            - F.col("_gr_cnt"),
        )
        .select(
            *[F.col(c).alias(f"_h_{c}") for c in gs],
            F.col("_gr_b").alias("_h_b"),
            "_gr_below",
        )
    )
    cond = reduce(
        Column.__and__,
        [base[c].eqNullSafe(F.col(f"_h_{c}")) for c in gs]
        + [base["_gr_b"].eqNullSafe(F.col("_h_b"))],
    )
    # tie window keyed by (group, bucket): tasks sort bucket occupancies,
    # never a whole group; ordering inside uses the TRUE score so a
    # coarse bucket stays exact. The join keys match the window keys so
    # EnsureRequirements satisfies both with one exchange.
    ord_in = (
        F.col(ord_alias).desc() if descending else F.col(ord_alias).asc()
    )
    tw = Window.partitionBy(*gs, "_gr_b").orderBy(ord_in, F.col(id_col).asc())
    return (
        base.join(hist, cond)
        .withColumn(
            out_col,
            checked_int_rank(
                F.col("_gr_below") + F.row_number().over(tw), "cutpoint rank"
            ),
        )
        .select(*df.columns, out_col)  # window-shape column order parity
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: str | list[str],
    order_cols: list[str],
    value_col: str,
    bucket: Column,
    out_col: str = "_cum",
) -> DataFrame:
    """Inclusive running sum of ``value_col`` over (group) ordered by
    ``order_cols`` — the token-budget / admission-order shape. A small
    input (``plans.small_input(df)``) gets the plain
    unbounded-preceding frame (one per-group total sort). A large one
    uses ``bucket``: an ORDER-COARSENING of ``order_cols[0]``
    (bucket(r1) < bucket(r2) must imply order(r1) < order(r2) — e.g. a
    fixed-length prefix of the md5 rank string, whose lexicographic
    order refines the prefix order). The running sum then decomposes
    exactly into the bucket's offset (a cumulative over the
    per-(group, bucket) HISTOGRAM) plus the within-bucket prefix (a
    window keyed by (group, bucket)): with a uniformly-distributed rank
    key — which md5 admission order is by construction — every sort
    task holds ~|group|/|buckets| rows, never a whole group.
    Bit-identical to the window shape (tests/test_runtime_ops.py)."""
    return _grouped_prefix_sum(
        df, _groups(group_cols), order_cols, value_col, bucket, out_col,
        small=plans.small_input(df),
    )


def _grouped_prefix_sum(
    df: DataFrame,
    gs: list[str],
    order_cols: list[str],
    value_col: str,
    bucket: Column,
    out_col: str,
    small: bool,
) -> DataFrame:
    ords = [F.col(c) for c in order_cols]
    if small:
        w = (
            Window.partitionBy(*gs)
            .orderBy(*ords)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return df.withColumn(out_col, F.sum(value_col).over(w))
    base = df.withColumn("_gp_b", bucket)
    hist = (
        base.groupBy(*gs, "_gp_b")
        .agg(F.sum(value_col).alias("_gp_s"))
        .withColumn(
            "_gp_off",
            F.sum("_gp_s").over(Window.partitionBy(*gs).orderBy("_gp_b"))
            - F.col("_gp_s"),
        )
        .select(
            *[F.col(c).alias(f"_h_{c}") for c in gs],
            F.col("_gp_b").alias("_h_b"),
            "_gp_off",
        )
    )
    cond = reduce(
        Column.__and__,
        [base[c].eqNullSafe(F.col(f"_h_{c}")) for c in gs]
        + [base["_gp_b"].eqNullSafe(F.col("_h_b"))],
    )
    tw = (
        Window.partitionBy(*gs, "_gp_b")
        .orderBy(*ords)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.join(hist, cond)
        .withColumn(out_col, F.col("_gp_off") + F.sum(value_col).over(tw))
        .select(*df.columns, out_col)
    )


def grouped_ntile(
    df: DataFrame,
    group_cols: str | list[str],
    order_col: str,
    id_col: str,
    k: int,
    descending: bool = False,
    out_col: str = "bucket",
    bucket: Column | None = None,
) -> DataFrame:
    """``ntile(k) OVER (PARTITION BY group ORDER BY order_col [DESC],
    id_col)`` in both shapes, picked by ``plans.small_input(df)``.
    The cutpoint shape reconstructs Spark's ntile arithmetic exactly:
    with n group rows, the first ``n % k`` buckets hold ``n // k + 1``
    rows, the rest ``n // k`` — a closed form over the cutpoint rank
    plus one broadcast join of per-group totals (|groups| rows —
    languages/domains, never corpus-sized). ``bucket`` passes through
    to ``grouped_rank`` (order-coarsening for continuous scores)."""
    gs = _groups(group_cols)
    if plans.small_input(df):
        ordc = F.col(order_col).desc() if descending else F.col(order_col).asc()
        w = Window.partitionBy(*gs).orderBy(ordc, F.col(id_col).asc())
        return df.withColumn(out_col, F.ntile(k).over(w))
    ranked = _grouped_rank(
        df, gs, order_col, id_col, descending, out_col="_gr_rn",
        bucket=bucket, small=False,
    )
    totals = df.groupBy(*gs).agg(F.count(F.lit(1)).alias("_gr_n"))
    n, rn = F.col("_gr_n"), F.col("_gr_rn")
    q = F.floor(n / k)  # base bucket size (0 when n < k)
    r = n % k  # this many leading buckets take one extra row
    thr = r * (q + 1)  # ranks <= thr live in the larger buckets
    bucket = (
        F.when(rn <= thr, F.ceil(rn / (q + 1)))
        # greatest(q, 1): when n < k the branch is never taken (thr = n
        # covers every rank) but Spark still type-checks the division
        .otherwise(r + F.ceil((rn - thr) / F.greatest(q, F.lit(1))))
    )
    return (
        join_totals_nullsafe(ranked, totals, gs)
        .withColumn(out_col, bucket.cast("int"))
        .select(*df.columns, out_col)  # window-shape column order parity
    )
