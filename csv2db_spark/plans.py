"""Programmatic physical-plan audit — the greps of PLANS.md as a
library.

`tests/test_plan_shapes.py` pins individual queries' shapes; this gives
the same signals as data, for any DataFrame, so a pipeline author (or a
CI check over every registered query) can assert "no Python in the hot
path", "bounded exchanges", "the dim side broadcast" without parsing
plan strings by hand. Everything is derived from the EXECUTED plan
string — the post-AQE truth, not the logical intent.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_stats(df: DataFrame) -> dict:
    """Shape summary of the physical plan:

    - ``exchanges``: shuffle count (each is a full materialization
      barrier — the first number to stare at for a 100x scale-up)
    - ``broadcasts`` / ``sort_merge_joins`` / ``nested_loop_joins``:
      join strategy mix; an unexpected SMJ where a dim should broadcast
      is the classic silent regression
    - ``python_nodes``: Arrow/Python evaluation operators — the slow
      path; 0 for anything claiming pure codegen
    - ``codegen_spans``: WholeStageCodegen regions (wider is better)
    - ``scans`` / ``pushed_filter_scans``: file sources, and how many
      of them carry at least one pushed predicate
    - ``cartesian``: CartesianProduct occurrences (almost always a bug)
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan \w+", plan)
    pushed = re.findall(r"PushedFilters: \[[^\]]", plan)
    return {
        "exchanges": plan.count("Exchange "),
        "broadcasts": plan.count("BroadcastExchange")
        + plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "python_nodes": len(re.findall(r"(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)", plan)),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "scans": len(scans),
        "pushed_filter_scans": len(pushed),
    }


# --- adaptive plan-shape selection ---
#
# Several operators carry TWO bit-identical plan shapes: a gate-scale
# shape (one keyed window / single per-query sort) and a 100 TB shape
# (two-stage shard rank, histogram-offset cutpoint rank). Taking the
# scale shapes unconditionally pays their extra exchanges at fixture
# size (measured: cosine −14%, curation v2 −45%). So the shape is
# picked here, and only here, from an estimate of the operator's own
# input: below the threshold the single-sort shape is strictly better
# (the whole input fits one task's sort comfortably); above it the
# sharded shape is the only one that scales. Both branches produce
# bit-identical rows, pinned by the modes-equal tests, so the choice
# is invisible to every oracle. No operator takes a per-call shape
# argument or a frame to estimate instead of its input; tests and
# deployments move the threshold.

ADAPTIVE_SMALL_KEY = "spark.csv2db.adaptive.smallInputMaxBytes"
ADAPTIVE_SMALL_DEFAULT = 256 * 1024 * 1024


def _as_int(size) -> int:
    # py4j maps the underlying java.math.BigInteger to a Python int;
    # older bridges hand back the BigInt object itself
    return size if isinstance(size, int) else int(size.toString())


def est_size_bytes(df: DataFrame) -> int:
    """Estimated bytes of ``df``: the smaller of Catalyst's estimate
    for the optimized plan's root and the sum over its leaves.
    Driver-side planning only — no job runs.

    - The root scales a scan's file size through projections (NOT
      through filters, see small_input), but with CBO off a join
      estimates the PRODUCT of its children (measured: a 500-row
      self-join of ``documents`` estimates 4,019,803,780 B).
    - The leaf sum counts each input once, so joins cannot inflate
      it. A ``LogicalRDD`` leaf whose RDD the block manager holds (an
      eager ``localCheckpoint``, e.g. ``materialize_stage``) counts the
      memory plus disk bytes ``getRDDStorageInfo`` reports for it: the
      checkpoint's own statistics are those of the plan it truncated,
      join products included (that self-join stores 381,040 B). Every
      other leaf counts its own ``sizeInBytes``."""
    plan = df._jdf.queryExecution().optimizedPlan()
    root = _as_int(plan.stats().sizeInBytes())
    leaves = plan.collectLeaves()
    stored = None
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            if stored is None:
                infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
                stored = {info.id(): info for info in infos}
            info = stored.get(leaf.rdd().id())
            if info is not None:
                total += info.memSize() + info.diskSize()
                continue
        total += _as_int(leaf.stats().sizeInBytes())
    return min(root, total)


def small_input(df: DataFrame) -> bool:
    """True when ``est_size_bytes(df)`` is under
    ``spark.csv2db.adaptive.smallInputMaxBytes`` (default 256 MiB) —
    the gate for picking single-sort plan shapes over sharded ones.
    Every twin operator calls it once, on its own input. The threshold
    is a session conf so a cluster deployment (or a test pinning the
    scale shape) can move it without code changes; the default keeps
    fixture-scale inputs on the fast local shape while anything within
    an order of magnitude of a real corpus takes the skew-safe shape.

    Filters do not shrink the estimate. With cost-based optimisation
    off (session.py leaves ``spark.sql.cbo.enabled`` at its default,
    false) Catalyst carries a scan's ``sizeInBytes`` through a
    ``where`` unchanged: sf0.1 lineitem estimates 10,818,932 B both
    unfiltered and under ``l_orderkey = 1``. Only projections shrink
    it (1,492,266 B for one column). A heavily filtered large scan
    therefore reads as large and takes the scale shape — the
    scale-safe direction, pinned in tests/test_plan_shapes.py. Turning
    CBO on would let row-count estimates through filters and needs
    this rule revisited.

    Known blind spot: the leaf sum does not see a join's fan-out, so a
    many-to-many join over small leaves reads as small and takes the
    single-sort shape however many rows it produces. That costs time
    only — the twins are bit-equal, so the rows stay right."""
    conf = df.sparkSession.conf
    threshold = int(conf.get(ADAPTIVE_SMALL_KEY, str(ADAPTIVE_SMALL_DEFAULT)))
    return est_size_bytes(df) < threshold


def assert_plan(df: DataFrame, **limits) -> dict:
    """Assert upper bounds on plan_stats keys (``exchanges=2,
    python_nodes=0``). Returns the stats on success; raises
    AssertionError naming the violated bound and the actual shape —
    drop it into any pipeline's tests to freeze its physical shape."""
    stats = plan_stats(df)
    for key, bound in limits.items():
        if key not in stats:
            raise KeyError(f"unknown plan stat {key!r}")
        if stats[key] > bound:
            raise AssertionError(
                f"plan exceeds {key} <= {bound}: {stats}"
            )
    return stats
