#!/usr/bin/env python
"""Interleaved A/B timer: legs alternate OLD/NEW within ONE session so
host noise hits both shapes equally (OPTIMIZATION_r14.md protocol).
Which leg runs first alternates from rep to rep, so neither leg always
inherits the other's warm caches or pays for its garbage.

The OLD leg is produced by monkeypatching a named toggle; the NEW leg
is the tree as-is. Usage:

    python scripts/ab_interleave.py <toggle> q_a [q_b ...] [--reps N]

Toggles are registered in TOGGLES below: each entry is (apply_old,
undo_old) callables. Prints one JSON line per query with both series,
each leg's median, quartiles and best, the steal delta per leg, and how
many reps NEW won.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _toggle_preserve_partitioning():
    """OLD = materialize_stage ignores preserve_partitioning."""
    import csv2db_spark.operators.stage as stage

    orig = stage.materialize_stage

    def old(df, mode="local", path=None, preserve_partitioning=False):
        return orig(df, mode=mode, path=path, preserve_partitioning=False)

    def apply_old():
        stage.materialize_stage = old
        # consumers import the symbol inside the function body, so the
        # module attribute swap is sufficient
    def undo_old():
        stage.materialize_stage = orig

    return apply_old, undo_old


def _toggle_staged_edges():
    """OLD = graph loops checkpoint the edge list unpartitioned (the
    pre-round-14 shape: a fresh edge shuffle in every round's join)."""
    import csv2db_spark.operators.graph as graph

    orig = graph._stage_edges_by_key

    def old(edges, key):
        return edges.localCheckpoint(eager=True)

    def apply_old():
        graph._stage_edges_by_key = old

    def undo_old():
        graph._stage_edges_by_key = orig

    return apply_old, undo_old


def _toggle_scale_shapes():
    """OLD = every twin operator takes its scale shape (sharded top-k,
    cutpoint rank): the OLD leg runs with the small-input threshold at
    0 bytes, so every ``plans.small_input`` answers False. The shape is
    fixed while the query is built; holding the setting through the
    run as well changes nothing."""
    from pyspark.sql import SparkSession

    from csv2db_spark.plans import ADAPTIVE_SMALL_KEY

    prior = {}

    def apply_old():
        conf = SparkSession.getActiveSession().conf
        prior["value"] = conf.get(ADAPTIVE_SMALL_KEY, None)
        conf.set(ADAPTIVE_SMALL_KEY, "0")

    def undo_old():
        conf = SparkSession.getActiveSession().conf
        if prior["value"] is None:
            conf.unset(ADAPTIVE_SMALL_KEY)
        else:
            conf.set(ADAPTIVE_SMALL_KEY, prior["value"])

    return apply_old, undo_old


TOGGLES = {
    "preserve_partitioning": _toggle_preserve_partitioning,
    "scale_shapes": _toggle_scale_shapes,
    "staged_edges": _toggle_staged_edges,
}


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 4
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=")[1])
    toggle_name, names = args[0], args[1:]
    apply_old, undo_old = TOGGLES[toggle_name]()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from csv2db_spark import get_spark
    from csv2db_spark.registry import load_all_queries

    spark = get_spark("ab-interleave")
    spark.sparkContext.setLogLevel("ERROR")
    queries = load_all_queries()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for name in names:
        qd = queries[name]
        for wd in ("/root/testdata/sf0.001", sf_dir):
            noop(qd.fn(spark, wd))
        res = {"old": {"series": [], "steal": 0},
               "new": {"series": [], "steal": 0}}
        for rep in range(reps):
            for leg in ("old", "new") if rep % 2 == 0 else ("new", "old"):
                if leg == "old":
                    apply_old()
                try:
                    s0, t0 = steal(), time.perf_counter()
                    noop(qd.fn(spark, sf_dir))
                    res[leg]["series"].append(
                        round(time.perf_counter() - t0, 3))
                    res[leg]["steal"] += steal() - s0
                finally:
                    if leg == "old":
                        undo_old()
        for leg in res:
            series = res[leg]["series"]
            res[leg]["median"] = round(statistics.median(series), 3)
            if len(series) > 1:
                q1, _, q3 = statistics.quantiles(series, n=4)
                res[leg]["quartiles"] = [round(q1, 3), round(q3, 3)]
            res[leg]["best"] = min(series)
        new_wins = sum(
            n < o for o, n in zip(res["old"]["series"], res["new"]["series"])
        )
        print(json.dumps({"query": name, "toggle": toggle_name, **res,
                          "new_wins": new_wins, "reps": reps}),
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
