"""Stage-boundary materialization: the one place the package stages an
intermediate result.

Every stage calls ``materialize_stage`` through this module at call
time, so one swap of the attribute reaches all of them (the
``lazy_stages`` toggle of ``scripts/ab_interleave.py`` times each against
its lazy plan). A stage stays for one of three reasons, named in the
one comment at its call site:

- **lifetime**: its rows outlive a temp dir removed before the query
  returns (the snapshot, streaming and persisted-index gates);
- **loop**: it bounds a loop's lineage, so round r does not replan
  rounds 1..r-1 (graph iterations, BPE merges);
- **reuse**: it feeds more than one consumer, each of which would
  re-run the subtree below it. Live exchanges of such consumers have
  run a long-lived session out of heap at sf0.1 (curation v6). A reuse
  stage stays only while it measures faster than its lazy plan, or when
  a ``plans.small_input`` decision downstream reads its stored bytes.

Two modes, because the right mechanism changes with the deployment:

- ``local`` — ``DataFrame.localCheckpoint(eager=True)``: blocks cached
  on the EXECUTORS, zero extra I/O paths to manage. Right for gate /
  single-JVM scale, but lineage is truncated: on a real cluster an
  executor loss kills the cached blocks AND the plan that could rebuild
  them — the job restarts from zero.
- ``reliable`` — stage the rows as parquet under ``path`` and re-read:
  survives executor loss (the re-read replans from durable files), the
  shape a 100 TB production pipeline uses between stages. Costs one
  write+read of the stage's rows.

Row-for-row equivalence of the two modes is pinned in
tests/test_runtime_ops.py.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame


def materialize_stage(
    df: DataFrame,
    mode: str = "local",
    path: str | None = None,
    preserve_partitioning: bool = False,
) -> DataFrame:
    """Materialize a pipeline stage boundary once (see module doc).

    ``mode='local'`` → eager ``localCheckpoint`` (executor-block cache;
    fast, NOT fault-tolerant). ``mode='reliable'`` → write parquet under
    ``path`` (a directory; a unique subdir is created per call so
    repeated stages never collide) and return the re-read plan.

    Cleanup contract for ``reliable``: stage subdirs are CALLER-OWNED.
    Nothing here deletes them — the returned plan reads the files
    lazily, so the library can never know when the last consumer is
    done. Reclaim them when a pipeline run retires via
    ``vacuum_stages(path)`` (age-gated, mirroring
    ``snapshots.SnapshotTable.vacuum``) or by deleting ``path``
    wholesale between runs.

    ``preserve_partitioning=True`` (``local`` mode only): carry the
    stage's physical hash-partitioning and sort order through the
    checkpoint so downstream joins/aggregates on the same keys plan
    exchange-free and sort-free. ``Dataset.checkpoint`` copies the
    executed plan's outputPartitioning/outputOrdering onto the
    LogicalRDD, but under AQE the executed plan is an
    AdaptiveSparkPlanExec that reports UnknownPartitioning — measured
    on Spark 4.1: a repartition(k)+sortWithinPartitions stage
    checkpointed with AQE on re-plans a downstream self-join with BOTH
    exchanges and sorts back (guide §2.4). The flag disables AQE just
    for the eager checkpoint build (restored in a finally), trading
    AQE's coalesce/skew handling on that one staging job for the
    preserved metadata every consumer then rides. Callers pick the
    stage's partition count explicitly (their ``repartition`` call),
    so the build job does not depend on AQE coalescing; production
    sizes it via spark.sql.shuffle.partitions as usual.

    Only ``operators/graph`` passes ``True``: its edge stage is joined
    once per loop round, and preserving measured faster there
    (``q_dedup_clusters`` 1.47 s vs 1.55 s at sf0.01, 1.83 s vs 1.95 s
    at sf0.1). The postings stages of ``llm/dedup.containment_pairs``
    and ``jaccard_pairs`` are joined once, and there the AQE-off job
    over every fixed-width partition cost more than the two exchanges
    it saves (see their docstrings for the numbers).
    """
    if mode == "local":
        if not preserve_partitioning:
            return df.localCheckpoint(eager=True)
        conf = df.sparkSession.conf
        prev = conf.get("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return df.localCheckpoint(eager=True)
        finally:
            conf.set("spark.sql.adaptive.enabled", prev)
    if mode == "reliable":
        if not path:
            raise ValueError("mode='reliable' requires a staging path")
        target = f"{path.rstrip('/')}/stage-{uuid.uuid4().hex[:12]}"
        df.write.mode("error").parquet(target)
        return df.sparkSession.read.parquet(target)
    raise ValueError(f"unknown materialize mode {mode!r}")


def vacuum_stages(path: str, older_than_seconds: float = 86400.0) -> list[str]:
    """Delete ``stage-*`` subdirs under ``path`` whose last modification
    is older than ``older_than_seconds`` (default 1 day).

    The companion to ``materialize_stage(mode='reliable')``: repeated
    pipeline runs against one staging root accumulate a uuid subdir per
    stage per run, and no run cleans up after itself (see the cleanup
    contract above). The age gate keeps a vacuum safe to run while a
    pipeline is live — an in-flight run's stages are recent by
    construction, the same grace discipline as ``snapshots.vacuum``.
    Returns the deleted subdir names.
    """
    cutoff = time.time() - max(0.0, older_than_seconds)
    deleted = []
    root = path.rstrip("/")
    try:
        names = sorted(os.listdir(root))
    except OSError:
        return deleted  # nothing staged yet
    for name in names:
        sub = os.path.join(root, name)
        if not name.startswith("stage-") or not os.path.isdir(sub):
            continue
        try:
            newest = max(
                (e.stat().st_mtime for e in os.scandir(sub)),
                default=os.stat(sub).st_mtime,
            )
        except OSError:
            continue  # raced with a concurrent vacuum
        if newest <= cutoff:
            shutil.rmtree(sub, ignore_errors=True)
            deleted.append(name)
    return deleted
