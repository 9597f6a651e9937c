"""Layer tracing from outside the engine package.

``Tracer.wrap`` replaces a function of a ``csv2db_spark`` module,
and every module-level name bound to that same function object, with a
wrapper that records a span and tags the Spark jobs the call launches
with a job group of its own. Spans are kept in memory and written out
when the benchmark ends.

Counts come from two places Spark provides with its UI off:

- ``StatusTracker``: jobs, stages and completed tasks per job group
  (``Tracer.collect_counts``, called while the session is still alive);
- the uncompressed event log: per-task wall time, shuffle bytes written
  and spill bytes per job group (``reduce_event_log``, read after the
  session has stopped and the log is complete).

Planning time comes from Spark itself: ``Tracer.watch_planning``
registers a ``QueryExecutionListener`` (through the py4j callback
server) that keeps, for every finished SQL execution, the wall-clock
window of its optimisation and planning phases as the execution's own
``QueryPlanningTracker`` recorded them.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Tracer:
    """Spans for one benchmark process.

    A span is ``{name, start, end, wall, parent, op, group}``: ``start``
    and ``end`` are ``perf_counter`` seconds, ``wall`` the epoch seconds at
    the start, ``parent`` the index of the enclosing span, ``op`` the
    benchmark operation it belongs to, and ``group`` the Spark job group
    its own jobs carry. Group ids nest
    (``op3/q01.build#7/sources.load_table#8``), so the jobs of a span and
    of everything below it share the span's group as a prefix.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: int | None = None
        self.enabled = False
        self.frames: dict = {}
        self.planning: list[tuple[float, float]] = []
        self._stack: list[int] = []
        self._listener = self._manager = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        base = self.spans[parent]["group"] if parent is not None else f"op{self.op}"
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "wall": time.time(),
            "parent": parent,
            "op": self.op,
            "group": f"{base}/{name}#{idx}",
        }
        self.spans.append(rec)
        self._stack.append(idx)
        prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
        self.sc.setLocalProperty(_GROUP, rec["group"])
        self.sc.setLocalProperty(_DESC, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev[0])
            self.sc.setLocalProperty(_DESC, prev[1])

    def wrap(self, module, attr: str, name: str) -> None:
        """Trace every call of ``module.attr`` as a span named ``name``.

        Plain int/bool results are kept on the span (``returned``);
        the last DataFrame a wrapped call returned is kept in
        ``frames[name]``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if rec is not None:
                    if isinstance(out, (bool, int)):
                        rec["returned"] = out
                    elif hasattr(out, "sparkSession"):
                        self.frames[name] = out
                return out

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("csv2db_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    def watch_planning(self, spark) -> None:
        """Record the optimisation-to-planning window (epoch seconds) of
        every SQL execution from now on in ``planning``."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PlanningListener(self.planning)
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self._listener)

    def planning_s(self, start: float, end: float) -> float:
        """Seconds of optimisation and planning of the executions whose
        optimisation began between the epoch times ``start`` and ``end``
        (the JVM clock reads whole milliseconds, hence the slack)."""
        return sum(e - b for b, e in self.planning if start - 0.002 <= b <= end)

    def close(self) -> None:
        if self._listener is not None:
            self._manager.unregister(self._listener)
            self._listener = None

    def collect_counts(self) -> None:
        """Jobs, stages and completed tasks launched in each span's own
        job group, from the StatusTracker. Waits for the listener bus so
        the last jobs are visible."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numCompletedTasks
            rec.update(jobs=len(jobs), stages=len(stages), tasks=tasks)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _PlanningListener:
    """A ``QueryExecutionListener`` implemented in Python. Spark calls it
    on its listener thread after each SQL execution ends."""

    def __init__(self, out: list):
        self.out = out

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        opt, plan = phases.get("optimization"), phases.get("planning")
        if opt.isDefined() and plan.isDefined():
            self.out.append((opt.get().startTimeMs() / 1000.0,
                             plan.get().endTimeMs() / 1000.0))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def subtree(spans: list[dict], idx: int) -> list[dict]:
    """The span at ``idx`` and every span below it."""
    out, frontier = [spans[idx]], {idx}
    for i in range(idx + 1, len(spans)):
        if spans[i]["parent"] in frontier:
            frontier.add(i)
            out.append(spans[i])
    return out


# ------------------------------------------------------------- event log


def event_log_lines(log_dir: str):
    """Lines of every event log under ``log_dir``: the rolling
    ``eventlog_v2_*/events_<n>_*`` parts in order, or plain single-file
    logs."""
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            files = [os.path.join(path, p) for p in parts]
        else:
            files = [path]
        for fp in files:
            with open(fp, encoding="utf-8") as f:
                yield from f


def reduce_event_log(lines) -> dict[str, dict]:
    """Per job group: task count, task wall seconds (sum and max), shuffle
    bytes written, bytes spilled to disk and input records read. Tasks of stages whose job had
    no group are dropped."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "tasks": 0,
            "task_s_sum": 0.0,
            "task_s_max": 0.0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "records_read": 0,
        }
    )
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(_GROUP)
            if group:
                for s in ev.get("Stage IDs", ()):
                    stage_group.setdefault(s, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            info = ev["Task Info"]
            metrics = ev.get("Task Metrics") or {}
            secs = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            rec = out[group]
            rec["tasks"] += 1
            rec["task_s_sum"] += secs
            rec["task_s_max"] = max(rec["task_s_max"], secs)
            shuffle = metrics.get("Shuffle Write Metrics") or {}
            rec["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
            inputs = metrics.get("Input Metrics") or {}
            rec["records_read"] += inputs.get("Records Read", 0)
    return dict(out)


def under(groups: dict[str, dict], prefix: str) -> dict:
    """Sum the event-log records of ``prefix`` and every group nested
    below it (task_s_max is a max)."""
    tot = {"tasks": 0, "task_s_sum": 0.0, "task_s_max": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0, "records_read": 0}
    for g, rec in groups.items():
        if g == prefix or g.startswith(prefix + "/"):
            for k, v in rec.items():
                tot[k] = max(tot[k], v) if k == "task_s_max" else tot[k] + v
    return tot
