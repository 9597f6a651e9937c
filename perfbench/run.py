#!/usr/bin/env python3
"""Benchmark of the csv2db_spark engine: a CSV→JDBC load and a sweep of
the LLM-pipeline queries, end to end and, in a traced run, layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload load_jdbc --seed 1 --seconds 3 --trace 0

Workloads (BENCHMARK.json records why each exists):

- ``load_jdbc``: ``cli.run`` loads a generated 100k-row, ~10 MB CSV into
  an existing typed table of in-memory Derby with ``table_mode=truncate``.
- ``query_llm``: passes over a fixed set of registry queries on the
  fixture tables in ``fixtures/sf0.01``, each query written to the noop
  sink. Those files are byte-for-byte copies of the engine's
  sf0.01 test tables (TESTDATA.md), kept here because the benchmark reads
  nothing outside its checkout.

Protocol: one process, one client, closed loop, ``local[<cpus>]``, the
engine's default driver memory. The load's input is generated from
``--seed`` into a scratch directory of the checkout; the query workload
takes only its pass order from it.
After the untimed set-up, output checks and ``WARMUP`` operations, timed
operations run back to back until ``--seconds`` have passed (at least
``MIN_OPS`` of them).

Output: the last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a report with run-health fields, known defects, every operation's time
and every failure. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced operations and reports the
per-layer metrics of the traced ones (see ``layer_metrics``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

import tracing  # noqa: E402  (stdlib only; the workloads load numpy and
# the engine, so they are imported after set-up is measured)

WORKLOADS = ("load_jdbc", "query_llm")
FIXTURES = HERE / "fixtures" / "sf0.01"
# Timed operations per run, at least. Each count takes longer than
# run_seconds, so every run times the same number of operations and the
# median does not jump with how many fit before the deadline.
MIN_OPS = {"load_jdbc": 3, "query_llm": 2}
# Untimed warm-up operations. The first loads of a process run far slower
# while the JVM compiles the load path; two put the timed ones past the
# steepest part. The query workload is warmed by its oracle checks, which
# run every query once. Its passes keep speeding up for several passes
# after that, but one more untimed pass (7-10 s) did not narrow the
# spread between runs, which is set by the process and the machine.
WARMUP = {"load_jdbc": 2, "query_llm": 0}


# ------------------------------------------------------------- set-up


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def session_env(run_dir: Path, event_log: Path | None) -> dict[str, str]:
    """Environment of the engine session: parallelism and every scratch
    path (temp files, shuffle, Derby, event log) inside
    ``run_dir``. The event log is switched on through spark-submit
    arguments, so the engine's session code stays as users run it."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} "
        f"-Dderby.stream.error.file={run_dir / 'derby.log'}"
    )
    submit = [
        "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "--driver-java-options", java_opts,
    ]
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
        ]
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }


def start_session():
    """What a CLI user waits for: import, session, one trivial job."""
    from csv2db_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------ run health


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def health(seed: int, cpu0: list[int], load0: tuple) -> dict:
    cpu1 = cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    steal = delta[7] if len(delta) > 7 else 0
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "steal_pct": round(100.0 * steal / max(1, sum(delta)), 3),
        "loadavg_start": list(load0),
        "loadavg_end": list(os.getloadavg()),
    }


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    from pyspark import SparkContext

    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


# ------------------------------------------------------------ workloads


class Run:
    """Operation bookkeeping for one benchmark process."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []
        self.untraced: list[float] = []
        self.traced: list[float] = []
        self.traced_ops: list[int] = []
        self.per_query: list[dict] = []

    def attempt(self, what: str, fn) -> bool:
        """Run ``fn``; an exception or a non-empty problem list is one
        failed operation, recorded with its reason."""
        self.attempted += 1
        try:
            problems = fn() or []
        except Exception:
            problems = [traceback.format_exc(limit=3)[-600:]]
        if problems:
            self.failures.append({"op": what, "problems": problems})
        return not problems


def run_ops(args, run: Run, tracer, one_op, after_traced=None, check=None):
    """The closed loop: ``WARMUP`` untimed operations, then timed ones until
    ``args.seconds`` have passed and at least ``MIN_OPS`` have run. With
    tracing, every other timed operation is traced."""
    warmup, min_ops = WARMUP[args.workload], MIN_OPS[args.workload]
    if args.trace:
        # One more warm-up and an untraced operation on each side of the
        # traced one, so trace.overhead_pct does not compare a traced
        # operation with a colder untraced one.
        warmup, min_ops = warmup + 1, max(min_ops, 3)
    t_end = math.inf
    i = 0
    while time.perf_counter() < t_end or i < warmup + min_ops:
        if i == warmup:
            t_end = time.perf_counter() + args.seconds
        traced = bool(args.trace) and i >= warmup and (i - warmup) % 2 == 1
        if tracer is not None:
            tracer.op, tracer.enabled = i, traced
        t0 = time.perf_counter()
        with tracer.span("op") if tracer is not None else nullcontext():
            ok = run.attempt(f"op{i}", lambda: one_op(i))
        secs = time.perf_counter() - t0
        if traced and after_traced is not None:
            run.attempt(f"op{i}.after", after_traced)
        if tracer is not None:
            tracer.enabled = False
        if check is not None:
            ok = run.attempt(f"op{i}.check", check) and ok
        if ok and i >= warmup:
            (run.traced if traced else run.untraced).append(secs)
            if traced:
                run.traced_ops.append(i)
        i += 1


def load_jdbc(args, spark, run_dir: Path, run: Run, tracer) -> dict:
    import datagen
    import workloads

    wl = workloads.LoadJdbc(spark, str(run_dir), args.seed, tracer)
    run_ops(args, run, tracer, lambda i: wl.run(),
            after_traced=wl.after_traced if tracer else None, check=wl.check)
    return {
        "rows": wl.rows,
        "input_bytes": wl.input_bytes,
        "ncols": len(datagen.LOAD_COLUMNS),
        "known_defects": workloads.reproduce_known_defects(spark, str(run_dir)),
    }


def query_sweep(names, args, spark, run: Run, tracer) -> dict:
    import numpy as np
    import workloads

    wl = workloads.QuerySweep(spark, names, str(FIXTURES), tracer)
    for name in names:
        run.attempt(f"check {name}", lambda: wl.check(name))
    rng = np.random.default_rng(args.seed)

    def one_pass(i: int) -> list[str]:
        per, problems = {}, []
        for name in map(str, rng.permutation(names)):
            t0 = time.perf_counter()
            try:
                wl.run_one(name)
            except Exception:
                problems.append(f"{name}: {traceback.format_exc(limit=3)[-600:]}")
            per[name] = round(time.perf_counter() - t0, 4)
        run.per_query.append(per)
        return problems

    run_ops(args, run, tracer, one_pass)
    return {"fixtures": FIXTURES.name, "queries": list(names)}


# ------------------------------------------------------------ per layer

TRACED = {
    "csv2db_spark.cli": (("run", "cli.run"), ("_target_schema", "cli.target_schema")),
    "csv2db_spark.ingest": (("ingest_csv", "ingest.ingest_csv"),),
    "csv2db_spark.sink": (("write_jdbc", "sink.write_jdbc"),),
    "csv2db_spark.sources.tables": (("load_table", "sources.load_table"),),
    "csv2db_spark.plans": (
        ("est_size_bytes", "plans.est_size_bytes"),
        ("small_input", "plans.small_input"),
    ),
}


def install_tracer(spark):
    import importlib

    from csv2db_spark.registry import load_all_queries

    load_all_queries()  # import every module that binds a traced name
    tracer = tracing.Tracer(spark.sparkContext)
    for mod_name, attrs in TRACED.items():
        mod = importlib.import_module(mod_name)
        for attr, span_name in attrs:
            tracer.wrap(mod, attr, span_name)
    tracer.watch_planning(spark)
    return tracer


def per_layer_names() -> list[str]:
    from workloads import ALL_QUERIES

    names = [
        "session.start_s", "session.peak_rss_mb",
        "cli.target_schema_s", "cli.readback_s",
        "ingest.build_s", "ingest.build_jobs",
        "ingest.parse_cast_s", "ingest.parse_cast_tasks",
        "sink.write_s", "sink.write_tasks", "sink.task_s_max",
        "sink.task_s_sum", "sink.insert_batches",
        "sources.load_table_s", "sources.load_table_jobs",
        "queries.build_s", "queries.build_jobs", "queries.plan_s",
        "queries.run_s", "queries.run_jobs", "queries.tasks",
        "queries.shuffle_bytes", "queries.spill_bytes",
    ]
    for q in ALL_QUERIES:
        names += [f"{q}.build_s", f"{q}.run_s"]
    names += ["plans.est_size_calls", "plans.est_size_s",
              "plans.small_shape_ratio", "trace.overhead_pct"]
    return names


UNITS = (("_s", "s"), ("_s_max", "s"), ("_s_sum", "s"), ("_mb", "MB"),
         ("_bytes", "bytes"), ("_ratio", "ratio"), ("_pct", "%"))


def unit_of(name: str) -> str:
    for suffix, unit in UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def layer_metrics(tracer, groups: dict, run: Run, extra: dict) -> dict:
    """Per-layer values: for each traced operation, sum every span of a
    layer (and the jobs/tasks below it), then take the median over the
    traced operations. Layers an operation never calls read 0. A query's
    ``run`` span (its noop write) is split in two: the optimisation and
    planning its write's SQL execution recorded is ``queries.plan_s``, the
    rest ``run_s``."""
    from csv2db_spark.sink import default_batchsize
    from workloads import ALL_QUERIES

    spans = tracer.spans
    per_op: list[dict] = []
    small = [s["returned"] for s in spans if s["name"] == "plans.small_input"]
    for op in run.traced_ops:
        idx = [i for i, s in enumerate(spans) if s["op"] == op]
        m: dict[str, float] = {}

        def add(key, val):
            m[key] = m.get(key, 0) + val

        for i in idx:
            s = spans[i]
            name, dur = s["name"], s["end"] - s["start"]
            below = tracing.subtree(spans, i)
            jobs = sum(b["jobs"] for b in below)
            tasks = sum(b["tasks"] for b in below)
            log = tracing.under(groups, s["group"])
            if name == "cli.target_schema":
                add("cli.target_schema_s", dur)
            elif name == "cli.run":
                writes = [b["end"] for b in below if b["name"] == "sink.write_jdbc"]
                add("cli.readback_s", s["end"] - max(writes, default=s["end"]))
            elif name == "ingest.ingest_csv":
                add("ingest.build_s", dur)
                add("ingest.build_jobs", jobs)
            elif name == "ingest.parse_cast":
                add("ingest.parse_cast_s", dur)
                add("ingest.parse_cast_tasks", tasks)
            elif name == "sink.write_jdbc":
                add("sink.write_s", dur)
                add("sink.write_tasks", tasks)
                add("sink.task_s_sum", log["task_s_sum"])
                m["sink.task_s_max"] = max(m.get("sink.task_s_max", 0), log["task_s_max"])
                add("sink.insert_batches", math.ceil(
                    log["records_read"] / default_batchsize(extra["ncols"])))
            elif name == "sources.load_table":
                add("sources.load_table_s", dur)
                add("sources.load_table_jobs", jobs)
            elif name == "plans.est_size_bytes":
                add("plans.est_size_calls", 1)
                add("plans.est_size_s", dur)
            elif name.rsplit(".", 1)[0] in ALL_QUERIES:
                q, phase = name.rsplit(".", 1)
                if phase == "run":
                    plan = min(tracer.planning_s(s["wall"], s["wall"] + dur), dur)
                    add("queries.plan_s", plan)
                    dur -= plan
                add(f"{q}.{phase}_s", dur)
                add(f"queries.{phase}_s", dur)
                add(f"queries.{phase}_jobs", jobs)
                add("queries.tasks", tasks)
                add("queries.shuffle_bytes", log["shuffle_bytes"])
                add("queries.spill_bytes", log["spill_bytes"])
        per_op.append(m)
    out = {}
    for name in per_layer_names():
        vals = [m.get(name, 0) for m in per_op] or [0]
        out[name] = statistics.median(vals)
    out["session.start_s"] = extra["setup_s"]
    out["session.peak_rss_mb"] = extra["peak_rss_mb"]
    out["plans.small_shape_ratio"] = sum(small) / len(small) if small else 0.0
    out["trace.overhead_pct"] = (
        100.0 * (statistics.median(run.traced) / statistics.median(run.untraced) - 1)
        if run.traced and run.untraced else None
    )
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


# ----------------------------------------------------------------- main


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    cpu0, load0 = cpu_times(), os.getloadavg()

    run_dir = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    event_log = run_dir / "eventlog" if args.trace else None
    try:
        os.environ.update(session_env(run_dir, event_log))
        sys.stdin = open(os.devnull)  # the CLI must never prompt for a password
        run = Run()
        spark = start_session()
        setup_s = process_age_s()
        try:
            tracer = install_tracer(spark) if args.trace else None
            if args.workload == "load_jdbc":
                extra = load_jdbc(args, spark, run_dir, run, tracer)
            else:
                from workloads import LLM, LLM_SHARDED

                names = LLM + (LLM_SHARDED if args.trace else ())
                extra = query_sweep(names, args, spark, run, tracer)
            extra["setup_s"] = setup_s
            if tracer is not None:
                tracer.collect_counts()  # waits for the listener bus
                tracer.close()
                extra["peak_rss_mb"] = peak_rss_mb()
        finally:
            stop_session(spark)
        report = {
            "workload": args.workload,
            "health": health(args.seed, cpu0, load0),
            "untraced_op_s": run.untraced,
            "traced_op_s": run.traced,
            "per_query_s": run.per_query,
            "failures": run.failures,
            **{k: v for k, v in extra.items() if k != "setup_s"},
        }
        if tracer is not None:
            groups = tracing.reduce_event_log(tracing.event_log_lines(str(event_log)))
            tracer.dump(str(WORK / "traces" / f"{run_dir.name}.json"))
            metrics = layer_metrics(tracer, groups, run, extra)
        else:
            metrics = end_to_end(run, extra, report)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(run.failures)
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def end_to_end(run: Run, extra: dict, report: dict) -> dict:
    """The contract metrics, plus ``report["summary"]``: the same figures
    under workload-specific names (rows loaded per second for the load,
    seconds per pass for the sweep) and the failed share. When no timed
    operation succeeded the times read null; the run is then not correct."""
    op_s = statistics.median(run.untraced) if run.untraced else None
    failed_ratio = len(run.failures) / run.attempted
    summary = {"setup_s": (extra["setup_s"], "s"),
               "failed_ratio": (failed_ratio, "ratio")}
    if "rows" in extra:
        rates = [extra["rows"] / s for s in run.untraced]
        summary["load_rows_per_s"] = (
            statistics.median(rates) if rates else None, "rows/s")
    else:
        summary["sweep_s_p50"] = (op_s, "s")
    report["summary"] = {k: {"value": v, "unit": u} for k, (v, u) in summary.items()}
    return {
        "setup_s": {"value": extra["setup_s"], "unit": "s"},
        "op_s_p50": {"value": op_s, "unit": "s"},
    }


if __name__ == "__main__":
    sys.exit(main())
