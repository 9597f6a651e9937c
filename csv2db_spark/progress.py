"""P21 progress metering (reference ``progress_bar.go:9-52``): a ticker
thread that samples Spark's StatusTracker while a load runs and logs
stage/task completion.

The reference wraps the input stream in a byte-counting reader and renders
a bar from a goroutine; the Spark analogue of "bytes through the reader"
is completed tasks over total tasks of the active stages (task splits are
byte-sized by ``maxPartitionBytes``, so task progress IS byte progress to
first order). Like the reference, the meter only engages above a minimum
input size (``csv2db.go:22,72-75``: bars for tiny inputs are noise) and is
strictly observational — it never touches the query plan.
"""

from __future__ import annotations

import logging
import threading
import time
from typing import Callable

log = logging.getLogger("csv2db_spark.progress")

MIN_BYTES = 100  # reference threshold, csv2db.go:22


class ProgressMeter:
    """Context manager: ``with ProgressMeter(spark, input_bytes): load()``.

    Samples (completed_tasks, total_tasks) across active stages every
    ``interval`` seconds on a daemon thread; emits through ``emit``
    (default: module logger at INFO). ``samples`` retains the series for
    inspection/tests."""

    def __init__(
        self,
        spark,
        input_bytes: int | None = None,
        min_bytes: int = MIN_BYTES,
        interval: float = 0.5,
        emit: Callable[[str], None] | None = None,
    ):
        self._spark = spark
        self._enabled = input_bytes is None or input_bytes > min_bytes
        self._interval = interval
        self._emit = emit or (lambda msg: log.info("%s", msg))
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.samples: list[tuple[int, int]] = []

    def _poll_once(self) -> tuple[int, int]:
        tracker = self._spark.sparkContext.statusTracker()
        done = total = 0
        for jid in tracker.getActiveJobsIds():
            jinfo = tracker.getJobInfo(jid)
            if jinfo is None:
                continue
            for sid in jinfo.stageIds:
                sinfo = tracker.getStageInfo(sid)
                if sinfo is None:
                    continue
                total += sinfo.numTasks
                done += sinfo.numCompletedTasks
        return done, total

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                done, total = self._poll_once()
            except Exception:  # e.g. the session torn down mid-poll
                log.debug("progress meter stopped", exc_info=True)
                return
            if total:
                self.samples.append((done, total))
                self._emit(f"progress: {done}/{total} tasks")

    def __enter__(self) -> "ProgressMeter":
        if self._enabled:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
