"""Spans and Spark job accounting recorded from the benchmark's side.

A span wraps one call the benchmark makes into a layer's public function
(``parse``, ``Graph.query``, ``DataFrame.collect``, ``Graph.from_tpch``,
...).  Spans of one request share its request id; they are kept in memory
and summarised when the run ends.  Each request also runs its Spark jobs
under its own job groups, one for the work ``Graph.query`` starts and one
for the collect, and the job and task counts are read back from the
status tracker after the request has finished, outside its latency.

With tracing off every method is a no-op, so the untraced run measures
the program alone.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, int, float, float]] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, rid: int = -1):
        """Record ``name`` for request ``rid`` (-1: set-up)."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, rid, t0, time.perf_counter()))

    def job_group(self, rid: int, part: str) -> None:
        """Run the calling thread's next Spark jobs under ``rid``/``part``."""
        if self.enabled:
            self._sc.setJobGroup(f"pb-{rid}-{part}", part)

    def jobs(self, rid: int, part: str) -> tuple[int, int]:
        """(jobs, tasks) that ran under ``rid``/``part``."""
        if not self.enabled:
            return 0, 0
        st = self._sc.statusTracker()
        n_jobs = n_tasks = 0
        for jid in st.getJobIdsForGroup(f"pb-{rid}-{part}"):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            n_jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:     # skipped stages complete none
                    n_tasks += stage.numCompletedTasks
        return n_jobs, n_tasks

    def durations(self, name: str) -> list[float]:
        """Durations in seconds of every span called ``name``."""
        return [t1 - t0 for n, _, t0, t1 in self.spans if n == name]


class RequestIds:
    """Thread-safe request id source."""

    def __init__(self) -> None:
        self._next = 0
        self._mu = threading.Lock()

    def __call__(self) -> int:
        with self._mu:
            self._next += 1
            return self._next
