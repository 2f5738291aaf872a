"""Per-layer measurement for traced runs.

Two sources, both read from the benchmark's side of the program:

- ``Spans`` wraps public functions of the engine's modules with timers, so a
  traced run records how long each call into a layer took, per operation.
- ``SparkLedger`` reads Spark's in-process status stores, which are filled
  even with ``spark.ui.enabled=false``: the status tracker for the job ids of
  a job group, the app status store for stage run time, CPU time, shuffle and
  spill, and the SQL status store for scan output rows.

Untraced runs use neither, so their timings carry no tracing cost.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """Timers around module functions, attributed to the operation that the
    calling thread has open."""

    def __init__(self) -> None:
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def op(self):
        """Open an operation on this thread; yields its ``{span: seconds}``."""
        rec: dict[str, float] = defaultdict(float)
        self._local.rec = rec
        try:
            yield rec
        finally:
            self._local.rec = None

    def wrap(self, module, name: str, span: str) -> None:
        """Replace ``module.name`` with a timed wrapper charging ``span``.
        Raises if the module has no such function, so a renamed layer fails
        the traced run instead of reading 0."""
        fn = getattr(module, name, None)
        if not callable(fn):
            raise AttributeError(f"{module.__name__} has no function {name!r} to trace")

        def timed(*args, **kwargs):
            rec = getattr(self._local, "rec", None)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                if rec is not None:
                    rec[span] += time.perf_counter() - t0

        setattr(module, name, timed)
        self._patched.append((module, name, fn))

    def restore(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()


class SparkLedger:
    """Reads job, stage and SQL metrics for job groups."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._groups = 0
        self._lock = threading.Lock()

    def new_group(self, label: str) -> str:
        """Tag this thread's next jobs with a fresh job group; return its id."""
        with self._lock:
            self._groups += 1
            group = f"perfbench-{self._groups}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far. The stores are filled from that bus asynchronously; a job has
        posted its end events by the time its action returns, so after a
        drain they hold every stage of the operations that have returned."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum the completed stages of the given jobs. A stage that several
        jobs share is counted once; skipped stages did no work."""
        tot = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_write", "shuffle_read", "spill"), 0.0
        )
        tot["jobs"] = float(len(job_ids))
        seen = set()
        for jid in job_ids:
            for sid in self._conv.asJava(self._store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, False, self._no_status, False, self._no_quantiles)
                for st in self._conv.asJava(attempts):
                    if st.status().toString() != "COMPLETE":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numTasks()
                    tot["run_s"] += st.executorRunTime() / 1e3
                    tot["cpu_s"] += st.executorCpuTime() / 1e9
                    tot["shuffle_write"] += st.shuffleWriteBytes()
                    tot["shuffle_read"] += st.shuffleReadBytes()
                    tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot

    def group_totals(self, group: str) -> dict[str, float]:
        """Drain the bus, then sum the stages of the group's jobs."""
        self.drain()
        return self.stage_totals(self.jobs(group))

    def scan_rows_by_execution(self) -> list[tuple[set[int], int]]:
        """For every retained SQL execution: its job ids and the output rows
        of its scan nodes."""
        self.drain()
        out = []
        for ex in self._conv.asJava(self._sql.executionsList()):
            eid = ex.executionId()
            jobs = set(self._conv.asJava(ex.jobs()).keySet())
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            rows = 0
            for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                if not node.name().startswith("Scan"):
                    continue
                for m in self._conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        rows += int((values.get(m.accumulatorId()) or "0").replace(",", ""))
            out.append((jobs, rows))
        return out


def scan_rows(executions: list[tuple[set[int], int]], job_ids) -> int:
    """Scan output rows of the executions that ran any of ``job_ids``."""
    ids = set(job_ids)
    return sum(rows for jobs, rows in executions if jobs & ids)
