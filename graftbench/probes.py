"""Measurement helpers the benchmark keeps outside the program.

- ``Spans``: wall-clock spans recorded around calls into the package's
  public functions (the wrappers live in the benchmark, not in the
  package), kept in memory and dumped at the end.
- ``spark_work``: per-operation work counts (jobs, stages, tasks,
  executor time, GC, shuffle, spill) read from Spark's live status
  store, the same store the UI and ``statusTracker`` read.
- ``ProgressLog``: a StreamingQueryListener that keeps every progress
  event (phase durations, input rows, state-store size).
- ``ProcSampler``: peak RSS of this process tree and CPU steal from
  ``/proc``.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from typing import NamedTuple

#: Local property Spark stores the job group in. Wrappers set it
#: directly: ``setJobGroup`` would also reset the description and
#: interrupt flag the streaming engine gives its own threads.
JOB_GROUP = "spark.jobGroup.id"


class Spans:
    """In-memory spans: ``(name, start, end, parent)`` in seconds since
    the epoch, so they line up with Spark's own timestamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()

    def wrap(self, module, attr: str):
        """Replace ``module.attr`` with a wrapper that records a span per
        call, and return the wrapper. Callers inside the package resolve
        the attribute at call time, so they pick the wrapper up."""
        fn = getattr(module, attr)
        label = f"{module.__name__.removeprefix('etl_wlg_metlink_spark.')}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = getattr(self._local, "current", None)
            span = {"name": label, "start": time.time(), "parent": parent}
            self._local.current = label
            try:
                return fn(*args, **kwargs)
            finally:
                self._local.current = parent
                span["end"] = time.time()
                self.spans.append(span)

        setattr(module, attr, traced)
        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def _scala_list(spark, seq):
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def drain_listeners(spark) -> None:
    """Block until every posted Spark event has reached the listeners,
    so the status store and the progress log are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


_WORK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def spark_work(spark, bucket_of) -> dict:
    """Work done by Spark jobs, summed per bucket: ``bucket_of(job_id,
    job_group)`` names the bucket a job belongs to, or None to skip it.
    Returns bucket -> counts. Skipped stages (reused shuffle output)
    count as no work; a retried stage counts its last attempt."""
    drain_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict = {}
    for job in _scala_list(spark, store.jobsList(None)):
        group = job.jobGroup()
        bucket = bucket_of(job.jobId(), group.get() if group.isDefined() else None)
        if bucket is None:
            continue
        acc = out.setdefault(bucket, dict.fromkeys(_WORK_KEYS, 0))
        acc["jobs"] += 1
        for sid in _scala_list(spark, job.stageIds()):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            acc["stages"] += 1
            acc["tasks"] += st.numCompleteTasks()
            acc["executor_run_ms"] += st.executorRunTime()
            acc["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            acc["gc_ms"] += st.jvmGcTime()
            acc["shuffle_read_bytes"] += st.shuffleReadBytes()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def last_job_id(spark) -> int:
    """Highest job id Spark has seen so far (-1 before the first job);
    jobs of a later operation all have larger ids."""
    drain_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((j.jobId() for j in _scala_list(spark, store.jobsList(None))), default=-1)


class ProgressLog:
    """Every StreamingQueryProgress of the session, as plain dicts."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.append({
                    "query": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            drain_listeners(spark)
            spark.streams.removeListener(self._listener)
            self._listener = None

    def take(self) -> list[dict]:
        out, self.events[:] = list(self.events), []
        return out


class Proc(NamedTuple):
    pid: int
    state: str
    ppid: int
    pgrp: int


def processes() -> list[Proc]:
    """Every process visible in ``/proc`` (processes that exit while
    being read are skipped)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may contain spaces; fields follow ")"
                state, ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue
        out.append(Proc(int(name), state, int(ppid), int(pgrp)))
    return out


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class ProcSampler:
    """Samples the summed RSS of this process and all its descendants
    (the benchmark process, its JVM and Python workers, and CLI children)
    every ``interval`` seconds, and the host CPU steal share between
    ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._cpu0: list[int] = []
        self.steal_pct = 0.0

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for p in processes():
            children.setdefault(p.ppid, []).append(p.pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._cpu0 = _cpu_times()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        delta = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        # /proc/stat cpu fields: user nice system idle iowait irq softirq steal ...
        self.steal_pct = 100.0 * delta[7] / max(1, sum(delta[:8]))
