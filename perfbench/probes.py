"""Measurement from outside the package: the process tree's CPU and
memory from ``/proc``, Spark's own status store, the JVM's GC beans, a
``StreamingQueryListener``, and an in-memory span recorder.

Nothing here changes what the package computes; every reader runs
between calls into it.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rfind(b")") + 2 :].split()
        # after the comm field: state ppid ... utime(11) stime cutime cstime(14)
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def _tree(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in table:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of ``root`` and every descendant (the JVM and
    its Python workers), counting children already reaped."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, root or os.getpid())) / CLK_TCK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes that map it, so forked Python workers do not
    count the pages they share with their parent again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int | None = None) -> int:
    table = _proc_table()
    return sum(_pss_bytes(p) for p in _tree(table, root or os.getpid()))


class MemorySampler:
    """Background sampler of the process tree's memory (PSS); the peak
    counts only while ``active`` is set (the timed passes)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.active = threading.Event()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak = max(self.peak, tree_pss_bytes())

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkStatus:
    """Reads jobs and stages from the SparkContext's status store.

    Jobs are attributed to a call by the range of job ids the
    scheduler handed out while it ran, so micro-batch jobs of a stream
    started inside the call count too (they run under the stream's own
    job group, which a job-group filter would miss)."""

    STAGE_FIELDS = ("shuffle_bytes", "spill_bytes", "task_cpu_s", "input_bytes", "output_bytes", "failed_tasks")

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._dag = self._sc.dagScheduler()
        self._gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def jobs(self, lo: int, hi: int) -> dict[str, float]:
        """Totals over jobs ``lo <= id < hi``; call ``drain`` first."""
        out = dict.fromkeys(("jobs", "stages", *self.STAGE_FIELDS), 0.0)
        seen: set[int] = set()
        for job_id in range(lo, hi):
            out["jobs"] += 1
            stage_ids = self._store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["failed_tasks"] += st.numFailedTasks()
        return out

    def last_plan(self) -> str:
        """Physical plan text of the most recent SQL execution."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = int(sql.executionsCount())
        return str(sql.executionsList(n - 1, 1).apply(0).physicalPlanDescription())


PYTHON_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow")


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress report's
    trigger timings and input rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict[str, float]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            self.progress.append(
                {
                    "trigger_ms": float(d.get("triggerExecution", 0)),
                    "add_batch_ms": float(d.get("addBatch", 0)),
                    "planning_ms": float(d.get("queryPlanning", 0)),
                    "wal_commit_ms": float(d.get("walCommit", 0)),
                    "input_rows": float(p.numInputRows or 0),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.
    A pass is a root span; each call into the package is a child span.
    Spans of one pass share its trace id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    def span(
        self,
        name: str,
        start: float,
        end: float,
        *,
        trace_id: str,
        parent: str | None = None,
        span_id: str | None = None,
        **attrs,
    ) -> str:
        span_id = span_id or self.new_id()
        self.spans.append(
            {
                "trace_id": trace_id,
                "span_id": span_id,
                "parent_id": parent,
                "name": name,
                "start_s": round(start - self._t0, 6),
                "end_s": round(end - self._t0, 6),
                **attrs,
            }
        )
        return span_id

    @staticmethod
    def new_trace() -> str:
        return uuid.uuid4().hex

    @staticmethod
    def new_id() -> str:
        return uuid.uuid4().hex[:16]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f, indent=1)
