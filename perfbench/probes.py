"""Measurement helpers read from outside the engine: the process tree's
CPU time and resident memory from /proc, Spark's job/stage counts from
its status tracker and status store, and in-memory trace spans."""

from __future__ import annotations

import os
import re
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of a process and every live descendant, including the
    children each of them has already reaped."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_rss_bytes(root_pid: int) -> int:
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS on a thread; ``peak`` is
    the largest sample."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """Spans kept in memory: name, start, end, parent span, op id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: str):
        return _Span(self, name, op)

    def self_times(self) -> list[dict]:
        """Each span with its self time: duration minus the time its
        child spans cover (children never overlap: one client thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return [
            dict(s, self_s=(s["end"] - s["start"]) - child_time[i])
            for i, s in enumerate(self.spans)
        ]


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: str):
        self.tracer, self.name, self.op = tracer, name, op

    def __enter__(self):
        t = self.tracer
        self.idx = len(t.spans)
        t.spans.append({
            "name": self.name, "op": self.op,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        t.spans[self.idx]["end"] = time.perf_counter()
        t._stack.pop()


_EXCHANGE_RE = re.compile(r"(^|[\s:+-])Exchange ")


def shuffle_exchanges(df) -> int:
    """Shuffle Exchange nodes in the physical plan's tree string (with
    AQE, the plan before execution). Broadcast and reused exchanges do
    not count."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if _EXCHANGE_RE.search(line))


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")


def _size_bytes(text: str) -> float:
    """Total of a size metric as the SQL status store formats it: either
    ``'1.2 KiB'`` or ``'total (min, med, max ...)\\n1.2 KiB (...)'``."""
    m = _SIZE_RE.search(text.split("\n")[-1] if "\n" in text else text)
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


class SparkCounters:
    """Counts read from Spark's status tracker (jobs per job group) and
    its status stores (per-stage task metrics, per-operator SQL
    metrics). Works with the UI disabled."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._defaults = [
            getattr(self._store, f"stageData$default${i}")() for i in range(2, 6)
        ]

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict:
        """Executed stages of the given jobs (skipped ones excluded)."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict(stages=0, tasks=0, failed_tasks=0, run_ms=0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, *self._defaults)
            ran = False
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                ran = True
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["run_ms"] += s.executorRunTime()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["stages"] += ran
        return out

    def last_execution_id(self) -> int:
        return self._sql.executionsCount() - 1

    def python_bytes(self, after_execution_id: int) -> tuple[float, float]:
        """Bytes sent to and returned from Python workers by the SQL
        executions after ``after_execution_id``. A cached plan reappears
        in the graph of every execution that reads it, so each metric
        (accumulator) counts once."""
        seen: dict[int, tuple[str, float]] = {}
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= after_execution_id:
                continue
            values = self._sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                name = m.name()
                if name not in ("data sent to Python workers", "data returned from Python workers"):
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    seen[m.accumulatorId()] = (name, _size_bytes(v.get()))
        sent = sum(b for n, b in seen.values() if n.startswith("data sent"))
        got = sum(b for n, b in seen.values() if n.startswith("data returned"))
        return sent, got

