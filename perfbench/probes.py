"""Measurement probes the benchmark reads from outside the engine.

* :class:`ProcTree` — CPU seconds and resident memory of the Spark JVM and
  every process below it (the Python daemon and its workers), from
  ``/proc``.  Spark's own ``executorCpuTime`` leaves out the Python side.
* :class:`RssPeak` — a sampling thread that keeps the peak of that tree's
  resident memory while jobs run.
* :class:`SparkLedger` — after a job, reads what Spark recorded for it:
  the per-operator SQL metrics of every SQL execution the job started
  (from the executed plans, including work a public function ran inside
  its own call, such as ``knn_join``'s rounds or ``run_resumable``'s
  write), its jobs, tasks and job submission times, and the JVM's
  garbage-collection time meanwhile.
* :class:`Tracer` — spans around each call into a layer's public
  function, kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file; None if gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread ended while it was read
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, command)."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (stat := _read_stat(f"/proc/{name}/stat")):
            comm, fields = stat
            ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
            out[int(name)] = (int(fields[1]), ticks, int(fields[21]), comm)
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        if stat := _read_stat(f"/proc/{pid}/task/{tid}/stat"):
            ticks += int(stat[1][11]) + int(stat[1][12])
    return ticks


def descendants(root: int, table: dict | None = None) -> list[int]:
    """``root`` and every live process below it."""
    table = table if table is not None else _proc_table()
    children = defaultdict(list)
    for pid, (ppid, *_) in table.items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children[pid])
    return out


class ProcTree:
    """CPU and RSS of the process tree rooted at the Spark JVM.

    CPU counts ``cutime``/``cstime`` too, so a Python worker that exited and
    was reaped by its parent inside the tree keeps counting.  :meth:`cpu_s`
    leaves out the JVM's JIT compiler threads: their work falls off over
    the first minutes of a JVM's life whatever the jobs do, and would
    otherwise dominate the run-to-run spread of a short measurement.

    Resident memory counts the JVM and its Python processes only: a helper
    the JVM spawns (for a file-permission call, say) shares the JVM's
    address space until it execs, and counting it would count the JVM
    twice."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def sample(self) -> tuple[float, float]:
        table = _proc_table()
        pids = descendants(self.root, table)
        ticks = sum(table[p][1] for p in pids)
        pages = sum(table[p][2] for p in pids
                    if p == self.root or table[p][3].startswith("python"))
        return ticks / _CLK, pages * _PAGE / 1e6

    def cpu_s(self) -> float:
        return self.sample()[0] - _jit_ticks(self.root) / _CLK


class RssPeak:
    """Peak resident MB of a :class:`ProcTree`, sampled every ``period`` s
    between :meth:`start` and :meth:`stop`."""

    def __init__(self, tree: ProcTree, period: float = 0.05):
        self.tree, self.period = tree, period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.sample()[1])
            self._stop.wait(self.period)

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``/proc/stat`` cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


# --------------------------------------------------------------------------- #
# Spark's recorded SQL metrics
# --------------------------------------------------------------------------- #

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Spark's formatted metric string -> bytes, seconds or a count.

    Multi-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first number on the last line."""
    if not text:
        return 0.0
    m = _NUM.search(text.strip().split("\n")[-1])
    if m is None:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


# (node-name test, metric description) -> (layer metric, scale).  A
# WholeStageCodegen "duration" covers its whole pipelined stage, so a stage
# that pulls rows out of a Python operator also counts the time it waited.
_RULES = [
    (lambda n: n.startswith("Scan "), "size of files read", "scan.mb", 1e-6),
    (lambda n: n.startswith("Scan "), "scan time", "scan.s", 1.0),
    (lambda n: n.startswith("WholeStageCodegen"), "duration", "codegen.s", 1.0),
    (lambda n: n == "Exchange", "shuffle bytes written", "shuffle.write_mb", 1e-6),
    (lambda n: n == "Exchange", "shuffle write time", "shuffle.write_s", 1.0),
    (lambda n: n == "Exchange", "shuffle records written", "shuffle.records", 1.0),
    (lambda n: True, "data sent to Python workers", "arrow.sent_mb", 1e-6),
    (lambda n: True, "data returned from Python workers", "arrow.recv_mb", 1e-6),
    (lambda n: True, "time to run Python workers", "python.s", 1.0),
    (lambda n: True, "time to start Python workers", "python.boot_s", 1.0),
    (lambda n: n == "BroadcastExchange", "data size", "joins.broadcast_mb", 1e-6),
]
_MAX_RULES = [(lambda n: n == "Sort", "peak memory", "sort.peak_mb", 1e-6)]
_WANTED = {r[1] for r in _RULES + _MAX_RULES}


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkLedger:
    """Reads Spark's live status stores for the jobs and SQL executions a
    job started after :meth:`mark`.

    The SQL store keeps, per execution, the plan graph of the physical plan
    the action actually ran: the final adaptive plan, with every query
    stage's subtree (``ShuffleQueryStage``, ``BroadcastQueryStage``,
    ``ResultQueryStage``) expanded.  Walking the plan of the DataFrame a
    caller holds would miss both a fresh Dataset planned by the action and
    the executions a public function runs inside its own call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc.statusTracker()
        self._gcs = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def _gc_s(self) -> float:
        """Seconds the JVM's collectors have run so far."""
        return sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size())) / 1e3

    def mark(self) -> tuple[int, int, float]:
        self._bus.waitUntilEmpty(60_000)
        jobs = self._tracker.getJobIdsForGroup()
        return int(self._sql.executionsCount()), max(jobs, default=-1), self._gc_s()

    def read(self, mark: tuple[int, int, float], call_start: float) -> dict:
        """Layer metrics of everything that ran since ``mark``.
        ``call_start`` is the epoch second the job's call began."""
        self._bus.waitUntilEmpty(60_000)
        n0, j0, gc0 = mark
        n1 = int(self._sql.executionsCount())
        execs = _seq(self._sql.executionsList(n0, n1 - n0)) if n1 > n0 else []
        out: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for ex in execs:
            eid = ex.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                for metric in _seq(node.metrics()):
                    desc = metric.name()
                    if desc not in _WANTED:
                        continue
                    acc = metric.accumulatorId()
                    if acc in seen:
                        continue
                    seen.add(acc)
                    opt = values.get(acc)
                    value = parse_metric(opt.get() if opt.isDefined() else None)
                    for test, want, key, scale in _RULES:
                        if desc == want and test(name):
                            out[key] += value * scale
                    for test, want, key, scale in _MAX_RULES:
                        if desc == want and test(name):
                            out[key] = max(out[key], value * scale)
        out.update(self._jobs(j0, call_start))
        out["jvm.gc_s"] = self._gc_s() - gc0
        return dict(out)

    def _jobs(self, after: int, call_start: float) -> dict[str, float]:
        ids = sorted(j for j in self._tracker.getJobIdsForGroup() if j > after)
        tasks, first_submit, stages = 0, None, set()
        for jid in ids:
            job = self._app.job(jid)
            tasks += job.numCompletedTasks()
            sub = job.submissionTime()
            if sub.isDefined():
                t = sub.get().getTime() / 1000.0
                first_submit = t if first_submit is None else min(first_submit, t)
            stages.update(_seq(job.stageIds()))
        return {
            "driver.jobs": float(len(ids)),
            "driver.tasks": float(tasks),
            "driver.plan_s": max(first_submit - call_start, 0.0)
            if first_submit is not None
            else 0.0,
            "tasks.skew": self._skew(stages),
        }

    def _skew(self, stage_ids: set[int]) -> float:
        """max / median task duration in the stage with the most executor
        run time; 1.0 when no stage ran tasks."""
        best, best_time = None, 0
        for sid in stage_ids:
            st = self._app.lastStageAttempt(sid)
            if st.executorRunTime() > best_time:
                best, best_time = st, st.executorRunTime()
        if best is None:
            return 1.0
        durations = []
        for task in _seq(self._app.taskList(best.stageId(), best.attemptId(), 1 << 30)):
            d = task.duration()
            if task.status() == "SUCCESS" and d.isDefined():
                durations.append(float(d.get()))
        med = statistics.median(durations) if durations else 0.0
        return max(durations) / med if med > 0 else 1.0


# --------------------------------------------------------------------------- #
# spans
# --------------------------------------------------------------------------- #


class Tracer:
    """Spans at layer boundaries: name, start, end, parent, counts.  A
    disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def last(self, name: str) -> float:
        """Duration of the most recent span called ``name`` (0 if none)."""
        for rec in reversed(self.spans):
            if rec["name"] == name and rec["end"] is not None:
                return rec["end"] - rec["start"]
        return 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
