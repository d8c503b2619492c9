"""Readers for layer counters, taken from outside the engine.

Everything here reads public or JVM-visible state: ``/proc`` for the
driver JVM and its Python workers, Spark's status store and listener
bus, ``CodeGenerator``/``CodegenMetrics`` for Janino compiles, each
action's ``QueryPlanningTracker``, and a ``StreamingQueryListener`` for
micro-batch progress.  Nothing in the engine package is modified.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")
_PYTHON_EVAL_NODES = ("Python", "Pandas", "ArrowEval", "InArrow")


# ---------------------------------------------------------------- /proc ---

def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return ""


def _stat_fields(pid: int) -> list[str]:
    raw = _read(f"/proc/{pid}/stat")
    # comm may hold spaces; the fields after it start past the last ')'
    return raw[raw.rfind(")") + 2:].split() if raw else []


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    uptime = float(_read("/proc/uptime").split()[0])
    return uptime - start_ticks / _CLK


def alive(pid: int) -> bool:
    """True until the process has exited (a zombie counts as ended)."""
    f = _stat_fields(pid)
    return bool(f) and f[0] != "Z"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _status_kb(pid: int, key: str) -> int:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def _is_python(pid: int) -> bool:
    return _read(f"/proc/{pid}/comm").startswith("python")


class ProcTree:
    """CPU, memory and write counters of the driver JVM and its workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def peak_rss_mb(self) -> float:
        """Summed peak RSS (VmHWM) of the JVM and its live children."""
        pids = descendants(self.jvm_pid)
        return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0

    def python_cpu_s(self) -> float:
        """CPU seconds of the Python worker processes, counting workers
        their daemon has already reaped (cutime/cstime)."""
        ticks = 0
        for pid in descendants(self.jvm_pid):
            if _is_python(pid):
                f = _stat_fields(pid)
                if f:
                    ticks += sum(int(x) for x in f[11:15])
        return ticks / _CLK

    def write_bytes(self) -> int:
        total = 0
        for pid in descendants(self.jvm_pid):
            for line in _read(f"/proc/{pid}/io").splitlines():
                if line.startswith("write_bytes:"):
                    total += int(line.split()[1])
        return total


def cpu_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat line 1, the method
    ``bench.py`` stamps its runs with; (0, 0) when unreadable."""
    try:
        v = list(map(int, _read("/proc/stat").splitlines()[0].split()[1:]))
        return (v[7] if len(v) > 7 else 0, sum(v[:8]))
    except (ValueError, IndexError):
        return (0, 0)


def load_stamp(before: tuple[int, int], load_start: float) -> dict:
    steal1, total1 = cpu_stat()
    steal0, total0 = before
    steal = 100.0 * (steal1 - steal0) / (total1 - total0) if total0 and total1 > total0 else -1.0
    return {"loadavg_start": load_start, "loadavg_end": os.getloadavg()[0], "steal_pct": steal}


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total


# ---------------------------------------------------------------- Spark ---

class SparkProbe:
    """Per-query deltas read from the driver JVM."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._store = self._jsc.statusStore()
        self._last_job = self._newest_job_id()

    def drain(self) -> None:
        """Wait until every posted Spark event reached its listeners."""
        self._jsc.listenerBus().waitUntilEmpty()

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile milliseconds so far)."""
        return self._compiles.getCount(), self._codegen.compileTime() / 1e6

    @staticmethod
    def planning_ms(df) -> dict[str, float]:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    @staticmethod
    def python_nodes(df) -> int:
        """Python-eval operators in the executed physical plan, walking
        into adaptive plans, query stages and subqueries by node class."""
        count, todo = 0, [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if any(tag in cls for tag in _PYTHON_EVAL_NODES):
                count += 1
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            else:
                for seq in (node.children(), node.innerChildren()):
                    todo.extend(seq.apply(i) for i in range(seq.length()))
        return count

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.length() else -1

    def jobs_delta(self) -> dict:
        """Jobs, stages and task metrics of every job submitted since the
        previous call, from any thread (stream triggers included)."""
        jobs = self._store.jobsList(None)  # newest first
        stage_ids, n_jobs = set(), 0
        for i in range(jobs.length()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            n_jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.length()))
        if n_jobs:
            self._last_job = jobs.apply(0).jobId()
        out = dict(jobs=n_jobs, stages=0, tasks=0, run_ms=0, cpu_ns=0, gc_ms=0,
                   shuffle_read=0, shuffle_write=0, spill=0, task_ms=[])
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JError:  # evicted, or never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ns"] += st.executorCpuTime()
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_read"] += st.shuffleReadBytes()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["spill"] += st.diskBytesSpilled()
            tasks = self._store.taskList(sid, st.attemptId(), 2**31 - 1)
            for k in range(tasks.length()):
                metrics = tasks.apply(k).taskMetrics()
                if metrics.isDefined():
                    out["task_ms"].append(metrics.get().executorRunTime())
        return out


class StreamStats(StreamingQueryListener):
    """Sums micro-batch progress over every streaming query it sees."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.batches = 0
        self.durations: dict[str, float] = {}
        self.state_rows: dict[str, int] = {}
        self.state_mem: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        for k, v in (p.durationMs or {}).items():
            self.durations[k] = self.durations.get(k, 0.0) + v
        # state size is a gauge: keep each query's latest reading
        run = str(p.runId)
        self.state_rows[run] = sum(s.numRowsTotal for s in p.stateOperators)
        self.state_mem[run] = sum(s.memoryUsedBytes for s in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
