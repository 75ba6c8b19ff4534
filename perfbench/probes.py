"""Measurement helpers that sit outside the package under test.

* :class:`StatusReader` reads Spark's own status stores (the JVM app status
  store for jobs and stages, the SQL status store for per-operator metrics)
  after an action, keyed by the job group the benchmark set around it. It
  works with ``spark.ui.enabled=false``.
* :class:`RssSampler` follows the resident memory of the JVM and every
  process it spawned (the Python worker daemon and its workers).
* :func:`machine_state`, :func:`cpu_canary_ms` and :func:`steal_share`
  describe the box a record came from, so records from contended runs or
  other machines stand out.
"""

from __future__ import annotations

import os
import platform
import re
import statistics
import threading
import time

# Spark renders SQL metric totals as "12.3 s", "353 ms", "855.5 KiB", "2,000".
_UNIT_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")

PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to initialize Python workers": "init_s",
    "time to start Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric, in seconds, bytes or units."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE.get(m.group(2), 1.0)


class StatusReader:
    """Per-action metrics from the driver's status stores, via py4j.

    Scala default arguments are invisible to py4j, so every store call
    passes all of its arguments.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._exec_seen = 0

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stages(self, job_ids):
        ids = set()
        for j in job_ids:
            seq = self.store.job(j).stageIds()
            ids.update(seq.apply(k) for k in range(seq.size()))
        out = []
        for sid in sorted(ids):
            st = self.store.lastStageAttempt(sid)
            if str(st.status()) in ("COMPLETE", "FAILED", "ACTIVE"):
                out.append(st)
        return out

    def _straggler_ratio(self, stage) -> float:
        dist = self.store.taskSummary(stage.stageId(), stage.attemptId(), self._quantiles)
        if not dist.isDefined():
            return 1.0
        run = dist.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def stage_metrics(self, group: str) -> dict:
        """Sums over the stages the group's jobs ran (skipped ones excluded)."""
        jobs = self.job_ids(group)
        stages = self._stages(jobs)
        out = {
            "jobs": len(jobs), "stages": len(stages), "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
            "straggler_ratio": 1.0, "tasks_by_stage": {},
        }
        slowest, slowest_wall = None, -1.0
        for st in stages:
            out["tasks"] += st.numTasks()
            out["tasks_by_stage"][st.stageId()] = st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_records"] += st.shuffleWriteRecords()
            out["spill_bytes"] += st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                wall = done.get().getTime() - sub.get().getTime()
                if wall > slowest_wall:
                    slowest, slowest_wall = st, wall
        if slowest is not None:
            out["straggler_ratio"] = self._straggler_ratio(slowest)
        return out

    def sql_metrics(self, group: str, node_filter) -> list[tuple[int, str, str, str]]:
        """(execution, node, metric, formatted value) of the SQL executions
        that ran the group's jobs, for plan nodes whose name passes
        ``node_filter``."""
        jobs = self.job_ids(group)
        total = self.sql.executionsCount()
        execs = self.sql.executionsList(self._exec_seen, total - self._exec_seen)
        rows = []
        for k in range(execs.size()):
            ex = execs.apply(k)
            if not any(ex.jobs().contains(j) for j in jobs):
                continue
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                if not node_filter(name):
                    continue
                metrics = node.metrics()
                for i in range(metrics.size()):
                    m = metrics.apply(i)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows.append((eid, name, m.name(), v.get()))
        return rows

    def forget_executions(self) -> None:
        """Skip every SQL execution so far on later reads."""
        self._exec_seen = self.sql.executionsCount()

    def python_metrics(self, group: str, tasks_by_stage: dict) -> dict:
        """Arrow/Python boundary totals of the group's SQL executions.

        ``tasks`` counts the tasks of the stages the Python nodes ran in.
        Spark names a metric's stage only when several tasks reported it,
        so an execution whose Python metrics name no stage ran one task.
        """
        out = {"run_s": 0.0, "init_s": 0.0, "bytes_sent": 0.0,
               "bytes_returned": 0.0, "tasks": 0}
        stages: dict[int, set] = {}
        for eid, _node, metric, value in self.sql_metrics(
            group, lambda n: "Python" in n or "Pandas" in n
        ):
            key = PYTHON_METRICS.get(metric)
            if key is None:
                continue
            out[key] += parse_metric(value)
            stages.setdefault(eid, set()).update(int(s) for s in _STAGE_RE.findall(value))
        for found in stages.values():
            out["tasks"] += sum(tasks_by_stage.get(s, 0) for s in found) if found else 1
        return out


def _parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read().decode("ascii", "replace")
        except OSError:
            continue
        table[int(entry)] = int(stat[stat.rfind(")") + 2:].split()[1])
    return table


def _pss_bytes(pid: int) -> int:
    """Proportional resident bytes: pages shared after a fork (the Python
    daemon and its workers) are split between the sharers, not counted
    once per process as RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes (PSS) of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _pss_bytes(pid)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of a process tree, sampled on a thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_canary_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop: single-core speed, which
    drops when the box is contended. Reported, never gated on."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests. Slow runs on a shared host track it
    more closely than the single-core canary."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def load_average() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def machine_state(spark=None) -> dict:
    import pyspark

    state = {
        "nproc": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "platform": platform.platform(),
    }
    if spark is not None:
        jvm = spark.sparkContext._jvm
        state["java"] = jvm.System.getProperty("java.version")
    return state
