"""Measurement probes, all taken from outside the program under test.

* ``Py4jCounter`` wraps the session's py4j client ``send_command`` and
  counts and times the round trips made while it is switched on.
* ``job_stats`` reads ``statusTracker()`` for one job group: jobs,
  stages, tasks, failed tasks, and the wall interval the jobs ran in.
* ``plan_stats`` walks ``queryExecution()``: optimize and physical-plan
  time, plan nodes, exchanges and Python nodes.
* ``dir_stats`` lists an output directory: bytes and data files.
* ``peak_rss_mb`` sums ``VmHWM`` of this process and its JVM child.
* ``tree_cpu_s`` sums the CPU time of this process and all its
  descendants (the JVM and its Python workers).
* ``cpu_ticks`` reads the host's stolen and total CPU ticks, so a run can
  say how much of its time a hypervisor gave to other guests.
* ``Spans`` keeps one span per layer call in memory and computes each
  layer's self time when the run ends.
"""

from __future__ import annotations

import os
import re
import threading
import time

_PY_NODE = re.compile(r"(EvalPython|InPandas|InArrow|PythonUDF|ArrowPython)")
_RELEASE = "m\nd\n"  # py4j memory/delete command prefix
_EXCHANGE = re.compile(r"\b(Exchange|BroadcastExchange|ShuffleExchange)\b")


class Py4jCounter:
    """Counts and times the py4j round trips one thread makes while it has
    switched the counter on.  py4j's finalizer thread sends object-release
    commands whenever Python's GC runs; those are neither the caller's
    work nor repeatable, so they are not counted."""

    def __init__(self):
        self.on = False
        self.calls = 0
        self.seconds = 0.0
        self._client = None
        self._thread = None

    def start(self) -> None:
        self._thread = threading.get_ident()
        self.on = True

    def stop(self) -> None:
        self.on = False

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        if self._client is client:
            return
        self._client = client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if (not self.on or threading.get_ident() != self._thread
                    or command.startswith(_RELEASE)):
                return send(command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(command, *args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        client.send_command = counted


def job_stats(spark, group: str) -> dict:
    """Job, stage and task counts of one job group, plus the wall-clock
    interval (epoch seconds) from the first job's submission to the last
    job's completion, or None when the group ran no job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = stages = tasks = failed = 0
    start = end = None
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            # stages a job skipped (reused shuffle output) never ran
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
        data = store.job(jid)
        sub, done = data.submissionTime(), data.completionTime()
        if sub.isDefined() and done.isDefined():
            s, e = sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0
            start = s if start is None else min(start, s)
            end = e if end is None else max(end, e)
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed,
            "interval": None if start is None else (start, end)}


def plan_stats(df) -> dict:
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.optimizedPlan()
    t1 = time.perf_counter()
    phys = qe.executedPlan()
    t2 = time.perf_counter()
    lines = [ln for ln in phys.treeString().splitlines() if ln.strip()]
    return {
        "optimize_s": t1 - t0,
        "physical_s": t2 - t1,
        "nodes": len(lines),
        "exchanges": sum(1 for ln in lines if _EXCHANGE.search(ln)),
        "python_nodes": sum(1 for ln in lines if _PY_NODE.search(ln)),
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``_SUCCESS`` markers and
    checksum files are not data."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the comm field may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process left as a zombie is not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = child_pids(todo.pop())
        out += kids
        todo += kids
    return out


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory (MB) of this Python process and of its JVM
    child."""
    me = os.getpid()
    return _vm_hwm_kb(me) / 1024.0, sum(_vm_hwm_kb(p) for p in child_pids(me)) / 1024.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every descendant,
    including descendants that have already exited and been reaped."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                # utime, stime, cutime, cstime follow the ')' of comm
                ticks += sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks over all CPUs since boot, from
    ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class Spans:
    """In-memory span log: (name, start, end, parent index, op id)."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, op: str) -> int:
        self.rows.append({"name": name, "start": start, "end": end,
                          "parent": parent, "op": op})
        return len(self.rows) - 1

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by its
        direct children."""
        child = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for i, r in enumerate(self.rows):
            out[r["name"]] = out.get(r["name"], 0.0) + max(0.0, r["end"] - r["start"] - child[i])
        return out
