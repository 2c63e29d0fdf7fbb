"""Spans, job attribution and per-layer counters for the traced run.

The benchmark records a span around every call it makes into a layer.
Spans nest op -> layer call; Spark jobs and their stages come from the
session's event log and nest under the op whose job group they carry or,
for jobs submitted from pool threads that do not inherit the group, under
the op whose time window contains their submission.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names of the Python exec nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas, ...) and of the file scans
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
FILES_READ = "number of files read"


@dataclass
class Span:
    name: str
    phase: str
    op: str  # id of the op this span belongs to (its own id for an op)
    start: float
    end: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)
    steal: float = 0.0  # share of the CPU time demanded in the span that the host stole

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    @property
    def net_ms(self) -> float:
        """Wall time net of host steal (see ``steal_share``)."""
        return self.ms * (1.0 - self.steal)


class Tracer:
    """Collects spans in memory. ``enabled=False`` still times ops (the
    untraced run needs latencies) but sets no job groups."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._n = 0
        self._stack: list[Span] = []
        self.on_phase = None  # called with the new phase when it changes
        self._phase = None

    @contextmanager
    def op(self, name: str, phase: str):
        """One user-visible operation; its Spark jobs carry its id as the
        job group."""
        self._n += 1
        sid = f"{phase}:{name}:{self._n}"
        if phase != self._phase:
            self._phase = phase
            if self.on_phase is not None:
                self.on_phase(phase)
        sp = Span(name, phase, sid, time.time())
        ticks = cpu_ticks()
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(sid, name, interruptOnCancel=False)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.steal = steal_share(ticks, cpu_ticks())
            self._stack.pop()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    @contextmanager
    def call(self, name: str):
        """A layer call inside the current op."""
        parent = self._stack[-1]
        sp = Span(name, parent.phase, parent.op, time.time(), parent=parent.op)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.spans.append(sp)

    def ops(self, phase: str | None = None, name: str | None = None) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.parent is None
            and (phase is None or s.phase == phase)
            and (name is None or s.name == name)
        ]

    def calls(self, op: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == op.op and s.name == name]


# ------------------------------------------------------------ /proc counters


def child_pids(pid: int) -> list[int]:
    out = []
    for tpath in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(tpath) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def python_cpu_s(jvm_pid: int) -> float:
    """utime+stime (with reaped children) of every Python process the JVM
    started: the pyspark daemon and its forked workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, child_pids(jvm_pid)
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        if "python" in stat[: stat.rindex(")")]:
            # own utime, stime (fields 14, 15); reaped children (16, 17)
            # are added only at the top of the tree, where workers that
            # exited were reaped by the daemon
            total += int(f[11]) + int(f[12])
            if _ppid_is(pid, jvm_pid):
                total += int(f[13]) + int(f[14])
        todo += child_pids(pid)
    return total / tick


def _ppid_is(pid: int, ppid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
        return int(s[s.rindex(")") + 2 :].split()[1]) == ppid
    except OSError:
        return False


def cpu_ticks() -> dict:
    """Host-wide jiffies from /proc/stat: busy, idle and steal."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": f[0] + f[1] + f[2] + f[5] + f[6], "idle": f[3] + f[4], "steal": f[7]}


def steal_share(before: dict, after: dict) -> float:
    """Share of the CPU time this machine demanded between two
    ``cpu_ticks`` readings that the hypervisor gave to other guests:
    steal / (busy + steal). Wall time times (1 - share) is the time the
    work would have taken on an uncontended host, to first order."""
    busy = after["busy"] - before["busy"]
    steal = after["steal"] - before["steal"]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --------------------------------------------------------------- event log


@dataclass
class Job:
    job_id: int
    submit: float
    end: float = 0.0
    group: str | None = None
    stages: list = field(default_factory=list)
    op: str | None = None
    exec_id: int | None = None  # SQL execution that ran the job


@dataclass
class Stage:
    stage_id: int
    attempt: int
    n_tasks: int
    acc: dict = field(default_factory=dict)  # accumulable name -> summed value


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[tuple, Stage], dict[int, dict]]:
    """Jobs, stages and per-SQL-execution driver-side metrics (file
    listing counts and the like) from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stages: dict[tuple, Stage] = {}
    acc_name: dict[int, str] = {}
    sql: dict[int, dict] = {}
    files = sorted(
        os.path.join(d, f) for d, _s, fs in os.walk(log_dir) for f in fs if not f.startswith("appstatus")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, group=props.get("spark.jobGroup.id"))
                    j.stages = list(ev.get("Stage IDs", []))
                    if props.get("spark.sql.execution.id") is not None:
                        j.exec_id = int(props["spark.sql.execution.id"])
                    jobs[j.job_id] = j
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = Stage(info["Stage ID"], info.get("Stage Attempt ID", 0), info["Number of Tasks"])
                    for a in info.get("Accumulables", []):
                        name, val = a.get("Name"), a.get("Value")
                        try:
                            st.acc[name] = st.acc.get(name, 0) + float(val)
                        except (TypeError, ValueError):
                            pass
                    stages[(st.stage_id, st.attempt)] = st
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc_name)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    per = sql.setdefault(ev["executionId"], {})
                    for acc_id, val in ev.get("accumUpdates", []):
                        name = acc_name.get(acc_id)
                        if name is not None:
                            per[name] = per.get(name, 0) + val
    return jobs, stages, sql


def attribute(jobs: dict[int, Job], ops: list[Span]) -> int:
    """Give each job to an op: by job group when it carries one of the
    ops' ids, else by the op whose window holds its submission (jobs from
    pool threads and streaming micro-batches do not inherit the group).
    Returns the number of jobs that carried no op group."""
    by_id = {o.op: o for o in ops}
    untagged = 0
    ordered = sorted(ops, key=lambda o: o.start)
    for j in jobs.values():
        if j.group in by_id:
            j.op = j.group
            continue
        untagged += 1
        for o in ordered:
            if o.start <= j.submit <= o.end:
                j.op = o.op
                break
    return untagged


def job_stages(j: Job, stages: dict[tuple, Stage]) -> list[Stage]:
    return [s for (sid, _a), s in stages.items() if sid in j.stages]


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length (ms) of the union of intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


class OpCounters:
    """Per-op counters derived from the attributed jobs."""

    def __init__(self, jobs: dict[int, Job], stages: dict[tuple, Stage], sql: dict[int, dict]):
        self.by_op: dict[str, list[Job]] = {}
        for j in jobs.values():
            if j.op is not None:
                self.by_op.setdefault(j.op, []).append(j)
        self.stages = stages
        self.sql = sql

    def driver_metric(self, op: Span, name: str) -> float:
        """A driver-side SQL metric summed over the op's SQL executions."""
        ids = {j.exec_id for j in self.jobs(op) if j.exec_id is not None}
        return sum(self.sql.get(i, {}).get(name, 0) for i in ids)

    def jobs(self, op: Span) -> list[Job]:
        return self.by_op.get(op.op, [])

    def n_jobs(self, op: Span) -> int:
        return len(self.jobs(op))

    def acc(self, op: Span, name: str) -> float:
        return sum(s.acc.get(name, 0.0) for j in self.jobs(op) for s in job_stages(j, self.stages))

    def n_tasks(self, op: Span) -> int:
        return sum(s.n_tasks for j in self.jobs(op) for s in job_stages(j, self.stages))

    def n_stages(self, op: Span) -> int:
        return sum(len(job_stages(j, self.stages)) for j in self.jobs(op))

    def self_ms(self, op: Span) -> float:
        """Op wall time not covered by any of its jobs: the driver floor."""
        iv = [(j.submit, j.end or op.end) for j in self.jobs(op)]
        return (op.end - op.start) * 1000.0 - union_ms(iv, op.start, op.end)

    def jobs_in(self, lo: float, hi: float) -> list[Job]:
        return [j for js in self.by_op.values() for j in js if lo <= j.submit <= hi]


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations of a frame's QueryExecution."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out
