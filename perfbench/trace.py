"""Spans, Spark counters read from outside, and host facts.

A traced run wraps each call into an engine module in a span (name,
start, end, parent, request id) and tags the Spark jobs the call
starts with a job group named after the span. Spark's own counters
are read back once, after the measured loop, from the status REST API
(jobs, stages, SQL executions with their final plan nodes), so the
loop itself pays only for ``setJobGroup``. Spans stay in memory until
``Tracer.dump`` writes them out at the end.

Nothing here touches the engine's code: spans sit in the benchmark,
around calls into the engine's public functions.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def metric_value(text: str) -> float:
    """A SQL-node metric as the REST API formats it ("64",
    "634.0 KiB", "12 ms", or a "total (min, med, max ...)" block whose
    second line starts with the total) as a number of rows, bytes or
    milliseconds."""
    line = text.splitlines()[-1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME_MS.get(unit, 1.0))


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    id: int = 0
    group: str = ""

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Tracer:
    """Records spans and tags Spark jobs with the innermost span.

    A disabled tracer still times ``span`` blocks (the untraced run
    needs the wall times) but sets no job group and keeps nothing."""
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        """Time a block; when tracing, record it as a span and tag the
        Spark jobs it starts. Only the client's (main) thread records:
        an engine callback on another thread, such as a streaming sink,
        is timed by the span that waits for it."""
        sp = Span(name, time.perf_counter())
        record = self.enabled and threading.current_thread() is threading.main_thread()
        if record:
            parent = self._stack[-1] if self._stack else None
            sp.id = len(self.spans) + 1
            sp.parent = parent.id if parent else None
            sp.request = request if request is not None else (
                parent.request if parent else None)
            sp.group = f"bench-{sp.id}"
            self.spans.append(sp)
            self._stack.append(sp)
            self.spark.sparkContext.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if record:
                self._stack.pop()
                sc = self.spark.sparkContext
                if self._stack:
                    sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(dataclasses.asdict(sp)) + "\n")


class SparkCounters:
    """Snapshot of the status REST API, indexed by job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = self._get("/jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s
                       for s in self._get("/stages?details=false")}
        self.sql = self._get("/sql?details=true&planDescription=false"
                             "&offset=0&length=1000000")
        self.jobs_by_group: dict[str, list[dict]] = {}
        self.group_of_job: dict[int, str] = {}
        for j in jobs:
            g = j.get("jobGroup") or ""
            self.jobs_by_group.setdefault(g, []).append(j)
            self.group_of_job[j["jobId"]] = g

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _stages_of(self, groups) -> list[dict]:
        out = []
        for g in groups:
            for j in self.jobs_by_group.get(g, ()):
                for sid in j["stageIds"]:
                    s = self.stages.get((sid, 0))
                    if s is not None and s["status"] == "COMPLETE":
                        out.append(s)
        return out

    def jobs(self, groups) -> int:
        return sum(len(self.jobs_by_group.get(g, ())) for g in groups)

    def totals(self, groups) -> dict:
        """Stage counters summed over the jobs of ``groups``; a stage
        shared by two jobs of one group counts once."""
        seen, tot = set(), {"stages": 0, "tasks": 0, "cpu_s": 0.0,
                            "shuffle_write_bytes": 0, "job_ms": 0.0}
        for s in self._stages_of(groups):
            key = (s["stageId"], s["attemptId"])
            if key in seen:
                continue
            seen.add(key)
            tot["stages"] += 1
            tot["tasks"] += s["numCompleteTasks"]
            tot["cpu_s"] += s["executorCpuTime"] / 1e9
            tot["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        for g in groups:
            for j in self.jobs_by_group.get(g, ()):
                if j.get("completionTime"):
                    tot["job_ms"] += _ts_ms(j["completionTime"]) - _ts_ms(
                        j["submissionTime"])
        return tot

    def executions(self, groups) -> list[dict]:
        """SQL executions whose jobs belong to ``groups``."""
        groups = set(groups)
        return [e for e in self.sql
                if any(self.group_of_job.get(j) in groups
                       for j in e.get("successJobIds", []) + e.get("failedJobIds", []))]

    def nodes(self, groups, prefix: str) -> list[dict[str, float]]:
        """Metrics of every final-plan node whose name starts with
        ``prefix``, one dict per node."""
        out = []
        for e in self.executions(groups):
            for n in e["nodes"]:
                if n["nodeName"].startswith(prefix):
                    out.append({m["name"]: metric_value(m["value"])
                                for m in n["metrics"]})
        return out

    def node_names(self, groups) -> list[str]:
        return [n["nodeName"] for e in self.executions(groups)
                for n in e["nodes"]]

    def task_skew(self, groups) -> float:
        """Largest max-over-median task run time among the stages of
        ``groups``; 1.0 when every stage ran a single task."""
        worst = 1.0
        for s in self._stages_of(groups):
            if s["numCompleteTasks"] < 2:
                continue
            q = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            if q[0] > 0:
                worst = max(worst, q[1] / q[0])
        return worst


def _ts_ms(ts: str) -> float:
    """REST timestamps look like 2026-10-17T02:32:10.807GMT."""
    import datetime as dt
    t = dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set of a process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_s(pid: int | str = "self") -> float:
    """User + system CPU seconds a process has used, from
    /proc/<pid>/stat. Time the hypervisor gave to other guests (steal)
    is not counted."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    import platform
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": round(os.getloadavg()[0], 2),
        "python": platform.python_version(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: on
    a virtual machine, steal is time another guest held our CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    return float(statistics.geometric_mean(xs)) if xs else 0.0
