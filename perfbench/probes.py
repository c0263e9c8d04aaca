"""Measurements taken from outside the engine: the process tree in /proc,
Spark's own stage and SQL-node metrics from the local UI's /api/v1, and
spans recorded around the calls the benchmark makes into each layer."""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# host: process tree and /proc/stat
# ---------------------------------------------------------------------------

def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def process_tree() -> list[int]:
    """This process and all its descendants, found by parent pid: the JVM
    forks the Python daemon from a non-main thread, so a thread's
    ``children`` file misses it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """User + system CPU of the process tree, including reaped children
    (a Python worker that exits is counted through its parent's cutime)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostSample:
    """nproc, the iowait and steal shares of all CPU time from /proc/stat
    between ``__init__`` and ``done()``, and the load average."""

    def __init__(self) -> None:
        self._start = _cpu_jiffies()

    def done(self) -> dict:
        end = _cpu_jiffies()
        d = [b - a for a, b in zip(self._start, end)]
        total = max(sum(d), 1)
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "iowait_share": d[4] / total,
            "steal_share": (d[7] if len(d) > 7 else 0) / total,
            "loadavg_1m": os.getloadavg()[0],
        }


# ---------------------------------------------------------------------------
# Spark: /api/v1 of the local UI
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TOTAL = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_sql_metric(value: str) -> float:
    """Total of a SQL-node metric string, in seconds or bytes. Spark sends
    e.g. ``"total (min, med, max (stageId: taskId))\\n14.7 s (3.2 s, ...)"``
    for per-task metrics and ``"18 ms"`` or ``"3,000"`` for the others."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = _TOTAL.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


# SQL-node metric name -> layer metric, summed over every Python node
PY_METRICS = {
    "data sent to Python workers": "py.sent_bytes",
    "data returned from Python workers": "py.returned_bytes",
    "time to run Python workers": "py.run_s",
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.start_s",
}


class SparkMetrics:
    """Reads finished jobs, stages and SQL executions from the UI's REST
    API after waiting for the listener bus to drain, so that every metric
    of a finished job is visible."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._get("/jobs")
        stages = {s["stageId"]: s for s in self._get("/stages") if s["status"] != "SKIPPED"}
        sql = self._get("/sql?details=true&planDescription=false&offset=0&length=100000")
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def task_skew(self, stage: dict) -> float:
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def summarize(self, snap: dict, t0: float, t1: float) -> dict:
        """Stage and Python-node totals of the jobs submitted in [t0, t1]
        (wall-clock seconds). Jobs are matched by submission time rather
        than by job group, so engine code that sets its own groups does
        not hide its jobs."""
        jobs = [j for j in snap["jobs"]
                if t0 - 0.005 <= (_epoch(j.get("submissionTime")) or -1) <= t1 + 0.005]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [snap["stages"][s] for s in sorted(stage_ids) if s in snap["stages"]]
        out = {
            "jobs": len(jobs),
            "stage.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "stage.jvm_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "stage.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "stage.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "stage.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "stage.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "stage.tasks": sum(s["numCompleteTasks"] for s in stages),
            "stage.max_over_median_task": 1.0,
        }
        if stages:
            longest = max(stages, key=lambda s: s["executorRunTime"])
            if longest["numCompleteTasks"] > 1:
                out["stage.max_over_median_task"] = self.task_skew(longest)
        for name in set(PY_METRICS.values()):
            out[name] = 0.0
        for ex in snap["sql"]:
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) \
                | set(ex.get("runningJobIds", []))
            if not ex_jobs & job_ids:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] in PY_METRICS:
                        out[PY_METRICS[m["name"]]] += parse_sql_metric(m["value"])
        return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent) around the benchmark's calls into
    each layer, kept in memory and written out by ``dump``. Each span also
    names the Spark job group of the jobs it runs, so the UI attributes
    stages to layers. A disabled tracer records nothing and sets no group."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None
        self.iteration = -1

    def _set_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            path = "/".join(self.spans[i]["name"] for i in self._stack)
            self._sc.setJobGroup(f"it{self.iteration}:{path}", path)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"id": len(self.spans), "name": name, "iteration": self.iteration,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def of_iteration(self, it: int) -> list[dict]:
        return [s for s in self.spans if s["iteration"] == it]

    def self_times(self, spans: list[dict]) -> dict[str, dict]:
        """Per span name: count, total seconds, and self seconds (duration
        minus the part covered by child spans)."""
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in spans:
            d = s["end"] - s["start"]
            o = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            o["count"] += 1
            o["total_s"] += d
            o["self_s"] += d - child_s.get(s["id"], 0.0)
        return out

    def sum(self, spans: list[dict], name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
