"""Per-call Spark metrics, read from outside the program.

A traced run starts the session with the UI on.  ``Tracer.run`` tags every
call into the engine with its own job group and times it; ``harvest`` then
reads the jobs, stages and SQL executions of each group from Spark's REST
API (the pattern of ``scripts/profile_scaling_stages.py``) and splits the
call's task time into five parts:

- ``scan``: the scan operators' ``scan time``;
- ``python``: ``time to run Python workers`` of the Python/Arrow operators
  (``MapInPandas``, ``ArrowEvalPython``, ...);
- ``exchange``: shuffle write time plus shuffle fetch wait;
- ``aggjoin``: aggregation build, sort, hash-map build and broadcast build
  time;
- ``sink``: task time of the stages that write files, less the four timers
  above that ran inside those stages.

What no timer covers (code-generated projections and filters, task
overhead) is reported as ``other``.  All parts are task-seconds summed over
cores, so they add up to ``task_s``, not to the call's wall time.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

PARTS = ("scan", "python", "exchange", "aggjoin", "sink", "other")

_SCAN = ("scan time",)
_PYTHON = ("time to run Python workers",)
_AGGJOIN = (
    "time in aggregation build",
    "sort time",
    "time to build hash map",
    "time to build",
)
_WRITE_NODES = ("Execute InsertIntoHadoopFsRelationCommand", "Execute CreateDataSourceTableAsSelectCommand")
_SIZES = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIMES = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_STAGE_OF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_WRITE_TARGET = re.compile(r"Arguments: file:(\S+?),")


def metric_total(value: str) -> float:
    """The total of a rendered SQL metric, in bytes, seconds or a count:
    ``'total (min, med, max ...)\\n10.4 s (2.5 s, ...)'`` -> 10.4."""
    head = value.strip().split("\n")[-1].split(" (")[0].split()
    num = float(head[0].replace(",", ""))
    if len(head) > 1:
        num *= _SIZES.get(head[1]) or _TIMES.get(head[1], 1.0)
    return num


class NullTracer:
    """Untraced runs: calls run bare; only their wall times are kept."""

    enabled = False

    def __init__(self):
        self.walls: dict[str, list[float]] = {}

    def run(self, name: str, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.walls.setdefault(name, []).append(time.perf_counter() - t0)


class Tracer:
    enabled = True

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.cores = sc.defaultParallelism
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.pending: list[tuple[str, str, float]] = []
        self.n = 0
        self.sql_seen = 0

    def run(self, name: str, fn):
        self.n += 1
        group = f"perfbench-{self.n}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.pending.append((name, group, time.perf_counter() - t0))
            self.sc.setJobGroup("perfbench-idle", "untimed")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _settled_jobs(self, groups: set[str]) -> list[dict]:
        """All jobs of ``groups``, once the status store has seen every one
        of them end (listener events arrive asynchronously)."""
        tracker = self.sc.statusTracker()
        want = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        deadline = time.time() + 30
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in want]
            done = {j["jobId"] for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")}
            if done >= want or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def harvest(self) -> list[dict]:
        """Metrics of every call made since the last harvest, in call order."""
        calls, self.pending = self.pending, []
        jobs = self._settled_jobs({g for _, g, _ in calls})
        stages = {
            s["stageId"]: s
            for s in self._get("/stages?details=false")
            if s["status"] != "SKIPPED"
        }
        execs = self._get(
            f"/sql?details=true&planDescription=true&offset={self.sql_seen}&length=100000"
        )
        if execs:
            self.sql_seen = max(e["id"] for e in execs) + 1
        return [
            self._call_metrics(name, wall, [j for j in jobs if j.get("jobGroup") == group], stages, execs)
            for name, group, wall in calls
        ]

    def _call_metrics(self, name, wall, jobs, stages, execs) -> dict:
        job_ids = {j["jobId"] for j in jobs}
        st = [stages[s] for s in {s for j in jobs for s in j["stageIds"] if s in stages}]
        per_exec = [
            self._exec_metrics(e, [j for j in jobs if j["jobId"] in _job_ids(e)], stages)
            for e in execs
            if _job_ids(e) & job_ids
        ]
        task_s = sum(s["executorRunTime"] for s in st) / 1e3
        parts = {p: sum(c["parts"][p] for c in per_exec) for p in PARTS}
        parts["exchange"] = sum(
            s["shuffleWriteTime"] / 1e9 + s["shuffleFetchWaitTime"] / 1e3 for s in st
        )
        parts["other"] = max(0.0, task_s - sum(v for k, v in parts.items() if k != "other"))
        return {
            "name": name,
            "wall_s": wall,
            "task_s": task_s,
            "util": task_s / (wall * self.cores) if wall > 0 else 0.0,
            **_stage_sums(st),
            "py_bytes": sum(sum(c["py_bytes"].values()) for c in per_exec),
            **{f"{p}_s": v for p, v in parts.items()},
            "execs": per_exec,
        }

    def _exec_metrics(self, e, jobs, stages) -> dict:
        """One SQL execution of a call: what it wrote (``label``), its
        duration, stage sums, bytes sent to Python by operator, and its
        task time split into the timed parts."""
        st_ids = [s for j in jobs for s in j["stageIds"] if s in stages]
        st = [stages[s] for s in st_ids]
        parts = dict.fromkeys(PARTS, 0.0)
        py_bytes: dict[str, float] = {}
        timed_in: dict[int, float] = {}
        is_write = False
        for node in e["nodes"]:
            is_write |= node["nodeName"] in _WRITE_NODES
            for m in node["metrics"]:
                if m["name"] == "data sent to Python workers":
                    py_bytes[node["nodeName"]] = py_bytes.get(node["nodeName"], 0.0) + metric_total(m["value"])
                part = (
                    "scan" if m["name"] in _SCAN
                    else "python" if m["name"] in _PYTHON
                    else "aggjoin" if m["name"] in _AGGJOIN
                    else None
                )
                if part is None:
                    continue
                v = metric_total(m["value"])
                parts[part] += v
                where = _STAGE_OF.search(m["value"])
                if where:
                    sid = int(where.group(1))
                    timed_in[sid] = timed_in.get(sid, 0.0) + v
        label = "query"
        if is_write:
            # the writing stages are the stages of the execution's last job
            last = max(j["jobId"] for j in jobs) if jobs else None
            sink_stages = [stages[s] for j in jobs if j["jobId"] == last for s in j["stageIds"] if s in stages]
            parts["sink"] = sum(
                max(0.0, s["executorRunTime"] / 1e3 - timed_in.get(s["stageId"], 0.0)
                    - s["shuffleFetchWaitTime"] / 1e3)
                for s in sink_stages
            )
            target = _WRITE_TARGET.search(e.get("planDescription", ""))
            label = _write_label(target.group(1) if target else "")
        return {
            "label": label,
            "duration_s": e["duration"] / 1e3,
            "task_s": sum(s["executorRunTime"] for s in st) / 1e3,
            **_stage_sums(st),
            "py_bytes": py_bytes,
            "parts": parts,
        }


def _job_ids(e) -> set[int]:
    return set(e["successJobIds"]) | set(e["failedJobIds"]) | set(e["runningJobIds"])


def _stage_sums(st: list[dict]) -> dict:
    return {
        "tasks": sum(s["numCompleteTasks"] for s in st),
        "tasks_failed": sum(s["numFailedTasks"] for s in st),
        "gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in st),
        "write_bytes": sum(s["outputBytes"] for s in st),
        "input_bytes": sum(s["inputBytes"] for s in st),
    }


def _write_label(path: str) -> str:
    """Name a file write by its stage directory: ``.../raw/snapshot=x`` ->
    ``raw``; a stage's lineage -> ``_lineage:raw``; a managed table -> its
    name."""
    segs = [s for s in path.split("/") if s]
    if "_lineage" in segs:
        stage = [s for s in segs if s.startswith("stage=")]
        return "_lineage:" + (stage[0][len("stage="):].split(".__tmp-")[0] if stage else "?")
    for i, s in enumerate(segs):
        if s.startswith("snapshot="):
            return segs[i - 1]
    return segs[-1].split(".__tmp-")[0] if segs else "?"
