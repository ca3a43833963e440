"""Tracing for the benchmark's traced run.

Everything here observes the program from outside: spans are taken
around the benchmark's own calls into the package, Spark jobs are
attributed through ``setJobGroup`` and the Spark event log, and plan
fingerprints come from the physical plan of the DataFrame a key
returns.  Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    sets no job groups, so untraced runs pay only a method call."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, key: str = "", group: str | None = None):
        """Record ``name`` around the body; when ``group`` is given, tag
        the Spark jobs the body launches from this thread with it."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "key": key,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if group is not None:
            self._set_group(group)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                self._set_group(self._groups.pop() if self._groups else "untimed")

    def _set_group(self, group: str) -> None:
        """Tag this thread's next Spark jobs; jobs outside any grouped
        span land in ``untimed``."""
        self._groups.append(group)
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    def _under(self, s: dict, ancestor: str) -> bool:
        p = s["parent"]
        while p is not None:
            if self.spans[p]["name"] == ancestor:
                return True
            p = self.spans[p]["parent"]
        return False

    def total(self, name: str, under: str | None = None) -> float:
        """Summed duration of ``name`` spans (only those nested in an
        ``under`` span, when given)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (under is None or self._under(s, under))
        )

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


# ---------------------------------------------------------------- plans

_FINGERPRINT_NODES = {
    "exchanges": re.compile(r"^(?!.*Broadcast)\S*Exchange\b"),
    "broadcasts": re.compile(r"^BroadcastExchange\b"),
    "scans": re.compile(r"^(FileScan|Scan|BatchScan|InMemoryTableScan)\b"),
    "python_evals": re.compile(
        r"^(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
        r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
        r"WindowInPandas|ArrowWindowPython|PythonUDTF|ArrowEvalPythonUDTF|"
        r"BatchEvalPythonUDTF)"
    ),
    "generates": re.compile(r"^Generate\b"),
    "cartesians": re.compile(r"^CartesianProduct\b"),
}


def plan_fingerprint(df) -> dict:
    """Node-shape fingerprint of a DataFrame's physical plan: counts of
    the node kinds a plan change usually touches plus a digest of the
    whole node-name sequence (expression ids and sizes stripped, so
    the digest is stable across runs and inputs of the same shape)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for line in text.splitlines():
        body = line.lstrip(" :+-*()0123456789")
        m = re.match(r"[A-Za-z][A-Za-z0-9_]*", body)
        if m:
            nodes.append(m.group(0))
    fp = {k: sum(1 for n in nodes if rx.match(n)) for k, rx in _FINGERPRINT_NODES.items()}
    fp["nodes"] = len(nodes)
    fp["digest"] = hashlib.sha1(" ".join(nodes).encode()).hexdigest()[:16]
    return fp


# ------------------------------------------------------ session hygiene


def hygiene(spark) -> dict:
    """Persistent-RDD count and storage memory in use (MB) — leaked
    ``localCheckpoint`` blocks show as growth across a pass."""
    jsc = spark.sparkContext._jsc.sc()
    mem = 0
    for info in jsc.getRDDStorageInfo():
        mem += info.memSize()
    return {"pinned_rdds": jsc.getPersistentRDDs().size(), "storage_mb": mem / 1e6}


# ------------------------------------------------------------ event log


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file:" + os.path.abspath(log_dir),
        # one plain-text file, parseable after the session stops
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _task_updates(task_info: dict) -> dict[str, float]:
    """This task's own increments of the SQL metrics (``Update``), not
    the accumulators' running totals, which span tasks and stages."""
    out = {}
    for a in task_info.get("Accumulables", []):
        try:
            out[a.get("Name")] = float(a.get("Update"))
        except (TypeError, ValueError):
            pass
    return out


# SQL metric of the Python evaluation nodes (ms): the time a task spends
# running rows through its Python worker.  Worker start and initialize
# times are left out: they overlap it and can exceed the task's run time.
_PY_RUN = "time to run Python workers"


def parse_event_log(log_dir: str) -> list[dict]:
    """One row per Spark job: group, submission time (epoch s), stage
    and task counts, and task metrics summed over the job's tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "stages": 0,
                        "tasks": 0,
                        "task_s": 0.0,
                        "python_s": 0.0,
                        "shuffle_write_mb": 0.0,
                        "shuffle_read_mb": 0.0,
                        "input_mb": 0.0,
                        "spill_mb": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"], -1))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    run_s = tm.get("Executor Run Time", 0) / 1e3
                    py_s = _task_updates(ev.get("Task Info", {})).get(_PY_RUN, 0.0) / 1e3
                    sr = tm.get("Shuffle Read Metrics", {})
                    job["tasks"] += 1
                    job["task_s"] += run_s
                    job["python_s"] += min(py_s, run_s)
                    job["shuffle_write_mb"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    job["shuffle_read_mb"] += (
                        sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    ) / 1e6
                    job["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
                    job["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    return list(jobs.values())


def jobs_in_windows(jobs: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Jobs submitted inside any of the (start, end) epoch windows."""
    return [j for j in jobs if any(a <= j["submit"] <= b for a, b in windows)]


def job_totals(jobs: list[dict]) -> dict[str, float]:
    keys = ("stages", "tasks", "task_s", "python_s", "shuffle_write_mb",
            "shuffle_read_mb", "input_mb", "spill_mb")
    out = {k: float(sum(j[k] for j in jobs)) for k in keys}
    out["jobs"] = float(len(jobs))
    return out
