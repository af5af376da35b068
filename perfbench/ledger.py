"""Outside-in per-layer ledger: spans recorded around the benchmark's calls
into the program, joined with Spark's JSON event log.

Spans are kept in memory (name, start, end, parent) and written out once at
the end. Spark jobs are attributed to a span by time window, not by job
group alone: ``build_index`` launches its bucket-encode jobs from a thread
pool, and those threads do not inherit the caller's job-group property.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# Spark 4.1 PythonSQLMetrics accumulables (the Arrow/UDF boundary); the
# timings are reported in milliseconds
PYTHON_ACCUMS = {
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.total_s", 1e-3),
    "data sent to Python workers": ("python.data_sent_bytes", 1),
    "data returned from Python workers": ("python.data_received_bytes", 1),
}

# event-log task metrics summed per span: name -> (path, scale)
TASK_METRICS = {
    "spark.executor_run_s": (("Executor Run Time",), 1e-3),
    "spark.executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "spark.deserialize_s": (("Executor Deserialize Time",), 1e-3),
    "spark.result_serialize_s": (("Result Serialization Time",), 1e-3),
    "spark.gc_s": (("JVM GC Time",), 1e-3),
    "spark.input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "spark.shuffle_read_bytes": (
        (("Shuffle Read Metrics", "Local Bytes Read"),
         ("Shuffle Read Metrics", "Remote Bytes Read")), 1),
    "spark.shuffle_fetch_wait_s": (("Shuffle Read Metrics",
                                    "Fetch Wait Time"), 1e-3),
    "spark.shuffle_write_bytes": (("Shuffle Write Metrics",
                                   "Shuffle Bytes Written"), 1),
    "spark.shuffle_write_s": (("Shuffle Write Metrics",
                               "Shuffle Write Time"), 1e-9),
}

SPARK_COUNTS = ("spark.jobs", "spark.stages", "spark.tasks")


class Tracer:
    """In-memory span recorder. Times are epoch seconds, so spans line up
    with the event log's epoch-millisecond job and task times."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def with_self_times(self) -> list[dict]:
        """The spans, each with ``self_s``: its duration minus the part of
        it that its child spans cover."""
        out = []
        for i, rec in enumerate(self.spans):
            kids = [(s["start"], s["end"]) for s in self.spans
                    if s["parent"] == i]
            out.append({**rec, "self_s": rec["end"] - rec["start"]
                        - union_length(kids)})
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _metric(tm: dict, path) -> float:
    if isinstance(path[0], tuple):
        return sum(_metric(tm, p) for p in path)
    v = tm
    for k in path:
        v = v.get(k, 0) if isinstance(v, dict) else 0
    return float(v or 0)


class EventLog:
    """Jobs and task metrics parsed from one application's event log."""

    def __init__(self, log_dir: str) -> None:
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks: list[tuple[int, dict, dict]] = []
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        self.jobs[jid] = {"start": ev["Submission Time"] / 1e3,
                                          "end": None, "tasks": []}
                        for s in ev["Stage Infos"]:
                            stage_job[s["Stage ID"]] = jid
                    elif kind == "SparkListenerJobEnd":
                        self.jobs[ev["Job ID"]]["end"] = (
                            ev["Completion Time"] / 1e3)
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((ev["Stage ID"], ev["Task Info"],
                                      ev.get("Task Metrics") or {}))
        for sid, info, tm in tasks:
            job = self.jobs.get(stage_job.get(sid))
            if job is not None:
                job["tasks"].append((sid, info, tm))

    def jobs_in(self, start: float, end: float) -> list[dict]:
        """Jobs submitted inside [start, end] (event-log times are whole
        milliseconds, so the window is widened by one on each side)."""
        return [j for j in self.jobs.values()
                if start - 1e-3 <= j["start"] <= end + 1e-3]

    def layer_metrics(self, start: float, end: float,
                      extra: list[tuple[float, float]] = ()) -> dict:
        """Spark and Python-boundary metrics of the jobs in a window, the
        union of their spans clipped to the window, and that union widened
        by the ``extra`` (driver-side) spans."""
        jobs = self.jobs_in(start, end)
        out = {k: 0.0 for k in (*SPARK_COUNTS, *TASK_METRICS,
                                "spark.scheduler_delay_s",
                                *(v[0] for v in PYTHON_ACCUMS.values()))}
        out["spark.jobs"] = len(jobs)
        stages = set()
        for j in jobs:
            for sid, info, tm in j["tasks"]:
                stages.add(sid)
                out["spark.tasks"] += 1
                for name, (path, scale) in TASK_METRICS.items():
                    out[name] += _metric(tm, path) * scale
                dur = info["Finish Time"] - info["Launch Time"]
                out["spark.scheduler_delay_s"] += max(
                    0, dur - tm.get("Executor Run Time", 0)
                    - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0)) * 1e-3
                for acc in info.get("Accumulables", []):
                    hit = PYTHON_ACCUMS.get(acc.get("Name"))
                    if hit is not None:
                        out[hit[0]] += float(acc.get("Update") or 0) * hit[1]
        out["spark.stages"] = len(stages)
        spans = [(max(j["start"], start), min(j["end"] or end, end))
                 for j in jobs]
        out["spark.job_union_s"] = union_length(spans)
        out["explained_s"] = union_length(spans + list(extra))
        return out
