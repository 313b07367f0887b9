"""Spans, the Spark event-log reader and per-layer self time.

A span is (name, layer, start, end, parent, run): ``run`` is the
measured iteration it belongs to.  Spans come from the benchmark's own
calls into each public function, from the stage manifests the pipeline
writes (rebuilt after the fact), and the event log's jobs are attached
to the innermost span that was open when Spark submitted them.  Spans
are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    # "time to initialize Python workers" is left out: its per-task
    # updates exceed the task's own run time, so they do not add up
    "time to start Python workers": "worker_start_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}


class Tracer:
    """In-memory span recorder; disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, run: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        if run is None and parent is not None:
            run = self.spans[parent]["run"]
        rec = self.add(name, layer, time.time(), None, parent, run)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()

    def add(self, name, layer, start, end, parent, run, **attrs) -> dict:
        rec = dict(id=len(self.spans), name=name, layer=layer, start=start,
                   end=end, parent=parent, run=run, **attrs)
        self.spans.append(rec)
        return rec

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def read_eventlog(log_dir: str) -> list[dict]:
    """Jobs of the application(s) logged under ``log_dir``, each with
    its description, submission time and the summed task metrics of the
    stages it ran (a stage belongs to the first job that lists it)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in sorted(files)
                  if not f.startswith((".", "appstatus"))]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = dict(id=ev["Job ID"],
                               submit=ev["Submission Time"] / 1000.0,
                               desc=(ev.get("Properties") or {}).get(
                                   "spark.job.description") or "",
                               tasks=0, run_ms=[], cpu_s=0.0, gc_s=0.0,
                               fetch_wait_s=0.0, shuffle_write=0, spill=0,
                               stage_run_ms={}, python_run_ms=0,
                               worker_start_ms=0, to_python_bytes=0,
                               from_python_bytes=0)
                    jobs[job["id"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job["id"])
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    job["tasks"] += 1
                    job["stage_run_ms"].setdefault(ev["Stage ID"], []).append(
                        tm["Executor Run Time"])
                    job["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    job["gc_s"] += tm["JVM GC Time"] / 1e3
                    job["fetch_wait_s"] += (tm["Shuffle Read Metrics"]
                                            ["Fetch Wait Time"]) / 1e3
                    job["shuffle_write"] += (tm["Shuffle Write Metrics"]
                                             ["Shuffle Bytes Written"])
                    job["spill"] += tm["Disk Bytes Spilled"]
                    for acc in ev["Task Info"].get("Accumulables", []):
                        key = PY_ACCUMS.get(acc.get("Name"))
                        if key:
                            job[key] += int(acc.get("Update") or 0)
    return [jobs[k] for k in sorted(jobs)]


def attach_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``job["span"]`` to the innermost span open at the job's
    submission (None when the job ran outside every measured span)."""
    closed = [s for s in spans if s["end"] is not None]
    for job in jobs:
        best = None
        for s in closed:
            if s["start"] <= job["submit"] <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        job["span"] = best


def self_times(spans: list[dict], run: int) -> dict[str, float]:
    """Per layer: span time minus the time its child spans cover,
    summed over the spans of one iteration."""
    mine = [s for s in spans if s["run"] == run and s["end"] is not None]
    child_time: dict[int, float] = {}
    for s in mine:
        if s["parent"] is not None:
            child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                       + s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in mine:
        own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
    return out


def spark_metrics(jobs: list[dict]) -> dict[str, float]:
    """Cross-cutting ``spark.*`` figures over one iteration's jobs."""
    skew = 1.0
    for job in jobs:
        for runs in job["stage_run_ms"].values():
            # a stage of a few tiny tasks says nothing about skew
            if len(runs) >= 4 and sum(runs) >= 200:
                skew = max(skew, max(runs) / max(1.0,
                                                 statistics.median(runs)))
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "spark.gc_s": sum(j["gc_s"] for j in jobs),
        "spark.fetch_wait_s": sum(j["fetch_wait_s"] for j in jobs),
        "spark.spill_mb": sum(j["spill"] for j in jobs) / 1e6,
        "spark.task_skew": skew,
    }


def python_metrics(jobs: list[dict]) -> dict[str, float]:
    """Python-worker accumulables summed over ``jobs``."""
    return {
        "python_run_s": sum(j["python_run_ms"] for j in jobs) / 1e3,
        "worker_start_s": sum(j["worker_start_ms"] for j in jobs) / 1e3,
        "to_python_mb": sum(j["to_python_bytes"] for j in jobs) / 1e6,
        "from_python_mb": sum(j["from_python_bytes"] for j in jobs) / 1e6,
        "shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / 1e6,
    }
