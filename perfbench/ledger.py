"""Spans, Spark status-store reads and per-layer aggregation.

Spans are recorded by the benchmark around its calls into the package
(``run -> pass -> key -> plans.build / plans.action``), kept in memory
and written out when the run ends. Spark jobs are read from the
driver's own status store after every key and added as child spans of
the innermost span of the key whose time window contains their
submission. Attribution by time window, not by job group, also covers
jobs launched from stream threads and driver-side thread pools.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans: id, parent id, name, start, end (epoch seconds)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name, start, end, parent=None, **attrs) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def add_job(self, key_id: int, job: dict) -> None:
        """Add a Spark job under the innermost span of the key's subtree
        whose window holds the job's submission (spans created after the
        key's span belong to its subtree; the later of two nested ones is
        the inner one)."""
        start, end = job["submissionTime"] / 1000.0, job["completionTime"] / 1000.0
        parent = key_id
        for s in self.spans[key_id + 1:]:
            if s["name"] != "spark.job" and s["start"] <= start <= s["end"]:
                parent = s["id"]
        self.add("spark.job", start, end, parent=parent, job_id=job["jobId"])

    def self_times(self) -> dict:
        """Per span name: count, total and self seconds, where self time
        is the span's duration minus the union of its children's
        intervals clipped to the span."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = union_length(children.get(s["id"], []), s["start"], s["end"])
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out


def union_length(intervals, lo=float("-inf"), hi=float("inf")) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")

# SQL-store metric name -> per-layer metric name (Arrow/Python boundary)
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric ('1.2 s', '90.0 KiB', or the multi-task
    'total (min, med, max ...)\\n<total> (...)' form) in seconds/bytes."""
    m = _VALUE.match(text.split("\n")[-1].strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


class StatusStore:
    """Incremental reader of the driver's job, stage and SQL stores.

    The stores keep only the last 1 000 jobs and stages by default, so
    the benchmark reads them after every key instead of once per run."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self._next_job = 0
        self._next_exec = 0
        self._seen_stages: set[int] = set()

    def _read(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def drain(self) -> tuple[list, list]:
        """Jobs and SQL executions finished since the previous call."""
        self._sc.listenerBus().waitUntilEmpty(10_000)
        return self._new_jobs(), self._new_executions()

    def _new_jobs(self) -> list:
        jobs = []
        while True:
            try:
                job = self._read(self._store.job(self._next_job))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            if job["status"] == "RUNNING":
                break
            # A later job that reuses a shuffle lists the earlier job's
            # stage ids as skipped; each stage's metrics count once, in
            # the job that ran it.
            stages = []
            for sid in job["stageIds"]:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    stages.append(self._read(self._store.lastStageAttempt(sid)))
                except Py4JJavaError:  # a skipped stage has no attempt
                    pass
            job["stages"] = stages
            jobs.append(job)
            self._next_job += 1
        return jobs

    def _new_executions(self) -> list:
        out = []
        while True:
            opt = self._sql.execution(self._next_exec)
            if opt.isEmpty():
                break
            ex = opt.get()
            values = self._read(self._sql.executionMetrics(self._next_exec))
            py = {}
            for m in self._read(ex.metrics()):
                name = PYTHON_METRICS.get(m["name"])
                text = values.get(str(m["accumulatorId"]))
                if name and text:
                    py[name] = py.get(name, 0.0) + parse_sql_metric(text)
            out.append({"executionId": self._next_exec,
                        "submitted": ex.submissionTime() / 1000.0, **py})
            self._next_exec += 1
        return out


# ------------------------------------------------------------ aggregation

SPARK_SUMS = {  # per-layer name -> (stage field, scale)
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
}


def key_ledger(jobs: list, execs: list, start: float, end: float) -> dict:
    """Fold the jobs and executions submitted inside [start, end] into
    one record of scheduler, executor and Python-boundary totals."""
    mine = [j for j in jobs if start <= j["submissionTime"] / 1000.0 <= end]
    rec = {
        "spark.jobs": len(mine),
        "spark.stages": sum(len(j["stageIds"]) for j in mine),
        "spark.skipped_stages": sum(j["numSkippedStages"] for j in mine),
        "spark.tasks": sum(j["numCompletedTasks"] for j in mine),
        "spark.failed_tasks": sum(j["numFailedTasks"] for j in mine),
        "spark.job_busy_s": union_length(
            [(j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0) for j in mine]
        ),
    }
    for name, (field, scale) in SPARK_SUMS.items():
        rec[name] = sum(s[field] for j in mine for s in j["stages"]) * scale
    for name in PYTHON_METRICS.values():
        rec[name] = sum(e.get(name, 0.0) for e in execs if start <= e["submitted"] <= end)
    rec["job_ids"] = [j["jobId"] for j in mine]
    return rec
