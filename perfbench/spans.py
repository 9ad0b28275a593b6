"""Spans kept in memory plus Spark counters attributed to each span.

A span is opened from the benchmark's own code around a call into one of
the package's public functions. While it is open, every Spark job the call
starts carries the span's job group; after it closes, the counters of
those jobs are read from the Spark UI REST API (``/jobs``, ``/stages``,
``/stages/<id>/<attempt>/taskSummary`` and ``/sql?details=true``). The
stage-id watermark meter of ``bench.py`` (``_ShuffleMeter``) supplies the
shuffle-write volume per span.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_sent_bytes",
}


def _sql_metric_total(text: str) -> float:
    """Total of a formatted SQL metric: "total (min, med, max ...)\\n8.5 s
    (...)" or a bare "20"."""
    first = text.split("\n")[-1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", first)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkRest:
    """Read-only client for the application's status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """The status store is fed by an asynchronous listener: wait until
        no job is active and two reads of the job list agree."""
        prev = None
        for _ in range(50):
            jobs = self._get("/jobs")
            state = [(j["jobId"], j["status"]) for j in jobs]
            if state == prev and all(j["status"] != "RUNNING" for j in jobs):
                return
            prev = state
            time.sleep(0.1)

    def counters(self, groups: set[str]) -> dict:
        """Summed counters of every job whose group is in ``groups``."""
        self.settle()
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids
                  and s["status"] == "COMPLETE"]
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "task_max_over_median": 0.0,
        }
        if stages:
            # straggler ratio of the busiest stage (the parse stage of an
            # ingest run): longest task over median task
            top = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["task_max_over_median"] = q[1] / max(q[0], 1.0)
        job_ids = {j["jobId"] for j in jobs}
        py = dict.fromkeys(_PYTHON_METRICS.values(), 0.0)
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = _PYTHON_METRICS.get(metric["name"])
                    if key:
                        py[key] += _sql_metric_total(metric["value"])
        out.update(py)
        return out


class Tracer:
    """In-memory spans: name, start, end, parent, run id and attributes.

    ``span`` sets a job group for the span's duration, so the Spark
    counters of each span can be read back afterwards with
    :meth:`counters`.
    """

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rest = SparkRest(spark)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.run_id}:{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"{self.run_id}:{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def subtree(self, sid: int) -> set[str]:
        """Job groups of a span and all its descendants."""
        ids = {sid}
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
        return {f"{self.run_id}:{i}" for i in ids}

    def counters(self, rec: dict) -> dict:
        c = self.rest.counters(self.subtree(rec["id"]))
        rec["attrs"].update(c)
        return c

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
