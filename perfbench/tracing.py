"""Read Spark's own public status APIs for the traced run.

- ``RestStatus`` reads the UI's REST API (``/api/v1``): jobs, stages,
  SQL executions and executors, and folds them into ``exec.*``,
  ``arrow.*`` and per-job-group counts.
- ``catalyst_phases`` reads ``queryExecution().tracker()`` after the
  executed plan has been forced.
- ``ProgressListener`` collects every ``StreamingQueryProgress`` of the
  session's streaming queries; it runs in both modes, because a
  micro-batch's latency is only visible through it.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import threading
import time
import urllib.request

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def parse_metric_value(text: str) -> float:
    """The total of a SQL UI metric string: ``"1,234"`` or the first line
    after the ``total (min, med, max ...)`` header, as bytes or a count."""
    lines = [ln for ln in str(text).splitlines() if ln.strip()]
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


def rest_time(s: str | None) -> float | None:
    """REST timestamp (``2026-01-01T00:00:00.123GMT``) to epoch seconds."""
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class RestStatus:
    """Client of one application's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def settled_jobs(self, timeout_s: float = 20.0) -> list[dict]:
        """All jobs, once none is still RUNNING in the status store (the
        listener bus updates it asynchronously after an action returns)."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self.get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.1)

    def storage_mb(self) -> float:
        return sum(e.get("memoryUsed", 0) for e in self.get("/executors")) / 2**20

    def collect(self, group_of) -> dict[str, dict]:
        """Per-key totals, where ``group_of(job_group) -> key or None``
        maps each job's group to an op or leg key."""
        jobs = self.settled_jobs()
        stages = {(s["stageId"], s["attemptId"]): s for s in self.get("/stages")}
        by_stage: dict[int, list[dict]] = {}
        for s in stages.values():
            by_stage.setdefault(s["stageId"], []).append(s)
        out: dict[str, dict] = {}
        key_of_job: dict[int, str] = {}
        for j in jobs:
            key = group_of(j.get("jobGroup"))
            if key is None:
                continue
            key_of_job[j["jobId"]] = key
            t = out.setdefault(key, zero_totals())
            t["jobs"] += 1
            end = rest_time(j.get("completionTime"))
            if end is not None:
                t["last_job_end"] = max(t["last_job_end"], end)
            for sid in j.get("stageIds", []):
                for s in by_stage.get(sid, []):
                    _add_stage(t, s)
        for ex in self.get("/sql?details=true&planDescription=false&length=100000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            keys = {key_of_job[i] for i in ids if i in key_of_job}
            if not keys:
                continue
            t = out[sorted(keys)[0]]
            for node in ex.get("nodes", []):
                metrics = {m.get("name"): m.get("value") for m in node.get("metrics", [])}
                if "data sent to Python workers" not in metrics:
                    continue  # not a Python (Arrow/pandas UDF) node
                t["to_python_b"] += parse_metric_value(metrics["data sent to Python workers"])
                t["from_python_b"] += parse_metric_value(
                    metrics.get("data returned from Python workers", "0"))
                t["python_rows"] += parse_metric_value(metrics.get("number of output rows", "0"))
        return out


def zero_totals() -> dict:
    """Counters ``RestStatus.collect`` sums per job group, all at zero."""
    return {
        "jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0, "failed_tasks": 0,
        "wait_s": 0.0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_b": 0.0,
        "shuffle_read_b": 0.0, "shuffle_write_b": 0.0, "spill_b": 0.0,
        "to_python_b": 0.0, "from_python_b": 0.0, "python_rows": 0.0,
        "last_job_end": 0.0,
    }


def _add_stage(t: dict, s: dict) -> None:
    if s.get("status") == "SKIPPED":
        t["stages_skipped"] += 1
        return
    t["stages"] += 1
    t["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
    t["failed_tasks"] += s.get("numFailedTasks", 0)
    sub, first = rest_time(s.get("submissionTime")), rest_time(s.get("firstTaskLaunchedTime"))
    if sub is not None and first is not None:
        t["wait_s"] += max(0.0, first - sub)
    t["run_s"] += s.get("executorRunTime", 0) / 1000
    t["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
    t["gc_s"] += s.get("jvmGcTime", 0) / 1000
    t["input_b"] += s.get("inputBytes", 0)
    t["shuffle_read_b"] += s.get("shuffleReadBytes", 0)
    t["shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
    t["spill_b"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)


def catalyst_phases(df) -> dict[str, float]:
    """Force the executed plan, then read the tracker's phase times (s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


class ProgressListener:
    """Collects progress of every streaming query of a session, as dicts.

    Listener events arrive asynchronously but in order per query, so
    ``wait_terminated`` waits for each query's termination event."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self.run_ids: set[str] = set()
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.run_ids.add(str(event.runId))

            def onQueryProgress(self, event):
                with outer._lock:
                    outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated.add(str(event.runId))

        self._listener = _Listener()  # held for the session's lifetime
        spark.streams.addListener(self._listener)

    def take(self, timeout_s: float = 20.0) -> list[dict]:
        """Progress of all queries started so far, after each has ended;
        clears the buffer."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.run_ids <= self.terminated:
                    break
            time.sleep(0.05)
        with self._lock:
            out, self.progress = self.progress, []
            return out
