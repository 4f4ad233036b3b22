"""Spans around the benchmark's calls into each layer, joined to Spark's
per-stage counters.

Each span that runs Spark work sets its own job group; when it ends, the
tracer asks the status REST API (``sc.uiWebUrl/api/v1/...``) for that
group's jobs and their stages and sums the stage counters onto the span.
Reading right after each span keeps iterative jobs' stages from being
evicted by the UI's retention limit first. Spans live in memory and are
written out once, at the end of the run. With tracing off, ``span`` only
times the block.
"""

from __future__ import annotations

import http.client
import itertools
import json
import re
import time
from contextlib import contextmanager
from datetime import datetime, timezone
from urllib.parse import urlparse

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scan_bytes",
    "scan_records",
    "write_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)
# the counters reported as engine.<name>; scans and writes report under sources.*
ENGINE_COUNTERS = tuple(
    k for k in COUNTERS if k not in ("scan_bytes", "scan_records", "write_bytes")
)
_TERMINAL = {"SUCCEEDED", "FAILED"}
_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _rest_time(s: str | None) -> float:
    """Epoch seconds of a REST timestamp such as 2026-10-16T22:53:01.123GMT."""
    if not s:
        return 0.0
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def stage_counters(attempts: list[dict]) -> dict:
    """Counters of one stage, summed over its attempts."""
    c = dict.fromkeys(COUNTERS, 0)
    for a in attempts:
        c["tasks"] += a.get("numCompleteTasks", 0)
        c["executor_run_s"] += a.get("executorRunTime", 0) / 1e3
        c["executor_cpu_s"] += a.get("executorCpuTime", 0) / 1e9
        c["gc_s"] += a.get("jvmGcTime", 0) / 1e3
        c["scan_records"] += a.get("inputRecords", 0)
        c["write_bytes"] += a.get("outputBytes", 0)
        c["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
        c["shuffle_read_bytes"] += a.get("shuffleReadBytes", 0)
        c["spill_bytes"] += a.get("diskBytesSpilled", 0)
    c["stages"] = 1
    return c


def files_read_bytes(execution: dict) -> float:
    """Bytes of the files a SQL execution's file scans read: the scan nodes'
    "size of files read". Stage input bytes miss most parquet reads, which
    do not go through the task thread's file-system statistics."""
    total = 0.0
    for node in execution.get("nodes", ()):
        for m in node.get("metrics", ()):
            if m.get("name") == "size of files read":
                hit = _SIZE.search(m.get("value", "").replace(",", ""))
                if hit:
                    total += float(hit.group(1)) * _UNIT[hit.group(2)]
    return total


def add_counters(into: dict, more: dict) -> dict:
    for k in COUNTERS:
        into[k] = into.get(k, 0) + more.get(k, 0)
    return into


class Rest:
    """Minimal client for the driver's status REST API (one kept-alive
    connection to the local UI port)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        url = urlparse(sc.uiWebUrl)
        self.conn = http.client.HTTPConnection("127.0.0.1", url.port, timeout=30)
        self.prefix = f"/api/v1/applications/{sc.applicationId}"
        self._sql_offset = 0
        self._execution_of_job: dict[int, dict] = {}

    def get(self, path: str):
        self.conn.request("GET", self.prefix + path)
        resp = self.conn.getresponse()
        body = resp.read()
        if resp.status == 404:
            return None
        if resp.status != 200:
            raise RuntimeError(f"GET {path}: HTTP {resp.status}")
        return json.loads(body)

    def jobs(self, job_ids, wait_s: float = 10.0) -> list[dict]:
        """The jobs, once the status store has seen each of them finish."""
        deadline = time.time() + wait_s
        while True:
            jobs = [self.get(f"/jobs/{j}") for j in job_ids]
            if all(j and j.get("status") in _TERMINAL for j in jobs):
                return jobs
            if time.time() > deadline:
                return [j for j in jobs if j]
            time.sleep(0.02)

    def _read_executions(self) -> None:
        """Index the SQL executions that ended since the last read by job."""
        page = self.get(
            f"/sql?details=true&planDescription=false&offset={self._sql_offset}&length=100000"
        ) or []
        for ex in page:
            if ex.get("status") == "RUNNING":
                break
            self._sql_offset += 1
            for j in (*ex.get("successJobIds", ()), *ex.get("failedJobIds", ())):
                self._execution_of_job[j] = ex

    def counters(self, jobs: list[dict], since: float = 0.0) -> dict:
        """Summed stage counters of ``jobs``, and the bytes of files their
        SQL executions scanned. A stage is counted once, and only if it was
        submitted after ``since``: a skipped stage whose output an earlier
        span computed is not this span's work."""
        total = dict.fromkeys(COUNTERS, 0)
        seen = set()
        for j in jobs:
            for sid in j.get("stageIds", ()):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = [
                    a for a in (self.get(f"/stages/{sid}?details=false") or ())
                    if a.get("status") != "SKIPPED"
                    and _rest_time(a.get("submissionTime")) >= since - 0.002
                ]
                if attempts:
                    add_counters(total, stage_counters(attempts))
        total["jobs"] = len(jobs)
        self._read_executions()
        executions = {
            ex["id"]: ex for j in jobs
            if (ex := self._execution_of_job.get(j.get("jobId"))) is not None
        }
        total["scan_bytes"] = sum(map(files_read_bytes, executions.values()))
        return total

    def close(self) -> None:
        self.conn.close()


class Tracer:
    """Spans for one run. ``enabled=False`` keeps timing but skips job
    groups and REST reads."""

    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self.rest = Rest(spark) if enabled else None

    @contextmanager
    def span(self, name: str, parent: dict | None = None, engine: bool = False):
        """Time the block as a span; with ``engine`` and tracing on, run it
        under its own job group and attach that group's stage counters."""
        sp = {
            "id": f"{self.workload}-{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
        }
        sc = self.spark.sparkContext
        if engine and self.enabled:
            sc.setJobGroup(sp["id"], name)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self.spans.append(sp)
            if engine and self.enabled:
                t0 = time.time()
                ids = sc.statusTracker().getJobIdsForGroup(sp["id"])
                sp["counters"] = self.rest.counters(self.rest.jobs(ids), sp["start"])
                sc.setLocalProperty("spark.jobGroup.id", None)
                spent = time.time() - t0
                self.overhead_s += spent
                if parent is not None:
                    parent["overhead"] = parent.get("overhead", 0.0) + spent

    def record(self, name: str, start: float, end: float, parent: dict | None = None,
               **extra) -> dict:
        """Add a span timed elsewhere (stream batches, gate calls)."""
        sp = {
            "id": f"{self.workload}-{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "start": start,
            "end": end,
            **extra,
        }
        self.spans.append(sp)
        return sp

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    def close(self) -> None:
        if self.rest:
            self.rest.close()
