"""Spark work attributed to one benchmark operation, read from outside.

Each operation runs under its own job group (``setJobGroup``); after it
finishes, the job IDs of the group come from the status tracker and their
durations and stage metrics from the Spark status REST API (the UI server
of the driver). Nothing here reaches into the package.
"""

from __future__ import annotations

import calendar
import json
import time
import urllib.request
from dataclasses import dataclass, field


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=10) as r:
        return json.loads(r.read())


def _epoch(ts: str) -> float:
    """'2026-10-16T18:05:01.123GMT' -> seconds since the epoch."""
    head, _, frac = ts.replace("GMT", "").partition(".")
    return calendar.timegm(time.strptime(head, "%Y-%m-%dT%H:%M:%S")) + float("0." + (frac or "0"))


@dataclass
class OpJobs:
    """Spark work of one operation."""

    jobs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    scan_tasks: int = 0

    @property
    def job_s(self) -> float:
        return sum(b - a for a, b in self.job_intervals)


class JobScraper:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = sc.uiWebUrl
        self.app = sc.applicationId

    def collect(self, group: str, timeout: float = 5.0) -> OpJobs:
        """Wait until every job of ``group`` is complete in the REST API,
        then sum its stage metrics."""
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout
        jobs: list[dict] = []
        while True:
            jobs = [_api(self.base, f"applications/{self.app}/jobs/{j}") for j in ids]
            if all(j.get("completionTime") for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out = OpJobs(jobs=len(jobs))
        first_stage = None
        for j in jobs:
            if j.get("completionTime"):
                out.job_intervals.append((_epoch(j["submissionTime"]), _epoch(j["completionTime"])))
            for sid in j.get("stageIds", []):
                for attempt in self._stage(sid, deadline):
                    if attempt.get("status") == "SKIPPED":
                        continue
                    out.task_s += attempt.get("executorRunTime", 0) / 1000.0
                    out.gc_s += attempt.get("jvmGcTime", 0) / 1000.0
                    out.shuffle_bytes += attempt.get("shuffleWriteBytes", 0)
                    out.spill_bytes += attempt.get("memoryBytesSpilled", 0) + attempt.get(
                        "diskBytesSpilled", 0
                    )
                    if first_stage is None or sid < first_stage:
                        first_stage = sid
                        out.scan_tasks = attempt.get("numTasks", 0)
        return out

    def _stage(self, sid: int, deadline: float) -> list[dict]:
        while True:
            attempts = _api(self.base, f"applications/{self.app}/stages/{sid}?details=false")
            done = all(a.get("status") in ("COMPLETE", "SKIPPED", "FAILED") for a in attempts)
            if done or time.monotonic() > deadline:
                return attempts
            time.sleep(0.05)


def union_length(intervals: list[tuple[float, float]], lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, float("-inf")
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def intersect(xs: list[tuple[float, float]], ys: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Pairwise intersections of two interval lists (for self-time math)."""
    out = []
    for a, b in xs:
        for c, d in ys:
            lo, hi = max(a, c), min(b, d)
            if hi > lo:
                out.append((lo, hi))
    return out
