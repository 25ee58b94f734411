"""Spark stage and task metrics from the Spark driver's status REST API.

Each traced pass runs under its own job group; the stages of that group's
jobs, in stage-id order, are the plan's stages: the scan + page Exchange
map stage first, then one stage per shuffle read (the extraction stage for
the fused plan; prepare, recognize and assemble for the line-parallel
plan).
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from urllib.parse import urlparse


class StageMetrics:
    def __init__(self, sc) -> None:
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def group_stages(self, group: str, timeout_s: float = 10.0) -> list[dict]:
        """Completed stages of every job in `group`, with their task lists,
        ordered by stage id. Waits for the status store to catch up with
        jobs that already returned."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of group {group} still running")
            time.sleep(0.2)
        ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in ids:
            for att in self._get(f"/stages/{sid}"):
                if att["status"] != "COMPLETE":
                    continue
                att["tasks"] = self._get(
                    f"/stages/{sid}/{att['attemptId']}/taskList?length=100000")
                stages.append(att)
        return stages


def task_seconds(stage: dict) -> list[float]:
    return [t["taskMetrics"]["executorRunTime"] / 1000.0 for t in stage["tasks"]
            if t.get("taskMetrics")]


def max_over_median(values: list[float]) -> float:
    med = statistics.median(values) if values else 0.0
    return max(values) / med if med > 0 else 0.0


def empty_tasks(stage: dict) -> int:
    return sum(1 for t in stage["tasks"] if t.get("taskMetrics")
               and t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"] == 0)


def split_plan(stages: list[dict]) -> tuple[dict, list[dict]]:
    """(the stage that writes the page Exchange from the scan, the stages
    that read a shuffle, in order)."""
    readers = [s for s in stages if s.get("shuffleReadRecords", 0) > 0
               or s.get("shuffleReadBytes", 0) > 0]
    writers = [s for s in stages if s not in readers and s.get("shuffleWriteBytes", 0) > 0]
    if not writers or not readers:
        raise ValueError("plan has no scan->Exchange->reader stages")
    return writers[0], readers
