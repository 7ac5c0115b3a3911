"""Spans recorded from the benchmark's own files, and a reader for the
Spark UI's REST API (``/api/v1``), used by the traced run only.

A span is (id, name, start, end, parent). Spans are kept in memory and
written out once, when the run ends. The timed runs never create a
tracer, so they pay nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        """Write the spans with times relative to the first one, each with
        its self time: its duration less what its direct children cover."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0,
                 self_s=s["end"] - s["start"] - kids.get(s["id"], 0.0))
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_metric(value: str) -> float:
    """A SQL metric's display string → seconds, bytes or a plain count.
    Accumulated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


class SparkRest:
    """Reads stage, job, SQL and executor data of the running application
    through ``sparkContext.uiWebUrl`` (the UI is bound to a free port)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, group: str) -> list[dict]:
        return [j for j in self.get("/jobs") if j.get("jobGroup") == group]

    def stages(self, jobs: list[dict]) -> list[dict]:
        ids = {s for j in jobs for s in j["stageIds"]}
        return [s for s in self.get("/stages") if s["stageId"] in ids and s["status"] == "COMPLETE"]

    def task_summary(self, stage: dict) -> dict:
        return self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )

    def sql_metrics(self, jobs: list[dict]) -> dict[str, float]:
        """Sum each (operator, metric) over the SQL executions that ran
        ``jobs``; keys read ``"<operator>/<metric>"``."""
        ids = {j["jobId"] for j in jobs}
        out: dict[str, float] = {}
        for e in self.get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
            if not ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            for n in e.get("nodes", []):
                for m in n.get("metrics", []):
                    k = f"{n['nodeName'].split(' (')[0]}/{m['name']}"
                    out[k] = out.get(k, 0.0) + parse_metric(m["value"])
        return out


def busy_s(jobs: list[dict]) -> float:
    """Seconds during which at least one of ``jobs`` was running: the
    union of their submission-to-completion intervals (AQE runs query
    stages of one query as concurrent jobs)."""
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    spans = sorted((ts(j["submissionTime"]), ts(j["completionTime"])) for j in jobs)
    total, end = 0.0, float("-inf")
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total
