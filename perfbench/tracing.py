"""Spans around the benchmark's calls into engine modules, and the
Spark counters each span caused.

Spans live in memory while the run measures. When it ends,
``attribute`` reads Spark's own job, stage and SQL metrics once from
the driver's status REST API and gives each job and SQL execution to
the innermost span whose interval holds its submission time. One
client drives Spark from one thread, so time decides attribution
exactly, also for the jobs a streaming query submits from its own
thread.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from datetime import datetime

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")
_UNITS = {
    "": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
}
_NUM = re.compile(r"^\s*([-\d,.]+)\s*([A-Za-z]*)")


class NullTracer:
    """Tracer stand-in for untraced runs: spans record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}

    def op(self, op_id: str):
        return self.span(op_id)


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.time(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: str):
        """Tag every span opened inside with ``op_id``."""
        prev, self._op = self._op, op_id
        try:
            with self.span(op_id.split("#", 1)[0]) as counts:
                yield counts
        finally:
            self._op = prev


def parse_metric(value: str) -> float:
    """A Spark SQL metric string ("48,141", "339.1 KiB", "total (...)\\n9 ms
    (...)") as a number in bytes, seconds or rows."""
    text = value.split("\n", 1)[1] if value.startswith("total") else value
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def attribute(spark, spans: list[dict]) -> None:
    """Add Spark's counters to each span's ``counts``. A job's stage
    counters go to the innermost span open at its submission; ``jobs``
    and ``driver_s`` (wall time outside every job interval) cover the
    span's whole subtree."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    jobs = _get(spark, "jobs")
    stages = {s["stageId"]: s for s in _get(spark, "stages")}
    sqls = _get(spark, "sql?details=true&planDescription=false&offset=0&length=1000000")

    ordered = sorted(spans, key=lambda s: s["start"])

    def owner(t: float | None) -> dict | None:
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    by_id = {s["id"]: s for s in spans}
    # job intervals of each span's whole subtree (for jobs and driver_s)
    intervals: dict[int, list] = {}
    for j in jobs:
        t0 = _epoch(j.get("submissionTime"))
        s = owner(t0) if t0 is not None else None
        if s is None:
            continue
        iv = (t0, _epoch(j.get("completionTime")) or s["end"])
        a = s
        while a is not None:
            intervals.setdefault(a["id"], []).append(iv)
            a = by_id.get(a["parent"])
        c = s["counts"]
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or st.get("status") == "SKIPPED":
                continue
            for key, src, scale in (
                ("busy_s", "executorRunTime", 1e-3),
                ("shuffle_bytes", "shuffleWriteBytes", 1),
                ("shuffle_records", "shuffleWriteRecords", 1),
                ("input_bytes", "inputBytes", 1),
                ("output_bytes", "outputBytes", 1),
            ):
                c[key] = c.get(key, 0) + st.get(src, 0) * scale
    for q in sqls:
        s = owner(_epoch(q.get("submissionTime")))
        if s is None:
            continue
        c = s["counts"]
        for node in q.get("nodes", []):
            name = node["nodeName"]
            for m in node.get("metrics", []):
                key = _sql_key(name, m["name"])
                if key:
                    c[key] = c.get(key, 0) + parse_metric(m["value"])
    for s in spans:
        wall = s["end"] - s["start"]
        kids = sum(k["end"] - k["start"] for k in spans if k["parent"] == s["id"])
        tree = intervals.get(s["id"], [])
        s["counts"].update(wall_s=wall, self_s=wall - kids, jobs=len(tree),
                           driver_s=wall - _union_s(tree))


def _sql_key(node: str, metric: str) -> str | None:
    if node.startswith(PYTHON_NODES):
        return {
            "number of output rows": f"python_rows.{node}",
            "data sent to Python workers": "python_bytes",
            "data returned from Python workers": "python_bytes",
            "time to run Python workers": "python_s",
        }.get(metric)
    if node.startswith("Scan parquet"):
        return {"number of files read": "files_read",
                "number of output rows": "rows_read"}.get(metric)
    if node.startswith("Execute InsertIntoHadoopFsRelationCommand"):
        return {"number of written files": "files_written",
                "written output": "bytes_written"}.get(metric)
    return None


def module_table(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, and the mean over calls of every count."""
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0})
        row["calls"] += 1
        for k, v in s["counts"].items():
            row[k] = row.get(k, 0) + v
    for row in table.values():
        n = row["calls"]
        for k in row:
            if k != "calls":
                row[k] = row[k] / n
    return table
