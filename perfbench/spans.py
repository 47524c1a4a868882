"""Spans around the benchmark's calls into the engine, plus the Spark
metrics of the jobs each span started.

A span records name, layer, start, end, parent span and run id. Spans
live in memory and are written out once, at the end. While a span is
open its id is the thread's Spark job group, so every Spark job it
starts carries that tag; after the traced phase the Spark UI's REST API
gives per-job stages and per-SQL-execution plan-node metrics, which are
summed per span. The REST API is only up when `spark.ui.enabled` is
true, which only the traced phase sets.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from urllib.parse import urlparse

# stage-level fields summed per span: output name -> (REST field, scale)
STAGE_FIELDS = {
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "exec_run_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "failed_tasks": ("numFailedTasks", 1),
}
# kept per span for the ratio metrics, not reported by name
EXTRA_STAGE_FIELDS = {"input_records": ("inputRecords", 1)}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: dict = field(default_factory=dict)
    sql_nodes: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. A disabled tracer's `span` does nothing but yield,
    so an untraced run pays no tagging cost."""

    def __init__(self, spark=None, run_id: str = "", enabled: bool = False):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent in span enter/exit
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str = ""):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext if self.spark else None
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1,
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            run=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if sc:
            sc.setJobGroup(str(s.id), name)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc = self.spark.sparkContext if self.spark else None
            if sc and parent is not None:
                sc.setJobGroup(str(parent.id), parent.name)
            elif sc:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - s.end

    def current_layer(self) -> str:
        """Layer of the innermost open span that has one, else ""."""
        return next((s.layer for s in reversed(self._stack) if s.layer), "")

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it that child spans cover."""
        iv = sorted((c.start, c.end) for c in self.children(span))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            lo, hi = max(lo, span.start), min(hi, span.end)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.wall - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans],
                f,
            )

    # ----------------------------------------------------- Spark REST metrics

    def collect_spark_metrics(self, timeout_s: float = 30.0) -> None:
        """Attach each span's Spark jobs, stage totals and SQL plan-node
        metrics. Waits until the status store has caught up with every
        job that was started."""
        sc = self.spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
                return json.loads(r.read())

        deadline = time.time() + timeout_s
        while True:
            jobs = get("jobs")
            busy = any(j["status"] == "RUNNING" for j in jobs)
            if not busy or time.time() > deadline:
                break
            time.sleep(0.2)
        stages: dict[int, list[dict]] = {}
        for st in get("stages"):
            stages.setdefault(st["stageId"], []).append(st)
        by_id = {str(s.id): s for s in self.spans}
        job_span = {}
        fields = {**STAGE_FIELDS, **EXTRA_STAGE_FIELDS}
        for j in jobs:
            s = by_id.get(j.get("jobGroup") or "")
            if s is None:
                continue
            s.jobs.append(j["jobId"])
            job_span[j["jobId"]] = s
            for sid in j["stageIds"]:
                for st in stages.get(sid, ()):
                    for name, (key, scale) in fields.items():
                        s.stages[name] = (
                            s.stages.get(name, 0) + st.get(key, 0) * scale
                        )
        for ex in get("sql?details=true&length=100000"):
            ids = (
                ex.get("successJobIds", [])
                + ex.get("failedJobIds", [])
                + ex.get("runningJobIds", [])
            )
            owner = next((job_span[i] for i in ids if i in job_span), None)
            if owner is None:
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = f"{node['nodeName']}|{m['name']}"
                    owner.sql_nodes[key] = owner.sql_nodes.get(
                        key, 0.0
                    ) + parse_sql_metric(m["value"])


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(value: str) -> float:
    """A SQL UI metric string -> number in seconds / bytes / count.

    Values are either a plain count ("1,234") or, for per-task metrics,
    "total (min, med, max ...)\\n12.3 s (1 ms, ...)"; the total is the
    first number of the last line."""
    line = value.strip().splitlines()[-1] if value.strip() else ""
    m = _NUM.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)
