"""Spans around calls into the program's layers, plus Spark's own
job, stage and SQL metrics, for the traced run (``--trace 1``).

Spans are recorded only from the benchmark's side: ``Tracer.wrap``
replaces a module attribute (a layer's public function, as the caller
resolves it) with a timing wrapper and ``Tracer.restore`` puts the
original back. Spans live in memory and are written out once, when the
run ends. Spark's metrics come from the driver's status REST endpoint
on localhost, read once after the last unit, and are attributed to
spans by submission time.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark stamps jobs in whole milliseconds; a job submitted in the same
# millisecond a span began must still fall inside it.
_SLACK_S = 0.002


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    unit: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer is a no-op."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.unit: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 unit=self.unit, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def named(self, name: str, unit: int | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (unit is None or s.unit == unit)]

    def children(self, span: Span) -> list[Span]:
        i = self.spans.index(span)
        return [s for s in self.spans if s.parent == i]

    def self_time(self, span: Span) -> float:
        return span.dur - sum(c.dur for c in self.children(span))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "unit": s.unit, **s.attrs,
                }) + "\n")


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _number(text: str) -> float:
    """First number of a SQL metric's display value ('12,345', '1.2 MiB
    (…)' and the like are read as their leading figure)."""
    head = text.split("(")[0].split("\n")[0].strip().split(" ")[0]
    return float(head.replace(",", "")) if head else 0.0


class SparkMetrics:
    """Jobs, stages and SQL executions of one application, from the
    driver's REST endpoint."""

    def __init__(self, spark):
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        self.jobs = []
        for j in get("/jobs"):
            start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if start is not None and end is not None:
                self.jobs.append({"id": j["jobId"], "start": start, "end": end,
                                  "stages": j.get("stageIds", [])})
        self.stages = {s["stageId"]: s for s in get("/stages") if s.get("status") == "COMPLETE"}
        self.sql = []
        for e in get("/sql?details=true&planDescription=false&length=100000"):
            self.sql.append({
                "start": _epoch(e.get("submissionTime")),
                "jobs": set(e.get("successJobIds", []) + e.get("failedJobIds", [])),
                "nodes": e.get("nodes", []),
            })

    def jobs_in(self, span: Span) -> list[dict]:
        return [j for j in self.jobs if span.start - _SLACK_S <= j["start"] <= span.end]

    def job_time(self, span: Span) -> float:
        """Wall time during which at least one job of the span ran."""
        total, reach = 0.0, None
        for j in sorted(self.jobs_in(span), key=lambda j: j["start"]):
            s, e = max(j["start"], span.start), min(j["end"], span.end)
            if reach is not None:
                s = max(s, reach)
            if e > s:
                total += e - s
            reach = e if reach is None else max(reach, e)
        return total

    def stage_sum(self, span: Span, key: str) -> float:
        ids = {sid for j in self.jobs_in(span) for sid in j["stages"]}
        return float(sum(self.stages[i].get(key, 0) for i in ids if i in self.stages))

    def stage_count(self, span: Span) -> int:
        ids = {sid for j in self.jobs_in(span) for sid in j["stages"]}
        return sum(1 for i in ids if i in self.stages)

    def sql_in(self, span: Span) -> list[dict]:
        return [e for e in self.sql if e["start"] is not None
                and span.start - _SLACK_S <= e["start"] <= span.end]

    def node_rows(self, span: Span, node_name: str) -> float:
        """Sum of 'number of output rows' over plan nodes named
        ``node_name`` in the SQL executions of the span."""
        return sum(output_rows(n) for e in self.sql_in(span) for n in e["nodes"]
                   if n.get("nodeName") == node_name)


def output_rows(node: dict) -> float:
    """A SQL plan node's 'number of output rows' metric (0 if absent)."""
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            return _number(m.get("value", "0"))
    return 0.0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
