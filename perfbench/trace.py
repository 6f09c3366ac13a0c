"""Spans recorded around calls into the package, and the Spark event-log
parser that attributes task metrics to them.

A span is ``{id, name, parent, start, end}``. Entering a span sets
the Spark job group of the calling thread to the span id, so every job
submitted while the span is innermost carries it; the event log then maps
job → stages → tasks, and task metrics are summed per span. Lazy
operators bill to the span whose action runs them.

The instrumentation wraps public functions from outside the package
(module globals and class attributes) and is installed only for a traced
run; an untraced run uses :class:`NullTracer` and patches nothing.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# SQL metrics of the Python evaluation nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas, ...): PythonSQLMetrics in Spark 4, milliseconds
PYTHON_TIME_METRICS = (
    "time to run Python workers",
    "time to start Python workers",
    "time to initialize Python workers",
)


class NullTracer:
    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def open(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"pb-{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        return rec

    def close(self, rec: dict, name: str | None = None) -> None:
        """End ``rec``, which must be the innermost open span."""
        rec["end"] = time.perf_counter()
        if name is not None:
            rec["name"] = name
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def top(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield
        finally:
            self.close(rec)


_NEXT_STAGE = "stage.next"


def instrument(tracer: Tracer) -> None:
    """Spans for ``run_pipeline`` and its stages (traced runs only).

    Stages are consecutive segments of ``run_pipeline``: every
    stage ends with ``StageCatalog.log_lineage(stage, ...)``, so a stage
    span runs from the end of the previous stage's lineage record to the
    end of its own. It covers the stage's eager jobs (counters, hot-bucket
    profile, CC rounds) as well as its table write."""
    from co_deduplicate_spark.plans import pipeline
    from co_deduplicate_spark.sources.catalog import StageCatalog

    run_pipeline = pipeline.run_pipeline
    log_lineage = StageCatalog.log_lineage

    @functools.wraps(run_pipeline)
    def traced_pipeline(*args, **kwargs):
        with tracer.span("pipeline"):
            tracer.open(_NEXT_STAGE)
            try:
                return run_pipeline(*args, **kwargs)
            finally:
                top = tracer.top()
                tracer.close(top, "pipeline.tail" if top["name"] == _NEXT_STAGE else None)

    @functools.wraps(log_lineage)
    def traced_lineage(self, stage, *args, **kwargs):
        out = log_lineage(self, stage, *args, **kwargs)
        top = tracer.top()
        if top is not None and top["name"] == _NEXT_STAGE:
            tracer.close(top, f"stage.{stage}")
            tracer.open(_NEXT_STAGE)
        return out

    pipeline.run_pipeline = traced_pipeline
    StageCatalog.log_lineage = traced_lineage


# --------------------------------------------------------------------------
# event log → per-span task metrics
# --------------------------------------------------------------------------

def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "cpu_ms": 0.0, "run_ms": 0.0, "python_ms": 0.0,
            "shuffle_bytes": 0, "read_bytes": 0, "spill_bytes": 0}


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """Sum task metrics per job group over every event-log file in ``log_dir``."""
    per_group: dict[str, dict] = defaultdict(_zero)
    stage_group: dict[int, str] = {}
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    for f in files:
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    per_group[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = per_group[group]
                    g["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    g["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    g["run_ms"] += tm.get("Executor Run Time", 0)
                    g["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["read_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_TIME_METRICS:
                            g["python_ms"] += float(acc.get("Update") or 0)
    return dict(per_group)


def span_table(spans: list[dict], groups: dict[str, dict]) -> list[dict]:
    """Each span with its duration, self time and event-log metrics."""
    child_s: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        out.append({**s, "s": dur, "self_s": dur - child_s[s["id"]],
                    **groups.get(s["id"], _zero())})
    return out


def subtree(rows: list[dict], root_id: str) -> list[dict]:
    """The span ``root_id`` and all its descendants."""
    keep = {root_id}
    out = []
    for r in rows:  # spans are recorded in start order: parents come first
        if r["id"] in keep or r["parent"] in keep:
            keep.add(r["id"])
            out.append(r)
    return out
