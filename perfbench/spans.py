"""Span recorder for the traced run, with Spark job attribution.

Each span wraps one call from the benchmark into a layer's public function
and records name, start, end, parent span and the request id shared by one
query or one batch.  Spans stay in memory until the run ends.  While a span
is open, its id is the thread's Spark job group, so the event log ties
every job, stage and task to the innermost open span.  With tracing off,
``span`` returns a shared no-op context.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict
from typing import Dict, List, Optional

_OFF = contextlib.nullcontext()
_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: List[dict] = []
        self.request: Optional[str] = None
        self.bookkeeping_s = 0.0
        self._stack: List[dict] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else _OFF

    @contextlib.contextmanager
    def _span(self, name: str):
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"span-{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty(_GROUP, None)
            self.bookkeeping_s += time.perf_counter() - rec["end"]


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, last), min(b, s["end"])
            if b > a:
                covered += b - a
                last = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def spark_by_span(event_dir: str) -> Dict[int, dict]:
    """Parse the Spark event log: span id -> jobs, tasks, shuffle bytes,
    executor run time, JVM GC time, and the run time of stages that ran a
    pandas (Arrow) UDF."""
    job_span: Dict[int, int] = {}
    stage_span: Dict[int, int] = {}
    arrow_stages = set()
    out: Dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "run_s": 0.0,
                 "gc_s": 0.0, "arrow_udf_s": 0.0}
    )
    tasks = []
    for path in glob.glob(f"{event_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP) or ""
                    if not group.startswith("span-"):
                        continue
                    sid = int(group[5:])
                    job_span[ev["Job ID"]] = sid
                    out[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerStageSubmitted":
                    for rdd in ev["Stage Info"].get("RDD Info", []):
                        scope = rdd.get("Scope") or ""
                        if "ArrowEvalPython" in scope or "ArrowEvalPython" in rdd.get("Name", ""):
                            arrow_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        sid = stage_span.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if sid is None or not m:
            continue
        rec = out[sid]
        rec["tasks"] += 1
        rec["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        run_s = m.get("Executor Run Time", 0) / 1000.0
        rec["run_s"] += run_s
        rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        if ev["Stage ID"] in arrow_stages:
            rec["arrow_udf_s"] += run_s
    return dict(out)


def layer_table(spans: List[dict], spark: Dict[int, dict]) -> Dict[str, dict]:
    """Per layer: calls, total and self time, and the Spark work of the
    jobs its spans launched (a span's jobs count for its innermost span)."""
    selfs = self_times(spans)
    table: Dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(layer_of(s["name"]), {
            "calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0,
            "shuffle_bytes": 0, "executor_run_s": 0.0, "gc_s": 0.0,
        })
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += selfs[s["id"]]
        sp = spark.get(s["id"])
        if sp:
            row["jobs"] += sp["jobs"]
            row["tasks"] += sp["tasks"]
            row["shuffle_bytes"] += sp["shuffle_bytes"]
            row["executor_run_s"] += sp["run_s"]
            row["gc_s"] += sp["gc_s"]
    return table


def subtree(spans: List[dict], root_ids) -> set:
    """Ids of the given spans and all their descendants."""
    ids = set(root_ids)
    for s in spans:  # children are recorded after their parents
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


def median_duration(spans: List[dict], name: str) -> float:
    d = [s["end"] - s["start"] for s in spans if s["name"] == name]
    return statistics.median(d) if d else 0.0
