"""Tracing for the benchmark's traced run.

Spans (name, start, end, parent) are recorded in memory by the benchmark
around its calls into each engine layer and written out once at the end.
Entering a span sets the Spark job description to ``span=<id> <name>``, so
every Spark job, stage and task in the session's event log can be
attributed back to the innermost span that submitted it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.monotonic(), "end": None, "attrs": {}}
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._describe(parent)

    def _describe(self, sid: int | None) -> None:
        if self.sc is not None:
            desc = None if sid is None else f"span={sid} {self.spans[sid]['name']}"
            self.sc.setJobDescription(desc)

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Context manager that replaces ``owner.attr`` with a wrapper
        recording a span per call (``on_result(rec, result)`` may add
        attributes), and restores the original on exit."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
                if on_result is not None:
                    result = on_result(rec, result)
                return result

        @contextlib.contextmanager
        def installed():
            setattr(owner, attr, traced)
            try:
                yield
            finally:
                setattr(owner, attr, original)

        return installed()

    # ----------------------------------------------------------- queries

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def descendants(self, root: int) -> list[dict]:
        out, frontier = [], {root}
        for rec in self.spans[root + 1:]:  # children always follow parents
            if rec["parent"] in frontier:
                out.append(rec)
                frontier.add(rec["id"])
        return out

    def children(self, sid: int) -> list[dict]:
        return [r for r in self.spans if r["parent"] == sid]

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1, default=str)


# ------------------------------------------------------------ event log

def _span_id(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith("span="):
        return int(desc.split()[0][len("span="):])
    return None


def read_event_log(path: str) -> dict[int | None, dict]:
    """Parse a Spark event log into counters per span id (None collects
    the jobs submitted outside any span)."""
    stage_span: dict[int, int | None] = {}
    per = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                per[_span_id(ev.get("Properties"))]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_span[info["Stage ID"]] = _span_id(ev.get("Properties"))
            elif kind == "SparkListenerStageCompleted":
                per[stage_span.get(ev["Stage Info"]["Stage ID"])]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = per[stage_span.get(ev["Stage ID"])]
                c["tasks"] += 1
                info = ev.get("Task Info", {})
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if reason != "Success" or info.get("Failed") or info.get("Killed"):
                    c["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    return per


def spark_counters(per_span: dict, span_ids) -> dict[str, float]:
    total = defaultdict(float)
    for sid in span_ids:
        for k, v in per_span.get(sid, {}).items():
            total[k] += v
    return total
