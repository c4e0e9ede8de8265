"""In-memory span recorder and Spark event-log attribution for traced runs.

Spans are recorded by the benchmark's own wrappers around the program's
public calls; nothing inside the program is instrumented.  Each span has a
name, start, end (``time.monotonic`` seconds, which is system-wide, so the
load generator's spans share the clock), its parent span id and the id of
the root operation (request, write, registry row) it belongs to.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, parent=None,
            rid: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "rid": rid, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        """Time a block; spans opened inside it on this thread become its
        children."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "start": time.monotonic(), "end": None,
               "parent": parent, "rid": rid, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()
            self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans
                if s["name"] == name]


# --------------------------------------------------------------------------
# Spark event log (spark.eventLog.enabled, uncompressed JSON lines)
# --------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(".") and not f.endswith(".crc")]
    return sorted(out)


def event_log_totals(log_dir: str, group_kind,
                     since_wall: float = 0.0) -> dict[str, dict[str, float]]:
    """Task metrics per job-group kind.

    ``group_kind(job_group) -> str | None`` maps a job group to the kind it
    is reported under (``None`` drops it); jobs submitted before
    ``since_wall`` (epoch seconds) are dropped.  Returns, per kind: ``task_s``
    (executor run time), ``gc_s``, ``shuffle_write_bytes``,
    ``shuffle_read_bytes``, ``spill_bytes``, ``jobs`` and ``tasks``.
    """
    stage_kind: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log
                kind_name = ev.get("Event")
                if kind_name == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    kind = group_kind(group) if group else None
                    if kind is None or ev.get("Submission Time", 0) < since_wall * 1000:
                        continue
                    totals[kind]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_kind[sid] = kind
                elif kind_name == "SparkListenerTaskEnd":
                    kind = stage_kind.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if kind is None or not m:
                        continue
                    t = totals[kind]
                    t["tasks"] += 1
                    t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
    return {k: dict(v) for k, v in totals.items()}


EVENT_FIELDS = ("task_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "jobs",
                "tasks")
