"""Spans around the engine's public calls, and the Spark event log joined
to them.

A span records name, id, parent, start and end.  In a traced run each
span also sets a Spark job group ``span-<id>``, so every job the call
launches carries the span id; after the session stops, the event log's
job-start and task-end events are joined to the spans to count jobs,
stages and tasks per call and to sum executor CPU time, GC time and
shuffle bytes.  Spans stay in memory and are written out at exit.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans are kept in every run (the workloads read their timings from
    them); job groups are set only when tracing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", f"span-{sid}")

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call; yields a dict the caller may add attributes to."""
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, **attrs}
        if self.enabled:
            self._set_group(sid)
        self._stack.append(sid)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.spans.append(rec)
            if self.enabled:
                self._set_group(parent)

    def write(self, out) -> None:
        """All spans as JSON lines."""
        for s in self.spans:
            out.write(json.dumps(s) + "\n")


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one (non-rolling, uncompressed) log in ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def summary(spans: list[dict], counts: dict[int, dict], out) -> None:
    """Per span name: calls, median and total seconds, and the median
    event-log counts per call."""
    names: dict[str, list[dict]] = {}
    for s in spans:
        names.setdefault(s["name"], []).append(s)
    keys = ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_mb")
    print(f"{'span':16s} {'calls':>5s} {'p50_s':>8s} {'total_s':>8s} " + " ".join(f"{k:>10s}" for k in keys), file=out)
    for name, ss in names.items():
        d = sorted(s["end"] - s["start"] for s in ss)
        med = [sorted(counts[s["id"]][k] for s in ss)[len(ss) // 2] for k in keys]
        print(
            f"{name:16s} {len(ss):5d} {d[len(d) // 2]:8.3f} {sum(d):8.3f} "
            + " ".join(f"{v:10.3f}" for v in med),
            file=out,
        )


def per_span_counts(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Jobs, stages, tasks, executor CPU seconds, GC seconds and shuffle
    MiB (read + written) of each span, its descendants' work included."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, int] = {}
    own = {s["id"]: _zero() for s in spans}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not group.startswith("span-"):
                continue
            sid = int(group[5:])
            if sid not in own:
                continue
            job = ev["Job ID"]
            job_span[job] = sid
            own[sid]["jobs"] += 1
            for st in ev.get("Stage IDs", []):
                stage_job.setdefault(st, job)
        elif kind == "SparkListenerStageCompleted":
            st = ev["Stage Info"]["Stage ID"]
            sid = job_span.get(stage_job.get(st, -1))
            if sid is not None:
                own[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = job_span.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            c = own[sid]
            c["tasks"] += 1
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            c["shuffle_mb"] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            ) / 2**20
    # roll descendants up into their ancestors
    by_id = {s["id"]: s for s in spans}
    total = {sid: dict(c) for sid, c in own.items()}
    for sid, c in own.items():
        p = by_id[sid]["parent"]
        while p is not None and p in total:
            for key, v in c.items():
                total[p][key] += v
            p = by_id[p]["parent"]
    return total


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0}
