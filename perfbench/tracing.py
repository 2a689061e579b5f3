"""Span recorder and Spark event-log attribution for the traced run.

Spans carry (id, name, start, end, parent, op) and stay in memory until the
run ends. Spark jobs are read back from the event log that the traced run's
session writes, and each job is attributed to the innermost span whose time
window holds its submission time. With a single client issuing one call at
a time this is sound, and it also catches jobs submitted from the engine's
own driver threads, which carry no job group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> tuple[list[dict], dict]:
    """Parse every event file under ``log_dir`` (uncompressed JSON lines).

    Returns (jobs, stage_tasks): jobs as {id, submit, end, stages}, and per
    stage id the list of finished tasks as {run_ms, shuffle_read,
    shuffle_write, spill}.
    """
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                   + glob.glob(os.path.join(log_dir, "local-*")))
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"id": e["Job ID"],
                                         "submit": e["Submission Time"] / 1000.0,
                                         "end": None, "stages": e["Stage IDs"]}
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(e["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return sorted(jobs.values(), key=lambda j: j["id"]), tasks


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, int | None]:
    """job id -> innermost span id whose window holds the job's submission."""
    out: dict[int, int | None] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= s["end"]:
                if best is None or s["start"] >= spans[best]["start"]:
                    best = s["id"]
        out[j["id"]] = best
    return out


def _ancestors(spans: list[dict], sid: int):
    while sid is not None:
        yield sid
        sid = spans[sid]["parent"]


def spark_counters(spans: list[dict], jobs: list[dict], tasks: dict) -> dict:
    """Inclusive Spark counters per span id: jobs, tasks, shuffle read and
    write MB, spill MB and task skew (max / median task run time)."""
    owner = attribute(spans, jobs)
    # a stage's tasks run in the first job that lists it; later jobs that
    # reuse its shuffle output list it as skipped
    runs_in: dict[int, int] = {}
    for j in jobs:
        for st in j["stages"]:
            runs_in.setdefault(st, j["id"])
    n_jobs = {s["id"]: 0 for s in spans}
    stages: dict[int, set] = {s["id"]: set() for s in spans}
    for j in jobs:
        sid = owner[j["id"]]
        if sid is None:
            continue
        for a in _ancestors(spans, sid):
            n_jobs[a] += 1
            stages[a].update(st for st in j["stages"] if runs_in[st] == j["id"])
    out = {}
    for sid in n_jobs:
        ts = [t for st in stages[sid] for t in tasks.get(st, [])]
        run = [t["run_ms"] for t in ts]
        med = statistics.median(run) if run else 0
        out[sid] = {
            "jobs": n_jobs[sid],
            "tasks": len(ts),
            "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / MB,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / MB,
            "spill_mb": sum(t["spill"] for t in ts) / MB,
            "task_skew": (max(run) / med) if med > 0 else (1.0 if run else 0.0),
        }
    return out


def self_time(spans: list[dict], sid: int) -> float:
    """Span duration minus the part of it that its child spans cover."""
    s = spans[sid]
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == sid)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in kids:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (s["end"] - s["start"]) - covered


def unattributed_jobs(spans: list[dict], jobs: list[dict], since: float) -> int:
    """Jobs submitted at or after ``since`` (the start of the traced loop)
    that fall in no span. Every Spark call of the loop runs inside a span,
    so this should read 0."""
    owner = attribute(spans, jobs)
    return sum(1 for j in jobs if j["submit"] >= since and owner[j["id"]] is None)
