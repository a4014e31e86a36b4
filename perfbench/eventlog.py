"""Spans around library calls, and the Spark event-log parser that turns
them into per-layer counters.

The benchmark wraps each call into a layer in ``Spans.span(name)``: the
span records wall time and tags the Spark jobs the call runs with
``setJobGroup(name)``. After the session stops, ``attribute`` reads the
uncompressed, non-rolling event log and charges every job, stage and task
to the innermost span that ran it (by job group, else by submission time,
for jobs started from threads that do not inherit the group).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# Event-log conf for the traced run: one plain JSON-lines file per run.
def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Spans:
    """Nested wall-time spans; each tags its Spark jobs with its name."""

    def __init__(self, sc=None):
        self.sc = sc
        self.done: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.time(), "children": 0.0}
        self._stack.append(rec)
        self._tag(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self._stack:
                self._stack[-1]["children"] += rec["wall"]
            self._tag(self._stack[-1]["name"] if self._stack else None)
            self.done.append(rec)

    def _tag(self, name):
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper (traced run only:
        it lets calls a public function makes into another be timed)."""
        inner = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return inner(*a, **kw)

        setattr(module, attr, wrapped)


def read_events(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


_ZERO = {
    "jobs": 0, "tasks": 0, "task_failures": 0, "executor_cpu_s": 0.0,
    "gc_s": 0.0, "task_wait_s": 0.0, "shuffle_write_bytes": 0,
    "spill_bytes": 0, "input_records": 0, "python_s": 0.0, "job_s": 0.0,
}
# Arrow Python-worker SQL metric (ArrowEvalPython and friends), in ms; it
# includes worker start and initialisation.
_PYTHON_METRICS = ("time to run Python workers",)


def attribute(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Counters per span (keyed by ``id(span)``), from the event log.

    A job goes to the innermost span named by its job group whose window
    holds its submission; failing that, to the innermost span whose window
    holds it. ``job_s`` is the union of the span's job intervals, so
    ``driver_s`` (span wall time with no job running) is ``wall - job_s``.
    """
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def owner(group, t):
        def inner(cands):
            hits = [s for s in cands if s["start"] <= t <= s["end"]]
            return min(hits, key=lambda s: s["wall"]) if hits else None

        return (inner(by_name.get(group, [])) if group else None) or inner(spans)

    job_span, job_iv, stage_job = {}, {}, {}
    stage_tasks = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            t = ev["Submission Time"] / 1000.0
            job_span[ev["Job ID"]] = owner(props.get("spark.jobGroup.id"), t)
            job_iv[ev["Job ID"]] = [t, t]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_iv:
            job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            stage_tasks[ev["Stage ID"]].append(ev)

    out: dict[int, dict] = {id(s): dict(_ZERO) for s in spans}
    intervals = defaultdict(list)
    for jid, s in job_span.items():
        if s is not None:
            out[id(s)]["jobs"] += 1
            intervals[id(s)].append(job_iv[jid])
    for sid, tasks in stage_tasks.items():
        s = job_span.get(stage_job.get(sid))
        if s is None:
            continue
        c = out[id(s)]
        for ev in tasks:
            c["tasks"] += 1
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c["task_failures"] += 1
            run_ms = m.get("Executor Run Time", 0)
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            c["task_wait_s"] += max(0, dur_ms - run_ms) / 1e3
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in _PYTHON_METRICS:
                    c["python_s"] += float(acc.get("Update", 0)) / 1e3
    for key, ivs in intervals.items():
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(ivs):
            if cur_hi is None or lo > cur_hi:
                busy += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        busy += (cur_hi - cur_lo) if cur_hi is not None else 0.0
        out[key]["job_s"] = busy
    return out
