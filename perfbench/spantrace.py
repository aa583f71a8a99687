"""Tracing for the benchmark: in-memory spans around the engine's public
calls, and a fold of the Spark event log into per-call-site stage tables.

Spans are recorded from the benchmark's side only: `Tracer.wrap` swaps a
module or class attribute for a timing wrapper for the length of a traced
run, and `Tracer.unwrap_all` restores it. Spark jobs are attributed to the
span whose interval contains the job's submission time (the event log and
`time.time()` share the wall clock).
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import threading
import time

# ------------------------------------------------------------------- spans


class Tracer:
    """Collects spans (name, start, end, parent, attrs) in memory.

    A disabled tracer keeps the same API and records nothing, so the timed
    loops call `span` unconditionally."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        rec = {"id": len(self.spans), "name": name, "t0": time.time(),
               "parent": stack[-1]["id"] if stack else None, **attrs}
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.time()

    def wrap(self, owner, attr: str, name: str, *, result_len: bool = False) -> None:
        """Replace `owner.attr` by a wrapper that records a span per call.
        `result_len` stores `len(result)` on the span as `n`."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name) as rec:
                out = fn(*a, **kw)
                if result_len:
                    rec["n"] = len(out)
                return out

        self._patched.append((owner, attr, raw))
        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "t1" in s]

    def ancestors(self, span: dict) -> list[dict]:
        out = []
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            out.append(span)
        return out


# --------------------------------------------------------- event-log fold

_ROOT_RE = re.compile(r"execution-root-id-(\d+)")
_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.output.bytesWritten": "bytes_written",
}
STAGE_FIELDS = ("run_ms", "cpu_ns", "shuffle_write", "shuffle_read", "spill", "bytes_written")


def fold_event_log(lines) -> list[dict]:
    """Event-log lines (JSON, uncompressed, one file) -> one record per
    job: {job, site, root, start, end, stages: [stage records]}. A stage
    record holds the accumulated run/CPU time, shuffle bytes, spill and
    output bytes, its task count and each task's executor run time. `site`
    is the job's call site; jobs of one SQL execution share `root`, and
    `label` is the first Python call site among them (AQE sub-jobs such as
    broadcast exchanges carry only a JVM call site)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            root = _ROOT_RE.search(props.get("spark.job.tags", ""))
            jobs[e["Job ID"]] = {
                "job": e["Job ID"], "start": e["Submission Time"], "end": None,
                "site": props.get("callSite.short")
                or (e["Stage Infos"][0]["Stage Name"] if e.get("Stage Infos") else ""),
                "root": int(root.group(1)) if root else -1 - e["Job ID"],
                "stage_ids": list(e.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], _new_stage())
            st["tasks"] = info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key:
                    st[key] += int(acc.get("Value") or 0)
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], _new_stage())
            st["task_ms"].append(int((e.get("Task Metrics") or {}).get("Executor Run Time", 0)))
    labels: dict[int, str] = {}
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        if ".py:" in j["site"] and j["root"] not in labels:
            labels[j["root"]] = j["site"]
    out = []
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        if j["end"] is None:
            continue
        j["label"] = labels.get(j["root"], j["site"])
        j["stages"] = [stages[s] for s in j.pop("stage_ids") if s in stages]
        out.append(j)
    return out


def _new_stage() -> dict:
    return {**{k: 0 for k in STAGE_FIELDS}, "tasks": 0, "task_ms": []}


def union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0)


def stage_skew(stage_list: list[dict]) -> float:
    """Max/median task run time of the dominant stage (largest executor run
    time) with at least two tasks; 1.0 when no stage qualifies."""
    cands = [s for s in stage_list if len(s["task_ms"]) >= 2]
    if not cands:
        return 1.0
    dom = max(cands, key=lambda s: s["run_ms"])
    med = statistics.median(dom["task_ms"])
    return max(dom["task_ms"]) / med if med > 0 else 1.0


def job_totals(job_list: list[dict]) -> dict:
    """Wall (union of job intervals), executor run/CPU time, shuffle,
    spill, output bytes, task count and skew over a set of jobs."""
    st = [s for j in job_list for s in j["stages"]]
    return {
        "jobs": len(job_list),
        "wall_s": union_ms([(j["start"], j["end"]) for j in job_list]) / 1e3,
        "exec_run_s": sum(s["run_ms"] for s in st) / 1e3,
        "exec_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
        "spill_bytes": sum(s["spill"] for s in st),
        "bytes_written": sum(s["bytes_written"] for s in st),
        "tasks": sum(s["tasks"] for s in st),
        "max_task_s": max((max(s["task_ms"], default=0) for s in st), default=0) / 1e3,
        "median_task_s": (statistics.median([t for s in st for t in s["task_ms"]])
                          if any(s["task_ms"] for s in st) else 0) / 1e3,
        "task_skew": stage_skew(st),
    }


def callsite_table(job_list: list[dict]) -> dict[str, dict]:
    """The per-call-site stage table: jobs grouped by label."""
    groups: dict[str, list[dict]] = {}
    for j in job_list:
        groups.setdefault(j["label"], []).append(j)
    return {label: job_totals(js) for label, js in groups.items()}


def jobs_in(job_list: list[dict], span: dict) -> list[dict]:
    lo, hi = span["t0"] * 1e3, span["t1"] * 1e3
    return [j for j in job_list if lo <= j["start"] <= hi]
