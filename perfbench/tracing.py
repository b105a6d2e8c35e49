"""Measurement plumbing: spans, self time, Spark event-log summary, RSS.

Spans are kept in memory and written out once, when the run ends.  With
tracing off the benchmark uses :data:`NULL_TRACER`, whose ``span`` is a
no-op context manager, so untraced runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

import numpy as np


class Tracer:
    """In-memory span recorder.  A span has a name, a start, an end, the id
    of its parent span, and the id of the op it belongs to (every span of
    one op shares that id).  The layer is the name's first dotted part."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_time_by_layer(self) -> dict:
        """Layer -> seconds of span time not covered by a child span."""
        children: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_length(children.get(s["id"], []))
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(dur - covered, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _NullTracer:
    op_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


NULL_TRACER = _NullTracer()


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def probe_ms() -> float:
    """Fixed-work numpy probe (about 10 ms on a quiet core).  This host class
    throttles in multi-minute windows that do not show as steal time, so a
    reading well above the run's usual value marks a degraded window."""
    a = np.arange(1_000_000, dtype=np.float64)
    t0 = time.perf_counter()
    for _ in range(10):
        (a * a).sum()
    return (time.perf_counter() - t0) * 1000.0


# --------------------------------------------------------------------------
# peak RSS of this process and every descendant (JVM, Python workers)
# --------------------------------------------------------------------------

def _tree_rss_bytes(root_pid: int) -> tuple:
    """(RSS of the whole process tree, RSS of its Python processes only)."""
    parent_of: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent_of[int(name)] = int(fields[1])
    kids: dict = {}
    for pid, ppid in parent_of.items():
        kids.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total = python = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                is_python = f.read().startswith("python")
        except OSError:
            continue
        total += rss
        python += rss if is_python else 0
    return total, python


class RssSampler:
    """Background thread sampling the process tree's RSS every ``period``
    seconds; ``stop()`` joins it and returns the peaks in MB as
    ``(whole tree, Python processes only)``."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = self.peak_python = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while True:
            total, python = _tree_rss_bytes(pid)
            self.peak = max(self.peak, total)
            self.peak_python = max(self.peak_python, python)
            if self._done.wait(self.period):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> tuple:
        self._done.set()
        self._thread.join(timeout=10)
        return self.peak / 1e6, self.peak_python / 1e6


# --------------------------------------------------------------------------
# Spark event log -> per-op stage metrics
# --------------------------------------------------------------------------

_PY_RUN = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"


def _acc(stage_info: dict) -> dict:
    out = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = float(a["Value"])
        except (TypeError, ValueError, KeyError):
            continue
    return out


def parse_event_log(path: str) -> dict:
    """Fold an uncompressed, non-rolling Spark event log into one record per
    job group (the benchmark tags each op's jobs with ``setJobGroup``)."""
    job_group: dict = {}
    stage_job: dict = {}
    stages: dict = {}
    task_times: dict = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                job_group[ev["Job ID"]] = grp
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                task_times.setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "tasks": si["Number of Tasks"],
                    "start": si.get("Submission Time", 0) / 1000.0,
                    "end": si.get("Completion Time", 0) / 1000.0,
                    "acc": _acc(si)}
    groups: dict = {}
    for jid, grp in job_group.items():
        groups.setdefault(grp, {"jobs": 0, "stages": []})["jobs"] += 1
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        st["task_times"] = task_times.get(sid, [])
        groups[job_group[jid]]["stages"].append(st)
    return groups


def summarize_group(group: dict, wall_s: float, parallelism: int) -> dict:
    """Per-op Spark layer metrics from one job group's stages."""
    stages = group["stages"]
    acc_sum = lambda name: sum(s["acc"].get(name, 0.0) for s in stages)  # noqa: E731
    spans = [(s["start"], s["end"]) for s in stages if s["end"] >= s["start"] > 0]
    py_stages = [s for s in stages if _PY_RUN in s["acc"]]
    skews = []
    if stages:
        longest = max(stages, key=lambda s: s["end"] - s["start"])
        tt = longest["task_times"]
        if len(tt) >= 2 and statistics.median(tt) > 0:
            skews.append(max(tt) / statistics.median(tt))
    return {
        "jobs": group["jobs"],
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "driver_gap_s": max(wall_s - _union_length(spans), 0.0),
        "py_stages_underparallel": sum(1 for s in py_stages if s["tasks"] < parallelism),
        "python_run_s": acc_sum(_PY_RUN) / 1000.0,
        "python_boot_s": acc_sum(_PY_BOOT) / 1000.0,
        "python_init_s": acc_sum(_PY_INIT) / 1000.0,
        "executor_cpu_s": acc_sum("internal.metrics.executorCpuTime") / 1e9,
        "task_skew": skews[0] if skews else 1.0,
        "to_python_mb": acc_sum(_TO_PY) / 1e6,
        "from_python_mb": acc_sum(_FROM_PY) / 1e6,
        "scan_mb": acc_sum("internal.metrics.input.bytesRead") / 1e6,
        "shuffle_write_mb": acc_sum("internal.metrics.shuffle.write.bytesWritten") / 1e6,
    }
