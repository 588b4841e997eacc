"""Measurement plumbing: spans, Spark event-log stage metrics, the
streaming progress listener and the process-tree memory sampler."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans (name, start, end, parent, run id) recorded around
    calls into the archive.  Disabled tracers record nothing, so the timed
    path only pays for a context-manager entry."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def intervals(self, prefix: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans
                if s["name"].startswith(prefix) and s["end"] is not None]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark event log (same accumulables as scripts/profile_lane.py)
# --------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
}


def parse_event_log(evdir: Path) -> tuple[list[dict], list[dict]]:
    """Jobs (submit time s, description) and completed stages (submit
    time s, tasks, run_s, cpu_s, gc_s, shuffle_bytes) from every event
    log file under ``evdir``."""
    jobs, stages = [], []
    for p in sorted(q for q in evdir.rglob("*") if q.is_file()):
        with p.open() as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({
                        "t": ev.get("Submission Time", 0) / 1000.0,
                        "desc": props.get("spark.job.description") or "",
                    })
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = {"t": si.get("Submission Time", 0) / 1000.0,
                          "tasks": si.get("Number of Tasks") or 0,
                          "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                          "shuffle_bytes": 0}
                    for acc in si.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            st[key[0]] = float(acc.get("Value", 0)) * key[1]
                    stages.append(st)
    return jobs, stages


def engine_metrics(stages: list[dict], jobs: list[dict],
                   windows: list[tuple[float, float]]) -> dict:
    """Sum the stages and jobs submitted inside any of ``windows``."""
    def inside(t):
        return any(a <= t <= b for a, b in windows)

    sel = [s for s in stages if inside(s["t"])]
    run = sum(s["run_s"] for s in sel)
    cpu = sum(s["cpu_s"] for s in sel)
    return {
        "jobs": sum(1 for j in jobs if inside(j["t"])),
        "stages": len(sel),
        "tasks": sum(s["tasks"] for s in sel),
        "executor_run_s": run,
        "executor_cpu_s": cpu,
        "cpu_share": cpu / run if run else 0.0,
        "gc_s": sum(s["gc_s"] for s in sel),
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in sel),
    }


# --------------------------------------------------------------------------
# streaming progress listener
# --------------------------------------------------------------------------

def make_progress_listener():
    """A StreamingQueryListener that stamps each progress event with the
    wall time it reached the Spark driver process."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple[float, dict]] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            now = time.time()
            p = json.loads(event.progress.json)
            with self.lock:
                self.events.append((now, p))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


# --------------------------------------------------------------------------
# memory of the benchmark's own process tree
# --------------------------------------------------------------------------

def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _children(pid: int) -> list[int]:
    """Child processes of ``pid``, leaving out children that have not yet
    exec'ed: the JVM starts subprocesses by vfork, and until the exec the
    child reports the JVM's whole RSS as its own."""
    kids = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
        except OSError:
            continue
    exe = _exe(pid)
    if exe.endswith("/java"):
        kids = [k for k in kids if _exe(k) != exe]
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants every
    ``period`` seconds, skipping the subtrees rooted at ``excluded``
    (the node; PostgreSQL is detached and never in the tree)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.excluded: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.excluded:
                continue
            total += _rss_kb(pid)
            todo.extend(_children(pid))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail_quantile(n: int) -> float:
    """p99, or the highest quantile with at least ten samples beyond it."""
    return min(0.99, max(0.5, 1.0 - 10.0 / n)) if n else 0.5


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
