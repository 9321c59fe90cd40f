"""Shared helpers: paths, the stdin/stdout line protocol between the
harness and its child processes, percentiles, peak RSS from /proc, the
in-memory span recorder and the Spark event-log reader."""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "supermusr_data_pipeline_spark"


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def use_program() -> None:
    """Put the checkout's program first on the import path."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---- line protocol: one JSON object per line ----

def send(stream, obj: dict) -> None:
    stream.write(json.dumps(obj) + "\n")
    stream.flush()


def recv(stream) -> dict:
    line = stream.readline()
    if not line:
        raise EOFError("peer closed its end of the pipe")
    return json.loads(line)


# ---- statistics ----

def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return float(v[0])
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---- memory ----

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) in MiB of this process and all its descendants,
    split into (every process but the JVM, the JVM).  Sums of
    per-process peaks: upper bounds on the joint peaks."""
    todo = [os.getpid()]
    kb = [0, 0]
    while todo:
        p = todo.pop()
        kb[_comm(p) == "java"] += _status_kb(p, "VmHWM")
        todo.extend(_children(p))
    return kb[0] / 1024.0, kb[1] / 1024.0


# ---- spans ----

class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once at the end.  ``enabled=False`` makes every call a
    no-op pass-through, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, start, end, parent, run)
        self._stack: list[int] = []
        self._next = 0
        self.run_id = 0

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        def traced(*a, **kw):
            with _Span(self, name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, float]:
        """Per layer (the span name's prefix before the first dot):
        span durations minus the part covered by child spans."""
        child_s: dict[int, float] = {}
        for sid, _n, t0, t1, parent, _r in self.spans:
            if parent is not None:
                child_s[parent] = child_s.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for sid, name, t0, t1, _p, _r in self.spans:
            layer = name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - child_s.get(sid, 0.0)
        return out

    def total(self, name: str) -> float:
        return sum(t1 - t0 for _i, n, t0, t1, _p, _r in self.spans if n == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, name, t0, t1, parent, run in self.spans:
                fh.write(json.dumps(
                    {"id": sid, "name": name, "start": t0, "end": t1,
                     "parent": parent, "run": run}
                ) + "\n")


class _Span:
    __slots__ = ("tr", "name", "t0", "sid", "parent")

    def __init__(self, tr: Tracer, name: str):
        self.tr = tr
        self.name = name

    def __enter__(self):
        tr = self.tr
        if tr.enabled:
            self.sid = tr._next
            tr._next += 1
            self.parent = tr._stack[-1] if tr._stack else None
            tr._stack.append(self.sid)
            self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        tr = self.tr
        if tr.enabled:
            t1 = time.perf_counter()
            tr._stack.pop()
            tr.spans.append((self.sid, self.name, self.t0, t1, self.parent, tr.run_id))
        return False


# ---- Spark event log ----

def event_log_metrics(log_dir: str, t_from: float, t_to: float) -> dict:
    """Task and stage figures for the jobs run inside the wall-clock
    window [t_from, t_to] (epoch seconds), from Spark's own event log."""
    tasks = []  # (launch_s, finish_s, stage_key)
    stage_tasks: dict = {}
    stage_wall: dict = {}
    shuffle_w = 0
    spill = 0
    gc_ms = 0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    t0, t1 = info["Launch Time"] / 1000, info["Finish Time"] / 1000
                    if t0 < t_from or t1 > t_to:
                        continue
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    tasks.append((t0, t1))
                    stage_tasks.setdefault(key, []).append(t1 - t0)
                    m = ev.get("Task Metrics") or {}
                    gc_ms += m.get("JVM GC Time", 0)
                    shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sub, done = si.get("Submission Time"), si.get("Completion Time")
                    if sub and done:
                        stage_wall[(si["Stage ID"], si["Stage Attempt ID"])] = (
                            (done - sub) / 1000
                        )
    durs = [b - a for a, b in tasks]
    longest = sum(max(v) for k, v in stage_tasks.items() if k in stage_wall)
    walls = sum(w for k, w in stage_wall.items() if k in stage_tasks)
    # executor-busy wall: the union of task intervals
    busy = 0.0
    end = None
    for a, b in sorted(tasks):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return {
        "tasks": len(tasks),
        "task_s_p50": median(durs),
        "task_s_max": max(durs) if durs else 0.0,
        "serial_share": longest / walls if walls > 0 else 0.0,
        "shuffle_write_mb": shuffle_w / 2**20,
        "spill_mb": spill / 2**20,
        "driver_s": max(0.0, (t_to - t_from) - busy),
        "gc_s": gc_ms / 1000,
    }
