"""In-memory spans around the engine's public functions, plus the
Spark event log reader that attributes jobs, tasks and shuffle bytes
to span windows.

A span is (id, name, start, end, parent id, request id, attrs).
Wrappers are installed at the binding the caller uses: a module that
did `from .codec import decode_blocks_batch_threaded` holds its own
reference, so patching `codec` alone would silently miss its calls.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ---- recording
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid) -> None:
        self._local.request = rid

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> dict:
        st = self._stack()
        sp = {"id": next(self._ids), "name": name,
              "parent": st[-1] if st else None,
              "request": getattr(self._local, "request", None),
              "start": time.time(), "end": None, **attrs}
        st.append(sp["id"])
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    # ---- wrappers
    def wrap(self, owner, attr: str, name: str, result_attrs=None) -> None:
        """Replace owner.attr by a span-recording wrapper. result_attrs,
        if given, maps the call's return value to extra span fields."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = self._open(name, {})
            try:
                out = orig(*args, **kwargs)
                if result_attrs is not None:
                    sp.update(result_attrs(out))
                return out
            finally:
                self._close(sp)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        self.sp = self.tracer._open(self.name, self.attrs)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def named(spans: list[dict], *names: str) -> list[dict]:
    return [s for s in spans if s["name"] in names]


def total_ms(spans: list[dict], *names: str) -> float:
    return 1000.0 * sum(s["end"] - s["start"] for s in named(spans, *names))


def self_ms(spans: list[dict], *names: str) -> float:
    """Total self time in ms of the spans named `names`; children are
    looked up in the same span list."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return 1000.0 * sum(self_time(s, kids.get(s["id"], []))
                        for s in named(spans, *names))


def self_time(span: dict, children: list[dict]) -> float:
    """The span's duration minus the part of it its children cover
    (children may overlap each other; parts outside the span's window
    do not count)."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                 for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def span_cost_s(calls: int = 20_000) -> float:
    """Calibrated cost of one wrapped call over an unwrapped one."""
    class Box:
        @staticmethod
        def f():
            return None
    plain = Box.f
    t0 = time.perf_counter()
    for _ in range(calls):
        plain()
    base = time.perf_counter() - t0
    tr = Tracer()
    tr.wrap(Box, "f", "calibrate")
    t0 = time.perf_counter()
    for _ in range(calls):
        Box.f()
    return max(0.0, (time.perf_counter() - t0 - base) / calls)


# ---- Spark event log

def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the (closed) event log files under log_dir:
    [{id, submit, end, tasks, shuffle_write, spill}], times in s."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events_"))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid,
                                 "submit": ev["Submission Time"] / 1000.0,
                                 "end": None, "tasks": 0,
                                 "shuffle_write": 0, "spill": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = \
                            ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["shuffle_write"] += int(
                        (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0))
                    job["spill"] += int(m.get("Memory Bytes Spilled", 0)) \
                        + int(m.get("Disk Bytes Spilled", 0))
    return sorted(jobs.values(), key=lambda j: j["submit"])


def jobs_within(jobs: list[dict], windows) -> list[dict]:
    """Jobs submitted inside any of the (start, end) windows."""
    ws = sorted(windows)
    return [j for j in jobs
            if any(a <= j["submit"] <= b for a, b in ws)]
