"""In-memory spans, call wrappers and Spark event-log accounting.

Spans are recorded from the benchmark's own files only: around the calls
it makes into the program, and around module attributes the program
deliberately calls through (``tables.append_history`` and
``tables.upsert_state``, which ``IngestPipeline.process_batch`` looks up
on the module at call time). Spans are kept in memory and written out
when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Each span has an id, a parent id, a name, a wall
    start/end (epoch seconds, to line up with Spark's event log) and a
    duration from ``perf_counter``. A span opened on a worker thread with
    no open span of its own is parented to the innermost span open on
    the main thread: the benchmark is a single closed-loop client, so
    that span is the operation the worker is serving."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "name": name, "attrs": attrs}
        stack.append(sid)
        rec["wall_start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["wall_end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name_of):
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name_of(args, kwargs)`` around each call. Returns an undo."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, fn)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it the children's wall intervals
        cover (overlapping children are counted once)."""
        ivs = sorted((c["wall_start"], c["wall_end"]) for c in self.children(rec))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, rec["wall_start"]), min(e, rec["wall_end"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, rec["dur"] - covered)

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, default=str)


def spark_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed) event log Spark wrote into ``log_dir``
    into jobs and tasks with epoch-second times. Call after the session
    has stopped, when the log is complete."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev["Submission Time"] / 1000.0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def spark_scope(log: dict, ops: list[list[tuple[float, float]]]) -> dict:
    """Spark work attributed to operations, each given as the wall-clock
    windows it spanned: a job belongs to the window its submission falls
    in, a task to its job. Returns per-operation medians of jobs, task
    CPU seconds and shuffle bytes, and the most tasks ever running at
    once in any window."""
    from statistics import median

    per_op = []
    max_conc = 0
    for windows in ops:
        jobs = cpu = shuffle = 0
        for lo, hi in windows:
            jids = {j for j, rec in log["jobs"].items() if lo <= rec["submit"] <= hi}
            ts = [t for t in log["tasks"] if t["job"] in jids]
            jobs += len(jids)
            cpu += sum(t["cpu_s"] for t in ts)
            shuffle += sum(t["shuffle_bytes"] for t in ts)
            edges = sorted([(t["launch"], 1) for t in ts] + [(t["finish"], -1) for t in ts])
            running = 0
            for _, d in edges:
                running += d
                max_conc = max(max_conc, running)
        per_op.append((jobs, cpu, shuffle))
    if not per_op:
        nan = float("nan")
        return {"jobs": nan, "task_cpu_s": nan, "shuffle_bytes": nan, "max_concurrent_tasks": nan}
    return {
        "jobs": median(p[0] for p in per_op),
        "task_cpu_s": median(p[1] for p in per_op),
        "shuffle_bytes": median(p[2] for p in per_op),
        "max_concurrent_tasks": max_conc,
    }
