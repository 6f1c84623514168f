"""Workload definitions, metric names and the closed loop they share.

Every workload is one client in a closed loop: the next operation starts
when the previous one returns. What an operation is depends on the
workload:

- ``ingest_replay``: one ``IngestPipeline.process_batch`` of a large
  ``global_stream`` batch; no dashboard query runs (``adsb.py``).
- ``dashboard_refresh``: one cycle, a small ``local`` batch through
  ``process_batch`` followed by a full dashboard panel refresh
  (``adsb.py``).
- ``query_suite``: one pass over a fixed set of query registry rows, one
  or more per family (``suite.py``).

A run sets up (Spark, inputs, warm-up), then repeats operations for the
given number of seconds. Every output is checked outside the timed spans;
a failed check or a raised error fails the operation.
"""

from __future__ import annotations

import math
import os
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass
from statistics import median

from .trace import Tracer


@dataclass(frozen=True)
class Adsb:
    """An ADS-B workload: batches of one source, optionally followed by
    a dashboard refresh."""

    source: str
    n_aircraft: int
    scrapes_per_batch: int
    cadence_s: int            # the source's poll cadence; the logical clock's step
    panels: tuple[str, ...]   # empty: no refresh, the operation is the batch alone
    warmup_ops: int
    trajectory_window_s: int = 300
    prebuild_days: int = 0    # closed days of history written before the loop


@dataclass(frozen=True)
class Suite:
    """The query registry workload."""

    rows: tuple[str, ...]
    scale: int                # 1 = the row counts of the repo's sf0.001 test data
    warmup_passes: int


PANELS = ("current_positions", "nearest_aircraft", "combined_latest", "trajectory", "table_stats")

# one row per family, each the cheapest of its family (a warm pass over
# all 50 rows takes ~55 s at local[2], far beyond one run's share)
SUITE_ROWS = (
    "q01_pricing_summary",
    "adsb_latest_view_freshness",
    "dedup_exact",
    "sim_knn_bruteforce",
    "text_langid",
    "mm_decode_metadata",
)

# name prefix -> family, first match wins
FAMILIES = (
    ("adsb_", "adsb"), ("dedup_", "dedup"), ("sim_", "similarity"), ("text_", "text"),
    ("search_", "search"), ("mm_", "search"), ("q", "relational"),
)


def family_of(row: str) -> str:
    return next(f for p, f in FAMILIES if row.startswith(p))


FAMILY_NAMES = ("relational", "adsb", "dedup", "similarity", "text", "search")

WORKLOADS = {
    "ingest_replay": Adsb(
        source="global_stream", n_aircraft=12000, scrapes_per_batch=1, cadence_s=10,
        panels=(), warmup_ops=2,
    ),
    "dashboard_refresh": Adsb(
        source="local", n_aircraft=300, scrapes_per_batch=3, cadence_s=2,
        panels=PANELS, warmup_ops=1, prebuild_days=2,
    ),
    "query_suite": Suite(rows=SUITE_ROWS, scale=1, warmup_passes=1),
}

# tiny sizes for the benchmark's own smoke test
SMOKE = {
    "ingest_replay": Adsb(**{**WORKLOADS["ingest_replay"].__dict__, "n_aircraft": 40, "warmup_ops": 1}),
    "dashboard_refresh": Adsb(**{**WORKLOADS["dashboard_refresh"].__dict__, "n_aircraft": 40}),
    "query_suite": Suite(rows=("q01_pricing_summary", "adsb_latest_view_freshness"), scale=1,
                         warmup_passes=1),
}

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
}

# the figures each run prints and records where they apply
REPORTED_UNITS = {
    "op_s": "s",
    "batch_commit_s.p50": "s",
    "ingest_rows_per_s": "rows/s",
    "refresh_s.p50": "s",
    "freshness_lag_s.p50": "s",
    "stored_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
    **{f"suite.{f}_s": "s" for f in FAMILY_NAMES},
}

PER_LAYER = {
    "op.wall_s": "s",
    "driver.peak_rss_mb": "MB",
    "driver.batch_cpu_s": "s",
    "driver.refresh_cpu_s": "s",
    "sources.lines_malformed": "count",
    "cleanse.rows_out": "count",
    "cleanse.rows_invalid": "count",
    "pipeline.process_batch_s": "s",
    "pipeline.batch_self_s": "s",
    "pipeline.sink_overlap": "ratio",
    "tables.append_history_s": "s",
    "tables.upsert_state_s": "s",
    "tables.upsert_combined_s": "s",
    "tables.files_written_per_batch": "count",
    "tables.bytes_written_per_batch": "B",
    "tables.history_batch_dirs": "count",
    "tables.state_snapshot_dirs": "count",
    "tables.stored_bytes_per_row": "B/row",
    **{f"engine.{p}_s": "s" for p in PANELS},
    "engine.trajectory_files_read": "count",
    "engine.trajectory_rows": "count",
    **{f"spark.{scope}.{k}": u for scope in ("batch", "refresh")
       for k, u in (("jobs", "count"), ("task_cpu_s", "s"), ("shuffle_bytes", "B"),
                    ("max_concurrent_tasks", "count"))},
    **{f"queries.{r}_s": "s" for r in SUITE_ROWS},
    **{f"queries.{f}.{k}": "s" for f in FAMILY_NAMES for k in ("build_s", "exec_s")},
    **{f"spark.queries.{f}.{k}": u for f in FAMILY_NAMES
       for k, u in (("jobs", "count"), ("task_cpu_s", "s"), ("shuffle_bytes", "B"))},
    "spark.queries.max_concurrent_tasks": "count",
}


_NAN = float("nan")


def _median(xs) -> float:
    """Median, or NaN when every operation failed and left no sample."""
    xs = list(xs)
    return median(xs) if xs else _NAN


def tail(samples: list[float]) -> tuple[int, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value), or None when fewer than 20 samples make that
    percentile fall below the median."""
    n = len(samples)
    if n < 20:
        return None
    pct = math.floor(100 * (1 - 10 / n))
    k = max(0, math.ceil(pct / 100 * n) - 1)
    return pct, sorted(samples)[k]


_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def cpu_snapshot(root: int) -> dict[int, int]:
    """CPU ticks (user + system) so far of every thread of ``root`` and
    the processes below it (the JVM, Spark's Python workers), except the
    JVM's JIT compiler threads. Their compile work is start-up cost of a
    short-lived JVM that a long-running service amortises away; it was
    the largest and least steady share of CPU per operation on a 4-vCPU
    host. Time a thread waits while the host runs someone else's work is
    not counted, unlike wall time."""
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if "Compiler" in head:
                continue
            fields = rest.split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
        todo += _children(pid)
    return out


def cpu_between(s0: dict[int, int], s1: dict[int, int]) -> float:
    """CPU seconds spent between two snapshots, summed over threads (a
    thread that started in between counts from zero)."""
    return sum(max(0, t - s0.get(tid, 0)) for tid, t in s1.items()) / _TICK


def _host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


class Run:
    """One benchmark run of one workload: set-up, the timed closed loop,
    final checks and the results. Subclasses supply ``setup``, ``op``,
    ``final_checks``, ``summary`` and ``per_layer``."""

    def __init__(self, name: str, w, *, seed: int, seconds: float, trace: bool,
                 work: str, t_start: float, log=print):
        self.name, self.w, self.seed, self.seconds, self.trace = name, w, seed, seconds, trace
        self.work, self.t_start, self.log = work, t_start, log
        self.tracer = Tracer()
        self.failures: list[str] = []
        self.attempted = self.failed = 0
        self.op_s: list[float] = []
        self.op_cpu_s: list[float] = []
        self.steal_pct: list[float] = []
        self.phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Time one step of the set-up."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        self.log(f"CHECK FAILED: {msg}")

    # -- the loop ----------------------------------------------------------

    def measured(self, body, *, timed: bool, index: int):
        """Run ``body`` as one operation inside an ``op`` span; returns
        (the span, ok, what body returned, wall s, CPU s). A raised error
        fails the operation."""
        st0, c0 = _host_ticks(), cpu_snapshot(os.getpid())
        t0 = time.perf_counter()
        out, ok = None, True
        with self.tracer.span("op", timed=timed, index=index) as sp:
            try:
                out = body()
            except Exception as exc:  # a crashed operation counts as failed
                self.fail(f"op {index}: {type(exc).__name__}: {str(exc)[:300]}")
                ok = False
        wall = time.perf_counter() - t0
        cpu, st1 = cpu_between(c0, cpu_snapshot(os.getpid())), _host_ticks()
        sp["attrs"]["cpu_s"] = cpu
        self.last_steal = 100.0 * (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
        return sp, ok, out, wall, cpu

    def record(self, sp: dict, ok: bool, wall: float, cpu: float) -> None:
        """Count one timed operation; keep its times only if it passed."""
        self.attempted += 1
        sp["attrs"]["ok"] = ok
        if not ok:
            self.failed += 1
            return
        self.op_s.append(wall)
        self.op_cpu_s.append(cpu)
        self.steal_pct.append(self.last_steal)

    def run(self) -> dict:
        undo = self.install_wrappers() if self.trace else []
        try:
            self.setup()
            setup_s = time.perf_counter() - self.t_start
            t0 = time.perf_counter()
            i = 0
            while (time.perf_counter() - t0 < self.seconds or not self.enough(i)) and self.has_op(i):
                self.op(i)
                i += 1
            self.timed_s = time.perf_counter() - t0
            try:
                self.final_checks()
            except Exception as exc:  # reported like a failed check
                self.fail(f"final checks: {type(exc).__name__}: {str(exc)[:300]}")
                self.failed = self.attempted
            rss = self.peak_rss_mb()
        finally:
            for u in undo:
                u()
            if hasattr(self, "spark"):
                self.stop_spark()
        return self.results(setup_s, rss)

    def install_wrappers(self) -> list:
        return []

    def has_op(self, i: int) -> bool:
        return True

    def enough(self, i: int) -> bool:
        """Whether ``i`` timed operations are enough to report; the loop
        runs past the time limit until they are."""
        return True

    # -- Spark -------------------------------------------------------------

    def start_spark(self) -> None:
        from adsb_clickhouse_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.name}")
        jvm = self.spark._jvm.java.lang
        self.versions = {
            "pyspark": __import__("pyspark").__version__,
            "java": jvm.System.getProperty("java.version"),
        }
        self.jvm_pid = jvm.ProcessHandle.current().pid()

    def stop_spark(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it:
        the event log is complete only after this, and no process
        outlives the run."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        def hwm(pid) -> int:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
            return 0

        return (hwm("self") + hwm(self.jvm_pid)) / 1024.0

    # -- results -----------------------------------------------------------

    def op_figures(self) -> tuple[float, float]:
        """The operation's wall and CPU seconds: medians over the timed
        operations."""
        return _median(self.op_s), _median(self.op_cpu_s)

    def results(self, setup_s: float, rss: float) -> dict:
        op_s, op_cpu_s = self.op_figures()
        reported, samples = self.summary()
        tails = {}
        for k, v in samples.items():
            t = tail(v)
            tails[k] = {"n": len(v), "tail_pct": t[0] if t else None, "tail": t[1] if t else None}
        out = {
            "attempted": self.attempted,
            "failed": self.failed,
            "correct": not self.failures,
            "failures": self.failures,
            "end_to_end": {"setup_s": setup_s, "op_cpu_s": op_cpu_s},
            "op_wall_s": op_s,
            "reported": {"op_s": op_s, **reported, "peak_rss_mb": rss},
            "samples": {**samples, "op_s": self.op_s, "op_cpu_s": self.op_cpu_s,
                        "host_steal_pct": self.steal_pct},
            "tails": tails,
            "timed_s": self.timed_s,
            "setup_phases_s": self.phases,
        }
        if self.trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers["op.wall_s"] = op_s
            layers["driver.peak_rss_mb"] = rss
            layers.update(self.per_layer())
            out["per_layer"] = layers
        return out

    # -- span helpers for per_layer ----------------------------------------

    def timed_spans(self, name: str) -> list[dict]:
        """Spans called ``name`` inside a timed operation that passed."""
        tr = self.tracer
        by_id = {s["id"]: s for s in tr.spans}
        good = {s["id"] for s in tr.spans
                if s["name"] == "op" and s["attrs"]["timed"] and s["attrs"].get("ok")}
        out = []
        for s in tr.spans:
            if s["name"] != name:
                continue
            p = s
            while p is not None and p["id"] not in good:
                p = by_id.get(p["parent"])
            if p is not None:
                out.append(s)
        return out

    def med(self, name: str, f=lambda s: s["dur"]) -> float:
        """Median of ``f`` over the timed spans called ``name``: 0 when
        this workload never opens such a span, NaN when it does but no
        timed operation passed."""
        if not any(s["name"] == name for s in self.tracer.spans):
            return 0.0
        return _median(f(s) for s in self.timed_spans(name))
