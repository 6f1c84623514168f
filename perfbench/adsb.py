"""The two ADS-B workloads.

``ingest_replay`` replays large ``global_stream`` batches into an empty
store, back to back, and runs no dashboard query: the operation is one
``process_batch``. ``dashboard_refresh`` ingests small ``local`` batches
into a store prebuilt with compacted closed days; the operation is one
cycle, the batch followed by a full panel refresh whose first panel is
the latest-view query that must already show that batch
(read-your-writes). Every output is checked against what the generator
wrote, after the operation.
"""

from __future__ import annotations

import math
import os
import threading
import time
from datetime import timedelta

from . import gen
from .trace import spark_event_log, spark_scope
from .workloads import _NAN, Run, _median, cpu_between, cpu_snapshot


def interval_s(text: str) -> int:
    """'15 seconds' / '5 minutes' / '1 hour' -> seconds."""
    n, unit = text.split()
    return int(n) * {"second": 1, "minute": 60, "hour": 3600}[unit.rstrip("s")]


def _walk_files(root: str) -> dict[str, int]:
    out = {}
    for d, subdirs, files in os.walk(root):
        subdirs[:] = [s for s in subdirs if not s.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _current_snapshot(path: str) -> str | None:
    try:
        with open(os.path.join(path, "_CURRENT")) as f:
            return os.path.join(path, f.read().strip())
    except OSError:
        return None


class Expected:
    """What the store must hold, kept from the generator's records."""

    def __init__(self):
        self.keys: dict[str, tuple] = {}   # key -> (newest scrape_time, moving)
        self.rows_at: dict = {}            # scrape_time -> valid rows
        self.valid_rows = 0

    def add(self, batch: gen.Batch) -> None:
        for k, (ts, moving) in batch.key_newest.items():
            prev = self.keys.get(k)
            if prev is None or prev[0] < ts:
                self.keys[k] = (ts, moving)
        for ts, n in batch.rows_at.items():
            self.rows_at[ts] = self.rows_at.get(ts, 0) + n
        self.valid_rows += batch.valid_rows

    def fresh_keys(self, now, window_s: int, moving_only: bool = False) -> set[str]:
        lo = now - timedelta(seconds=window_s)
        return {k for k, (ts, mv) in self.keys.items() if ts > lo and (mv or not moving_only)}

    def rows_between(self, lo, hi) -> int:
        return sum(n for ts, n in self.rows_at.items() if lo <= ts <= hi)


class AdsbRun(Run):
    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        self.exp = Expected()
        self.commit_s, self.lag_s, self.refresh_s = [], [], []
        self.batch_cpu_s, self.refresh_cpu_s = [], []
        self.rows_committed = 0
        self.written, self.counts, self.files_read, self.traj_rows = [], [], [], []
        # inputs are written while the JVM starts: the generator is plain
        # Python and the start mostly waits on the JVM process
        with self.phase("inputs_and_spark"):
            gen_thread = threading.Thread(target=self.generate)
            gen_thread.start()
            try:
                self.start_spark()
            finally:
                gen_thread.join()
            if not hasattr(self, "batches"):
                raise RuntimeError("input generation failed")
            self.start_engine()
        with self.phase("prebuild"):
            self.prebuild_store()
        with self.phase("warmup"):
            for i in range(self.w.warmup_ops):
                self.cycle(i, timed=False)
        self.warmed = self.w.warmup_ops
        # storage cost at a fixed batch count, so it repeats exactly for
        # a seed however many operations the timed phase fits
        self.stored_per_row = self.store_stats()["bytes"] / self.exp.valid_rows

    def generate(self) -> None:
        from adsb_clickhouse_spark.config import SOURCES

        self.cfg = SOURCES[self.w.source]
        w = self.w
        # enough batches for operations of 1.5 s (the fastest timed batch
        # seen on a 4-vCPU host took ~1.9 s) to fill the timed phase;
        # on a host fast enough to use them all, the phase ends early
        n_loop = w.warmup_ops + math.ceil(self.seconds / 1.5) + 2
        day = timedelta(days=1)
        # one prebuild batch spanning every closed day, four scrapes of
        # the fleet per day
        days = [
            gen.adsb_batches(
                self.cfg, os.path.join(self.work, "in", f"day-{d}"), seed=self.seed,
                n_batches=1, n_aircraft=w.n_aircraft, scrapes_per_batch=4, cadence_s=600,
                start=gen.BASE_NOW - d * day,
            )
            for d in range(w.prebuild_days, 0, -1)
        ]
        self.prebuild = list(zip(*days))
        self.batches = gen.adsb_batches(
            self.cfg, os.path.join(self.work, "in", "loop"), seed=self.seed, n_batches=n_loop,
            n_aircraft=w.n_aircraft, scrapes_per_batch=w.scrapes_per_batch, cadence_s=w.cadence_s,
        )

    def start_engine(self) -> None:
        from adsb_clickhouse_spark.engine import AdsbEngine

        self.engine = AdsbEngine(self.spark, os.path.join(self.work, "store"))
        self.pipe = self.engine.pipelines[self.w.source]
        self.pipe.run_id = "bench"

    def set_now(self, now) -> None:
        self.engine.now = now
        for p in self.engine.pipelines.values():
            p.now = now

    def prebuild_store(self) -> None:
        """Closed days of history through the program's own ingest path,
        then one maintenance sweep that compacts each closed day's batch
        directory into its compact directory."""
        from adsb_clickhouse_spark.sources.json_source import read_json_lines

        for i, group in enumerate(self.prebuild):
            self.set_now(group[-1].now)
            raw = read_json_lines(self.spark, [b.path for b in group], self.cfg)
            self.pipe.process_batch(raw, batch_id=f"pre{i}")
            for b in group:
                self.exp.add(b)
        if self.prebuild:
            self.set_now(self.batches[0].now)
            done = self.engine.run_maintenance(compact_min_batch_dirs=1)
            if len(done[self.w.source]["compacted"]) != self.w.prebuild_days:
                self.fail(f"maintenance compacted {done[self.w.source]['compacted']}")

    def install_wrappers(self) -> list:
        """Spans around the sinks ``process_batch`` calls through the
        ``tables`` module attributes."""
        from adsb_clickhouse_spark.plans import tables

        combined = os.sep + "combined" + os.sep
        return [
            self.tracer.wrap(tables, "append_history", lambda a, k: "tables.append_history"),
            self.tracer.wrap(
                tables, "upsert_state",
                lambda a, k: "tables.upsert_combined" if combined in a[1] else "tables.upsert_state",
            ),
        ]

    # -- one operation -----------------------------------------------------

    def has_op(self, i: int) -> bool:
        return self.warmed + i < len(self.batches)

    def op(self, i: int) -> None:
        self.cycle(self.warmed + i, timed=True)

    def panel(self, name: str, now):
        """Run one dashboard panel to completion; returns its rows."""
        e, src = self.engine, self.w.source
        with self.tracer.span(f"engine.{name}"):
            if name == "current_positions":
                return e.current_positions(src).collect()
            if name == "nearest_aircraft":
                return e.nearest_aircraft(source=src).collect()
            if name == "combined_latest":
                e.register_views()
                return e.sql("SELECT icao24, scrape_time FROM positions_global_combined_latest").collect()
            if name == "trajectory":
                lo = now - timedelta(seconds=self.w.trajectory_window_s)
                return e.trajectory(source=src, time_from=lo, time_to=now, stride=4).collect()
            return e.table_stats().collect()

    def cycle(self, i: int, timed: bool) -> None:
        """One operation: the batch, then (dashboard_refresh) the panel
        refresh. Outputs are checked after the operation returns."""
        from adsb_clickhouse_spark.sources.json_source import read_json_lines

        b = self.batches[i]
        self.set_now(b.now)
        before = _walk_files(self.engine.base_dir) if self.trace and timed else None
        marks = {}

        def body():
            t_hand = time.perf_counter()
            with self.tracer.span("batch", batch=i):
                self.pipe.process_batch(read_json_lines(self.spark, b.path, self.cfg), batch_id=i)
            marks["commit"] = time.perf_counter() - t_hand
            if not self.w.panels:
                return {}
            marks["cpu_mid"] = cpu_snapshot(os.getpid())
            rows = {}
            with self.tracer.span("refresh") as rs:
                rows[self.w.panels[0]] = self.panel(self.w.panels[0], b.now)
                marks["lag"] = time.perf_counter() - t_hand
                for p in self.w.panels[1:]:
                    rows[p] = self.panel(p, b.now)
            marks["refresh"] = rs["dur"]
            return rows

        cpu0 = cpu_snapshot(os.getpid())
        sp, ok, rows, wall, cpu = self.measured(body, timed=timed, index=i)
        self.exp.add(b)
        n_fail = len(self.failures)
        for name, got in (rows or {}).items():
            self.check_panel(name, got, b)
        ok = ok and len(self.failures) == n_fail
        if not timed:
            return
        self.record(sp, ok, wall, cpu)
        if not ok:
            return
        self.commit_s.append(marks["commit"])
        self.rows_committed += b.valid_rows
        if self.w.panels:
            self.lag_s.append(marks["lag"])
            self.refresh_s.append(marks["refresh"])
            batch_cpu = cpu_between(cpu0, marks["cpu_mid"])
            self.batch_cpu_s.append(batch_cpu)
            self.refresh_cpu_s.append(cpu - batch_cpu)
        else:
            self.batch_cpu_s.append(cpu)
        if self.trace:
            if "trajectory" in rows:
                day = os.path.join(self.pipe.history_path, f"scrape_date={b.now.date()}")
                self.files_read.append(len(_walk_files(day)))
                self.traj_rows.append(len(rows["trajectory"]))
            after = _walk_files(self.engine.base_dir)
            new = {p: s for p, s in after.items() if p not in before}
            self.written.append((len(new), sum(new.values())))
            self.layer_counts(b)

    def check_panel(self, name: str, rows: list, b: gen.Batch) -> None:
        now, fresh = b.now, interval_s(self.cfg.freshness)
        if name == "current_positions":
            want = self.exp.fresh_keys(now, fresh, moving_only=True)
            newest = max((r["scrape_time"] for r in rows), default=None)
            ok = newest == b.newest_scrape and len(rows) == len(want)
            detail = f"newest {newest} want {b.newest_scrape}; rows {len(rows)} want {len(want)}"
        elif name == "nearest_aircraft":
            want = self.exp.fresh_keys(now, fresh)
            ok, detail = len(rows) == len(want), f"rows {len(rows)} want {len(want)}"
        elif name == "combined_latest":
            want = self.exp.fresh_keys(now, 300)
            ok = {r["icao24"] for r in rows} == want
            detail = f"keys {len(rows)} want {len(want)}"
        elif name == "trajectory":
            lo = now - timedelta(seconds=self.w.trajectory_window_s)
            want = math.ceil(self.exp.rows_between(lo, now) / 4)
            ok, detail = len(rows) == want, f"rows {len(rows)} want {want}"
        else:
            hist = [r for r in rows if r["table"] == f"positions_{self.w.source}" and r["kind"] == "history"]
            got = hist[0]["rows"] if hist else None
            ok, detail = got == self.exp.valid_rows, f"history rows {got} want {self.exp.valid_rows}"
        if not ok:
            self.fail(f"{name}: {detail}")

    def layer_counts(self, b: gen.Batch) -> None:
        """Traced runs only: parse and cleanse counts, checked against
        the generator. Extra Spark jobs, run outside every timed span."""
        from adsb_clickhouse_spark.functions.cleanse import cleanse
        from adsb_clickhouse_spark.sources.json_source import read_json_lines

        raw = read_json_lines(self.spark, b.path, self.cfg)
        parsed = raw.count()
        out = cleanse(raw, self.cfg).count()
        c = {"lines_malformed": b.lines - parsed, "rows_out": out, "rows_invalid": parsed - out}
        self.counts.append(c)
        if c["lines_malformed"] != b.malformed or out != b.valid_rows:
            self.fail(f"layer counts {c} want malformed {b.malformed} rows_out {b.valid_rows}")

    # -- end of run --------------------------------------------------------

    def final_checks(self) -> None:
        """History rows, the latest-view key set and the combined count
        at the final ``now``. They cover every batch, so a failure here
        fails every timed operation."""
        from adsb_clickhouse_spark.plans import tables

        self.store = self.store_stats()
        last = self.batches[self.warmed + self.attempted - 1]
        n_fail = len(self.failures)
        hist = tables.read_history(self.spark, self.pipe.history_path).count()
        if hist != self.exp.valid_rows:
            self.fail(f"final: history rows {hist} want {self.exp.valid_rows}")
        keys = {r["icao24"] for r in self.pipe.latest(self.spark).select("icao24").collect()}
        want = self.exp.fresh_keys(last.now, interval_s(self.cfg.freshness))
        if keys != want:
            self.fail(f"final: latest keys {len(keys)} want {len(want)} (diff {len(keys ^ want)})")
        comb = self.pipe.combined_latest(self.spark).count()
        if comb != len(self.exp.fresh_keys(last.now, 300)):
            self.fail(f"final: combined rows {comb} want {len(self.exp.fresh_keys(last.now, 300))}")
        if len(self.failures) > n_fail:
            self.failed = self.attempted

    def store_stats(self) -> dict:
        hist = _walk_files(self.pipe.history_path)
        state = _walk_files(_current_snapshot(self.pipe.state_path) or self.pipe.state_path)
        comb = _walk_files(_current_snapshot(self.pipe.combined_path) or self.pipe.combined_path)
        ls = lambda p: os.listdir(p) if os.path.isdir(p) else []  # noqa: E731
        batch_dirs = sum(1 for d in ls(self.pipe.history_path) if d.startswith("scrape_date=")
                         for e in ls(os.path.join(self.pipe.history_path, d)) if e.startswith("batch_id="))
        snaps = sum(1 for p in (self.pipe.state_path, self.pipe.combined_path) for e in ls(p) if e.startswith("v_"))
        return {
            "bytes": sum(hist.values()) + sum(state.values()) + sum(comb.values()),
            "history_batch_dirs": batch_dirs,
            "state_snapshot_dirs": snaps,
        }

    # -- results -----------------------------------------------------------

    def summary(self) -> tuple[dict, dict]:
        """The named latency, throughput and storage figures that apply to
        this workload, and the raw samples behind them."""
        rep = {
            "batch_commit_s.p50": _median(self.commit_s),
            "stored_bytes_per_row": self.stored_per_row,
        }
        samples = {"batch_commit_s": self.commit_s}
        if self.w.panels:
            rep["refresh_s.p50"] = _median(self.refresh_s)
            rep["freshness_lag_s.p50"] = _median(self.lag_s)
            samples.update(refresh_s=self.refresh_s, freshness_lag_s=self.lag_s)
        else:
            rep["ingest_rows_per_s"] = self.rows_committed / sum(self.commit_s) if self.commit_s else _NAN
        return rep, samples

    def per_layer(self) -> dict:
        tr = self.tracer
        batches = self.timed_spans("batch")
        overlap = [sum(c["dur"] for c in tr.children(b)) / b["dur"] for b in batches]
        m = {
            "driver.batch_cpu_s": _median(self.batch_cpu_s),
            "driver.refresh_cpu_s": _median(self.refresh_cpu_s) if self.w.panels else 0.0,
            "sources.lines_malformed": _median(c["lines_malformed"] for c in self.counts),
            "cleanse.rows_out": _median(c["rows_out"] for c in self.counts),
            "cleanse.rows_invalid": _median(c["rows_invalid"] for c in self.counts),
            "pipeline.process_batch_s": self.med("batch"),
            "pipeline.batch_self_s": _median(tr.self_time(b) for b in batches),
            "pipeline.sink_overlap": _median(overlap),
            "tables.append_history_s": self.med("tables.append_history"),
            "tables.upsert_state_s": self.med("tables.upsert_state"),
            "tables.upsert_combined_s": self.med("tables.upsert_combined"),
            "tables.files_written_per_batch": _median(w[0] for w in self.written),
            "tables.bytes_written_per_batch": _median(w[1] for w in self.written),
            "tables.history_batch_dirs": self.store["history_batch_dirs"],
            "tables.state_snapshot_dirs": self.store["state_snapshot_dirs"],
            "tables.stored_bytes_per_row": self.stored_per_row,
        }
        for p in self.w.panels:
            m[f"engine.{p}_s"] = self.med(f"engine.{p}")
        if "trajectory" in self.w.panels:
            m["engine.trajectory_files_read"] = _median(self.files_read)
            m["engine.trajectory_rows"] = _median(self.traj_rows)
        log = spark_event_log(os.path.join(self.work, "eventlog"))
        scopes = [("batch", batches)]
        if self.w.panels:
            scopes.append(("refresh", self.timed_spans("refresh")))
        for scope, spans in scopes:
            ops = [[(s["wall_start"], s["wall_end"])] for s in spans]
            for k, v in spark_scope(log, ops).items():
                m[f"spark.{scope}.{k}"] = v
        return m
