"""The ``query_suite`` workload: passes over query registry rows.

The tables are generated from the seed (``tables.py``); each row's
expected value hash comes from its DuckDB oracle twin over the same
parquet files, computed before Spark starts. The operation is one row
execution, the rows taken in turn: the row is built (``spec.spark(...)``,
timed on its own because some rows do eager driver work there) and
collected. Its order-insensitive value hash is then checked against the
oracle's with ``tools/check_correctness.value_hash``; a mismatch fails
the execution. The end-to-end figures describe one pass over the rows,
as the sum of each row's median.
"""

from __future__ import annotations

import os
import sys

from .tables import write_tables
from .trace import spark_event_log, spark_scope
from .workloads import _NAN, FAMILY_NAMES, Run, _median, family_of


class SuiteRun(Run):
    def setup(self) -> None:
        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        from check_correctness import value_hash

        from adsb_clickhouse_spark import queries as Q

        self.value_hash = value_hash
        Q.load_all()
        self.specs = [Q.REGISTRY[r] for r in self.w.rows]
        self.data = os.path.join(self.work, "tables")
        with self.phase("inputs"):
            self.table_rows = write_tables(self.data, seed=self.seed, scale=self.w.scale)
            self.want = self.oracle_hashes(Q.TABLES)
        self.samples = {r: {"wall": [], "cpu": [], "build": [], "exec": []} for r in self.w.rows}
        with self.phase("spark"):
            self.start_spark()
        with self.phase("warmup"):
            for i in range(self.w.warmup_passes * len(self.specs)):
                self.execute(i, timed=False)

    def oracle_hashes(self, table_names) -> dict[str, str]:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads=2")
        con.execute("SET memory_limit='1GB'")
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        out = {}
        for spec in self.specs:
            res = con.execute(spec.oracle)
            out[spec.name] = self.value_hash([d[0] for d in res.description], res.fetchall())
        con.close()
        return out

    def op(self, i: int) -> None:
        self.execute(self.w.warmup_passes * len(self.specs) + i, timed=True)

    def enough(self, i: int) -> bool:
        return i >= len(self.specs)  # every row timed at least once

    def execute(self, i: int, timed: bool) -> None:
        """One operation: build and collect row ``i`` mod the row count,
        then check its value hash."""
        spec = self.specs[i % len(self.specs)]
        got = {}

        def body():
            with self.tracer.span("query", row=spec.name, family=family_of(spec.name),
                                  index=i // len(self.specs)):
                with self.tracer.span("query.build") as b:
                    df = spec.spark(self.spark, self.data)
                with self.tracer.span("query.exec") as e:
                    got["rows"] = df.collect()
            got.update(build=b["dur"], exec=e["dur"], cols=df.columns)

        sp, ok, _, wall, cpu = self.measured(body, timed=timed, index=i)
        if ok:
            h = self.value_hash(got["cols"], [tuple(r) for r in got["rows"]])
            if h != self.want[spec.name]:
                ok = False
                self.fail(f"{spec.name}: value hash {h[:12]} want {self.want[spec.name][:12]} "
                          f"({len(got['rows'])} rows)")
        if not timed:
            return
        self.record(sp, ok, wall, cpu)
        if ok:
            for k, v in (("wall", wall), ("cpu", cpu), ("build", got["build"]), ("exec", got["exec"])):
                self.samples[spec.name][k].append(v)

    def final_checks(self) -> None:
        pass

    # -- results -----------------------------------------------------------

    def row_median(self, row: str, k: str) -> float:
        return _median(self.samples[row][k])

    def op_figures(self) -> tuple[float, float]:
        """One pass: the sum of each row's median over its timed executions."""
        return (sum(self.row_median(r, "wall") for r in self.w.rows),
                sum(self.row_median(r, "cpu") for r in self.w.rows))

    def family_sum(self, family: str, k: str) -> float:
        rows = [r for r in self.w.rows if family_of(r) == family]
        return sum(self.row_median(r, k) for r in rows) if rows else _NAN

    def summary(self) -> tuple[dict, dict]:
        rep = {f"suite.{f}_s": self.family_sum(f, "wall") for f in FAMILY_NAMES}
        samples = {f"queries.{r}_s": self.samples[r]["wall"] for r in self.w.rows}
        return rep, samples

    def per_layer(self) -> dict:
        m = {f"queries.{r}_s": self.row_median(r, "wall") for r in self.w.rows}
        for f in FAMILY_NAMES:
            m[f"queries.{f}.build_s"] = self.family_sum(f, "build")
            m[f"queries.{f}.exec_s"] = self.family_sum(f, "exec")
        log = spark_event_log(os.path.join(self.work, "eventlog"))
        spans = self.timed_spans("query")
        passes = sorted({s["attrs"]["index"] for s in spans})
        max_conc = 0
        for f in FAMILY_NAMES:
            ops = [[(s["wall_start"], s["wall_end"]) for s in spans
                    if s["attrs"]["family"] == f and s["attrs"]["index"] == p] for p in passes]
            sc = spark_scope(log, [o for o in ops if o])
            for k in ("jobs", "task_cpu_s", "shuffle_bytes"):
                m[f"spark.queries.{f}.{k}"] = sc[k]
            if sc["max_concurrent_tasks"] == sc["max_concurrent_tasks"]:  # not NaN
                max_conc = max(max_conc, sc["max_concurrent_tasks"])
        m["spark.queries.max_concurrent_tasks"] = max_conc
        return m
