"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest_replay|dashboard_refresh|query_suite> \\
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A full record of the run, including raw samples, tail
percentiles with their sample counts and, for traced runs, the spans,
is written to ``.perfbench_out/``.

The Spark session is pinned through the environment variables the
program already reads: ``SPARK_GRAFT_CPUS`` (2, or ``nproc`` if fewer)
and ``SPARK_GRAFT_DRIVER_MEM``. Spark's scratch space, warehouse,
event log and JVM temp files all live in ``.perfbench_work/`` and are
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
# Two task threads leave headroom for the JVM's compiler and GC threads
# and the Spark driver's Python code: on a shared 4-vCPU host a 2-core CPU
# hog slowed the refresh by ~40% with 4 task threads and by ~25% with 2.
CPUS = min(2, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"


def pin_environment(work: str, trace: bool) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    args = ["--driver-java-options", java_opts]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    os.makedirs(os.environ["TMPDIR"])
    return {"SPARK_GRAFT_CPUS": CPUS, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM}


def environment_record(seed: int, spark_versions: dict) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": CPUS,
        "driver_heap": DRIVER_MEM,
        "seed": seed,
        **spark_versions,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "adsb_clickhouse_spark", "engine.py")):
        print(f"perfbench: no program found under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W
    from perfbench.adsb import AdsbRun
    from perfbench.suite import SuiteRun

    table = W.SMOKE if a.smoke else W.WORKLOADS
    if a.workload not in table:
        print(f"perfbench: unknown workload {a.workload!r}; choose from {sorted(table)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    pinned = pin_environment(work, bool(a.trace))
    print(f"perfbench: {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} {pinned}", flush=True)

    w = table[a.workload]
    cls = SuiteRun if isinstance(w, W.Suite) else AdsbRun
    run = cls(a.workload, w, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
              work=work, t_start=T_START, log=lambda m: print(m, flush=True))
    try:
        res = run.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = environment_record(a.seed, run.versions)
    layers = res.get("per_layer", {})
    conc = [v for k, v in layers.items() if k.endswith("max_concurrent_tasks") and v == v and v > 0]
    env["spark.max_concurrent_tasks"] = max(conc) if conc else "n/a: seen in --trace 1 runs only"
    env["samples"] = {k: v["n"] for k, v in res["tails"].items()}
    # share of host CPU time the hypervisor gave to other guests while
    # the timed operations ran; wall times rise steeply with it
    env["host_steal_pct"] = W._median(res["samples"]["host_steal_pct"])
    res["environment"] = env
    print(f"  environment: {json.dumps(env)}")
    print(f"  timed operations: {res['attempted']} attempted, {res['failed']} failed, "
          f"{len(res['samples']['op_s'])} timed samples in {res['timed_s']:.1f} s")
    for k, v in res["reported"].items():
        print(f"  {k} = {v} {W.REPORTED_UNITS[k]}")
    for k, v in res["tails"].items():
        shown = f"p{v['tail_pct']} = {v['tail']:.4f} s" if v["tail"] is not None else "n/a (needs >= 20 samples)"
        print(f"  {k}.tail: {shown}, n={v['n']}")

    names = W.PER_LAYER if a.trace else W.END_TO_END
    values = res["per_layer"] if a.trace else res["end_to_end"]
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}")
    if a.trace:
        run.tracer.dump(f"{stem}-spans.json")
        res["tracing_overhead"] = overhead(res, f"{stem}-trace0.json")
        print(f"  tracing overhead vs untraced run of this seed: {res['tracing_overhead']}")
    with open(f"{stem}-trace{a.trace}.json", "w") as f:
        json.dump(res, f, indent=1, default=str)
    for k, u in names.items():
        print(f"  {k} = {values[k]} {u}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def overhead(traced: dict, untraced_path: str) -> dict | str:
    """Traced minus untraced set-up and operation figures, as a share of
    the untraced ones."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)
    except OSError:
        return "n/a: run --trace 0 with the same seed first"
    pick = lambda r: {**r["end_to_end"], "op_wall_s": r["op_wall_s"]}  # noqa: E731
    t, b = pick(traced), pick(base)
    return {k: (t[k] - b[k]) / b[k] for k in b if b[k]}


if __name__ == "__main__":
    sys.exit(main())
