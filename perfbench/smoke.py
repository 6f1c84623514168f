"""The benchmark's own test: every defined workload at tiny sizes,
untraced and traced. Asserts that each run exits 0, that every check passed, and that
the last line carries every metric ``BENCHMARK.json`` names, with its
unit.

    python3 perfbench/smoke.py      # from the repository root; ~4 min on 4 vCPUs
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def main() -> int:
    from perfbench.workloads import SMOKE

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems = []
    # every defined workload, also one BENCHMARK.json does not list
    for name in SMOKE:
        for trace, names in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = [*bench["command"], "--workload", name, "--seed", "7", "--seconds", "4",
                   "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            tag = f"{name} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}")
            for m in names:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or wrong: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in names}
            if extra:
                problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
            print(f"ok {tag}: attempted={res['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
