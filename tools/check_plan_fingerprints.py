"""Verify the committed plan-fingerprint baseline against a FRESH build.

The cross-round regression contract (bench.py emits ``PLANS_r{N}.json``,
next round diffs against it) only works if an unchanged registry row
fingerprints identically across JVMs, temp dirs, and rounds. This tool
rebuilds every registry row's plan in the current (fresh) JVM and diffs
the fingerprints against the newest committed ``PLANS_r*.json`` —
exit 0 iff all rows match, else it names each changed row with its
before/after operator trees (exactly what the bench would report).

Each row is EXECUTED (collect) before fingerprinting — the bench
fingerprints the post-execution plan, which under AQE is the FINAL
plan (ResultQueryStage / AQEShuffleRead reflecting the runtime
re-plan); a built-but-unexecuted plan shows only the initial plan and
would mismatch every row.

The committed baseline reproduces only on the box that wrote it. On a
4-vCPU box, a fresh build of the r17 snapshot commit itself differs
from its own ``PLANS_r17.json`` in 48 of 50 registry rows, with
``SPARK_GRAFT_CPUS=4`` and with it unset alike; for
``q01_pricing_summary`` the operator tree matches line for line, so
what moves is in the hashed detail text, which is not committed. On
any other box the plan gate is therefore a same-box parent-vs-change
comparison: the ``fresh`` hashes this tool prints, run at both commits, or
``bench.py --plans DIR`` dumps of both compared with ``diff -r``.

Usage: python tools/check_plan_fingerprints.py [sf_dir] [--selftest]
Default sf_dir: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1 (must match
the directory the committed baseline was generated against — plan
fingerprints include the read schema, not the path).

``--selftest`` is the NEGATIVE control: it deliberately changes plans
(``spark.sql.autoBroadcastJoinThreshold=-1`` — every auto-broadcast
join becomes a sort-merge join) and exits 0 iff the diff CATCHES it,
proving the detector fires on a real regression, not just stays quiet
on a no-op.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

# import the package from THIS repo regardless of the caller's cwd: the
# driver through sys.path, Spark's Python workers (the Python-UDF rows)
# through PYTHONPATH, which the JVM hands them once the session starts
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [_REPO, os.environ.get("PYTHONPATH")]))


def main() -> int:
    repo = _REPO
    selftest = "--selftest" in sys.argv
    selftest_funnel = "--selftest-funnel" in sys.argv
    argv = [
        a for a in sys.argv[1:] if a not in ("--selftest", "--selftest-funnel")
    ]
    sf_dir = (
        argv[0]
        if argv
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )

    def _round(p: str):
        m = re.fullmatch(r"PLANS_r(\d+)\.json", os.path.basename(p))
        return int(m.group(1)) if m else -1

    files = sorted(glob.glob(os.path.join(repo, "PLANS_r*.json")), key=_round)
    if not files:
        print("no committed PLANS_r*.json to check against")
        return 2
    with open(files[-1]) as fh:
        committed = json.load(fh)

    from adsb_clickhouse_spark.plans.fingerprint import diff_plans, plan_fingerprint
    from adsb_clickhouse_spark.session import get_spark

    import adsb_clickhouse_spark.queries as q

    q.load_all()
    spark = get_spark("plan-fingerprint-check")
    spark.sparkContext.setLogLevel("ERROR")
    if selftest_funnel:
        # negative control for the FUNNEL rows (r12 verdict item 3):
        # fingerprint the streaming funnel clean, then degraded
        # (auto-broadcast off), and require the diff to catch and NAME
        # at least one stage whose join strategy regressed — proving
        # the funnel detector fires on a real degradation. Runs
        # in-process against itself, so it needs no committed funnel
        # baseline.
        from bench import funnel_fingerprints

        clean = funnel_fingerprints(spark)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        degraded = funnel_fingerprints(spark)
        fchanges = diff_plans(clean, degraded)
        named = sorted(
            k
            for k, body in fchanges.items()
            if body
            and any("SortMergeJoin" in l for l in body.get("cur_ops", []))
            and not any("SortMergeJoin" in l for l in body.get("prev_ops", []))
        )
        # r13 verdict item 6: the config-variant rows (k=32/b=8 band
        # law, media_bands=8) are fingerprinted too — the negative
        # control must name a degraded VARIANT stage, proving a
        # regression in the variant plans is caught deterministically
        variant_named = [
            k for k in named if k.startswith(("funnel_k32:", "funnel_media8:"))
        ]
        print(
            json.dumps(
                {
                    "funnel_selftest_changed": sorted(
                        k for k in fchanges if not k.startswith(("+", "-"))
                    ),
                    "degraded_to_smj": named,
                    "degraded_variant_stages": variant_named,
                }
            )
        )
        return 0 if named and variant_named else 1
    if selftest:
        # the deliberate regression: auto-broadcast off, every
        # broadcast-eligible join degrades to sort-merge
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    fresh: dict = {}
    for name, spec in q.REGISTRY.items():
        try:
            df = spec.spark(spark, sf_dir)
            df.collect()  # AQE-final plan, matching the bench's convention
            fresh[name] = plan_fingerprint(df)
        except Exception as exc:
            fresh[name] = {"hash": f"error:{type(exc).__name__}", "ops": [str(exc)[:200]]}

    # the streaming funnel's per-stage plans (r12 verdict item 3) are
    # part of the committed baseline since r13 — rebuild them the same
    # way the bench does (fixed-shape all-stores ingest, probe hook)
    if any(k.startswith("funnel:") for k in committed) or selftest:
        try:
            from bench import funnel_fingerprints

            fresh.update(funnel_fingerprints(spark))
        except Exception as exc:
            fresh["funnel:__error__"] = {
                "hash": f"error:{type(exc).__name__}",
                "ops": [str(exc)[:200]],
            }

    changes = diff_plans(committed, fresh)
    out = {
        "baseline": os.path.basename(files[-1]),
        "rows": len(fresh),
        "changed": sorted(k for k in changes if not k.startswith(("+", "-"))),
        "added": sorted(k[1:] for k in changes if k.startswith("+")),
        "removed": sorted(k[1:] for k in changes if k.startswith("-")),
        "fresh": {k: v["hash"] for k, v in sorted(fresh.items())},
    }
    print(json.dumps(out))
    for name, body in changes.items():
        if body:
            print(f"--- {name} prev ops:")
            print("\n".join(body["prev_ops"]))
            print(f"+++ {name} cur ops:")
            print("\n".join(body["cur_ops"]))
    if selftest:
        # success = the detector FIRED and the op-tree diff names the
        # lost broadcasts
        smj = [
            k
            for k, body in changes.items()
            if body
            and any("SortMergeJoin" in l for l in body.get("cur_ops", []))
            and any("BroadcastHashJoin" in l for l in body.get("prev_ops", []))
        ]
        print(json.dumps({"selftest_detected": len(changes), "broadcast_to_smj": smj}))
        return 0 if smj else 1
    return 1 if changes else 0


if __name__ == "__main__":
    raise SystemExit(main())
