"""The two measurement entry points, run in-process on the session."""

from __future__ import annotations

import json
import os

import pytest


@pytest.fixture()
def session(spark):
    # both entry points call get_spark, which resets the session's
    # shuffle-partition count; later tests expect the fixture's value
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", parts)


def test_bench_only_times_one_row_and_writes_no_artifact(session, monkeypatch, tmp_path):
    import bench

    root = os.path.dirname(os.path.abspath(bench.__file__))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    before = set(os.listdir(root))
    row = bench.main(["--only", "q01_pricing_summary", "--plans", str(tmp_path)])["q01_pricing_summary"]
    assert set(os.listdir(root)) == before
    assert len(row["runs"]) == 2 and row["total_s"] > 0
    for r in row["runs"]:
        assert r["exec_jobs"] >= 1 and abs(r["total_s"] - r["build_s"] - r["exec_s"]) < 0.01
    plan = (tmp_path / "q01_pricing_summary.txt").read_text()
    assert "HashAggregate" in plan and "#_" in plan  # normalized expression ids


def test_scale_runner_prefix_crossover(session, capsys):
    from tools import scale

    assert scale.main(["prefix_crossover", "40"]) == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["n"] == 40 and line["wall_sec"] > 0
    assert line["checks"] == {"pairs_match": True}
    assert [lv["boiler_tokens"] for lv in line["levels"]] == [0, 8, 16, 32]
    # the planted near-duplicates (docs 1, 11, 21, 31) are found at every level
    assert all(lv["naive_pairs"] >= 1 for lv in line["levels"])
