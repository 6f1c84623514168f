"""latest_per_key / latest_view semantics (SURVEY §2.4 A1, §2.5 W1;
FIXTURES.md §6 cases 7-9)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from adsb_clickhouse_spark.operators import latest
from adsb_clickhouse_spark.operators.latest import (
    latest_per_key,
    latest_view,
    stride_sample,
)
from adsb_clickhouse_spark.session import local_frame

NOW = datetime(2026, 1, 15, 12, 0, 0)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "icao24 string, scrape_time timestamp, ingestion_time timestamp, v int"
    )


def test_newest_wins_and_late_rows_harmless(spark):
    rows = [
        ("a", NOW, NOW, 1),
        ("a", NOW - timedelta(seconds=30), NOW, 2),   # older
        ("a", NOW - timedelta(seconds=10), NOW + timedelta(seconds=5), 3),  # late arrival, older event time
        ("b", NOW - timedelta(seconds=5), NOW, 4),
    ]
    out = latest_per_key(_df(spark, rows)).collect()
    got = {r["icao24"]: r["v"] for r in out}
    assert got == {"a": 1, "b": 4}


def test_tiebreak_pinned(spark):
    """Equal scrape_time: ClickHouse FINAL keeps an arbitrary (insert-order)
    row; we pin the tie deterministically on ingestion_time (SURVEY §4)."""
    rows = [
        ("a", NOW, NOW, 1),
        ("a", NOW, NOW + timedelta(seconds=1), 2),    # later ingestion wins
    ]
    out = latest_per_key(_df(spark, rows)).collect()
    assert len(out) == 1 and out[0]["v"] == 2


def test_latest_view_freshness_window(spark):
    rows = [
        ("fresh", NOW - timedelta(seconds=10), NOW, 1),
        ("stale", NOW - timedelta(minutes=20), NOW, 2),
    ]
    out = latest_view(_df(spark, rows), freshness="15 seconds", now=F.lit(NOW)).collect()
    assert [r["icao24"] for r in out] == ["fresh"]


def test_stride_sample_exact(spark):
    df = spark.range(100).withColumnRenamed("id", "n")
    out = stride_sample(df, 4, "n").collect()
    assert sorted(r["n"] for r in out) == list(range(0, 100, 4))


def test_stride_sample_deterministic_on_shuffled_input(spark, monkeypatch):
    """Regression for the r2 intermittent renumbering: repartitionByRange
    samples its boundaries, so without the localCheckpoint barrier the
    count pass and the output pass could disagree on partition layout,
    yielding wrong stride sets (25003 rows from a 100000-row stride-4 was
    observed once at sf0.1). Shuffled, skew-partitioned input + repeated
    trials exercise exactly that window; the result must be the exact
    stride set every time. The driver path would take these 20 000 rows,
    so the threshold is pinned to 0 to test the distributed path."""
    monkeypatch.setattr(latest, "STRIDE_DRIVER_MAX_ROWS", 0)
    df = (
        spark.range(20_000)
        .withColumn("n", F.xxhash64("id") % 20_000)  # scrambled order
        .select((F.col("id")).alias("n"))
        .repartition(7, F.col("n") % 3)  # skewed, order-destroying layout
    )
    want = list(range(0, 20_000, 7))
    for _ in range(3):
        got = sorted(r["n"] for r in stride_sample(df, 7, "n").collect())
        assert got == want


def test_stride_sample_empty_and_tiny(spark):
    empty = spark.range(0).withColumnRenamed("id", "n")
    assert stride_sample(empty, 4, "n").collect() == []
    one = spark.range(1).withColumnRenamed("id", "n")
    assert [r["n"] for r in stride_sample(one, 4, "n").collect()] == [0]


def _stride_both_ways(monkeypatch, df, n, cols, threshold=10**9):
    """stride_sample's rows (in collect order) from the driver path and
    from the distributed path; each path is checked by its plan. A
    threshold of -1 sends even an empty input down the distributed path."""
    out = []
    for limit in (threshold, -1):
        monkeypatch.setattr(latest, "STRIDE_DRIVER_MAX_ROWS", limit)
        got = stride_sample(df, n, cols)
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert ("LogicalRDD" in plan) == (limit < 0), plan
        out.append(got.collect())
    return out


def _ids(rows):
    return [r["id"] for r in rows]


def test_stride_paths_agree_on_unique_keys(spark, monkeypatch):
    df = spark.range(50).select(((F.col("id") * 37) % 50).alias("id"))
    driver, dist = _stride_both_ways(monkeypatch, df, 3, "id")
    assert _ids(driver) == _ids(dist) == list(range(0, 50, 3))


def test_stride_paths_agree_on_null_and_nan_keys(spark, monkeypatch):
    """Spark sorts ascending with nulls first and NaN after every number;
    the driver path's Arrow sort must do the same."""
    nan = float("nan")
    rows = [
        (0, None, 2.0), (1, "b", None), (2, None, None), (3, "a", nan),
        (4, "a", 1.0), (5, "b", -0.5), (6, None, nan), (7, "a", None),
        (8, "c", 3.0), (9, "b", nan), (10, "a", -1.0), (11, None, 0.0),
    ]
    df = local_frame(spark, rows, "id long, k string, x double")
    want = [2, 11, 0, 6, 7, 10, 4, 3, 1, 5, 9, 8]  # (k, x) order
    for n in (1, 2, 5):
        driver, dist = _stride_both_ways(monkeypatch, df, n, ["k", "x"])
        assert _ids(driver) == _ids(dist) == want[::n]
        assert repr(driver) == repr(dist)


def test_stride_paths_agree_on_timestamps_in_local_tz(spark, monkeypatch, non_utc_tz):
    """Timestamps across a DST switch in the process time zone come back
    as the same instants from both paths."""
    t0 = datetime(2026, 3, 29, 0, 0, tzinfo=timezone.utc)
    rows = [(i, t0 + timedelta(minutes=20 * ((i * 7) % 12)), f"a{i:02d}") for i in range(24)]
    df = local_frame(spark, rows, "id long, ts timestamp, icao24 string")
    driver, dist = _stride_both_ways(monkeypatch, df, 4, ["ts", "icao24"])
    want = [r[0] for r in sorted(rows, key=lambda r: (r[1], r[2]))][::4]
    assert _ids(driver) == _ids(dist) == want
    assert driver == dist
    utc = sorted(r[1] for r in rows)[::4]
    assert [r["ts"].astimezone(timezone.utc) for r in driver] == utc


@pytest.mark.parametrize("n_rows", [0, 1])
def test_stride_paths_agree_on_empty_and_one_row(spark, monkeypatch, n_rows):
    df = spark.range(n_rows).withColumnRenamed("id", "n")
    driver, dist = _stride_both_ways(monkeypatch, df, 4, "n")
    assert driver == dist == [(0,)][:n_rows]


@pytest.mark.parametrize("n_rows, driver_path", [(20, True), (21, False)])
def test_stride_threshold_is_inclusive(spark, monkeypatch, n_rows, driver_path):
    """Exactly threshold rows take the driver path; one more takes the
    distributed one; both give the same rows."""
    monkeypatch.setattr(latest, "STRIDE_DRIVER_MAX_ROWS", 20)
    df = spark.range(n_rows).select((n_rows - 1 - F.col("id")).alias("id"))
    got = stride_sample(df, 3, "id")
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert ("LogicalRDD" not in plan) == driver_path, plan
    driver, dist = _stride_both_ways(monkeypatch, df, 3, "id")
    assert _ids(got.collect()) == _ids(driver) == _ids(dist) == list(range(0, n_rows, 3))
