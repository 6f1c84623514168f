"""latest_per_key / latest_view semantics (SURVEY §2.4 A1, §2.5 W1;
FIXTURES.md §6 cases 7-9)."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from adsb_clickhouse_spark.operators.latest import (
    latest_per_key,
    latest_view,
    stride_sample,
)

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


def test_stride_sample_deterministic_on_shuffled_input(spark):
    """Regression for the r2 intermittent renumbering: repartitionByRange
    samples its boundaries, so without the localCheckpoint barrier the
    count pass and the output pass could disagree on partition layout,
    yielding wrong stride sets (25003 rows from a 100000-row stride-4 was
    observed once at sf0.1). Shuffled, skew-partitioned input + repeated
    trials exercise exactly that window; the result must be the exact
    stride set every time."""
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
