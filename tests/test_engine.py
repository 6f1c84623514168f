"""AdsbEngine facade: the reference's database surface on Spark — view
names from schema/*.sql, dashboard rawSql via spark.sql, maintenance."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from adsb_clickhouse_spark.config import SOURCES
from adsb_clickhouse_spark.engine import AdsbEngine
from adsb_clickhouse_spark.sources.fixtures import raw_batch

NOW = datetime(2026, 1, 15, 12, 0, 0)


@pytest.fixture()
def engine(spark, tmp_base):
    eng = AdsbEngine(spark, tmp_base, now=NOW)
    for name, cfg in SOURCES.items():
        eng.ingest_batch(name, raw_batch(spark, cfg, n_aircraft=15, n_scrapes=2))
    eng.register_views()
    return eng


def test_reference_view_names_queryable(engine):
    for view in [
        "positions_local",
        "positions_local_dist",
        "positions_local_latest",
        "positions_regional_latest",
        "positions_global_stream_latest",
        "positions_global_opensky_latest",
        "positions_global_combined_latest",
    ]:
        assert engine.sql(f"SELECT count(*) AS n FROM {view}").first()["n"] >= 0


def test_dashboard_rawsql_runs_verbatim(engine):
    """The geomap panel SQL from Current_Positions_Global_Stream.json
    (minus the ClickHouse db qualifier) must run unchanged."""
    out = engine.sql(
        """
        SELECT icao24, lat, lon, scrape_time, callsign, alt_baro, track, ground_speed
        FROM positions_global_stream_latest
        WHERE ground_speed > 0
        ORDER BY alt_baro ASC
        """
    ).collect()
    assert len(out) > 0
    alts = [r["alt_baro"] for r in out]
    assert alts == sorted(alts)


def test_current_positions_one_row_per_aircraft(engine):
    out = engine.current_positions("global_stream").collect()
    keys = [r["icao24"] for r in out]
    assert len(keys) == len(set(keys)) > 0


def test_nearest_aircraft_sorted_by_distance(engine):
    out = engine.nearest_aircraft(source="local").collect()
    d = [r["Distance"] for r in out]
    assert d == sorted(d)


def test_trajectory_time_range_and_stride(engine):
    full = engine.trajectory(
        source="local",
        time_from=NOW - timedelta(minutes=5),
        time_to=NOW,
    ).collect()
    assert len(full) > 0
    assert all(NOW - timedelta(minutes=5) <= r["time"] <= NOW for r in full)
    sampled = engine.trajectory(
        source="local",
        time_from=NOW - timedelta(minutes=5),
        time_to=NOW,
        stride=4,
    ).collect()
    assert len(sampled) == (len(full) + 3) // 4
    keys = [(r["time"], r["icao24"]) for r in sampled]
    assert keys == sorted(keys)
    assert keys == sorted((r["time"], r["icao24"]) for r in full)[::4]


def test_current_state_is_one_partition(spark, tmp_base, spark_jobs):
    """Current state is kept as one partition: each snapshot is one
    file, and the dashboard's sorted panels over it plan no exchange
    and collect in one Spark job."""
    import os

    eng = AdsbEngine(spark, tmp_base, now=NOW)
    pipe = eng.pipelines["local"]
    for i in range(2):
        pipe.process_batch(
            raw_batch(spark, SOURCES["local"], n_aircraft=15, n_scrapes=2, now=NOW - timedelta(seconds=5 * (1 - i))),
            batch_id=i,
        )
    for path in (pipe.state_path, pipe.combined_path):
        snap = os.path.join(path, open(os.path.join(path, "_CURRENT")).read().strip())
        assert len([f for f in os.listdir(snap) if f.endswith(".parquet")]) == 1, snap
    for name, df in [
        ("current_positions", eng.current_positions("local", moving_only=False)),
        ("nearest_aircraft", eng.nearest_aircraft(source="local")),
    ]:
        rows = []
        assert spark_jobs(f"one_partition_{name}", lambda: rows.extend(df.collect())) == 1, name
        assert len(rows) > 0, name
        assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString(), name


def test_maintenance_respects_per_source_ttl(engine, spark):
    dropped = engine.run_maintenance()
    # all fixture data is recent → nothing expired anywhere
    assert all(v["expired"] == [] for v in dropped.values())


def test_maintenance_compacts_closed_days(spark, tmp_base):
    """Background-merge analogue: closed days with several batch dirs are
    merged into one compact dir; the open (today) day is left alone."""
    import os

    from adsb_clickhouse_spark.sources.fixtures import raw_batch

    eng = AdsbEngine(spark, tmp_base, now=NOW)
    yesterday = NOW - timedelta(days=1)
    for i in range(3):  # three micro-batches land three batch dirs per day
        eng.ingest_batch(
            "local",
            raw_batch(spark, SOURCES["local"], n_aircraft=5, n_scrapes=2,
                      now=yesterday, with_edges=False),
        )
        eng.ingest_batch(
            "local",
            raw_batch(spark, SOURCES["local"], n_aircraft=5, n_scrapes=2,
                      with_edges=False),
        )
    hist = eng.pipelines["local"].history_path
    days = sorted(e for e in os.listdir(hist) if e.startswith("scrape_date="))
    closed = [d for d in days if d.split("=", 1)[1] < str(NOW.date())]
    assert closed, "fixture must write at least one closed day"
    from adsb_clickhouse_spark.plans import tables as T

    rows_before = T.read_history(spark, hist).count()
    out = eng.run_maintenance()
    assert out["local"]["compacted"] == closed
    for d in closed:
        batch_dirs = [e for e in os.listdir(os.path.join(hist, d)) if e.startswith("batch_id=")]
        assert len(batch_dirs) == 1 and batch_dirs[0].startswith("batch_id=compact-")
    # today's open day untouched
    today_dir = os.path.join(hist, f"scrape_date={NOW.date()}")
    if os.path.isdir(today_dir):
        assert sum(1 for e in os.listdir(today_dir) if e.startswith("batch_id=")) == 3
    assert T.read_history(spark, hist).count() == rows_before


def test_table_stats_metadata_scan(engine):
    stats = {(r["table"], r["kind"]): r for r in engine.table_stats().collect()}
    h = stats[("positions_local", "history")]
    assert h["rows"] > 0 and h["partitions"] >= 1 and h["files"] >= 1 and h["bytes"] > 0
    s = stats[("positions_local", "state")]
    assert 0 < s["rows"] <= h["rows"]
    # footer-metadata counts must stay EXACT: pin against a real scan
    pipe = engine.pipelines["local"]
    assert h["rows"] == engine.spark.read.parquet(pipe.history_path).count()
    # a writer crashing between write and commit can leave a torn file
    # OUTSIDE _temporary — stats must skip it (not crash, not count it)
    import os

    part_dir = next(
        os.path.join(pipe.history_path, d)
        for d in os.listdir(pipe.history_path)
        if d.startswith("scrape_date=")
    )
    torn = os.path.join(part_dir, "part-torn.parquet")
    with open(torn, "wb") as fh:
        fh.write(b"PAR1not-actually-a-footer")
    try:
        h2 = {
            (r["table"], r["kind"]): r for r in engine.table_stats().collect()
        }[("positions_local", "history")]
        assert h2["rows"] == h["rows"] and h2["files"] == h["files"]
        assert h2["bytes"] == h["bytes"]
    finally:
        os.remove(torn)
