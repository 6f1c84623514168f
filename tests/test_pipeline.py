"""End-to-end MV cascade: raw fixtures → cleanse → history + state +
combined, in batch and via a real Structured Streaming query
(SURVEY §3.1; FIXTURES.md §6 cases 12-13)."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from adsb_clickhouse_spark.config import GLOBAL_STREAM, LOCAL, SOURCES
from adsb_clickhouse_spark.plans import tables
from adsb_clickhouse_spark.sources.fixtures import raw_batch
from adsb_clickhouse_spark.sources.json_source import read_json_lines, stream_json_lines
from adsb_clickhouse_spark.streaming.pipeline import IngestPipeline

NOW = datetime(2026, 1, 15, 12, 0, 0)


def test_batch_cascade_all_sources(spark, tmp_base):
    for cfg in SOURCES.values():
        pipe = IngestPipeline(cfg, tmp_base, now=NOW)
        pipe.process_batch(raw_batch(spark, cfg, n_aircraft=30, n_scrapes=2))
        hist = tables.read_history(spark, pipe.history_path)
        state = tables.read_state(spark, pipe.state_path)
        assert hist.count() > state.count() > 0
        # state holds exactly one row per key
        assert state.groupBy("icao24").count().filter("count > 1").count() == 0
    combined = tables.read_state(spark, os.path.join(tmp_base, "combined", "state"))
    # case 13: same key from several sources → one combined row after dedup
    assert combined.groupBy("icao24").count().filter("count > 1").count() == 0
    assert set(combined.columns) >= {"icao24", "lat", "lon", "ground_speed", "source"}


def test_latest_views_respect_freshness(spark, tmp_base):
    pipe = IngestPipeline(LOCAL, tmp_base, now=NOW)
    pipe.process_batch(raw_batch(spark, LOCAL, n_aircraft=10, n_scrapes=3))
    latest = pipe.latest(spark)
    rows = latest.collect()
    # 15-second local freshness: the stale edge row (age 1.5 h) is excluded,
    # but present in history (case 9)
    assert "stale" not in {r["icao24"] for r in rows}
    hist_keys = {r["icao24"] for r in tables.read_history(spark, pipe.history_path).collect()}
    assert "stale" in hist_keys
    # one row per aircraft
    assert len(rows) == len({r["icao24"] for r in rows})


def test_malformed_json_skipped(spark, tmp_base):
    """Case 12: broken lines skipped without failing the batch
    (kafka_skip_broken_messages)."""
    path = os.path.join(tmp_base, "in")
    os.makedirs(path)
    good = {"hex": "abc123", "lat": 1.0, "lon": 2.0, "source": "local",
            "scrape_time": "2026-01-15 12:00:00"}
    with open(os.path.join(path, "batch.json"), "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write("{this is not json\n")
        f.write(json.dumps(dict(good, hex="def456")) + "\n")
    df = read_json_lines(spark, path, LOCAL)
    assert df.count() == 2


def test_replayed_batch_no_history_duplicates(spark, tmp_base):
    """foreachBatch re-delivery of a fully-committed batch (the common
    crash point: sinks done, checkpoint commit lost) must not append
    duplicate history rows — the batch-keyed overwrite rewrites the same
    batch_id= directories, with dedupe=False counts staying exact."""
    pipe = IngestPipeline(GLOBAL_STREAM, tmp_base, now=NOW, run_id="runA")
    raw = raw_batch(spark, GLOBAL_STREAM, n_aircraft=5, n_scrapes=1, with_edges=False)
    pipe.process_batch(raw, batch_id=7)
    n1 = tables.read_history(spark, pipe.history_path, dedupe=False).count()
    pipe.process_batch(raw, batch_id=7)  # replay
    assert tables.read_history(spark, pipe.history_path, dedupe=False).count() == n1
    # a new batch id still processes
    pipe.process_batch(raw, batch_id=8)
    assert tables.read_history(spark, pipe.history_path, dedupe=False).count() == 2 * n1


def test_crash_between_append_and_commit_replays_exactly_once(spark, tmp_base, monkeypatch):
    """Kill the cascade AFTER the history append but BEFORE the batch
    commits (the window that made the old marker scheme at-least-once);
    the replay must converge to exactly one copy with dedupe=False."""
    pipe = IngestPipeline(GLOBAL_STREAM, tmp_base, now=NOW, run_id="runA")
    raw = raw_batch(spark, GLOBAL_STREAM, n_aircraft=5, n_scrapes=1, with_edges=False)

    real_upsert = tables.upsert_state

    def crash_after_history(*a, **kw):
        raise RuntimeError("executor lost mid-cascade")

    monkeypatch.setattr(tables, "upsert_state", crash_after_history)
    with pytest.raises(RuntimeError):
        pipe.process_batch(raw, batch_id=3)
    # history holds the orphaned attempt; state/combined never saw it
    orphan = tables.read_history(spark, pipe.history_path, dedupe=False).count()
    assert orphan > 0
    monkeypatch.setattr(tables, "upsert_state", real_upsert)
    pipe.process_batch(raw, batch_id=3)  # replay after recovery
    assert tables.read_history(spark, pipe.history_path, dedupe=False).count() == orphan
    assert tables.read_state(spark, pipe.state_path).count() > 0


def test_checkpoint_reset_loses_no_new_data(spark, tmp_base):
    """A deleted/recreated checkpoint restarts Spark batch ids at 0. The
    run-id scope (pinned inside the checkpoint dir) must keep the new
    run's batch 0 from being shadowed by — or clobbering — the old run's
    batch 0 (the data-loss mode bare batch-id markers had)."""
    import shutil

    from adsb_clickhouse_spark.streaming.pipeline import _checkpoint_run_id

    ckpt = os.path.join(tmp_base, "ckpt")
    run1 = _checkpoint_run_id(ckpt)
    assert _checkpoint_run_id(ckpt) == run1  # stable within a run
    pipe1 = IngestPipeline(GLOBAL_STREAM, tmp_base, now=NOW, run_id=run1)
    raw1 = raw_batch(spark, GLOBAL_STREAM, n_aircraft=3, n_scrapes=1, with_edges=False)
    pipe1.process_batch(raw1, batch_id=0)
    n1 = tables.read_history(spark, pipe1.history_path, dedupe=False).count()

    shutil.rmtree(ckpt)  # operator resets the checkpoint
    run2 = _checkpoint_run_id(ckpt)
    assert run2 != run1
    pipe2 = IngestPipeline(GLOBAL_STREAM, tmp_base, now=NOW, run_id=run2)
    raw2 = raw_batch(spark, GLOBAL_STREAM, n_aircraft=4, n_scrapes=1, with_edges=False)
    pipe2.process_batch(raw2, batch_id=0)  # same Spark batch id, new run
    n2 = tables.read_history(spark, pipe2.history_path, dedupe=False).count()
    assert n2 == n1 + raw2.count()  # nothing dropped, nothing overwritten


def test_streaming_restart_same_checkpoint_no_dup_no_loss(spark, tmp_base):
    """Stop a streaming query and restart it on the SAME checkpoint with
    new input: the run id is stable (same scope), Spark resumes batch
    numbering, and history ends up with exactly one copy of every input
    row — no replay duplicates, no checkpoint-scope drops."""
    in_dir = os.path.join(tmp_base, "incoming")
    os.makedirs(in_dir)
    ckpt = os.path.join(tmp_base, "ckpt")
    raw1 = raw_batch(spark, GLOBAL_STREAM, n_aircraft=6, n_scrapes=1, with_edges=False)
    raw1.coalesce(1).write.mode("overwrite").json(in_dir)

    pipe = IngestPipeline(GLOBAL_STREAM, tmp_base, now=NOW)
    q = pipe.start(stream_json_lines(spark, in_dir, GLOBAL_STREAM), ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    run1 = pipe.run_id
    n1 = tables.read_history(spark, pipe.history_path, dedupe=False).count()
    assert n1 == raw1.count()

    # second file lands while the query is down; restart on same checkpoint
    raw2 = raw_batch(spark, GLOBAL_STREAM, n_aircraft=4, n_scrapes=1,
                     with_edges=False, seed=7)
    raw2.coalesce(1).write.mode("append").json(in_dir)
    pipe2 = IngestPipeline(GLOBAL_STREAM, tmp_base, now=NOW)
    q2 = pipe2.start(stream_json_lines(spark, in_dir, GLOBAL_STREAM), ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert pipe2.run_id == run1  # same checkpoint → same scope
    n2 = tables.read_history(spark, pipe2.history_path, dedupe=False).count()
    assert n2 == raw1.count() + raw2.count()


def test_streaming_cascade_file_source(spark, tmp_base, monkeypatch):
    """Drive the cascade through an actual streaming query (file source
    stands in for Kafka; identical downstream plan). Every sink runs in
    the query's job group, so ``StreamingQuery.stop()`` can cancel its
    in-flight jobs."""
    in_dir = os.path.join(tmp_base, "incoming")
    os.makedirs(in_dir)
    raw = raw_batch(spark, GLOBAL_STREAM, n_aircraft=20, n_scrapes=2)
    raw.coalesce(1).write.mode("overwrite").json(os.path.join(in_dir, "b1"))

    groups = []

    def recording(fn):
        def wrapped(*a, **kw):
            groups.append(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
            return fn(*a, **kw)

        return wrapped

    monkeypatch.setattr(tables, "append_history", recording(tables.append_history))
    monkeypatch.setattr(tables, "upsert_state", recording(tables.upsert_state))
    pipe = IngestPipeline(GLOBAL_STREAM, tmp_base, now=NOW)
    stream = stream_json_lines(spark, os.path.join(in_dir, "b1"), GLOBAL_STREAM)
    q = pipe.start(stream, os.path.join(tmp_base, "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(groups) >= 3  # history, state and combined of each batch
    assert set(groups) == {str(q.runId)}
    state = tables.read_state(spark, pipe.state_path)
    assert state.count() > 0
    assert state.groupBy("icao24").count().filter("count > 1").count() == 0
    hist = tables.read_history(spark, pipe.history_path)
    assert hist.count() >= state.count()


def _raw_rows(spark, cfg, rows):
    """Minimal raw batch of (hex, lat, lon, scrape_time) rows."""
    from adsb_clickhouse_spark.schemas import raw_schema

    schema = raw_schema(cfg)
    dicts = [
        {"hex": h, "lat": la, "lon": lo, "scrape_time": ts, "source": "test"}
        for h, la, lo, ts in rows
    ]
    ordered = [[d.get(f.name) for f in schema.fields] for d in dicts]
    return spark.createDataFrame(ordered, schema)


def _raw_positions(spark, rows, ts):
    """Minimal raw batch with controlled coordinates: (hex, lat, lon)."""
    return _raw_rows(spark, GLOBAL_STREAM, [(h, la, lo, ts) for h, la, lo in rows])


def test_state_snapshots_hold_one_row_per_key(spark, tmp_base):
    """The *_latest views only filter the state snapshots by recency
    (IngestPipeline.latest); that is exact because every snapshot holds
    one row per key. Pinned after each batch — through late arrivals,
    same-time ties and TTL expiry — for the per-source and the combined
    store: unique keys; the views equal latest_view (recency filter +
    keyed argmax) over the same snapshot; the read with the known schema
    returns what the inferring read returns."""
    from datetime import timedelta

    from adsb_clickhouse_spark.config import COMBINED_FRESHNESS
    from adsb_clickhouse_spark.operators.latest import latest_view
    from adsb_clickhouse_spark.schemas import clean_schema, combined_schema

    def at(s):
        return NOW + timedelta(seconds=s)

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    batches = [
        (at(0), [("aaa111", 1.0, 1.0, at(-4)), ("bbb222", 2.0, 2.0, at(-4)),
                 ("ccc333", 3.0, 3.0, at(-30))]),
        # a late arrival (aaa111 older than its state), a cross-batch tie
        # on scrape_time (bbb222: the newer ingestion_time wins) and an
        # in-batch tie (ddd444 twice at one scrape_time)
        (at(5), [("aaa111", 9.0, 9.0, at(-20)), ("bbb222", 2.5, 2.5, at(-4)),
                 ("ddd444", 4.0, 4.0, at(3)), ("ddd444", 4.5, 4.5, at(3))]),
        # over an hour later: every earlier key passes the state TTL
        (at(3700), [("eee555", 5.0, 5.0, at(3698))]),
    ]
    pipe = IngestPipeline(LOCAL, tmp_base, run_id="runK")
    stores = [
        (pipe.state_path, clean_schema(LOCAL), pipe.latest, LOCAL.freshness),
        (pipe.combined_path, combined_schema(), pipe.combined_latest, COMBINED_FRESHNESS),
    ]
    lat_after, live_after = [], []
    for i, (now, batch) in enumerate(batches):
        pipe.now = now
        pipe.process_batch(_raw_rows(spark, LOCAL, batch), batch_id=i)
        for path, schema, view, freshness in stores:
            inferred = tables.read_state(spark, path)
            given = tables.read_state(spark, path, schema=schema)
            assert given.schema == inferred.schema
            snap = rows(inferred)
            assert rows(given) == snap
            keys = [r[0] for r in snap]
            assert len(keys) == len(set(keys)), f"batch {i}: duplicate keys in {path}"
            ref = latest_view(inferred, freshness=freshness, now=F.lit(now).cast("timestamp"))
            got = view(spark)
            assert got.columns == ref.columns
            assert rows(got) == rows(ref), f"batch {i}: {path}"
        lat_after.append({r["icao24"]: r["lat"] for r in pipe.state(spark).collect()})
        live_after.append({r["icao24"] for r in pipe.latest(spark).collect()})
    # the cases above happened: ccc333 stale for the 15 s view only,
    # the late arrival ignored, the tie won by the newer batch, expiry
    assert "ccc333" in lat_after[0] and live_after[0] == {"aaa111", "bbb222"}
    assert lat_after[1]["aaa111"] == 1.0 and lat_after[1]["bbb222"] == 2.5
    assert lat_after[1]["ddd444"] in (4.0, 4.5)
    assert lat_after[2] == {"eee555": 5.0}


def test_live_conflict_view_surfaces_and_clears(spark, tmp_base):
    """Streaming conflict detection (r9): the per-batch proximity join
    over the *_latest view — a conflict planted in batch 1 surfaces on
    the board after that batch and clears when the aircraft departs."""
    from datetime import timedelta

    pipe = IngestPipeline(
        GLOBAL_STREAM, tmp_base, now=NOW, run_id="runC", conflict_radius_nm=15.0
    )
    t0 = NOW - timedelta(seconds=30)
    # batch 0: ~60 nm apart -> empty board
    pipe.process_batch(
        _raw_positions(spark, [("aaa111", 40.0, -73.0), ("bbb222", 41.0, -73.0)], t0),
        batch_id=0,
    )
    assert pipe.conflicts(spark).count() == 0
    # batch 1: bbb222 closes to ~6 nm -> conflict surfaces
    pipe.process_batch(
        _raw_positions(spark, [("bbb222", 40.1, -73.0)], NOW - timedelta(seconds=20)),
        batch_id=1,
    )
    got = pipe.conflicts(spark).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {("aaa111", "bbb222")}
    assert len(got) == 1 and got[0]["dist_nm"] <= 15.0
    assert got[0]["lat_b"] == 40.1  # carried coordinates for the board
    # batch 2: bbb222 departs -> the board clears (latest view wins)
    pipe.process_batch(
        _raw_positions(spark, [("bbb222", 45.0, -60.0)], NOW - timedelta(seconds=10)),
        batch_id=2,
    )
    assert pipe.conflicts(spark).count() == 0


def test_conflict_refresh_is_replay_safe(spark, tmp_base):
    """A replayed batch converges the conflict board (generational write
    + pointer swap), leaving exactly one readable generation."""
    from datetime import timedelta

    pipe = IngestPipeline(
        GLOBAL_STREAM, tmp_base, now=NOW, run_id="runR", conflict_radius_nm=15.0
    )
    raw = _raw_positions(
        spark,
        [("aaa111", 40.0, -73.0), ("bbb222", 40.05, -73.0)],
        NOW - timedelta(seconds=30),
    )
    pipe.process_batch(raw, batch_id=0)
    pipe.process_batch(raw, batch_id=0)  # foreachBatch redelivery
    got = pipe.conflicts(spark).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {("aaa111", "bbb222")}
    _assert_superseded_boards_retired(pipe.conflicts_path)


def _assert_superseded_boards_retired(path):
    """Every superseded board generation is on the current one's retire
    manifest, and the grace-window sweep leaves only the current one."""
    from adsb_clickhouse_spark.plans.genstore import (
        gen_name,
        read_retire_manifest,
        sweep_retired,
    )
    from adsb_clickhouse_spark.plans.storeio import storeio_for

    current = gen_name(path)
    old = {os.path.join(path, e) for e in os.listdir(path) if e.startswith("gen-")}
    old.discard(os.path.join(path, current))
    assert old  # the refresh ran more than once
    retired = {p for _ts, p in read_retire_manifest(os.path.join(path, current), storeio_for(path))}
    assert retired == old
    sweep_retired(path, grace_s=0)
    assert [e for e in os.listdir(path) if e.startswith("gen-")] == [current]


def test_superseded_conflict_board_stays_readable(spark, tmp_base):
    """A board frame resolved before the next batch's refresh still
    collects afterwards: the superseded generation stays on disk for the
    reader grace window."""
    from datetime import timedelta

    pipe = IngestPipeline(
        GLOBAL_STREAM, tmp_base, now=NOW, run_id="runG", conflict_radius_nm=15.0
    )
    pipe.process_batch(
        _raw_positions(
            spark,
            [("aaa111", 40.0, -73.0), ("bbb222", 40.05, -73.0)],
            NOW - timedelta(seconds=30),
        ),
        batch_id=0,
    )
    board = pipe.conflicts(spark)
    pipe.process_batch(
        _raw_positions(spark, [("bbb222", 45.0, -60.0)], NOW - timedelta(seconds=20)),
        batch_id=1,
    )
    assert pipe.conflicts(spark).count() == 0
    assert {(r["id_a"], r["id_b"]) for r in board.collect()} == {("aaa111", "bbb222")}


def test_live_geofence_board_surfaces_and_clears(spark, tmp_base):
    """Zone-occupancy board (r9): an aircraft entering a configured
    polygon surfaces on the board after that batch and clears when its
    latest position leaves the zone."""
    from datetime import timedelta

    zone = {"alpha": [(39.5, -74.5), (41.5, -74.5), (41.5, -72.5), (39.5, -72.5)]}
    pipe = IngestPipeline(
        GLOBAL_STREAM, tmp_base, now=NOW, run_id="runZ", geofences=zone
    )
    # batch 0: one inside the box, one far away
    pipe.process_batch(
        _raw_positions(
            spark,
            [("aaa111", 40.5, -73.5), ("bbb222", 10.0, 10.0)],
            NOW - timedelta(seconds=30),
        ),
        batch_id=0,
    )
    got = pipe.zones(spark).collect()
    assert [(r["icao24"], r["poly_id"]) for r in got] == [("aaa111", "alpha")]
    # batch 1: aaa111 leaves -> board clears (latest view wins)
    pipe.process_batch(
        _raw_positions(spark, [("aaa111", 50.0, -60.0)], NOW - timedelta(seconds=20)),
        batch_id=1,
    )
    assert pipe.zones(spark).count() == 0
    _assert_superseded_boards_retired(pipe.zones_path)
