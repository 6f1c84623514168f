"""The MV cascade as one streaming query per source (SURVEY.md §3.1).

Reference dataflow (schema/schema-local.sql):

    Kafka topic → Kafka-engine table → cleansing MV → history MergeTree
                                     → recency MV   → ReplacingMergeTree
                                     → projection MV → combined Replacing

Spark design: ``readStream → from_json → foreachBatch{ cleanse; append
history; upsert state; upsert combined }``. The foreachBatch body
reproduces the MV cascade per micro-batch.

Delivery semantics:

- **state / combined** — exactly-once effect: the upserts are idempotent
  (argmax semantics), so a retried batch converges to the same state.
- **history** — exactly-once counts via batch-keyed overwrite: each
  micro-batch writes its own ``batch_id=`` directories inside the day
  partitions (plans/tables.py append_history), and a foreachBatch
  re-delivery — crash anywhere in the cascade, including mid-append —
  rewrites those same directories instead of appending a second copy.
  Batch numbers are scoped by a RUN ID persisted inside the checkpoint
  directory: Spark's batch ids restart at 0 when a checkpoint is deleted
  or replaced, and the run-id scope keeps a new run's batch 0 from
  overwriting (or being skipped because of) an old run's batch 0 — the
  failure mode bare batch-id commit markers had. No marker files, no
  marker GC, nothing to desynchronize.

Trigger cadence and batch-size caps mirror the per-topic
kafka_flush_interval_ms / kafka_max_block_size settings
(manifests/adsb-clickhouse/30-clickhouse-local.yaml.example:49-51) via
``SourceConfig.trigger`` / ``max_rows_per_trigger``.
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import COMBINED_FRESHNESS, SourceConfig
from ..functions.cleanse import cleanse
from ..operators.combined import to_combined
from ..operators.latest import recency_filter
from ..plans import tables
from ..plans.genstore import fold_generation, gc_orphan_generations, gen_name
from ..schemas import clean_schema, combined_schema


def _checkpoint_run_id(checkpoint_dir: str) -> str:
    """Run id pinned INSIDE the checkpoint directory, so Spark's
    per-checkpoint batch numbering and the scope that makes those numbers
    globally unique share one lifetime: delete/replace the checkpoint and
    the next run gets fresh batch ids AND a fresh scope — batch 0 of the
    new run can neither overwrite nor be shadowed by batch 0 of the old
    one. Written once exclusively (StoreIO.create_exclusive); concurrent
    creators converge on the winner's id."""
    from ..plans.storeio import storeio_for

    io = storeio_for(checkpoint_dir)
    io.makedirs(checkpoint_dir)
    _won, run_id = io.create_exclusive(
        os.path.join(checkpoint_dir, "run_id"), uuid.uuid4().hex[:12]
    )
    return run_id.strip()


def run_sinks(spark, sinks, *, parallel: bool = True) -> dict[str, float]:
    """Run a batch's independent sinks ``[(name, fn), ...]`` and return
    each one's wall seconds by name.

    With ``parallel`` and more than one sink, each sink runs on its own
    driver thread, so one sink's job tail leaves executors idle that the
    next sink's tasks back-fill. Each thread gets its own copy of the
    calling thread's Spark local properties and session tags
    (``inheritable_thread_target``): the streaming query's job group, so
    ``StreamingQuery.stop()`` cancels in-flight sink jobs, and a FAIR
    scheduler pool. In non-pinned thread mode (``PYSPARK_PIN_THREAD=false``)
    properties are process-global and the plain callable runs. Every sink
    settles before the first failure is raised, so a failed batch leaves
    no sink still writing and its replay converges each sink on its own.
    """
    walls: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        walls[name] = round(time.perf_counter() - t0, 3)

    if not parallel or len(sinks) < 2:
        for name, fn in sinks:
            timed(name, fn)
        return walls

    def inherit(fn):
        deco = inheritable_thread_target(spark)
        return fn if isinstance(deco, SparkSession) else deco(fn)

    with ThreadPoolExecutor(max_workers=len(sinks), thread_name_prefix="sink") as ex:
        futures = [ex.submit(inherit(timed), name, fn) for name, fn in sinks]
        for fu in futures:
            fu.result()
    return walls


def _refresh_board(df: DataFrame, path: str) -> None:
    """Rewrite a derived live board as a new generation behind the
    ``genstore`` pointer: a crash mid-refresh leaves the previous board
    readable, and the superseded board stays on disk for the reader
    grace window, so a query that resolved it finishes its scan."""
    old = gen_name(path)
    gc_orphan_generations(path, old)
    fold_generation(
        path,
        lambda out: df.write.mode("overwrite").parquet(out),
        manifest=False,
        gc_paths=[os.path.join(path, old)] if old else [],
    )


def _read_board(spark, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, gen_name(path)))


class IngestPipeline:
    """Per-source ingestion cascade writing history + state + combined."""

    def __init__(
        self,
        cfg: SourceConfig,
        base_dir: str,
        *,
        now: datetime | None = None,
        run_id: str | None = None,
        conflict_radius_nm: float | None = None,
        conflict_max_cell_freq: int | None = None,
        geofences: dict | None = None,
    ):
        self.cfg = cfg
        self.base = base_dir
        self.now = now  # injectable wall-clock for deterministic tests
        self.history_path = os.path.join(base_dir, cfg.name, "history")
        self.state_path = os.path.join(base_dir, cfg.name, "state")
        self.combined_path = os.path.join(base_dir, "combined", "state")
        self.conflicts_path = os.path.join(base_dir, cfg.name, "conflicts")
        # live conflict detection (r9): when a radius is set, every batch
        # refreshes an "aircraft currently within R nm of each other"
        # table derived from the *_latest view — the reference's whole
        # point is continuous dashboards (5 s refresh,
        # dashboards/examples/Current_Positions_Global_Stream.json:212),
        # and a conflict board is the canonical derived live view
        self.conflict_radius_nm = conflict_radius_nm
        self.conflict_max_cell_freq = conflict_max_cell_freq
        # live geofence alerts (r9): zone_id -> vertex ring; every batch
        # refreshes an "aircraft currently inside restricted airspace"
        # table — the containment test compiles into the plan
        # (operators/geo.py points_in_polygons), so the refresh is one
        # codegen projection over the latest view
        self.geofences = geofences
        self.zones_path = os.path.join(base_dir, cfg.name, "zones")
        # scopes batch ids in the history layout; start() pins it to the
        # checkpoint so batch numbering and scope live or die together
        self.run_id = run_id

    def _scoped_batch(self, batch_id: int | None) -> str | int | None:
        if batch_id is None:
            return None
        return f"{self.run_id}-{batch_id}" if self.run_id else batch_id

    # -- the MV cascade body (used by both batch and streaming) ------------

    def process_batch(self, raw: DataFrame, batch_id: int | None = None) -> None:
        ingestion = F.lit(self.now).cast("timestamp") if self.now else F.current_timestamp()
        clean = cleanse(raw, self.cfg, ingestion_time=ingestion)
        # multiple sinks consume the cleansed batch — materialize it once;
        # with now=None this also gives all three sinks the same
        # current_timestamp() ingestion_time
        clean.persist()
        try:
            # The three MVs are mutually independent (different target
            # paths, separate writer locks, each replay-convergent on its
            # own), so run_sinks overlaps their jobs; any sink failing
            # fails the batch. Each sink looks tables.append_history /
            # tables.upsert_state up on the module when it runs, so a
            # monkeypatched attribute (crash injection, tracing) is the
            # one called.
            combined = to_combined(clean, now=self._now_col())
            scoped = self._scoped_batch(batch_id)
            run_sinks(clean.sparkSession, [
                # MV 1: history append (schema-local.sql:199-293 →
                # 183-187); batch-keyed → replay overwrites instead of
                # duplicating
                ("history", lambda: tables.append_history(
                    clean, self.history_path, batch_id=scoped)),
                # MV 2: current-state upsert (schema-local.sql:384-446 →
                # 370-372)
                ("state", lambda: tables.upsert_state(
                    clean, self.state_path, ttl=self.cfg.state_ttl, now=self.now)),
                # MV 3: combined projection upsert
                # (schema-global-combined.sql:42-108)
                ("combined", lambda: tables.upsert_state(
                    combined, self.combined_path, ttl="1 hour", now=self.now)),
            ])
            # derived live view: conflicts among CURRENT positions. Runs
            # after the state upsert so the batch's own reports are in
            # play; cost is bounded by the active-aircraft count (the
            # latest view is one row per key inside the freshness
            # window), not by ingest volume or history size.
            if self.conflict_radius_nm is not None:
                self._refresh_conflicts(clean.sparkSession)
            if self.geofences:
                self._refresh_zones(clean.sparkSession)
        finally:
            clean.unpersist()

    def _refresh_conflicts(self, spark) -> None:
        """Rewrite the conflicts table from the current *_latest view:
        the grid-bucketed proximity self-join (operators/geo.py) over one
        row per active aircraft, written by ``_refresh_board``."""
        from ..operators.geo import proximity_pairs

        cur = self.latest(spark).filter(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
        )
        pairs = proximity_pairs(
            cur.select("icao24", "lat", "lon"),
            radius_nm=float(self.conflict_radius_nm),
            id_col="icao24",
            carry_cols=("lat", "lon"),
            max_cell_freq=self.conflict_max_cell_freq,
        )
        _refresh_board(pairs, self.conflicts_path)

    def _refresh_zones(self, spark) -> None:
        """Rewrite the zone-occupancy table from the current *_latest
        view: compiled point-in-polygon containment over one row per
        active aircraft, written by ``_refresh_board``."""
        from ..operators.geo import points_in_polygons

        cur = self.latest(spark).filter(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
        )
        occ = points_in_polygons(
            cur.select("icao24", "lat", "lon"), self.geofences
        ).select("icao24", "poly_id", "lat", "lon")
        _refresh_board(occ, self.zones_path)

    def conflicts(self, spark) -> DataFrame:
        """The live conflict board: (icao24_a, icao24_b, dist_nm, lat/lon
        of both) pairs currently within the configured radius."""
        return _read_board(spark, self.conflicts_path)

    def zones(self, spark) -> DataFrame:
        """The live geofence board: (icao24, poly_id, lat, lon) — every
        aircraft currently inside a configured zone."""
        return _read_board(spark, self.zones_path)

    # -- streaming entry ----------------------------------------------------

    def start(self, raw_stream: DataFrame, checkpoint_dir: str) -> StreamingQuery:
        """Attach the cascade to an unbounded raw DataFrame. The checkpoint
        dir reproduces Kafka consumer-group offset tracking (ST5); the run
        id stored inside it scopes the history layout's batch keys (module
        docstring — checkpoint reset ⇒ new scope ⇒ no cross-run clobber)."""
        self.run_id = _checkpoint_run_id(checkpoint_dir)
        return (
            raw_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=self.cfg.trigger)
            .start()
        )

    # -- query surface --------------------------------------------------------

    def _now_col(self):
        return F.lit(self.now).cast("timestamp") if self.now else None

    def state(self, spark) -> DataFrame:
        """The positions_<source>_replacing table: the current state
        snapshot, read with its known schema (no inference job)."""
        return tables.read_state(spark, self.state_path, schema=clean_schema(self.cfg))

    def combined_state(self, spark) -> DataFrame:
        """The shared positions_global_combined table's current snapshot."""
        return tables.read_state(spark, self.combined_path, schema=combined_schema())

    def latest(self, spark) -> DataFrame:
        """The positions_<source>_latest view (schema-local.sql:455-460).
        The snapshot already holds one row per key (upsert_state), so the
        view is its recency filter alone — the ``LIMIT 1 BY`` of the
        reference is a no-op here. ``operators.latest.latest_view`` over
        the same snapshot returns the same rows."""
        return recency_filter(self.state(spark), self.cfg.freshness, now=self._now_col())

    def combined_latest(self, spark) -> DataFrame:
        """positions_global_combined_latest (schema-global-combined.sql:119):
        the combined snapshot's recency filter, as in ``latest``."""
        return recency_filter(
            self.combined_state(spark), COMBINED_FRESHNESS, now=self._now_col()
        )
