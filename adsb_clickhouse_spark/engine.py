"""AdsbEngine — the user-facing surface.

A user of the reference talks to a ClickHouse database named ``adsb``
whose tables/views are created by ``schema/*.sql`` and queried by the
Grafana dashboards (``dashboards/examples/*.json``). This class
reproduces that surface on Spark:

- the same logical names (``positions_local``, ``positions_local_dist``,
  ``positions_<source>_latest``, ``positions_global_combined_latest``)
  registered as temp views, so the dashboards' rawSql runs through
  ``spark.sql`` nearly verbatim (``_dist`` is an alias — every Spark
  DataFrame is already distributed, SURVEY.md §2.1 S4);
- ingestion entry points (batch and streaming) running the MV cascade;
- the dashboard query set from §3.2/§3.3 as methods.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import SOURCES
from .operators.latest import stride_sample
from .plans import tables
from .plans.storeio import storeio_for
from .schemas import clean_schema
from .session import local_frame
from .streaming.pipeline import IngestPipeline


class AdsbEngine:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        *,
        now: datetime | None = None,
        conflict_radius_nm: float | None = None,
        conflict_max_cell_freq: int | None = None,
        geofences: dict | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.now = now
        self.pipelines: dict[str, IngestPipeline] = {
            name: IngestPipeline(
                cfg,
                base_dir,
                now=now,
                conflict_radius_nm=conflict_radius_nm,
                conflict_max_cell_freq=conflict_max_cell_freq,
                geofences=geofences,
            )
            for name, cfg in SOURCES.items()
        }

    # -- ingestion ---------------------------------------------------------

    def ingest_batch(self, source: str, raw: DataFrame) -> None:
        """One scraper batch through the full MV cascade."""
        self.pipelines[source].process_batch(raw)

    def start_stream(self, source: str, raw_stream: DataFrame):
        pipe = self.pipelines[source]
        return pipe.start(raw_stream, os.path.join(self.base_dir, source, "checkpoint"))

    # -- the reference's database surface ----------------------------------

    def register_views(self) -> list[str]:
        """Register every reference table/view name that has data on disk."""
        registered = []
        for name, pipe in self.pipelines.items():
            if storeio_for(pipe.history_path).isdir(pipe.history_path):
                hist = tables.read_history(
                    self.spark, pipe.history_path, schema=clean_schema(pipe.cfg)
                )
                hist.createOrReplaceTempView(f"positions_{name}")
                hist.createOrReplaceTempView(f"positions_{name}_dist")
                registered += [f"positions_{name}", f"positions_{name}_dist"]
            if storeio_for(pipe.state_path).isdir(pipe.state_path):
                pipe.state(self.spark).createOrReplaceTempView(f"positions_{name}_replacing")
                pipe.latest(self.spark).createOrReplaceTempView(f"positions_{name}_latest")
                registered += [f"positions_{name}_replacing", f"positions_{name}_latest"]
        # every pipeline upserts the same combined table; any one reads it
        pipe = next(iter(self.pipelines.values()))
        if storeio_for(pipe.combined_path).isdir(pipe.combined_path):
            pipe.combined_state(self.spark).createOrReplaceTempView("positions_global_combined_test")
            pipe.combined_latest(self.spark).createOrReplaceTempView(
                "positions_global_combined_latest"
            )
            registered += ["positions_global_combined_test", "positions_global_combined_latest"]
        return registered

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- dashboard query set (SURVEY §3.2/§3.3) ----------------------------

    def current_positions(self, source: str = "global_stream", *, moving_only: bool = True) -> DataFrame:
        """Geomap panel query (Current_Positions_Global_Stream.json rawSql):
        latest per aircraft, optionally moving only, z-ordered by altitude."""
        lv = self.pipelines[source].latest(self.spark)
        if moving_only:
            lv = lv.filter(F.col("ground_speed") > 0)
        return lv.orderBy("alt_baro")

    def nearest_aircraft(self, *, source: str = "local") -> DataFrame:
        """Nearest-aircraft table (Current_Positions_Local.json:526):
        ORDER BY distance ASC over the latest view."""
        return (
            self.pipelines[source]
            .latest(self.spark)
            .select(
                F.col("distance").alias("Distance"),
                F.col("direction").alias("Direction"),
                F.col("callsign").alias("Callsign"),
                F.col("alt_baro").alias("Altitude"),
                F.col("ground_speed").alias("Knots"),
                F.col("track").alias("Heading"),
                F.col("registration").alias("Registration"),
                F.col("aircraft_type").alias("Type"),
                F.col("description").alias("Description"),
            )
            .orderBy("Distance")
        )

    def trajectory(
        self,
        *,
        source: str = "local",
        time_from: datetime,
        time_to: datetime,
        stride: int | None = None,
        moving_only: bool = False,
    ) -> DataFrame:
        """Flight-history time-range scan (§3.3): the $__timeFilter range
        hits the scrape_date partition column first → partition pruning,
        then parquet min/max skipping on scrape_time within partitions.
        Rows come ordered by time; with ``stride``, every stride-th row
        in (time, icao24) order (operators.latest.stride_sample)."""
        pipe = self.pipelines[source]
        hist = tables.read_history(self.spark, pipe.history_path, schema=clean_schema(pipe.cfg))
        out = hist.filter(
            (F.col("scrape_date") >= F.lit(time_from.date().isoformat()))
            & (F.col("scrape_date") <= F.lit(time_to.date().isoformat()))
            & (F.col("scrape_time") >= F.lit(time_from))
            & (F.col("scrape_time") <= F.lit(time_to))
        )
        if moving_only:
            out = out.filter(F.col("ground_speed") > 0)
        out = out.select(F.col("scrape_time").alias("time"), "icao24", "lat", "lon", "alt_baro")
        if stride:
            # already ordered by (time, icao24): a sort before it would
            # turn the stride's size probe into a top-K
            return stride_sample(out, stride, ["time", "icao24"])
        return out.orderBy("time")

    # -- system/metadata scans (SURVEY §2.1 S7) ----------------------------

    def table_stats(self) -> DataFrame:
        """Per-table row/partition/file/byte counts — the
        `system.parts` validation queries of the deploy playbook
        (adsb-ansible/playbooks/07-validate-deployment.yml:85-110)."""
        rows = []
        for name, pipe in self.pipelines.items():
            for kind, path in [("history", pipe.history_path), ("state", pipe.state_path)]:
                if kind == "state":
                    # stats reflect the CURRENT snapshot, not superseded
                    # ones awaiting GC (versioned commit, plans/tables.py)
                    path = tables._current_snapshot_dir(path) or path
                n_rows = n_parts = n_files = n_bytes = 0
                io = storeio_for(path)
                if io.isdir(path):
                    # row counts come from parquet FOOTER metadata, not a
                    # table scan — exact (footers record num_rows) and
                    # metadata-priced, like ClickHouse's system.parts. At
                    # 100 TB a df.count() per table per stats call is a
                    # full-corpus job; footers are a few KB per file.
                    # The tree walk + sizes go through the StoreIO seam
                    # (r13 verdict item 3 — a remote path hits the loud
                    # guard instead of a silent zero); the footer read
                    # itself is a data-plane byte read, like Spark's.
                    import pyarrow as pa
                    import pyarrow.parquet as pq_meta

                    def _walk(d: str):
                        # skip Spark staging/metadata paths (_temporary,
                        # _SUCCESS, dot-files) exactly like Spark's own
                        # reader — a live writer's half-committed part
                        # has no footer and must not crash or inflate
                        # the stats
                        subdirs, files = [], []
                        for e in io.listdir(d):
                            if e.startswith(("_", ".")):
                                continue
                            full = os.path.join(d, e)
                            (subdirs if io.isdir(full) else files).append(full)
                        yield files
                        for sub in subdirs:
                            yield from _walk(sub)

                    for files in _walk(path):
                        for fp in files:
                            if not fp.endswith(".parquet"):
                                continue
                            # a writer crashing between write and commit
                            # can leave a zero-length or torn file OUTSIDE
                            # _temporary; an unreadable footer is skipped
                            # (and excluded from every count), not fatal
                            try:
                                meta = pq_meta.ParquetFile(fp).metadata
                                size = io.file_size(fp)
                            except (pa.ArrowInvalid, OSError):
                                continue
                            n_files += 1
                            n_bytes += size
                            n_rows += meta.num_rows
                    n_parts = len(
                        [e for e in io.listdir(path) if e.startswith(tables.PARTITION_COL + "=")]
                    )
                rows.append((f"positions_{name}", kind, n_rows, n_parts, n_files, n_bytes))
        return local_frame(
            self.spark,
            rows,
            "table string, kind string, rows long, partitions int, files int, bytes long",
        )

    # -- maintenance (SURVEY §4: TTL + compaction jobs) --------------------

    def run_maintenance(self, *, compact_min_batch_dirs: int = 2) -> dict[str, dict[str, list[str]]]:
        """TTL expiry + background-merge analogue in one sweep, per source.

        After expiry, every CLOSED day (strictly before today — the open
        day may race a concurrent writer) that has accumulated at least
        ``compact_min_batch_dirs`` batch directories is compacted into one
        key-sorted compact dir. This is what keeps the exactly-once
        layout's file count bounded: a 2 s trigger cadence writes ~43k
        batch dirs/day, ClickHouse's background merges keep part counts
        small (schema/schema-local.sql:186-187), and this is our merge.
        Returns {source: {"expired": [...], "compacted": [...]}}."""
        today = (self.now or datetime.now(timezone.utc)).date()
        out: dict[str, dict[str, list[str]]] = {}
        for name, pipe in self.pipelines.items():
            cfg = SOURCES[name]
            expired = tables.expire_history(
                self.spark,
                pipe.history_path,
                ttl_days=cfg.history_ttl_days,
                now=self.now.date() if self.now else None,
            )
            compacted = []
            hio = storeio_for(pipe.history_path)
            if hio.isdir(pipe.history_path):
                for entry in sorted(hio.listdir(pipe.history_path)):
                    if not entry.startswith(tables.PARTITION_COL + "="):
                        continue
                    day = entry.split("=", 1)[1]
                    if day >= str(today):
                        continue  # open day — a writer may be appending
                    day_dir = os.path.join(pipe.history_path, entry)
                    n_batch_dirs = sum(
                        1 for e in hio.listdir(day_dir) if e.startswith("batch_id=")
                    )
                    if n_batch_dirs >= compact_min_batch_dirs:
                        tables.compact_partition(self.spark, pipe.history_path, entry)
                        compacted.append(entry)
            out[name] = {"expired": expired, "compacted": compacted}
        return out
