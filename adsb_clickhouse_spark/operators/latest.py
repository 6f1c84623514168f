"""Keyed latest-row semantics and sampling operators.

``latest_per_key`` is the single Spark operator that subsumes the
reference's three-layer construct: ReplacingMergeTree merge-time argmax
(schema/schema-local.sql:370-372) + read-time ``FINAL`` + ``LIMIT 1 BY``
(schema/schema-local.sql:455-460). SURVEY.md §2.5 W1 / §2.4 A1.

Scale notes:
- the max_by shuffles once on the key; with ~12k live aircraft and AQE
  the shuffle is tiny. For 100 TB history scans, apply the freshness
  filter FIRST so partition pruning (scrape_date) cuts the scan before the
  shuffle — `latest_view` does this.
- `max_by(struct(*), version_col)` is a hash aggregate with map-side
  partial aggregation — strictly less shuffle traffic than a row_number
  window, which must shuffle every row (at 20M rows the window measured
  3.5 s, the aggregate 2.9 s).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame, size_gated

# stride_sample sorts and strides inputs up to this many rows on the driver
STRIDE_DRIVER_MAX_ROWS = 100_000


def latest_per_key(
    df: DataFrame,
    key: str | list[str] = "icao24",
    version: str = "scrape_time",
    *,
    tiebreak: str | None = "ingestion_time",
) -> DataFrame:
    """Newest row per key.

    ClickHouse keeps the max-`version` row per key, ties broken by insert
    order (last inserted wins). We pin ties deterministically with
    ``tiebreak`` (documented superset — SURVEY.md §4 "merge-time dedup").

    Plan: groupBy(key).agg(max_by(struct(cols), (version, tiebreak))) —
    partial-aggregates map-side, minimal shuffle.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order_cols = [version] + ([tiebreak] if tiebreak and tiebreak in df.columns else [])

    payload = [c for c in df.columns if c not in keys]
    ver = F.struct(*[F.col(c) for c in order_cols])
    agg = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ver).alias("__row")
    )
    return agg.select(*keys, *[F.col(f"__row.{c}").alias(c) for c in payload])


def recency_filter(df: DataFrame, window: str, *, now: Column | None = None, ts: str = "scrape_time") -> Column | DataFrame:
    """P3: ``WHERE scrape_time > now() - INTERVAL <window>``
    (schema/schema-local.sql:458). ``now`` injectable for deterministic
    tests (SURVEY.md §7.3 hard part (b))."""
    now_col = now if now is not None else F.current_timestamp()
    return df.filter(F.col(ts) > now_col - F.expr(f"INTERVAL {window}"))


def latest_view(
    history: DataFrame,
    *,
    freshness: str,
    key: str = "icao24",
    version: str = "scrape_time",
    now: Column | None = None,
) -> DataFrame:
    """The ``positions_*_latest`` view (schema/schema-local.sql:455-460):
    recency filter first (partition pruning at scale), then keyed argmax."""
    fresh = recency_filter(history, freshness, now=now, ts=version)
    return latest_per_key(fresh, key, version)


def stride_sample(df: DataFrame, n: int, order_by: str | list[str]) -> DataFrame:
    """P5: keep every n-th row — subquery over rowNumberInAllBlocks() with
    ``row_idx % n = 0`` (dashboards/examples/Current_Positions_Regional.json:321).

    Row ``row_idx`` is the row's position in ascending ``order_by``
    order (nulls first, as Spark sorts), counted from 0. Both paths
    return the kept rows in that order.

    A :func:`~adsb_clickhouse_spark.session.size_gated` probe picks the
    path. Up to ``STRIDE_DRIVER_MAX_ROWS`` rows, the probe's Arrow table
    is sorted and strided on the driver and returned as a
    ``LocalRelation``: the probe is the only Spark job, where the
    distributed path runs several (a dashboard trajectory went from 6
    jobs to 1). Above it, the probe is one extra job and the
    distributed path below runs unchanged.

    The distributed path numbers rows exactly WITHOUT a single-partition
    window (the naive ``Window.orderBy(cols)`` funnels the whole table
    through one task):

    1. ``repartitionByRange(cols) + sortWithinPartitions(cols)`` — one
       shuffle, globally ordered partitions (partition i ≤ partition i+1).
    2. ``monotonically_increasing_id`` on the sorted layout: upper 31 bits
       are the partition id, lower 33 bits a sequential per-partition
       record number — a free partition-local row_number.
    3. Per-partition counts (tiny: ≤ shuffle.partitions rows) collected to
       the driver → cumulative offsets broadcast back as a
       :func:`~adsb_clickhouse_spark.session.local_frame` (a local
       relation: the join needs no Python worker and no extra job).
       global row_idx = offset[pid] + local_idx.

    The numbered layout is ``localCheckpoint``-ed before the count pass:
    ``repartitionByRange`` picks its range boundaries by SAMPLING, so two
    evaluations of the same lineage can land rows in different partitions
    — the count branch and the output branch would then disagree and the
    numbering silently breaks (observed intermittently at sf0.1, e.g.
    25003 rows from a 100000-row stride-4). Checkpointing truncates the
    lineage, so the second pass can only read the already-materialized
    blocks — inconsistency becomes impossible (block loss fails the job
    rather than silently renumbering). This is the same two-job contract
    as RDD ``zipWithIndex``. Wall-clock at 100×: one range shuffle (which
    the global order requires anyway) + one materialization; on a real
    cluster use ``persist(DISK_ONLY)``/reliable checkpoint instead of
    memory, and prefer ``df.sample(1/n)`` (no shuffle, no barrier) when
    the exact stride is not required.

    The driver path sorts with Arrow, so ``order_by`` columns must be of
    types Arrow can sort (numbers, strings, booleans, dates, timestamps).
    """
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    return size_gated(
        df,
        STRIDE_DRIVER_MAX_ROWS,
        lambda t: local_frame(df.sparkSession, _stride_table(t, n, cols), df.schema),
        lambda d: _stride_distributed(d, n, cols),
    )


def _stride_table(table: pa.Table, n: int, cols: list[str]) -> pa.Table:
    """Every n-th row of ``table`` in Spark's ascending order on ``cols``:
    nulls first, and NaN after every other number (Arrow alone would put
    NaN with the nulls)."""
    keys = []
    for c in cols:
        if pa.types.is_floating(table.schema.field(c).type):
            keys.append(pc.is_nan(table[c]))
        keys.append(table[c])
    names = [str(i) for i in range(len(keys))]
    order = pc.sort_indices(
        pa.table(keys, names=names),
        sort_keys=[(k, "ascending") for k in names],
        null_placement="at_start",
    )
    return table.take(order[::n])


def _stride_distributed(df: DataFrame, n: int, cols: list[str]) -> DataFrame:
    local_mask = (1 << 33) - 1
    # Explicit partition count: a user-numbered repartition is an
    # AQE-preserved contract (no post-shuffle coalescing), so partition
    # ids match monotonically_increasing_id's upper bits exactly.
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    d = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftrightunsigned(F.col("__mid"), 33))
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        (r["__pid"], r["__cnt"])
        for r in d.groupBy("__pid").agg(F.count("*").alias("__cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = local_frame(df.sparkSession, offsets or [(0, 0)], "__pid long, __offset long")
    return (
        d.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "__row_idx", F.col("__offset") + F.col("__mid").bitwiseAND(F.lit(local_mask))
        )
        .filter(F.col("__row_idx") % n == 0)
        .drop("__mid", "__pid", "__offset", "__row_idx")
    )
