"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs are
what we would ship to a 1000-executor cluster (AQE on, UTC session TZ, Arrow
enabled, shuffle partitions sized to parallelism rather than the 200
default).

Every small driver-side DataFrame (panel results, offset tables, probe
and query rows, driver fast-path results, test fixtures) is built by
:func:`local_frame`, never by ``spark.createDataFrame(<list>)``. In
PySpark 4.1 classic a list becomes a pickled Python RDD, and every
action over it runs one Python-worker task per partition. The Arrow
table that ``local_frame`` builds becomes a ``LocalRelation`` instead:
no Python worker and no Spark job until the frame meets distributed
data. On a 4-vCPU host (``local[2]``, 8 rows, then ``collect()``), the
list path cost 0.742 CPU-s and 0.425 s wall per call and ran one job;
the Arrow path cost 0.041 CPU-s and 0.040 s and ran none.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Sequence
from datetime import timezone
from typing import TypeVar

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

R = TypeVar("R")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "adsb_clickhouse_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Config choices and why they hold at scale:

    - ``spark.sql.adaptive.enabled`` — AQE re-plans joins/partition counts at
      runtime; at 100 TB this converts accidental sort-merge joins on small
      dims into broadcasts and coalesces tiny shuffle partitions.
    - ``spark.sql.adaptive.skewJoin.enabled`` — hot aircraft / hot users skew
      the keyed shuffles; AQE splits skewed partitions.
    - ``spark.sql.session.timeZone=UTC`` — the reference stores
      second-precision UTC timestamps (scraper emits UTC strings,
      adsb-scraper/scraper.py:181); also required for DuckDB oracle parity.
    - ``spark.sql.shuffle.partitions`` — sized to local parallelism for
      tests; on a real cluster leave AQE's coalescing to right-size it.
    - ``spark.python.sql.dataFrameDebugging.enabled=false`` — with it on
      (the default), PySpark wraps ``F.col`` and every ``Column`` method
      to capture the Python call site: each wrapped call costs about 14
      py4j round trips (active-session lookup, a conf read, setting and
      clearing the JVM's current origin). On a 4-vCPU host, building
      ``latest_per_key`` over the 64-column local state took 0.89 s of
      driver time with it on and 0.17 s with it off. The only loss is the Python call-site
      fragment in error query contexts; plans are unchanged. It is a
      static conf, so it has to be set here, before the session exists.
    - ``spark.driver.memory`` — ``SPARK_GRAFT_DRIVER_MEM``, default 16g. In
      local mode the driver JVM runs every task, and its heap may grow to
      this cap: on a 16 GB host that is all of RAM, and with two test
      runs at once (one JVM at 7.2 GB RSS) the other run's JVM died. On
      such a host run one Spark process at a time, or give each one a
      smaller cap through ``SPARK_GRAFT_DRIVER_MEM`` (e.g. ``4g``).
    """
    n = shuffle_partitions if shuffle_partitions is not None else default_parallelism()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence] | pa.Table, schema: str | T.StructType
) -> DataFrame:
    """A DataFrame over driver-side ``rows``, as an Arrow ``LocalRelation``.

    Returns the same rows and schema as ``spark.createDataFrame(rows,
    schema)``; ``schema`` is a DDL string or a ``StructType``. Each row is
    first checked by the verifier ``createDataFrame`` uses, so a wrong type
    or a ``None`` in a non-nullable field still raises. Naive datetimes in
    timestamp fields are read as local time, as ``createDataFrame`` reads
    them (the Arrow path alone would read them in the session time zone).

    ``rows`` may also be a ``pyarrow.Table`` already in ``schema``'s Arrow
    form, such as the ``toArrow()`` of a frame with that schema; it is
    passed through unverified.
    """
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows, struct)
    verify = _make_type_verifier(struct)
    rows = list(rows)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    arrays = []
    for values, field, arrow_field in zip(columns, struct.fields, arrow_schema):
        if isinstance(field.dataType, T.TimestampType):
            values = [None if v is None else v.astimezone(timezone.utc) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), struct)


def size_gated(
    df: DataFrame,
    threshold: int,
    driver_fn: Callable[[pa.Table], R],
    dist_fn: Callable[[DataFrame], R],
) -> R:
    """``driver_fn`` over ``df``'s rows if it has at most ``threshold`` of
    them, else ``dist_fn(df)``.

    One probe decides: ``df.limit(threshold + 1)`` collected as Arrow.
    That is one Spark job (a local limit per partition and one small
    exchange), where ``limit().collect()`` scans partitions in rounds
    and may run several. At or under the threshold the probe already
    holds every row, so ``driver_fn`` gets them as a ``pyarrow.Table``
    with no second read; a driver form that returns a DataFrame builds
    it with :func:`local_frame`. Above the threshold the probe is an
    extra job over at most ``threshold + 1`` rows, its rows are
    dropped, and ``dist_fn`` reads ``df`` again, so an expensive
    ``df`` should be materialised first.
    """
    probe = df.limit(threshold + 1).toArrow()
    if probe.num_rows <= threshold:
        return driver_fn(probe)
    del probe
    return dist_fn(df)
