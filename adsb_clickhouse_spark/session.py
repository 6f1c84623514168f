"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs are
what we would ship to a 1000-executor cluster (AQE on, UTC session TZ, Arrow
enabled, shuffle partitions sized to parallelism rather than the 200
default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
