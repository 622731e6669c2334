"""The engine's one Spark configuration and its SparkSession factory.

Every Spark conf the package sets is written here, once, in one of two
groups:

- REQUIRED_CONFS change results or the file format, so they hold on
  every session the engine touches — including a vanilla session a
  driver harness builds itself.  `ensure_session_confs` forces them at
  runtime (all are dynamic SQL confs); the catalog, the lakehouse
  writer and the streaming readers call it before they build a plan.
  UTC because the oracle harness compares timestamps as UTC; ANSI off
  because engine semantics are permissive SQL; the two parquet read
  confs because the fixtures store ns and UTC-naive µs timestamps;
  INT64 µs writes because INT96 columns carry no statistics.
- BUILD_DEFAULTS are choices for sessions `get_spark` builds: Arrow on,
  a 64 MB broadcast threshold, the RocksDB state store (per-key state
  off the JVM heap), no UI, and a driver heap sized to the box.  A
  foreign session keeps its own values for these.

`spark.sql.shuffle.partitions` is filled from the core count
(`defaultParallelism`) when a session has no value, and never changed
once set: Structured Streaming records a stateful query's partition
count in its checkpoint at first start, and a count that changes
mid-session would make it depend on call order.  AQE (Spark's default)
coalesces small shuffles, re-plans join strategy and splits skewed
joins at runtime — the main defense against skew and mis-sized
shuffles at scale — so the engine relies on it rather than tuning
partition counts per query.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

REQUIRED_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # oracle parity on casts/overflow is handled per query with try_*
    # functions; hash wraparound also assumes non-ANSI arithmetic
    "spark.sql.ansi.enabled": "false",
    # fixture `events.ts` is parquet TIMESTAMP(NANOS), which Spark's
    # reader rejects; read as long ns and convert in catalog.load_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # fixture timestamps are µs with isAdjustedToUTC=false; with NTZ
    # inference on they'd surface as TIMESTAMP_NTZ and every
    # unix_micros/watermark call breaks.  Read them as TimestampType —
    # session TZ is UTC, so the instant matches DuckDB's naive read —
    # and keep the scan type native so filters still push down.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # INT64 TIMESTAMP(MICROS), not legacy INT96: INT96 carries no
    # parquet column statistics, which would forfeit footer-derived
    # time-range data skipping on every table the engine writes
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def phys_mem_bytes() -> int:
    """Physical memory of this host."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


BUILD_DEFAULTS: dict[str, str] = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.ui.enabled": "false",
    # half of physical memory, capped at 8g
    "spark.driver.memory": f"{min(phys_mem_bytes() // 2**21, 8192)}m",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Force REQUIRED_CONFS on `spark` and size its shuffles to the box
    if nothing has sized them yet."""
    for k, v in REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except AnalysisException:
            pass  # a harness that locks a conf keeps its own value
    if spark.conf.get("spark.sql.shuffle.partitions", None) is None:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))


def get_spark(app_name: str = "cdc_plg_spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a cluster, pass ``master=None`` with a pre-configured
    spark-submit and the builder only applies missing confs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**REQUIRED_CONFS, **BUILD_DEFAULTS,
                 **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_session_confs(spark)
    return spark
