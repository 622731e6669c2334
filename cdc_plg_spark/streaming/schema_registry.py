"""DDL / schema-change flow (SURVEY.md §3.2).

The reference interleaves schema changes with data as first-class
events: sinks receive DDL via EmitDDLEvent and may adapt per-event
behavior to the current table schema (/root/reference/README.md:57,
:63, :89). Spark streams have a fixed schema per run, so the engine
maps the contract to three cooperating pieces:

1. **Schema registry table** — `(table, version, schema_json,
   effective_ts)`, itself just a DataFrame/parquet table. A DDL event
   appends a new version row; consumers resolve "the schema of table T
   at time ts" with an as-of lookup (the join_asof pattern).
2. **mergeSchema batch reads** — data files written under different
   schema versions unify on read; missing columns are NULL, the
   standard parquet-evolution semantics.
3. **Controlled restart** — an incompatible DDL stops the streaming
   query and restarts it with the new schema against the SAME
   checkpointLocation; Spark's commit log guarantees no reprocessing
   (tests/test_schema_registry.py::test_restart_with_new_schema).

This is deliberately weaker than the reference's per-event DDL
interleave — documented as such (SURVEY.md §7 hard parts) — but it is
the idiomatic Spark design: schema transitions are epoch boundaries,
not per-row branches, which is also what keeps 100 TB scans
whole-stage-codegen'd (a per-row schema switch would force interpreted
paths everywhere).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_plg_spark.session import ensure_session_confs

REGISTRY_SCHEMA = ("table STRING, version INT, schema_json STRING, "
                   "effective_ts TIMESTAMP")


def _to_ts(ts: str | datetime) -> datetime:
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return ts


def register_schema(spark: SparkSession, registry_path: str, table: str,
                    schema: StructType | str, effective_ts: str | datetime,
                    version: int | None = None) -> int:
    """Apply a DDL event (README.md:63): append the table's new schema
    version. Returns the version number assigned."""
    ensure_session_confs(spark)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if version is None:
        try:
            cur = (spark.read.schema(REGISTRY_SCHEMA).parquet(registry_path)
                   .filter(F.col("table") == table)
                   .agg(F.max("version")).collect()[0][0])
        except Exception:
            cur = None
        version = (cur or 0) + 1
    row = [(table, version, schema.json(), _to_ts(effective_ts))]
    (spark.createDataFrame(row, REGISTRY_SCHEMA)
     .write.mode("append").parquet(registry_path))
    return version


def schema_as_of(spark: SparkSession, registry_path: str, table: str,
                 ts: str | datetime) -> StructType:
    """The schema of `table` in force at event-time `ts` — the lookup a
    per-event plugin would make via host_call (README.md:89). As-of
    semantics: latest version with effective_ts <= ts."""
    reg = spark.read.schema(REGISTRY_SCHEMA).parquet(registry_path)
    row = (reg.filter((F.col("table") == table) &
                      (F.col("effective_ts") <= F.lit(_to_ts(ts))))
           .orderBy(F.desc("version")).limit(1)
           .select("schema_json").collect())
    if not row:
        raise KeyError(f"no schema registered for {table!r} at {ts}")
    return StructType.fromJson(json.loads(row[0]["schema_json"]))


def read_evolved(spark: SparkSession, data_path: str) -> DataFrame:
    """Read a table whose files span schema versions: parquet
    mergeSchema unifies; columns absent in older files surface as NULL."""
    ensure_session_confs(spark)
    return spark.read.option("mergeSchema", "true").parquet(data_path)


def evolve_table(spark: SparkSession, base_dir: str, table: str,
                 batches: list[tuple[DataFrame, StructType | str, str]],
                 ) -> tuple[str, str]:
    """Write successive batches of `table` under successive schemas,
    registering each version — the batch-side realization of a DDL
    stream. Returns (data_path, registry_path)."""
    data_path = os.path.join(base_dir, table)
    registry_path = os.path.join(base_dir, "_schema_registry")
    for df, schema, effective_ts in batches:
        register_schema(spark, registry_path, table, schema, effective_ts)
        df.write.mode("append").parquet(data_path)
    return data_path, registry_path
