"""Structured-Streaming core: CDC envelope, replay harness, run helpers.

This module realizes the reference's event-flow contract
(/root/reference/README.md §3 trace in SURVEY.md):

- ordered row-level change events (README.md:17)  → streaming DataFrame
  with envelope (commit_ts, op, table, before, after)
- resolved-ts flush (README.md:64)               → event-time watermark
- checkpoint-ts broadcast (README.md:65)         → checkpointLocation
  commit log + epoch id in foreachBatch
- plugin sink (README.md:59-68)                  → foreachBatch

Replay harness: every streaming operator is verified by running the
stream over the static events parquet with trigger(availableNow=True)
into a memory sink and comparing against the equivalent batch query
(SURVEY.md §5.3) — deterministic, no wall-clock dependence.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_plg_spark.session import ensure_session_confs

# Parquet-file schema of the events fixture (µs TIMESTAMP since fixture
# v4) — matches what the batch reader sees after catalog.load_table.
EVENTS_RAW_SCHEMA = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                     "event_type STRING, value DOUBLE, props STRING")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as an unbounded stream (file source).

    File sources need an explicit schema; ts is a µs TIMESTAMP
    (isAdjustedToUTC=false, read as plain TimestampType under the UTC
    session) — identical to the batch path in catalog.load_table.
    """
    ensure_session_confs(spark)
    # events.parquet is a single file; a non-glob path would make
    # FileStreamSource force basePath to it (must be a directory). A glob
    # skips that branch and leaves our directory basePath in effect.
    path = os.path.join(sf_dir, "events.[p]arquet")
    return (spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("basePath", sf_dir).parquet(path))


def read_cdc_kafka(spark: SparkSession, bootstrap_servers: str, topic: str,
                   value_schema: str, starting_offsets: str = "earliest",
                   ) -> DataFrame:
    """Production CDC source: a Kafka topic of JSON change events
    (README.md:17's ordered row-change stream over README.md:75's JSON
    wire format). Key = routing key (ordering unit), value = the
    serialized RowChangedEvent; this parses the envelope into typed
    columns. Requires the spark-sql-kafka connector on the classpath —
    no broker exists in this container, so tests use the file-source
    replay (`read_events_stream`) which yields the identical envelope
    downstream.

    Scale notes: one Kafka partition maps to one Spark input partition;
    `minPartitions` can fan heavier topics wider, and maxOffsetsPerTrigger
    bounds micro-batch size for backpressure.
    """
    ensure_session_confs(spark)
    raw = (spark.readStream.format("kafka")
           .option("kafka.bootstrap.servers", bootstrap_servers)
           .option("subscribe", topic)
           .option("startingOffsets", starting_offsets)
           .load())
    return (raw.select(
        F.col("key").cast("string").alias("routing_key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("e"),
        "timestamp")
        .select("routing_key", "e.*", "timestamp"))


def to_cdc_envelope(events: DataFrame) -> DataFrame:
    """Wrap raw events in the reference's change-event envelope
    (model.RowChangedEvent, README.md:62): commit_ts + op + table +
    before/after images. op is derived deterministically from the
    event type (signup→I, error→D, else U)."""
    row_t = "struct<event_id:bigint,user_id:bigint,event_type:string,value:double>"
    image = F.struct("event_id", "user_id", "event_type", "value")
    null_image = F.lit(None).cast(row_t)
    return events.select(
        F.col("ts").alias("commit_ts"),
        F.when(F.col("event_type") == "signup", "I")
         .when(F.col("event_type") == "error", "D")
         .otherwise("U").alias("op"),
        F.lit("events").alias("table"),
        # inserts have no before-image; deletes have no after-image
        F.when(F.col("event_type") == "signup", null_image)
         .otherwise(image).alias("before"),
        F.when(F.col("event_type") == "error", null_image)
         .otherwise(image).alias("after"),
    )


def staged_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a MULTI-BATCH stream whose watermark
    provably passes every real event: the events file plus three
    far-future sentinel files (one 'view' + one 'click' row each,
    user_id = -1), read with maxFilesPerTrigger=1 → four micro-
    batches, three watermark advances. Three sentinels (not two)
    because watermark-driven callbacks — outer-join NULL flush,
    per-key event-time TIMEOUTS — fire in the batch AFTER the
    advance that arms them: keys whose events lie inside the final
    watermark-delay window of the last real event need the extra
    batch, or their timers stay armed forever.

    Operators whose output only emits when the watermark passes —
    outer-join NULL padding, append-mode window finalization — need
    this: a single availableNow batch computes everything but flushes
    nothing. Two layout facts learned the hard way: the file source
    lists only top-level files (a subdirectory's part files are
    silently skipped), and watermarks are tracked per
    EventTimeWatermark node AFTER upstream filters — so sentinels
    must carry every event_type a downstream filter selects on.
    Consumers must drop user_id < 0 rows from final results.
    """
    import shutil

    from cdc_plg_spark.catalog import cache_dir, load_table

    ensure_session_confs(spark)
    stage = cache_dir("stream_staged", sf_dir)
    if not os.path.isdir(stage):
        # Build the 4-file layout in a scratch dir and rename it into
        # place as the LAST step: a crash mid-population must never
        # leave a partial `stage` (e.g. missing sentinel3.parquet) that
        # later runs would silently reuse — final-window timers and
        # outer-join flushes would then never fire, with no error.
        build = stage + ".build"
        shutil.rmtree(build, ignore_errors=True)
        os.makedirs(build)
        shutil.copy(os.path.join(sf_dir, "events.parquet"),
                    os.path.join(build, "batch0.parquet"))
        max_us = (load_table(spark, "events", sf_dir)
                  .agg(F.max(F.unix_micros("ts"))).collect()[0][0])
        hour_us = 3600 * 10**6
        for i, off in enumerate((hour_us, 2 * hour_us, 3 * hour_us),
                                start=1):
            tmp = os.path.join(build, f"_build{i}")
            # build via integer µs + timestamp_micros (JVM-side): naive
            # datetimes through createDataFrame would round-trip the
            # Python process's LOCAL timezone, shifting the instant
            (spark.createDataFrame(
                [(-(2 * i + 100), max_us + off, -1, "view", 0.0, "{}"),
                 (-(2 * i + 101), max_us + off, -1, "click", 0.0, "{}")],
                "event_id BIGINT, ts_us BIGINT, user_id BIGINT, "
                "event_type STRING, value DOUBLE, props STRING")
             .select("event_id",
                     F.timestamp_micros("ts_us").alias("ts"),
                     "user_id", "event_type", "value", "props")
             .coalesce(1).write.mode("overwrite").parquet(tmp))
            part = next(f for f in os.listdir(tmp)
                        if f.endswith(".parquet") and not f.startswith("."))
            os.replace(os.path.join(tmp, part),
                       os.path.join(build, f"sentinel{i}.parquet"))
            shutil.rmtree(tmp)
        try:
            os.rename(build, stage)  # atomic publish
        except OSError:
            shutil.rmtree(build, ignore_errors=True)  # concurrent builder won
    # file stream picks files oldest-first: force the intended order
    now = os.path.getmtime(os.path.join(stage, "batch0.parquet"))
    for i in (1, 2, 3):
        os.utime(os.path.join(stage, f"sentinel{i}.parquet"),
                 (now + 60 * i, now + 60 * i))
    return (spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", "1").parquet(stage))


# Per-call scratch roots (checkpoint + parquet spill), removed at
# process exit: the spill must outlive run_to_table (the returned
# DataFrame reads it lazily) but nothing outlives the session.
_SCRATCH_ROOTS: list[str] = []


def _purge_scratch() -> None:
    import shutil

    for d in _SCRATCH_ROOTS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_purge_scratch)


def run_to_table(stream_df: DataFrame, output_mode: str = "append",
                 name: str | None = None) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow);
    return the materialized result as a batch DataFrame.

    Append-mode streams spill through a parquet FILE sink and read the
    sink's output back: the memory sink materializes every micro-batch
    single-threaded into driver memory (each addBatch is a collect()),
    which measured 4.6x slower than the file sink on the outer-join
    flush stream at sf0.1 — and is exactly the driver-side
    materialization a query path must avoid at scale.  Complete/update
    modes keep the memory sink: file sinks are append-only by contract
    (they cannot retract or rewrite rows already flushed), and every
    complete/update caller here returns a small aggregate."""
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    root = tempfile.mkdtemp(prefix=f"rtt_{name}_")
    _SCRATCH_ROOTS.append(root)
    w = (stream_df.writeStream
         .outputMode(output_mode)
         .option("checkpointLocation", os.path.join(root, "ckpt"))
         .trigger(availableNow=True))
    if output_mode == "append":
        out = os.path.join(root, "out")
        q = w.format("parquet").option("path", out).start()
        q.awaitTermination()
        # Explicit schema: an all-null or zero-row stream must still
        # come back with the stream's exact column types.  A stream
        # that committed ZERO batches never creates the sink dir, so
        # make it exist before reading — the explicit schema then
        # yields a typed empty DataFrame instead of a path error
        # (ADVICE r13; the memory sink used to return an empty table).
        os.makedirs(out, exist_ok=True)
        return spark.read.schema(stream_df.schema).parquet(out)
    q = w.format("memory").queryName(name).start()
    q.awaitTermination()
    return spark.table(name)


def run_foreach_batch(stream_df: DataFrame, batch_fn, checkpoint_dir: str) -> None:
    """The reference's pluggable sink (README.md:59-68,:73): user code
    receives (micro-batch DataFrame, epoch_id). epoch_id is the
    checkpoint-ts analogue — sinks key idempotent writes on it
    (README.md:119's idempotence requirement)."""
    q = (stream_df.writeStream
         .foreachBatch(batch_fn)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def run_foreach_batch_isolated(stream_df: DataFrame, batch_fn,
                               checkpoint_dir: str,
                               dead_letter_dir: str) -> list[int]:
    """Plugin FAILURE ISOLATION (the reference's sandbox guarantee,
    README.md:38-49,:124-125: a plugin must not crash the engine) —
    realized Spark-natively: the per-batch plugin runs inside a guard;
    if it raises, the whole micro-batch is quarantined as parquet under
    `dead_letter_dir/epoch=<id>/` (with the error recorded alongside)
    and the STREAM KEEPS RUNNING — the batch is marked consumed in the
    checkpoint, so one poison batch cannot wedge the changefeed into a
    crash-retry loop.  Returns the quarantined epoch ids.

    This trades the RFC's process-sandbox (WASM guest) for Spark's
    own boundary: plugin code already runs outside the engine loop,
    and the dead-letter quarantine adds the missing don't-kill-the-
    -pipeline semantics.  Ops replay the DLQ through the fixed plugin
    (each quarantined batch carries its epoch id, so the replay is
    idempotent by the same (app, epoch) keying every sink here uses).
    """
    import json as _json
    import os as _os

    poisoned: list[int] = []

    def guarded(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            batch_fn(batch_df, epoch_id)
        except Exception as e:  # noqa: BLE001 - the isolation boundary
            dlq = _os.path.join(dead_letter_dir, f"epoch={epoch_id}")
            batch_df.write.mode("overwrite").parquet(dlq)
            with open(_os.path.join(dlq, "_ERROR.json"), "w") as f:
                _json.dump({"epoch": epoch_id, "error_type":
                            type(e).__name__, "error": str(e)[:2000]}, f)
            poisoned.append(epoch_id)

    run_foreach_batch(stream_df, guarded, checkpoint_dir)
    return poisoned
