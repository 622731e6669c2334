"""The engine configuration contract (cdc_plg_spark/session.py): engine
calls force the required confs and never resize a live session's
shuffles; an unsized session is sized to the box once; a session
`get_spark` builds keeps the generated classes of repeated queries."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdc_plg_spark import registry
from cdc_plg_spark.catalog import load_table
from cdc_plg_spark.lakehouse import TxLogTable
from cdc_plg_spark.session import REQUIRED_CONFS, ensure_session_confs
from cdc_plg_spark.streaming.core import read_events_stream

PARTS = "spark.sql.shuffle.partitions"

# Registry ids whose whole-stage codegen classes together exceed Spark's
# default generated-class cache of 100 entries (about 140 classes per pass at
# sf0.01), so with that default every repeat recompiles them.
CODEGEN_GROUP = (
    "tfidf_keywords", "flagship_cdc_compaction", "ts_ewma",
    "sim_topk_search", "analytics_nation_volume",
    "analytics_shipping_priority", "analytics_volume_shipping",
    "join_asof_nearest",
)


def _confs(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in (*REQUIRED_CONFS, PARTS)}


def test_engine_calls_leave_session_confs_alone(spark, sf_dir, tmp_path):
    before = _confs(spark)
    assert {k: before[k] for k in REQUIRED_CONFS} == REQUIRED_CONFS
    load_table(spark, "orders", sf_dir).count()
    TxLogTable.create(spark, os.path.join(tmp_path, "t"),
                      spark.range(10).select(F.col("id").alias("k")), "k")
    read_events_stream(spark, sf_dir)
    assert _confs(spark) == before


def test_unset_shuffle_partitions_filled_from_core_count(spark):
    prev = spark.conf.get(PARTS)
    try:
        spark.conf.unset(PARTS)
        assert spark.conf.get(PARTS, None) is None
        ensure_session_confs(spark)
        assert spark.conf.get(PARTS) == \
            str(spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set(PARTS, prev)


def test_explicit_shuffle_partitions_never_overwritten(spark, sf_dir):
    prev = spark.conf.get(PARTS)
    try:
        spark.conf.set(PARTS, "7")
        ensure_session_confs(spark)
        load_table(spark, "orders", sf_dir)
        assert spark.conf.get(PARTS) == "7"
    finally:
        spark.conf.set(PARTS, prev)


def _compiles(spark) -> int:
    """Generated classes the JVM has compiled so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_reuse_generated_classes(spark, sf_dir):
    entries = registry.all_entries()

    def run_group() -> int:
        before = _compiles(spark)
        for qid in CODEGEN_GROUP:
            entries[qid].fn(spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
        return _compiles(spark) - before

    run_group()
    # a warm repeat only compiles the classes a re-plan generates anew
    # (0-9 seen); with Spark's 100-entry cache it recompiles ~140
    assert run_group() <= 40
