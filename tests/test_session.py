"""The engine configuration contract (cdc_plg_spark/session.py): engine
calls force the required confs and never resize a live session's
shuffles; an unsized session is sized to the box once."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdc_plg_spark.catalog import load_table
from cdc_plg_spark.lakehouse import TxLogTable
from cdc_plg_spark.session import REQUIRED_CONFS, ensure_session_confs
from cdc_plg_spark.streaming.core import read_events_stream

PARTS = "spark.sql.shuffle.partitions"


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
