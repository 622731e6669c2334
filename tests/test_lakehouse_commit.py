"""The commit path every TxLogTable writer shares.

Contract under test:
- every retrying ALTER (and stamp_hashes) survives one lost commit race
  by re-running against the fresh snapshot — landing at the next
  version without dropping the concurrent writer's change — and raises
  ConflictError once its attempts run out;
- the metadata table covers every Snapshot metadata field, and replay,
  checkpoint load, a shallow clone and a log written with full-meta
  actions (the older writers' format) all yield the same metadata;
- meta actions carry only the fields they change;
- a commit replays the log for a checkpoint only when one is due.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_plg_spark.lakehouse import (
    CHECKPOINT_EVERY, ConflictError, Snapshot, TxLogTable, _META_KEYS,
    _ckpt_name, _meta_of, _vname,
)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="txlog_commit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def mk(spark, path, **kw):
    df = spark.range(0, 40).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("value"),
        F.col("id").cast("int").alias("small"),
        F.lit("t").alias("tag"))
    return TxLogTable.create(spark, path, df, "user_id", n_files=2, **kw)


def last_meta(t):
    with open(os.path.join(t.log_dir, _vname(t.snapshot().version))) as f:
        return next(a["meta"] for a in map(json.loads, f) if "meta" in a)


# op -> (call, effect visible in the snapshot after it landed)
ALTERS = {
    "rename_column": (lambda t: t.rename_column("tag", "label"),
                      lambda s: s.mapping == {"user_id": "user_id",
                                              "value": "value",
                                              "small": "small",
                                              "label": "tag"}),
    "widen_column_type": (lambda t: t.widen_column_type("small", "long"),
                          lambda s: '"long"' in s.schema_json
                          and s.protocol == [2, 2]),
    "add_column": (lambda t: t.add_column("extra", "long", default="7"),
                   lambda s: s.defaults == {"extra": "7"}),
    "add_check": (lambda t: t.add_check("mine", "value >= 0"),
                  lambda s: s.checks.get("mine") == "value >= 0"),
    "drop_check": (lambda t: t.drop_check("pre"),
                   lambda s: "pre" not in s.checks),
    "drop_column": (lambda t: t.drop_column("tag"),
                    lambda s: s.retired == ["tag"]),
    "upgrade_protocol": (lambda t: t.upgrade_protocol(min_reader=2),
                         lambda s: s.protocol == [2, 1]),
    "stamp_hashes": (lambda t: t.stamp_hashes(),
                     lambda s: all("sha256" in e
                                   for e in s.files.values())),
}


@pytest.mark.parametrize("op", sorted(ALTERS))
def test_alter_retries_after_one_lost_race(spark, tdir, op):
    call, landed = ALTERS[op]
    t = mk(spark, os.path.join(tdir, "t"), checks={"pre": "user_id >= 0"})
    v0 = t.snapshot().version
    real = t._try_commit
    lost = {"n": 0}

    def racing(version, actions):
        if not lost["n"]:
            lost["n"] += 1
            TxLogTable(spark, t.path).add_check("racer", "user_id > -1")
        return real(version, actions)

    t._try_commit = racing
    r = call(t)
    assert lost["n"] == 1 and r["version"] == v0 + 2
    snap = t.snapshot()
    assert snap.version == v0 + 2
    assert snap.checks["racer"] == "user_id > -1"     # concurrent survives
    assert landed(snap)


@pytest.mark.parametrize("op", sorted(ALTERS))
def test_alter_raises_when_every_race_is_lost(spark, tdir, op):
    call, _ = ALTERS[op]
    t = mk(spark, os.path.join(tdir, "t"), checks={"pre": "user_id >= 0"})
    v0 = t.snapshot().version
    t._try_commit = lambda version, actions: False
    with pytest.raises(ConflictError, match="retries exhausted"):
        call(t)
    assert t.snapshot().version == v0


def test_meta_table_covers_every_snapshot_field():
    fields = {f_.name for f_ in dataclasses.fields(Snapshot)}
    assert set(_META_KEYS) == fields - {"version", "files", "txns"}


def test_metadata_identical_across_replay_checkpoint_clone_and_full_meta(
        spark, tdir):
    df = spark.range(0, 40).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("value"),
        F.col("id").cast("int").alias("small"),
        (F.col("id") % 2).cast("string").alias("region"),
        F.lit("t").alias("tag"))
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df, "user_id",
                          n_files=2, partition_by=["region"],
                          key_bloom_bits=8,
                          checks={"v_nonneg": "value >= 0"},
                          generated={"g": "value + 1"})
    t.rename_column("tag", "label")                        # mapping
    t.add_column("extra", "long", default="7")             # defaults
    t.drop_column("label")                                 # retired
    t.upgrade_protocol(min_reader=2)                       # [2, 2]
    t.delete_where(key_between=(3, 3), mode="dv")          # a dv entry
    a = t.snapshot()
    fresh = Snapshot(version=-1)
    for attr in set(_META_KEYS) - {"owns_root"}:          # convert-only
        assert getattr(a, attr) != getattr(fresh, attr), attr
    assert a.protocol == [2, 2]

    # a full-meta action, spelled the way older writers wrote every ALTER
    assert t._try_commit(a.version + 1, [
        {"commit": {"op": "ALTER"}},
        {"meta": {"schema": a.schema_json, "key_col": a.key_col,
                  "column_mapping": a.mapping,
                  "retired_physical": a.retired,
                  "partition_by": a.partition_by,
                  "key_bloom_bits": a.bloom_bits, "checks": a.checks,
                  "owns_root": a.owns_root, "protocol": a.protocol,
                  "generated": a.generated, "defaults": a.defaults}}])
    replayed = t.snapshot()
    assert replayed == dataclasses.replace(a, version=a.version + 1)

    t._write_checkpoint(replayed)
    with open(os.path.join(t.log_dir, _ckpt_name(replayed.version))) as f:
        assert set(json.load(f)) == {
            "files", "txns", "schema", "key_col", "column_mapping",
            "retired_physical", "partition_by", "key_bloom_bits", "checks",
            "owns_root", "protocol", "generated", "defaults"}
    assert t.snapshot() == replayed                      # checkpoint load

    c = t.clone(os.path.join(tdir, "c")).snapshot()
    assert _meta_of(c) == _meta_of(a)
    stamps = ("mtime_ns", "bloom_mtime_ns")
    assert ({os.path.relpath(p, t.path):
             {k: v for k, v in e.items() if k not in stamps}
             for p, e in c.files.items()}
            == {p: {k: v for k, v in e.items() if k not in stamps}
                for p, e in a.files.items()})


def test_meta_actions_carry_only_what_changed(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"))
    t.rename_column("tag", "label")          # mapping now explicit
    t.add_check("v", "value >= 0")
    assert set(last_meta(t)) == {"checks"}
    t.drop_check("v")
    assert set(last_meta(t)) == {"checks"}
    t.widen_column_type("small", "long")
    assert set(last_meta(t)) == {"schema", "protocol"}
    t.add_column("extra", "long")
    assert set(last_meta(t)) == {"schema", "column_mapping"}
    t.append(spark.sql("SELECT 100L AS user_id, 1L AS value, 1L AS small, "
                       "'x' AS label, 2L AS extra, 'w' AS wide"))
    assert set(last_meta(t)) == {"schema", "column_mapping"}
    assert t.read().filter("user_id = 100").head()["wide"] == "w"


def test_commit_replays_for_checkpoint_only_when_due(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"))
    real = t.snapshot
    pinned = []

    def counting(version=None):
        if version is not None:
            pinned.append(version)
        return real(version)

    t.snapshot = counting
    names = ["tag", "tag2"]
    for i in range(CHECKPOINT_EVERY):
        t.rename_column(names[i % 2], names[(i + 1) % 2])
    assert t.snapshot().version == CHECKPOINT_EVERY
    assert pinned == [CHECKPOINT_EVERY]
    assert os.path.exists(os.path.join(t.log_dir,
                                       _ckpt_name(CHECKPOINT_EVERY)))


def test_no_checkpoint_past_a_floor_this_client_cannot_write(spark, tdir):
    t = mk(spark, os.path.join(tdir, "t"))
    names = ["tag", "tag2"]
    for i in range(CHECKPOINT_EVERY - 1):
        t.rename_column(names[i % 2], names[(i + 1) % 2])
    r = t.upgrade_protocol(min_writer=3, allow_unsupported=True)
    assert r["version"] == CHECKPOINT_EVERY
    assert not os.path.exists(os.path.join(t.log_dir,
                                           _ckpt_name(CHECKPOINT_EVERY)))
    assert t.snapshot().protocol == [1, 3]
