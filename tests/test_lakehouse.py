"""Format-invariant tests for the TxLog lakehouse table format.

The registered lakehouse_* queries hash-verify table CONTENT against
DuckDB; these tests pin the format-level guarantees a content oracle
cannot see: atomic commit under racing writers, file-stats pruning
proportionality, epoch idempotence (exactly-once), conflict detection,
checkpoint-replay equivalence, and vacuum hygiene.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from cdc_plg_spark.lakehouse import (
    CHECKPOINT_EVERY, ConflictError, TxLogTable, _ckpt_name,
)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="txlog_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def make_table(spark, path, n=1000, n_files=8):
    df = spark.range(0, n).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("value"))
    return TxLogTable.create(spark, path, df, "user_id", n_files=n_files)


def src(spark, rows):
    """rows = [(key, value, op), ...]"""
    return spark.createDataFrame(rows, "user_id long, value long, op string")


def test_create_read_roundtrip(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"))
    assert t.read().count() == 1000
    snap = t.snapshot()
    assert snap.version == 0
    assert len(snap.files) == 8
    assert sum(s["rows"] for s in snap.files.values()) == 1000
    # range clustering: files carry disjoint, ordered key ranges
    ranges = sorted((s["min_key"], s["max_key"]) for s in snap.files.values())
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_merge_prunes_files(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"))
    # a narrow-range delta must not rewrite the whole table
    delta = src(spark, [(100, -1, "U"), (101, -1, "U"), (105, 0, "D")])
    m = t.merge(delta, op_col="op")
    assert m["files_scanned"] == 1          # all three keys in one file
    assert m["files_pruned"] == 7
    head = t.read()
    assert head.count() == 999
    assert head.filter(F.col("user_id") == 100).head()["value"] == -1
    assert head.filter(F.col("user_id") == 105).count() == 0


def test_merge_insert_outside_all_ranges(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"))
    m = t.merge(src(spark, [(5000, 7, "I")]), op_col="op")
    assert m["files_scanned"] == 0          # pure insert: no rewrite at all
    assert t.read().count() == 1001
    assert t.read(key_between=(5000, 5000)).count() == 1


def test_read_key_between_prunes_manifest(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"))
    pruned = t.read(key_between=(0, 10))
    assert pruned.count() == 11
    # manifest-level pruning: the scan lists 1 of the 8 files
    files_scanned = {r[0] for r in
                     pruned.select(F.input_file_name()).distinct().collect()}
    assert len(files_scanned) == 1


def test_time_travel_and_history(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op")
    t.merge(src(spark, [(1, 0, "D")]), op_col="op")
    assert t.read(version=0).filter("user_id = 1").head()["value"] == 2
    assert t.read(version=1).filter("user_id = 1").head()["value"] == -1
    assert t.read(version=2).filter("user_id = 1").count() == 0
    assert [h["op"] for h in t.history()] == ["CREATE", "MERGE", "MERGE"]


def test_epoch_idempotence(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    delta = src(spark, [(1, -1, "U")])
    r1 = t.merge(delta, op_col="op", txn=("app", 3))
    r2 = t.merge(delta, op_col="op", txn=("app", 3))   # replayed epoch
    r3 = t.merge(delta, op_col="op", txn=("app", 2))   # stale epoch
    assert not r1["skipped"] and r2["skipped"] and r3["skipped"]
    assert t.snapshot().version == r1["version"]       # exactly one commit
    r4 = t.append(delta.drop("op"), txn=("app", 3))    # cross-op replay
    assert r4["skipped"]


def test_concurrent_appends_all_land(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=10, n_files=1)
    extra = spark.createDataFrame(
        [(10_000, 1)], "user_id long, value long")

    def do_append(i):
        return TxLogTable(spark, t.path).append(
            extra.withColumn("user_id", F.col("user_id") + i), n_files=1)

    with ThreadPoolExecutor(4) as ex:
        results = list(ex.map(do_append, range(4)))
    versions = sorted(r["version"] for r in results)
    assert versions == [1, 2, 3, 4]         # every writer won a distinct slot
    assert t.read().count() == 14


def test_merge_conflict_detected(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    # simulate a racing writer removing a candidate file between this
    # writer's snapshot and its commit: pre-claim the version slot with
    # a remove of the file the merge wants to rewrite
    snap = t.snapshot()
    victim = next(p for p, s in snap.files.items() if s["min_key"] <= 1)
    assert t._try_commit(1, [{"commit": {"op": "DELETE"}},
                             {"remove": {"path": victim}}])
    delta = src(spark, [(1, -1, "U")])
    # merge computed against v0 would rewrite `victim`; it must either
    # retry cleanly against v1 or raise ConflictError — never commit a
    # stale rewrite silently.  Here the file is gone, so retry works.
    m = t.merge(delta, op_col="op")
    assert m["version"] == 2
    assert t.read().filter("user_id = 1").head()["value"] == -1


def test_checkpoint_replay_equivalence(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=50, n_files=1)
    for i in range(CHECKPOINT_EVERY + 2):
        t.merge(src(spark, [(i, -100 - i, "U")]), op_col="op")
    ckpts = t._checkpoints()
    assert ckpts, "a checkpoint should have been written"
    # replay THROUGH the checkpoint must equal replay from scratch
    via_ckpt = t.snapshot()
    os.unlink(os.path.join(t.log_dir, _ckpt_name(ckpts[-1])))
    from_scratch = t.snapshot()
    assert via_ckpt.files == from_scratch.files
    assert via_ckpt.txns == from_scratch.txns


def test_vacuum_removes_unreachable_keeps_head(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=200, n_files=4)
    for i in range(3):
        t.merge(src(spark, [(i, -1, "U")]), op_col="op")
    before = t.read().orderBy("user_id").collect()
    vm = t.vacuum(retain_last=2, min_age_s=0)
    assert vm["data_files_removed"] > 0
    assert t.read().orderBy("user_id").collect() == before
    with pytest.raises(ValueError):
        t.read(version=0)
    # orphan audit: disk == union of retained versions' manifests
    reachable = set()
    for v in t._versions():
        reachable.update(t.snapshot(v).files)
    on_disk = {os.path.join("data", sub, f)
               for sub in os.listdir(os.path.join(t.path, "data"))
               for f in os.listdir(os.path.join(t.path, "data", sub))
               if f.endswith(".parquet")}
    assert on_disk == reachable


def test_delete_where_whole_file_drop_no_data_pass(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"))
    snap = t.snapshot()
    # pick one whole file's exact range: dropping it needs no rewrite
    p, s = sorted(snap.files.items(), key=lambda kv: kv[1]["min_key"])[0]
    dm = t.delete_where((s["min_key"], s["max_key"]))
    assert dm["files_dropped"] == 1
    assert dm["files_rewritten"] == 0
    assert t.read().count() == 1000 - s["rows"]


def test_optimize_compacts_without_content_change(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=400, n_files=1)
    # fragment the table: each out-of-range insert lands as its own
    # small file (the streaming-sink steady state this compacts)
    for i in range(4):
        t.merge(src(spark, [(1000 + i * 100, -1, "I")]), op_col="op")
    before = t.read().orderBy("user_id").collect()
    n_before = len(t.snapshot().files)
    v_before = t.snapshot().version
    m = t.optimize(target_files=1)
    assert not m["skipped"]
    assert len(t.snapshot().files) < n_before
    assert t.read().orderBy("user_id").collect() == before
    # a pure layout transaction: the change feed across it is empty
    assert t.table_changes(v_before, m["version"]).count() == 0


def test_table_changes_net_iud(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    t.merge(src(spark, [(5, -1, "U"), (7, 0, "D"), (500, 9, "I")]),
            op_col="op")
    rows = {(r["change_type"], r["user_id"]): r["value"]
            for r in t.table_changes(0, 1).collect()}
    assert rows == {("U", 5): -1, ("D", 7): 14, ("I", 500): 9}
    # net semantics across a longer range: insert then delete cancels
    t.merge(src(spark, [(500, 0, "D")]), op_col="op")
    net = {(r["change_type"], r["user_id"])
           for r in t.table_changes(0, 2).collect()}
    assert ("I", 500) not in net and ("D", 500) not in net
    assert ("U", 5) in net and ("D", 7) in net


def test_merge_order_by_is_batch_order_independent(spark, tdir):
    batches = [
        [(1, 10, "U", 100), (2, 20, "U", 100)],
        [(1, 11, "U", 200), (3, 0, "D", 200)],
        [(2, 22, "U", 50)],                       # stale: loses to ts=100
    ]

    def final_state(order):
        d = tempfile.mkdtemp(prefix="txlog_ord_")
        base = spark.createDataFrame(
            [(1, 0, 0), (2, 0, 0), (3, 0, 0)],
            "user_id long, value long, ts long")
        t = TxLogTable.create(spark, os.path.join(d, "t"), base,
                              "user_id", n_files=1)
        for i in order:
            delta = spark.createDataFrame(
                [(k, v, ts, o) for k, v, o, ts in batches[i]],
                "user_id long, value long, ts long, op string")
            t.merge(delta, op_col="op", order_by=("ts",))
        out = tuple(sorted((r["user_id"], r["value"], r["ts"])
                           for r in t.read().collect()))
        shutil.rmtree(d, ignore_errors=True)
        return out

    import itertools
    states = {final_state(list(p)) for p in itertools.permutations(range(3))}
    assert len(states) == 1                     # every order converges
    final = dict((k, (v, ts)) for k, v, ts in next(iter(states)))
    assert final[1] == (11, 200)                # newest update wins
    assert final[2] == (20, 100)                # stale batch lost
    assert 3 not in final                       # delete applied


def test_additive_schema_evolution(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    delta = spark.createDataFrame(
        [(5, -1, "tagged", "U"), (500, 9, "fresh", "I")],
        "user_id long, value long, tag string, op string")
    t.merge(delta, op_col="op")
    head = t.read()
    assert head.columns == ["user_id", "value", "tag"]
    got = {r["user_id"]: r["tag"] for r in
           head.filter(F.col("user_id").isin(5, 500, 80)).collect()}
    assert got[5] == "tagged" and got[500] == "fresh"
    assert got[80] is None                   # pre-DDL file projects NULL
    # time travel keeps the narrow pre-DDL schema
    assert t.read(version=0).columns == ["user_id", "value"]
    # the change feed spans the evolution: rewritten-but-identical rows
    # (tag NULL on both sides, eqNullSafe) cancel; only real changes show
    changes = {(r["change_type"], r["user_id"])
               for r in t.table_changes(0, 1).collect()}
    assert changes == {("U", 5), ("I", 500)}


def test_merge_source_missing_column_is_an_error(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=10, n_files=1)
    partial = spark.createDataFrame([(1, "U")], "user_id long, op string")
    with pytest.raises(ValueError, match="every table column"):
        t.merge(partial, op_col="op")


def test_change_stream_per_commit(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    t.merge(src(spark, [(5, -1, "U"), (500, 9, "I")]), op_col="op")
    t.merge(src(spark, [(500, 0, "D"), (6, -2, "U")]), op_col="op")
    rows = {(r["_commit_version"], r["change_type"], r["user_id"])
            for r in t.table_changes_per_commit(0, 2).collect()}
    # per-commit granularity: the insert AND its later delete both show,
    # in their own commits — net table_changes(0, 2) would cancel them
    assert rows == {(1, "U", 5), (1, "I", 500),
                    (2, "D", 500), (2, "U", 6)}


def test_concurrent_merge_soak_snapshot_isolation(spark, tdir):
    """Racing writers + a polling reader: every commit lands exactly
    once, the reader only ever observes fully-committed versions
    (counts are multiples of the insert batch size and never go
    backwards), and the final state is the union of all writers."""
    import threading

    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    n_writers, n_steps, batch = 4, 4, 5
    errors: list = []

    def writer(w):
        try:
            tw = TxLogTable(spark, t.path)
            for i in range(n_steps):
                base = 10_000 + w * 1000 + i * 10
                rows = [(base + j, w, "I") for j in range(batch)]
                for _ in range(10):
                    try:
                        tw.merge(src(spark, rows), op_col="op")
                        break
                    except Exception as e:         # ConflictError retry
                        if "Conflict" not in type(e).__name__:
                            raise
                else:
                    raise RuntimeError("writer starved")
        except Exception as e:
            errors.append(e)

    observed: list[int] = []
    stop = threading.Event()

    def reader():
        try:
            tr = TxLogTable(spark, t.path)
            while not stop.is_set():
                observed.append(tr.read().count())
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    rt = threading.Thread(target=reader)
    rt.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    stop.set()
    rt.join()
    assert not errors, errors[:3]
    assert t.read().count() == 100 + n_writers * n_steps * batch
    assert t.snapshot().version == n_writers * n_steps
    # snapshot isolation: no torn reads, no time travel backwards
    assert all(c % batch == 0 for c in observed), observed
    assert observed == sorted(observed), observed


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_random_op_sequences_match_dict_model(spark, tdir, seed):
    """Model-based check: a random interleaving of MERGE / DELETE /
    OPTIMIZE / VACUUM must keep the table equal to a trivial dict
    model after every step, and every still-reachable historical
    version equal to the model state recorded when it committed."""
    import random

    rng = random.Random(seed)
    t = make_table(spark, os.path.join(tdir, "t"), n=40, n_files=4)
    model = {k: k * 2 for k in range(40)}
    history = {0: dict(model)}          # version -> model state
    horizon = 0

    def check_head():
        got = {r["user_id"]: r["value"] for r in t.read().collect()}
        assert got == model

    for step in range(12):
        kind = rng.choices(("merge", "delete", "delete_dv",
                            "delete_pred", "optimize", "vacuum",
                            "restore"),
                           weights=(6, 1, 2, 2, 1, 1, 1))[0]
        if kind == "restore":
            eligible = [v for v in t._versions()
                        if v in history and v >= horizon]
            rv = rng.choice(eligible)
            rm = t.restore(rv)
            model = dict(history[rv])
            history[rm["version"]] = dict(model)
            check_head()
            continue
        if kind == "merge":
            keys = rng.sample(range(80), rng.randint(1, 6))
            rows, ops = [], {}
            for k in keys:
                op = rng.choice("IUD")
                v = rng.randint(-99, 99)
                rows.append((k, v, op))
                ops[k] = (op, v)
            m = t.merge(src(spark, rows), op_col="op")
            for k, (op, v) in ops.items():
                if op == "D":
                    model.pop(k, None)
                else:
                    model[k] = v
            history[m["version"]] = dict(model)
        elif kind in ("delete", "delete_dv"):
            lo = rng.randint(0, 70)
            hi = lo + rng.randint(0, 20)
            dm = t.delete_where(
                (lo, hi), mode="dv" if kind == "delete_dv" else "cow")
            for k in list(model):
                if lo <= k <= hi:
                    del model[k]
            history[dm["version"]] = dict(model)
        elif kind == "delete_pred":
            # predicate delete on the NON-key column
            vlo = rng.randint(-99, 80)
            vhi = vlo + rng.randint(0, 40)
            dm = t.delete_where(
                where_between=("value", vlo, vhi),
                mode=rng.choice(("cow", "dv")))
            for k in list(model):
                if vlo <= model[k] <= vhi:
                    del model[k]
            history[dm["version"]] = dict(model)
        elif kind == "optimize":
            m = t.optimize(target_files=2)
            if not m["skipped"]:
                history[m["version"]] = dict(model)
        else:
            vm = t.vacuum(retain_last=3, min_age_s=0)
            horizon = vm["horizon"]
        check_head()

    # every surviving version must replay to its recorded model state
    for v in t._versions():
        if v in history and v >= horizon:
            got = {r["user_id"]: r["value"]
                   for r in t.read(version=v).collect()}
            assert got == history[v], f"version {v} diverged"


def test_stream_source_resumes_at_committed_version(spark, tdir):
    """Tailing the commit log across restarts: a checkpointed
    availableNow run consumes commits 1..2; a commit made AFTER it
    must be the only thing the resumed run emits (offset = version,
    replayed exactly — README.md:65's checkpoint-ts resume)."""
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    t = make_table(spark, os.path.join(tdir, "t"), n=50, n_files=1)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op")
    t.merge(src(spark, [(2, -2, "U")]), op_col="op")

    out = os.path.join(tdir, "out")
    ckpt = os.path.join(tdir, "ckpt")

    def run_once():
        q = (spark.readStream.format("txlog_changes")
             .option("path", t.path).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out)
    assert {r["commit_version"] for r in first.collect()} == {1, 2}

    t.merge(src(spark, [(3, -3, "U"), (1, 0, "D")]), op_col="op")
    run_once()
    second = spark.read.parquet(out)
    assert second.count() == first.count() + 2      # only commit 3's rows
    newly = second.filter(F.col("commit_version") == 3)
    got = {(r["change_type"], r["user_id"]) for r in newly.collect()}
    assert got == {("U", 3), ("D", 1)}


def test_commit_files_are_valid_jsonl(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=10, n_files=1)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op", txn=("a", 0))
    for v in t._versions():
        with open(os.path.join(t.log_dir, f"{v:020d}.json")) as f:
            actions = [json.loads(line) for line in f]
        assert any("commit" in a for a in actions)


def test_table_changes_full_images(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100)
    t.merge(src(spark, [(5, -5, "U"), (150, 150, "I"), (7, 0, "D")]),
            op_col="op")
    ch = {(r["change_type"], r["user_id"]): r["value"]
          for r in t.table_changes(0, 1, full_images=True).collect()}
    # update emits BOTH images; I keeps after, D keeps before
    assert ch[("U_pre", 5)] == 10 and ch[("U_post", 5)] == -5
    assert ch[("I", 150)] == 150
    assert ch[("D", 7)] == 14
    assert ("U", 5) not in ch
    # net feed and full-image feed describe the same key set
    net = {r["user_id"] for r in t.table_changes(0, 1).collect()}
    assert {k for _, k in ch} == net


def test_incremental_mv_matches_recompute_across_ops(spark, tdir):
    """MV maintained purely from signed full-image deltas equals a
    fresh recompute at every version — including across a DELETE and
    an OPTIMIZE (whose rewritten-unchanged rows must cancel)."""
    t = make_table(spark, os.path.join(tdir, "t"), n=400)

    def recompute(df):
        return df.groupBy(F.pmod("user_id", F.lit(8)).alias("g")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))

    mv = {r["g"]: (r["n"], r["s"]) for r in recompute(t.read(0)).collect()}
    t.merge(src(spark, [(3, 999, "U"), (500, 1, "I"), (8, 0, "D")]),
            op_col="op")
    t.delete_where((100, 199))
    t.optimize(small_bytes=1 << 30)   # pure layout commit: empty delta
    t.merge(src(spark, [(500, 2, "U"), (100, 7, "I")]), op_col="op")
    head = t.snapshot().version
    for v in range(1, head + 1):
        sign = F.when(F.col("change_type").isin("I", "U_post"),
                      F.lit(1)).otherwise(F.lit(-1))
        delta = (t.table_changes(v - 1, v, full_images=True)
                  .groupBy(F.pmod("user_id", F.lit(8)).alias("g"))
                  .agg(F.sum(sign).alias("n"),
                       F.sum(sign * F.col("value")).alias("s")))
        for r in delta.collect():
            n, s = mv.get(r["g"], (0, 0))
            mv[r["g"]] = (n + r["n"], s + r["s"])
        mv = {g: v_ for g, v_ in mv.items() if v_[0] > 0}
        expect = {r["g"]: (r["n"], r["s"])
                  for r in recompute(t.read(v)).collect()}
        assert mv == expect, f"drift at version {v}"


def test_data_skipping_on_nonkey_column(spark, tdir):
    """Per-column stats prune files on NON-key predicates (Delta-style
    data skipping): value is clustered with the key here, so a narrow
    value range must scan a small fraction of files, and the result
    must equal the unpruned filter — including NULL rows, which stats
    ignore and BETWEEN never matches."""
    df = spark.range(0, 1000).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 97 == 0, None)
         .otherwise(F.col("id") * 2).alias("value"))
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df,
                          "user_id", n_files=8)
    pruned = t.read(where_between=("value", 100, 140))
    assert len(pruned.inputFiles()) <= 2  # of 8
    expect = sorted(r["user_id"] for r in
                    t.read().filter(F.col("value").between(100, 140))
                     .collect())
    assert sorted(r["user_id"] for r in pruned.collect()) == expect
    # stats survive merge rewrites and the checkpoint round trip
    t.merge(src(spark, [(50, 9999, "U")]), op_col="op")
    snap = t.snapshot()
    assert all("cols" in s for s in snap.files.values())
    hit = t.read(where_between=("value", 9999, 9999))
    assert [r["user_id"] for r in hit.collect()] == [50]
    assert len(hit.inputFiles()) <= 2


def test_delete_dv_merge_on_read(spark, tdir):
    """dv-mode delete writes NO parquet: straddling files keep their
    bytes, readers anti-join the deletion vector, the change feed
    reports the deletes, time travel still sees the rows, and
    OPTIMIZE materializes the DV away without changing content."""
    t = make_table(spark, os.path.join(tdir, "t"), n=400, n_files=4)

    def parquet_count():
        n = 0
        for sub in os.listdir(os.path.join(t.path, "data")):
            n += sum(1 for f in os.listdir(
                os.path.join(t.path, "data", sub))
                if f.endswith(".parquet"))
        return n

    before = parquet_count()
    m = t.delete_where((90, 110), mode="dv")   # straddles a boundary
    assert m["files_rewritten"] == 0
    assert parquet_count() == before           # zero data written
    got = sorted(r["user_id"] for r in t.read().collect())
    assert got == [k for k in range(400) if not 90 <= k <= 110]
    # the DV delete IS visible in the change feed (no file changed)
    ch = {(r["change_type"], r["user_id"])
          for r in t.table_changes(0, m["version"]).collect()}
    assert ch == {("D", k) for k in range(90, 111)}
    # time travel to the pre-delete version still sees the rows
    assert t.read(version=0).count() == 400
    # merge back one dv-deleted key: it re-inserts
    t.merge(src(spark, [(100, 1, "U")]), op_col="op")
    assert t.read().filter(F.col("user_id") == 100).count() == 1
    # OPTIMIZE materializes DVs: content identical, vectors gone
    head = t.read().orderBy("user_id").collect()
    om = t.optimize(small_bytes=1)   # nothing is "small" — only DVs
    assert not om["skipped"]
    assert t.read().orderBy("user_id").collect() == head
    assert not any(s.get("dv") for s in t.snapshot().files.values())
    # ...and the optimize commit nets to an empty change feed
    assert t.table_changes(om["version"] - 1, om["version"]).count() == 0


def test_stream_source_emits_dv_deletes(spark, tdir):
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    t = make_table(spark, os.path.join(tdir, "t"), n=200, n_files=2)
    t.delete_where((40, 60), mode="dv")
    t.merge(src(spark, [(41, 5, "I"), (199, -1, "U")]), op_col="op")
    # availableNow replay into memory sink
    q = (spark.readStream.format("txlog_changes")
         .option("path", t.path).load()
         .writeStream.format("memory").queryName("dvfeed")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["commit_version"], r["change_type"], r["user_id"])
           for r in spark.sql("SELECT * FROM dvfeed").collect()}
    expect = {(1, "D", k) for k in range(40, 61)}
    expect |= {(2, "I", 41), (2, "U", 199)}
    assert got == expect


def test_optimize_zorder_improves_nonkey_skipping(spark, tdir):
    """OPTIMIZE ZORDER: after rewriting files clustered on the Morton
    interleave of (key, value), a narrow predicate on the NON-key
    column prunes most files via the per-column stats, where the
    key-range layout scanned nearly all of them.  Content unchanged."""
    df = spark.range(0, 4096).select(
        F.col("id").alias("user_id"),
        ((F.col("id") * 2654435761) % 4096).alias("value"))  # decorrelate
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df,
                          "user_id", n_files=16)
    pre_files = len(t.read(where_between=("value", 0, 255))
                    .inputFiles())
    assert pre_files >= 12        # value scattered across key ranges
    before = t.read().orderBy("user_id").collect()
    m = t.optimize(zorder_by=("user_id", "value"), target_files=16)
    assert not m["skipped"]
    assert t.read().orderBy("user_id").collect() == before
    assert t.table_changes(m["version"] - 1, m["version"]).count() == 0
    post = t.read(where_between=("value", 0, 255))
    assert len(post.inputFiles()) <= 8    # ~sqrt skipping, with slack
    expect = sorted(r["user_id"] for r in
                    t.read().filter(F.col("value").between(0, 255))
                    .collect())
    assert sorted(r["user_id"] for r in post.collect()) == expect


def test_optimize_zorder_three_columns(spark, tdir):
    """N-column ZORDER: with three decorrelated columns interleaved,
    a narrow predicate on EACH of them must prune files that the
    key-range layout scanned in full — and content stays identical.
    Resolution per dimension drops vs 2-col (the z-order trade), so
    the skip threshold is looser."""
    df = spark.range(0, 4096).select(
        F.col("id").alias("user_id"),
        ((F.col("id") * 2654435761) % 4096).alias("value"),
        ((F.col("id") * 40503) % 4096).alias("w"))
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df,
                          "user_id", n_files=16)
    for c in ("value", "w"):
        assert len(t.read(where_between=(c, 0, 255)).inputFiles()) >= 12
    before = t.read().orderBy("user_id").collect()
    m = t.optimize(zorder_by=("user_id", "value", "w"), target_files=16)
    assert not m["skipped"]
    assert t.read().orderBy("user_id").collect() == before
    for c in ("user_id", "value", "w"):
        post = t.read(where_between=(c, 0, 255))
        assert len(post.inputFiles()) <= 10, c
        expect = sorted(r["user_id"] for r in
                        t.read().filter(F.col(c).between(0, 255))
                        .collect())
        assert sorted(r["user_id"] for r in post.collect()) == expect
    with pytest.raises(ValueError, match="zorder_by takes"):
        t.optimize(zorder_by=("user_id",))


def test_concurrent_dv_deletes_race_merges(spark, tdir):
    """DV deletes and merges racing over the SAME file (disjoint keys)
    must serialize through the conflict rules: a merge that read a
    candidate file before its DV grew may not commit (it would
    resurrect the deleted rows), and a lost-race dv delete must retry
    against the new snapshot.  Key-disjoint workloads make the final
    state deterministic, so any lost update / resurrected row shows."""
    import threading

    t = make_table(spark, os.path.join(tdir, "t"), n=1000, n_files=4)
    errors: list = []

    def retrying(fn):
        for _ in range(25):
            try:
                return fn()
            except ConflictError:
                continue
        raise RuntimeError("starved")

    def updater(w):    # keys [w*60, w*60+29] over 3 steps — file 1
        try:
            tw = TxLogTable(spark, t.path)
            for i in range(3):
                rows = [(w * 60 + i * 10 + j, -1, "U")
                        for j in range(10)]
                retrying(lambda: tw.merge(src(spark, rows), op_col="op"))
        except Exception as e:
            errors.append(e)

    def deleter(d):    # ranges inside [150, 249] — same file 1
        try:
            tw = TxLogTable(spark, t.path)
            for i in range(3):
                lo = 150 + d * 50 + i * 10
                retrying(lambda: tw.delete_where((lo, lo + 9),
                                                 mode="dv"))
        except Exception as e:
            errors.append(e)

    threads = ([threading.Thread(target=updater, args=(w,))
                for w in range(2)]
               + [threading.Thread(target=deleter, args=(d,))
                  for d in range(2)])
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors[:3]
    got = {r["user_id"]: r["value"] for r in t.read().collect()}
    assert len(got) == 1000 - 60
    for w in range(2):
        for i in range(3):
            for j in range(10):
                assert got[w * 60 + i * 10 + j] == -1   # no lost update
    for d in range(2):
        for i in range(3):
            lo = 150 + d * 50 + i * 10
            assert all(k not in got for k in range(lo, lo + 10))


def test_vacuum_retention_protects_inflight_writes(spark, tdir):
    """A concurrent writer's data lands BEFORE its commit references
    it; default vacuum must treat young unreachable files as possibly
    in-flight and leave them, so the writer's later commit stays
    valid.  min_age_s=0 removes them (the test/maintenance opt-out)."""
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op")
    # simulate a mid-commit writer: parquet on disk, commit not yet
    # published — exactly what a pre-commit _write_data leaves behind
    orphan_dir = os.path.join(t.path, "data", "inflight")
    os.makedirs(orphan_dir)
    spark.range(1).write.mode("overwrite").parquet(orphan_dir)
    n_orphans = sum(1 for f in os.listdir(orphan_dir)
                    if f.endswith(".parquet"))
    assert n_orphans > 0
    vm = t.vacuum(retain_last=1)          # default 1h retention
    assert all(os.path.exists(os.path.join(orphan_dir, f))
               for f in os.listdir(orphan_dir))
    vm0 = t.vacuum(retain_last=1, min_age_s=0)
    assert not os.path.isdir(orphan_dir)  # now collected
    assert vm0["data_files_removed"] >= n_orphans


def test_append_schema_contract(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    # missing column → loud error, not silent NULLs
    with pytest.raises(ValueError, match="missing table columns"):
        t.append(spark.createDataFrame([(99,)], "user_id long"))
    # extra column → additive widening, old rows project NULL
    wide = spark.createDataFrame([(100, 5, "x")],
                                 "user_id long, value long, tag string")
    t.append(wide, n_files=1)
    got = t.read()
    assert got.filter("user_id = 100").head()["tag"] == "x"
    assert got.filter("user_id = 0").head()["tag"] is None
    assert got.count() == 21


def test_string_keyed_table_full_lifecycle(spark, tdir):
    """The format is key-type generic for JSON-orderable keys: string
    keys exercise footer stats, range clustering, stats pruning, DV
    deletes, and the change feed the same as integer keys."""
    df = spark.createDataFrame(
        [(f"doc-{i:04d}", i) for i in range(200)],
        "doc_id string, score long")
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df,
                          "doc_id", n_files=4)
    assert t.read().count() == 200
    m = t.merge(spark.createDataFrame(
        [("doc-0005", -1, "U"), ("doc-9999", 1, "I"),
         ("doc-0007", 0, "D")],
        "doc_id string, score long, op string"), op_col="op")
    assert m["files_pruned"] >= 2      # string stats prune files
    got = {r["doc_id"]: r["score"] for r in t.read().collect()}
    assert got["doc-0005"] == -1 and got["doc-9999"] == 1
    assert "doc-0007" not in got and len(got) == 200
    t.delete_where(("doc-0010", "doc-0019"), mode="dv")
    assert t.read().count() == 190
    ch = {r["doc_id"] for r in
          t.table_changes(m["version"], m["version"] + 1).collect()}
    assert ch == {f"doc-{i:04d}" for i in range(10, 20)}


def test_timestamp_key_rejected_loudly(spark, tdir):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1)], "k string, v long"
    ).select(F.col("k").cast("timestamp").alias("k"), "v")
    with pytest.raises(ValueError, match="unix micros"):
        TxLogTable.create(spark, os.path.join(tdir, "t"), df, "k")


def test_stream_projects_midstream_widening_to_pinned_schema(spark, tdir):
    """A commit that widens the table AFTER the stream's schema was
    pinned must not break the stream: its change batches project down
    to the pinned columns (streaming schemas are immutable in Spark —
    restart to see new columns; the registry DDL flow covers that)."""
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    t = make_table(spark, os.path.join(tdir, "t"), n=50, n_files=1)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op")
    stream = (spark.readStream.format("txlog_changes")
              .option("path", t.path).load())     # pins (user_id, value)
    wide = spark.createDataFrame([(2, -2, "x", "U")],
                                 "user_id long, value long, "
                                 "tag string, op string")
    t.merge(wide, op_col="op")                    # widens mid-stream
    q = (stream.writeStream.format("memory").queryName("pinned")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM pinned").collect()
    assert set(rows[0].asDict()) == {"commit_version", "change_type",
                                     "user_id", "value"}
    got = {(r["commit_version"], r["user_id"]): r["value"] for r in rows}
    assert got[(1, 1)] == -1 and got[(2, 2)] == -2


def test_footer_stats_equal_scan_stats(spark, tdir):
    """The footer-metadata stats path must report the same bounds the
    distributed-scan fallback computes, including NULL handling and
    string ordering — the fast path may be wider only when parquet
    truncates (not at these sizes), never narrower."""
    from datetime import date, datetime, timezone

    def u(sec):
        return datetime.fromtimestamp(1704067200 + sec, tz=timezone.utc
                                      ).replace(tzinfo=None)

    df = spark.createDataFrame(
        [(i,
          None if i % 7 == 0 else (i * 37) % 101,
          f"s{(i * 13) % 50:03d}",
          float(i) / 3.0,
          None if i % 11 == 0 else u(i * 9931),
          None if i % 13 == 0 else date(2024, 1 + (i % 12), 1 + i % 28))
         for i in range(300)],
        "user_id long, a long, b string, c double, ts timestamp, d date")
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df,
                          "user_id", n_files=3)
    snap = t.snapshot()
    fb = {a["add"]["path"]: a["add"]
          for a in t._write_stats_fallback(
              os.path.join(t.path, os.path.dirname(
                  next(iter(snap.files)))),
              os.path.dirname(next(iter(snap.files))),
              "user_id", ["user_id", "a", "b", "c", "ts", "d"])}
    assert set(fb) == set(snap.files)
    for p, s in snap.files.items():
        r = fb[p]
        assert (s["rows"], s["min_key"], s["max_key"]) == \
            (r["rows"], r["min_key"], r["max_key"])
        for c in ("a", "b", "c", "ts", "d"):
            if c in s["cols"] and c in r["cols"]:
                assert s["cols"][c] == r["cols"][c], (p, c)
            # footer path may conservatively omit a column the scan
            # kept (all-NULL row group) — but never the reverse with
            # a narrower range


def test_timestamp_as_of_time_travel(spark, tdir):
    import time

    t = make_table(spark, os.path.join(tdir, "t"), n=30, n_files=1)
    time.sleep(0.05)
    between = time.time()
    time.sleep(0.05)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op")
    assert t.version_at(between) == 0
    assert t.version_at(time.time()) == 1
    assert t.read(as_of=between).filter("user_id = 1").head()["value"] == 2
    assert t.read(as_of=time.time()).filter("user_id = 1") \
            .head()["value"] == -1
    with pytest.raises(ValueError, match="no commit at or before"):
        t.version_at(between - 100)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=0, as_of=between)


def test_detail_reports_manifest_facts(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    t.delete_where((0, 9), mode="dv")
    d = t.detail()
    assert d["version"] == 1 and d["num_files"] == 2
    assert d["key_col"] == "user_id"
    assert d["num_rows"] == 90 == t.read().count()
    assert d["dv_rows_pending_compaction"] == 10
    assert d["size_bytes"] > 0


def test_maintenance_txn_idempotence(spark, tdir):
    """delete_where and optimize honor (app, epoch) txns like merge —
    a scheduler replaying a maintenance epoch is a no-op."""
    t = make_table(spark, os.path.join(tdir, "t"), n=200, n_files=4)
    d1 = t.delete_where((0, 24), mode="dv", txn=("maint", 1))
    d2 = t.delete_where((25, 49), mode="dv", txn=("maint", 1))  # replay
    assert not d1["skipped"] and d2["skipped"]
    assert t.read().count() == 175                  # second delete skipped
    o1 = t.optimize(small_bytes=1 << 30, txn=("compact", 1))
    o2 = t.optimize(small_bytes=1 << 30, txn=("compact", 1))   # replay
    assert not o1["skipped"] and o2["skipped"]
    assert t.snapshot().version == o1["version"]
    assert t.read().count() == 175


def test_append_retry_sees_concurrent_same_column_widening(spark, tdir):
    """An append that loses the commit race to a concurrent commit that
    widened the schema with the SAME column must retry cleanly: the
    recomputed meta sees the column already present and publishes no
    stale (narrower) schema over it."""
    t = make_table(spark, os.path.join(tdir, "t"), n=50, n_files=1)
    real = t._try_commit
    fired = {"done": False}

    def racing(version, actions):
        if not fired["done"]:
            fired["done"] = True
            other = TxLogTable(spark, t.path)
            wide = spark.createDataFrame(
                [(9001, 1, "x")], "user_id long, value long, tag string")
            other.append(wide)          # takes our version slot + widens
        return real(version, actions)

    t._try_commit = racing
    mine = spark.createDataFrame(
        [(9002, 2, "y")], "user_id long, value long, tag string")
    r = t.append(mine)
    assert not r["skipped"] and fired["done"]
    head = t.read()
    assert set(head.columns) == {"user_id", "value", "tag"}
    got = {x["user_id"]: x["tag"] for x in
           head.filter("user_id >= 9000").collect()}
    assert got == {9001: "x", 9002: "y"}


def test_append_retry_rejects_divergent_concurrent_widening(spark, tdir):
    """The ADVICE race: our append widens with column A while a
    concurrent commit widens with column B.  Re-publishing our
    pre-race meta would silently DROP column B from all later reads;
    the retry must instead recompute against the fresh snapshot and
    fail loudly (our source now misses a table column) — same contract
    as merge.  The concurrent writer's column survives either way."""
    t = make_table(spark, os.path.join(tdir, "t"), n=50, n_files=1)
    real = t._try_commit
    fired = {"done": False}

    def racing(version, actions):
        if not fired["done"]:
            fired["done"] = True
            other = TxLogTable(spark, t.path)
            wide = spark.createDataFrame(
                [(9001, 1, "x")], "user_id long, value long, tag string")
            other.append(wide)
        return real(version, actions)

    t._try_commit = racing
    mine = spark.createDataFrame(
        [(9002, 2, 7)], "user_id long, value long, extra long")
    with pytest.raises(ValueError, match="missing table columns.*tag"):
        t.append(mine)
    # concurrent widening intact: tag in schema, values readable
    head = t.read()
    assert "tag" in head.columns
    assert head.filter("user_id = 9001").head()["tag"] == "x"


def test_null_key_rejected_at_write(spark, tdir):
    """NULL keys would store min_key/max_key = None in the manifest and
    TypeError every later key comparison (and a NULL-keyed row can
    never be merged or deleted) — both stats paths reject at write."""
    bad = spark.createDataFrame(
        [(1, 10), (None, 20)], "user_id long, value long")
    with pytest.raises(ValueError, match="NULL values in key column"):
        TxLogTable.create(spark, os.path.join(tdir, "bad"), bad, "user_id")
    # append path too
    t = make_table(spark, os.path.join(tdir, "t"), n=10, n_files=1)
    with pytest.raises(ValueError, match="NULL values in key column"):
        t.append(bad)
    # distributed-scan fallback path: same rejection
    mdir = os.path.join(t.path, "data", "manual")
    bad.write.mode("overwrite").parquet(mdir)
    with pytest.raises(ValueError, match="NULL values in key column"):
        t._write_stats_fallback(mdir, os.path.join("data", "manual"),
                                "user_id", ["user_id", "value"])


def test_optimize_zorder_single_file_not_skipped(spark, tdir):
    """An explicit ZORDER request on a 1-file table must rewrite (the
    small-file early-out is for plain bin-packing only)."""
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=1)
    before = t.read().orderBy("user_id").collect()
    r = t.optimize(zorder_by=("user_id", "value"))
    assert not r["skipped"] and r["files_compacted"] == 1
    assert t.read().orderBy("user_id").collect() == before


@pytest.mark.parametrize("cdf_seed", [7, 23])
def test_stream_matches_batch_cdf_over_random_ops(spark, tdir, cdf_seed):
    """The executor-side per-commit diff in TxLogChangesReader.read()
    hand-mirrors TxLogTable.table_changes semantics (DV
    old/new/grown/shrunk, null-safe compare, image shaping); this
    property check pins the two implementations in lockstep over
    randomized MERGE / COW-delete / DV-delete / OPTIMIZE / RESTORE
    sequences — a future format action handled in
    one but not the other fails here, not silently in production."""
    import random

    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    rng = random.Random(cdf_seed)
    t = make_table(spark, os.path.join(tdir, "t"), n=40, n_files=4)
    for _ in range(8):
        kind = rng.choices(("merge", "delete", "delete_dv", "optimize",
                            "restore"),
                           weights=(5, 1, 2, 1, 1))[0]
        if kind == "merge":
            keys = rng.sample(range(80), rng.randint(1, 6))
            t.merge(src(spark, [(k, rng.randint(-99, 99), rng.choice("IUD"))
                                for k in keys]), op_col="op")
        elif kind in ("delete", "delete_dv"):
            lo = rng.randint(0, 70)
            t.delete_where((lo, lo + rng.randint(0, 15)),
                           mode="dv" if kind == "delete_dv" else "cow")
        elif kind == "restore":
            # restore may SHRINK a deletion vector — the resurrection
            # diff case only RESTORE produces
            t.restore(rng.randint(0, t.snapshot().version))
        else:
            t.optimize(target_files=2)
    head = t.snapshot().version
    q = (spark.readStream.format("txlog_changes")
         .option("path", t.path).load()
         .writeStream.format("memory").queryName(f"cdf_{cdf_seed}")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    streamed = sorted(
        (r["commit_version"], r["change_type"], r["user_id"], r["value"])
        for r in spark.sql(f"SELECT * FROM cdf_{cdf_seed}").collect())
    batch = sorted(
        (r["_commit_version"], r["change_type"], r["user_id"], r["value"])
        for r in t.table_changes_per_commit(0, head).collect())
    assert streamed == batch and len(streamed) > 0


@pytest.mark.multijvm
def test_multiprocess_writer_race(spark, tdir):
    """TRUE multi-process writer torture (the thread-based racing
    tests share one JVM; this one doesn't): 3 separate OS processes —
    each its own SparkSession — MERGE disjoint key ranges into a
    ONE-FILE table (maximum file-level conflict: every merge rewrites
    the same file), with OPTIMIZE and VACUUM thrown into the race.
    Asserts zero lost updates (every worker's last write visible, base
    rows intact), a serializable commit log (contiguous versions, each
    committed exactly once via the link(2) publish), and zero dangling
    manifest entries."""
    import subprocess
    import sys as _sys

    path = os.path.join(tdir, "t")
    make_table(spark, path, n=50, n_files=1)
    workers, iters = 3, 4
    script = os.path.join(os.path.dirname(__file__),
                          "_txlog_race_worker.py")
    env = dict(os.environ,
               PYTHONPATH=os.path.dirname(os.path.dirname(
                   os.path.abspath(__file__))))
    procs = [subprocess.Popen(
        [_sys.executable, script, path, str(w), str(iters)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env,
        cwd=tdir) for w in range(workers)]
    for w, p in enumerate(procs):
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0, \
            f"worker {w} rc={p.returncode}\n" \
            f"{_worker_failure_report(out)}"

    t = TxLogTable(spark, path)
    got = {r["user_id"]: r["value"] for r in t.read().collect()}
    expect = {k: k * 2 for k in range(50)}          # base rows untouched
    for w in range(workers):                        # last write wins
        for k in range(20):
            expect[1000 + w * 100 + k] = w * 10000 + iters - 1
    assert got == expect

    # serializability of the log: contiguous version chain (vacuum may
    # truncate the tail behind a checkpoint), every version exactly one
    # commit file, and >= one committed op per worker iteration
    versions = t._versions()
    assert versions == list(range(min(versions), max(versions) + 1))
    assert t.snapshot().version >= workers * iters
    # no dangling manifest entries: every live file exists on disk
    for rel in t.snapshot().files:
        assert os.path.exists(os.path.join(path, rel)), rel
    # full integrity check incl. footer-vs-manifest stat containment
    assert t.fsck(deep=True) == []


def test_zorder_measured_file_skipping_sf01(spark):
    """Exact measured skip counts at sf0.1 (the query's oracle pins
    only coarse booleans): the same where_between point-band predicate
    must scan all 16 key-ranged files before ZORDER and at most 8
    after, with identical row content both times."""
    from cdc_plg_spark.catalog import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.1").select(
        "event_id", "user_id", "value")
    d = tempfile.mkdtemp(prefix="zorder_sf01_")
    t = TxLogTable.create(spark, os.path.join(d, "t"), ev,
                          "event_id", n_files=16)
    mx = ev.agg(F.max("user_id")).head()[0]
    pred = ("user_id", mx * 20 // 100, mx * 25 // 100)
    before_df = t.read(where_between=pred)
    rows_before = sorted(r["event_id"] for r in before_df.collect())
    files_before = len(before_df.inputFiles())
    assert files_before == 16                       # key layout: no skip
    t.optimize(zorder_by=("event_id", "user_id"), target_files=16)
    after_df = t.read(where_between=pred)
    files_after = len(after_df.inputFiles())
    assert files_after <= 8, files_after            # >= half skipped
    assert sorted(r["event_id"] for r in after_df.collect()) == rows_before
    print(f"zorder skip: {files_before} -> {files_after} files")


def test_rename_column_meta_only(spark, tdir):
    """RENAME COLUMN is a pure meta commit: zero data files touched,
    content identical under the new name, merge works against the new
    name, and time travel below the ALTER still shows the old name."""
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=4)
    files_before = set(t.snapshot().files)
    r = t.rename_column("value", "amount")
    assert r["version"] == 1
    assert set(t.snapshot().files) == files_before     # no data rewrite
    head = t.read()
    assert set(head.columns) == {"user_id", "amount"}
    assert head.filter("user_id = 10").head()["amount"] == 20
    # time travel: pre-ALTER snapshot keeps the old logical name
    old = t.read(version=0)
    assert set(old.columns) == {"user_id", "value"}
    assert old.filter("user_id = 10").head()["value"] == 20
    # merge speaks the new name; files written post-rename read back
    m = t.merge(spark.createDataFrame([(10, -1, "U"), (500, 5, "I")],
                                      "user_id long, amount long, op string"),
                op_col="op")
    assert not m["skipped"]
    got = {x["user_id"]: x["amount"] for x in
           t.read().filter("user_id in (10, 500)").collect()}
    assert got == {10: -1, 500: 5}
    # duplicate / missing name validation
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("user_id", "amount")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("value", "v2")


def test_rename_key_column(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=50, n_files=2)
    t.rename_column("user_id", "uid")
    assert t.snapshot().key_col == "uid"
    assert t.read(key_between=(0, 9)).count() == 10    # pruning intact
    m = t.merge(spark.createDataFrame([(7, -1, "U")],
                                      "uid long, value long, op string"),
                op_col="op")
    assert m["files_scanned"] == 1                     # stats still prune
    assert t.read().filter("uid = 7").head()["value"] == -1


def test_where_between_pruning_survives_rename(spark, tdir):
    """Per-file column stats are keyed by PHYSICAL name, so non-key
    data skipping keeps working after a rename with no rewrite."""
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("metric"))
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df, "k",
                          n_files=8)
    t.rename_column("metric", "score")
    pruned = t.read(where_between=("score", 0, 50))
    assert len(pruned.inputFiles()) < 8                # still skips files
    assert pruned.count() == 17                        # 0,3,...,48
    assert {r["k"] for r in pruned.collect()} == set(range(17))


def test_drop_column_and_no_resurrection(spark, tdir):
    """DROP COLUMN retires the physical name: the column disappears
    (meta-only), a later ADD of the same logical name starts NULL for
    every existing row (fresh physical — the dropped bytes are never
    resurrected), and OPTIMIZE physically purges the retired data."""
    import pyarrow.parquet as pq

    t = make_table(spark, os.path.join(tdir, "t"), n=60, n_files=2)
    with pytest.raises(ValueError, match="cannot drop the key column"):
        t.drop_column("user_id")
    t.drop_column("value")
    assert t.read().columns == ["user_id"]
    # re-add the same logical name via widening append: must be NULL
    # for old rows, populated only for the appended ones
    t.append(spark.createDataFrame([(1000, 777)], "user_id long, value long"))
    head = t.read()
    assert head.filter("user_id = 1000").head()["value"] == 777
    assert head.filter("user_id < 60").filter("value IS NOT NULL") \
               .count() == 0                          # nothing resurrected
    # fresh physical name was needed (old 'value' bytes still on disk)
    snap = t.snapshot()
    assert snap.mapping["value"] != "value"
    assert "value" in snap.retired
    # OPTIMIZE rewrites under the current mapping -> retired physical
    # column is purged from the new parquet files
    t.optimize(small_bytes=1 << 30, target_files=1)
    snap = t.snapshot()
    for rel in snap.files:
        cols = pq.ParquetFile(os.path.join(t.path, rel)) \
                 .schema_arrow.names
        assert "value" not in cols                     # physical purge
        assert snap.mapping["value"] in cols
    # content still correct after the purge rewrite
    head = t.read()
    assert head.filter("user_id = 1000").head()["value"] == 777
    assert head.count() == 61


def test_change_feed_across_rename(spark, tdir):
    """table_changes after a RENAME reports old files' rows under the
    CURRENT logical names (physical names are stable), so a replica
    applying the feed sees a consistent post-DDL schema."""
    t = make_table(spark, os.path.join(tdir, "t"), n=30, n_files=1)
    t.rename_column("value", "amount")                 # v1 (meta only)
    t.merge(src(spark, [(5, -5, "U")]).withColumnRenamed(
        "value", "amount"), op_col="op")               # v2
    ch = t.table_changes(1, 2)
    assert "amount" in ch.columns and "value" not in ch.columns
    row = ch.filter("user_id = 5").head()
    assert row["change_type"] == "U" and row["amount"] == -5


def test_mapping_survives_checkpoint_replay(spark, tdir):
    """A snapshot rebuilt FROM A CHECKPOINT (not full log replay) must
    carry the column mapping and retired list — 10+ commits after a
    RENAME and a DROP, reads still translate correctly."""
    t = make_table(spark, os.path.join(tdir, "t"), n=40, n_files=1)
    t.rename_column("value", "amount")                       # v1
    t.drop_column("amount")                                  # v2
    t.append(spark.createDataFrame([(900, 1)],
                                   "user_id long, amount long"))  # v3 re-add
    for i in range(9):                                       # v4..v12
        t.append(spark.createDataFrame([(1000 + i, i)],
                                       "user_id long, amount long"))
    assert t._checkpoints()                                  # ckpt exists
    t2 = TxLogTable(spark, t.path)                           # fresh handle
    snap = t2.snapshot()
    # the dropped column's PHYSICAL was "value" (rename kept it);
    # the re-added "amount" must avoid every retired physical
    assert "value" in snap.retired
    assert snap.mapping["amount"] not in snap.retired
    head = t2.read()
    assert head.filter("user_id = 900").head()["amount"] == 1
    assert head.filter("user_id = 39").head()["amount"] is None
    assert head.count() == 50


@pytest.mark.parametrize("alter_seed", [11, 37])
def test_random_ops_with_renames_match_dict_model(spark, tdir, alter_seed):
    """Model check with COLUMN RENAMES interleaved into the MERGE /
    DV-delete / OPTIMIZE stream: mapping translation must hold under
    every interleaving, and each still-reachable historical version
    must replay with the LOGICAL NAME IT HAD THEN and the model state
    recorded when it committed."""
    import random

    rng = random.Random(alter_seed)
    t = make_table(spark, os.path.join(tdir, "t"), n=30, n_files=3)
    model = {k: k * 2 for k in range(30)}
    col = "value"
    history = {0: (dict(model), col)}      # version -> (state, colname)
    renames = 0

    for _ in range(10):
        kind = rng.choices(("merge", "delete_dv", "optimize", "rename"),
                           weights=(5, 2, 1, 2))[0]
        if kind == "merge":
            keys = rng.sample(range(60), rng.randint(1, 5))
            rows, ops = [], {}
            for k in keys:
                op, v = rng.choice("IUD"), rng.randint(-99, 99)
                rows.append((k, v, op))
                ops[k] = (op, v)
            m = t.merge(spark.createDataFrame(
                rows, f"user_id long, {col} long, op string"), op_col="op")
            for k, (op, v) in ops.items():
                if op == "D":
                    model.pop(k, None)
                else:
                    model[k] = v
            history[m["version"]] = (dict(model), col)
        elif kind == "delete_dv":
            lo = rng.randint(0, 50)
            hi = lo + rng.randint(0, 10)
            dm = t.delete_where((lo, hi), mode="dv")
            for k in list(model):
                if lo <= k <= hi:
                    del model[k]
            history[dm["version"]] = (dict(model), col)
        elif kind == "optimize":
            m = t.optimize(target_files=2)
            if not m["skipped"]:
                history[m["version"]] = (dict(model), col)
        else:
            renames += 1
            new = f"value_r{renames}"
            r = t.rename_column(col, new)
            col = new
            history[r["version"]] = (dict(model), col)
        got = {x["user_id"]: x[col] for x in t.read().collect()}
        assert got == model, f"head diverged after {kind}"

    assert renames > 0                     # the seed actually renamed
    for v in t._versions():
        if v in history:
            state, name = history[v]
            df = t.read(version=v)
            assert name in df.columns
            got = {x["user_id"]: x[name] for x in df.collect()}
            assert got == state, f"version {v} diverged"


def test_stream_translates_pre_rename_commits(spark, tdir):
    """A stream started AFTER a RENAME must surface rows from commits
    made BEFORE it under the pinned (current) logical names — physical
    parquet names are stable, so the pinned mapping translates old
    files; without that translation the renamed column would read
    NULL for pre-rename history."""
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    t.merge(src(spark, [(5, -5, "U")]), op_col="op")          # v1 pre-rename
    t.rename_column("value", "amount")                        # v2 meta only
    t.merge(spark.createDataFrame([(6, -6, "U")],
                                  "user_id long, amount long, op string"),
            op_col="op")                                      # v3 post-rename
    q = (spark.readStream.format("txlog_changes")
         .option("path", t.path).load()
         .writeStream.format("memory").queryName("renamed_feed")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r["commit_version"], r["user_id"]): r["amount"]
            for r in spark.sql("SELECT * FROM renamed_feed").collect()}
    assert rows == {(1, 5): -5, (3, 6): -6}   # v2 emits nothing (meta)


def test_fsck_healthy_and_detects_corruption(spark, tdir):
    """fsck(): empty findings on a healthy table (through merges, DV
    deletes and a rename — deep mode proves manifest-stat containment
    against real footers), and precise findings for a missing file, a
    size mismatch, and an incoherent column mapping."""
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=4)
    t.merge(src(spark, [(5, -5, "U"), (200, 1, "I")]), op_col="op")
    t.delete_where((10, 14), mode="dv")
    t.rename_column("value", "amount")
    assert t.fsck() == []
    assert t.fsck(deep=True) == []

    # corruption 1: a manifested file vanishes from disk
    victim = sorted(t.snapshot().files)[0]
    vpath = os.path.join(t.path, victim)
    raw = open(vpath, "rb").read()
    os.unlink(vpath)
    assert any("missing on disk" in f for f in t.fsck())
    # corruption 2: truncated file (size mismatch)
    with open(vpath, "wb") as f:
        f.write(raw[:len(raw) // 2])
    assert any("size" in f for f in t.fsck())
    with open(vpath, "wb") as f:
        f.write(raw)
    assert t.fsck() == []

    # corruption 3: incoherent mapping published by a rogue meta commit
    snap = t.snapshot()
    bad = dict(snap.mapping)
    bad["ghost"] = "value"          # not a schema field + dup physical
    assert t._try_commit(snap.version + 1, [
        {"commit": {"op": "ALTER"}},
        {"meta": {"schema": snap.schema_json, "key_col": snap.key_col,
                  "column_mapping": bad,
                  "retired_physical": snap.retired}}])
    findings = t.fsck()
    assert any("mapping keys" in f for f in findings)
    assert any("duplicate physical" in f for f in findings)


def test_concurrent_vacuums_race_safely(spark, tdir):
    """Racing vacuums must be safe like every other op: idempotent
    unlinks, yield when a concurrent vacuum already truncated past our
    horizon — never FileNotFoundError/ValueError out of the race.
    (The multi-process soak runs vacuums concurrently too; this pins
    the contract deterministically in one process.)"""
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    for i in range(8):
        t.merge(src(spark, [(i, -1, "U")]), op_col="op")
    before = t.read().orderBy("user_id").collect()

    def vac(_):
        return TxLogTable(spark, t.path).vacuum(retain_last=2,
                                                min_age_s=0)

    with ThreadPoolExecutor(4) as ex:
        results = list(ex.map(vac, range(4)))
    assert len(results) == 4                       # none raised
    assert t.read().orderBy("user_id").collect() == before
    assert t.fsck(deep=True) == []


def test_stream_max_commits_per_trigger_offsets(spark, tdir):
    """Unit contract of the admission cap: latestOffset returns at
    most maxCommitsPerTrigger past the last COMMITTED offset, is
    idempotent across repeated calls within one planning cycle (Spark
    calls it more than once per batch), and clamps at head."""
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesReader

    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    for i in range(5):                    # versions 1..5
        t.merge(src(spark, [(100 + i, i, "I")]), op_col="op")
    r = TxLogChangesReader(t.path, max_commits=2)
    assert r.initialOffset() == {"version": 0}
    assert [r.latestOffset()["version"] for _ in range(3)] == [2, 2, 2]
    r.commit({"version": 2})
    assert r.latestOffset() == {"version": 4}
    r.commit({"version": 4})
    assert [r.latestOffset()["version"] for _ in range(2)] == [5, 5]
    # unbounded default: straight to head
    r0 = TxLogChangesReader(t.path)
    r0.initialOffset()
    assert r0.latestOffset() == {"version": 5}


def test_stream_max_commits_bounds_catchup_batches(spark, tdir):
    """End to end: a FRESH stream over a 5-commit backlog with
    maxCommitsPerTrigger=2 must stop its availableNow run at commit 2
    (the captured admission-controlled offset), and a checkpoint
    resume must pick up exactly the remainder — bounded catch-up with
    no loss and no replay."""
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    for i in range(5):                    # versions 1..5
        t.merge(src(spark, [(100 + i, i, "I")]), op_col="op")
    ckpt = os.path.join(tdir, "ckpt")
    out = os.path.join(tdir, "out")       # file sink: supports resume

    def run():
        q = (spark.readStream.format("txlog_changes")
             .option("path", t.path)
             .option("maxCommitsPerTrigger", "2").load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return sorted((r["commit_version"], r["user_id"])
                      for r in spark.read.parquet(out).collect())

    # each availableNow run = one capped batch (Spark's recovery calls
    # commit() on the restored batch, so the cap re-engages across
    # restarts too): 2 commits per run, exact resume, no replay
    assert {v for v, _ in run()} == {1, 2}
    assert {v for v, _ in run()} == {1, 2, 3, 4}
    final = run()
    assert {v for v, _ in final} == {1, 2, 3, 4, 5}
    batch = sorted((r["_commit_version"], r["user_id"])
                   for r in t.table_changes_per_commit(0, 5).collect())
    assert final == batch


def _temporal_df(spark):
    """user_id-clustered frame with correlated timestamp + date columns
    (one hour per id from 2024-01-01), plus NULL temporal rows."""
    base = F.lit(1704067200000000)  # 2024-01-01T00:00:00Z in micros
    ts = F.timestamp_micros(
        (base + F.col("id") * 3600 * 1_000_000).cast("long"))
    return spark.range(0, 960).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 97 == 0, None).otherwise(ts).alias("ts"),
        F.when(F.col("id") % 89 == 0, None)
         .otherwise(F.to_date(ts)).alias("d"),
        (F.col("id") * 2).alias("value"))


def test_data_skipping_on_timestamp_and_date(spark, tdir):
    """Temporal stats prune at the manifest: time-range predicates are
    the dominant skip dimension for CDC tables, so timestamp/date
    columns must carry (integer-encoded) stats like any other column.
    Bounds accept ISO strings, datetime/date objects, and raw stat-
    domain integers; NULL temporal rows neither break stats nor leak
    through BETWEEN."""
    from datetime import date, datetime, timezone

    t = TxLogTable.create(spark, os.path.join(tdir, "t"),
                          _temporal_df(spark), "user_id", n_files=8)
    # manifest stats are JSON-safe integers (epoch micros / days)
    s0 = next(iter(t.snapshot().files.values()))
    assert isinstance(s0["cols"]["ts"][0], int)
    assert isinstance(s0["cols"]["d"][0], int)

    # 960 ids x 1h = 40 days; a 1-day band ≈ 1/40 of rows, and ts is
    # clustered with the key, so at most 2 of 8 files survive
    pruned = t.read(where_between=("ts", "2024-01-05", "2024-01-06"))
    assert len(pruned.inputFiles()) <= 2
    expect = sorted(r["user_id"] for r in t.read().filter(
        F.col("ts").between("2024-01-05", "2024-01-06")).collect())
    assert sorted(r["user_id"] for r in pruned.collect()) == expect
    assert expect  # band is non-empty — the prune proved something

    # datetime-object bounds (tz-aware converts to UTC), same result
    lo = datetime(2024, 1, 5, tzinfo=timezone.utc)
    hi = datetime(2024, 1, 6, tzinfo=timezone.utc)
    again = t.read(where_between=("ts", lo, hi))
    assert sorted(r["user_id"] for r in again.collect()) == expect
    assert len(again.inputFiles()) <= 2

    # date column: string and date-object bounds
    dp = t.read(where_between=("d", "2024-01-05", "2024-01-10"))
    d_expect = sorted(r["user_id"] for r in t.read().filter(
        F.col("d").between("2024-01-05", "2024-01-10")).collect())
    assert sorted(r["user_id"] for r in dp.collect()) == d_expect
    assert len(dp.inputFiles()) <= 3
    dp2 = t.read(where_between=("d", date(2024, 1, 5), date(2024, 1, 10)))
    assert sorted(r["user_id"] for r in dp2.collect()) == d_expect

    # stats survive a MERGE rewrite; deep fsck re-derives the same
    # footer encoding (no drift between write path and checker)
    t.merge(spark.createDataFrame(
        [(50, datetime(2024, 3, 1), date(2024, 3, 1), 123, "U")],
        "user_id long, ts timestamp, d date, value long, op string"),
        op_col="op")
    assert all("ts" in s.get("cols", {}) for s in
               t.snapshot().files.values())
    assert t.fsck(deep=True) == []


def test_temporal_skipping_on_converted_table(spark, tdir):
    """CONVERT adopts temporal footer stats into the same integer
    domain, so time-range pruning works immediately on imported
    parquet — the migrate-then-query-by-time path."""
    pdir = os.path.join(tdir, "imported")
    _temporal_df(spark).repartitionByRange(8, "user_id") \
        .write.parquet(pdir)
    t = TxLogTable.convert(spark, pdir, "user_id")
    pruned = t.read(where_between=("ts", "2024-01-05", "2024-01-06"))
    assert 0 < len(pruned.inputFiles()) <= 2
    expect = sorted(r["user_id"] for r in t.read().filter(
        F.col("ts").between("2024-01-05", "2024-01-06")).collect())
    assert sorted(r["user_id"] for r in pruned.collect()) == expect
    assert t.fsck(deep=True) == []


def test_zorder_on_timestamp_column(spark, tdir):
    """ZORDER accepts temporal columns by clustering on their integer
    stat domain (epoch micros) — the canonical CDC layout is
    ZORDER BY (ts, <dim>), and datetime column algebra would otherwise
    have no division to normalize with."""
    base = F.lit(1704067200000000)
    ts = F.timestamp_micros(
        (base + F.col("id") * 3600 * 1_000_000).cast("long"))
    # value anti-correlates with ts: a key-clustered layout is tight in
    # ts but loose in value; the z-layout must become tight-ish in BOTH
    df = spark.range(0, 960).select(
        F.col("id").alias("user_id"), ts.alias("ts"),
        ((959 - F.col("id")) * 2).alias("value"))
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df,
                          "user_id", n_files=16)
    r = t.optimize(zorder_by=("ts", "value"), target_files=16)
    assert not r["skipped"]
    band = t.read(where_between=("ts", "2024-01-05", "2024-01-07"))
    expect = sorted(r_["user_id"] for r_ in t.read().filter(
        F.col("ts").between("2024-01-05", "2024-01-07")).collect())
    assert sorted(r_["user_id"] for r_ in band.collect()) == expect
    assert len(band.inputFiles()) <= 8          # of 16: pruned in ts
    vband = t.read(where_between=("value", 100, 200))
    assert len(vband.inputFiles()) <= 8         # ...and in value
    assert t.fsck(deep=True) == []


def test_where_between_conjunction(spark, tdir):
    """A LIST of where_between predicates ANDs: each prunes the file
    set independently (intersection) and each leaves its residual
    filter, so the result equals filtering the full scan — the stacked
    `(dim, x, x) AND (ts, lo, hi)` CDC read shape."""
    t = TxLogTable.create(spark, os.path.join(tdir, "t"),
                          _temporal_df(spark), "user_id", n_files=8)
    preds = [("ts", "2024-01-05", "2024-01-20"),
             ("value", 300, 700)]
    got = t.read(where_between=preds)
    expect = (t.read()
              .filter(F.col("ts").between("2024-01-05", "2024-01-20"))
              .filter(F.col("value").between(300, 700)))
    assert sorted(r["user_id"] for r in got.collect()) == \
        sorted(r["user_id"] for r in expect.collect())
    # the intersection prunes tighter than either predicate alone
    n_both = len(got.inputFiles())
    n_ts = len(t.read(where_between=preds[0]).inputFiles())
    n_v = len(t.read(where_between=preds[1]).inputFiles())
    assert n_both <= min(n_ts, n_v) <= 8
    # disjoint conjunction prunes to the empty frame
    assert t.read(where_between=[("ts", "2024-01-05", "2024-01-06"),
                                 ("value", 1800, 1900)]).count() == 0


def test_delete_where_predicate_retention(spark, tdir):
    """Predicate DELETE — the retention sweep: DELETE WHERE ts <=
    horizon drops whole files by stats (needs the null count: BETWEEN
    never matches NULL, so containment alone can't prove a full-file
    match), rewrites straddlers keeping NULL-ts rows, and the change
    feed reports every deleted key."""
    horizon = "2024-01-10"
    # NULL-free table: whole files below the horizon drop by stats
    # alone (zero null count + containment), no data pass
    base = F.lit(1704067200000000)
    nn = spark.range(0, 960).select(
        F.col("id").alias("user_id"),
        F.timestamp_micros(
            (base + F.col("id") * 3600 * 1_000_000).cast("long"))
        .alias("ts"),
        (F.col("id") * 2).alias("value"))
    ta = TxLogTable.create(spark, os.path.join(tdir, "a"), nn,
                           "user_id", n_files=8)
    ma = ta.delete_where(where_between=("ts", "1970-01-01", horizon))
    assert ma["files_dropped"] >= 1
    assert sorted(r["user_id"] for r in ta.read().collect()) == \
        sorted(r["user_id"] for r in nn.filter(
            ~F.col("ts").between("1970-01-01", horizon)).collect())

    # table WITH NULL-ts rows in every file: no whole-drop is provable
    # (null count nonzero), straddlers rewrite, NULL rows survive
    t = TxLogTable.create(spark, os.path.join(tdir, "t"),
                          _temporal_df(spark), "user_id", n_files=8)
    expect_kept = sorted(
        r["user_id"] for r in t.read().filter(
            ~F.coalesce(F.col("ts").between("1970-01-01", horizon),
                        F.lit(False))).collect())
    m = t.delete_where(where_between=("ts", "1970-01-01", horizon))
    assert m["files_dropped"] == 0      # NULLs block the stats proof
    got = sorted(r["user_id"] for r in t.read().collect())
    assert got == expect_kept
    # NULL-ts rows in the deleted band survive (id % 97 == 0)
    assert 0 in got
    feed_deletes = (t.table_changes(m["version"] - 1, m["version"])
                    .filter(F.col("change_type") == "D").count())
    assert feed_deletes == 960 - len(expect_kept)
    assert t.fsck(deep=True) == []


def test_delete_where_predicate_dv_and_conjunction(spark, tdir):
    """Predicate DELETE in dv mode writes no parquet; a conjunction
    deletes only the intersection; stats-disjoint predicates make the
    whole delete a no-op commit."""
    t = TxLogTable.create(spark, os.path.join(tdir, "t"),
                          _temporal_df(spark), "user_id", n_files=8)

    def parquet_files():
        return sorted(p for p in t.snapshot().files)

    before = parquet_files()
    m = t.delete_where(where_between=[("ts", "2024-01-05", "2024-01-08"),
                                      ("value", 0, 250)],
                       mode="dv")
    assert m["files_rewritten"] == 0
    assert parquet_files() == before          # zero files added/removed
    survivors = sorted(r["user_id"] for r in t.read().collect())
    gone = [r for r in range(960) if r not in survivors]
    # intersection only: every deleted row satisfied BOTH predicates
    full = _temporal_df(spark).collect()
    by_id = {r["user_id"]: r for r in full}
    for g in gone:
        r = by_id[g]
        assert r["ts"] is not None and r["value"] is not None
        assert 0 <= r["value"] <= 250
    assert gone                                # something was deleted
    # disjoint predicate: provably-no-match everywhere, nothing changes
    n = t.snapshot().version
    m2 = t.delete_where(where_between=("value", 10_000, 20_000))
    assert m2["files_dropped"] == 0 and m2["files_rewritten"] == 0
    assert sorted(r["user_id"] for r in t.read().collect()) == survivors
    assert t.fsck(deep=True) == []


def test_delete_where_requires_exactly_one_range(spark, tdir):
    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    with pytest.raises(ValueError):
        t.delete_where()
    with pytest.raises(ValueError):
        t.delete_where((0, 5), where_between=("value", 0, 5))


def test_restore_to_version(spark, tdir):
    """RESTORE re-points HEAD at an old snapshot metadata-only: the
    restored read is bit-equal to time travel, the undone versions
    stay readable, the change feed across the restore commit is the
    inverse diff, and a restore can itself be restored away."""
    t = make_table(spark, os.path.join(tdir, "t"), n=60, n_files=4)
    t.merge(src(spark, [(1, -1, "U"), (100, 5, "I")]), op_col="op")  # v1
    t.delete_where((0, 10), mode="dv")                               # v2

    def state(v=None):
        return sorted((r["user_id"], r["value"])
                      for r in t.read(version=v).collect())

    v1, v2 = state(1), state(2)
    m = t.restore(1)
    assert (m["version"], m["skipped"]) == (3, False)
    assert state() == v1                 # head == the restored version
    assert state(2) == v2                # history intact
    # feed across the restore: exactly the deleted keys return as I
    feed = t.table_changes(2, 3)
    back = sorted(r["user_id"] for r in
                  feed.filter(F.col("change_type") == "I").collect())
    assert back == sorted(k for k, _ in v1 if k <= 10)
    assert feed.filter(F.col("change_type") == "D").count() == 0
    # restore the restore
    t.restore(2)
    assert state() == v2
    assert t.fsck(deep=True) == []
    # merges keep working on a restored table
    t.merge(src(spark, [(200, 7, "I")]), op_col="op")
    assert (200, 7) in state()


def test_restore_idempotent_txn_and_schema(spark, tdir):
    """(app, epoch) idempotence holds for restore; restoring across a
    RENAME rewinds the schema while retired physical names stay a
    union (no resurrection window)."""
    t = make_table(spark, os.path.join(tdir, "t"), n=30, n_files=2)
    t.rename_column("value", "amount")                       # v1
    assert t.read().columns == ["user_id", "amount"]
    m = t.restore(0, txn=("r", 1))
    assert t.read().columns == ["user_id", "value"]
    m2 = t.restore(0, txn=("r", 1))                          # replay
    assert m2["skipped"] and t.snapshot().version == m["version"]
    assert t.fsck(deep=True) == []


def test_restore_across_drop_column_keeps_fsck_clean(spark, tdir):
    """RESTORE to before a DROP COLUMN on a column-mapped table makes
    the dropped physical live again, so it leaves the retired list;
    every other name that was ever live stays reserved, so later ADDs
    take fresh physicals and nothing old resurrects."""
    df = spark.range(0, 30).select(F.col("id").alias("user_id"),
                                   (F.col("id") * 2).alias("value"),
                                   (F.col("id") * 3).alias("extra"))
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df, "user_id",
                          n_files=2)                         # v0
    t.drop_column("extra")                                   # v1: mapped
    t.add_column("tag", "string")                            # v2
    t.drop_column("value")                                   # v3
    t.restore(1)                                             # v4
    snap = t.snapshot()
    assert sorted(snap.mapping.values()) == ["user_id", "value"]
    assert snap.retired == ["extra", "tag"]
    assert t.fsck(deep=True) == []
    assert sorted(map(tuple, t.read().collect())) == \
        [(i, 2 * i) for i in range(30)]
    t.add_column("tag", "string")
    t.add_column("extra", "long")
    snap = t.snapshot()
    phys = list(snap.mapping.values())
    for c in ("tag", "extra"):
        assert snap.mapping[c] not in snap.retired
        assert phys.count(snap.mapping[c]) == 1
    assert t.fsck(deep=True) == []
    assert t.read().filter("extra IS NOT NULL OR tag IS NOT NULL") \
               .count() == 0


def test_restore_unmapped_target_reserves_head_columns(spark, tdir):
    """Restoring an unmapped table to before a widening merge retires
    the added column's name and gives the table the identity mapping,
    so re-adding the column and a later DROP keep fsck clean."""
    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    t.merge(spark.createDataFrame([(1, -1, 77, "U")],
                                  "user_id long, value long, "
                                  "extra long, op string"),
            op_col="op")                                     # v1: +extra
    t.restore(0)                                             # v2
    snap = t.snapshot()
    assert snap.mapping == {"user_id": "user_id", "value": "value"}
    assert snap.retired == ["extra"]
    t.append(spark.createDataFrame([(100, 1, 5)],
                                   "user_id long, value long, extra long"))
    t.drop_column("value")
    snap = t.snapshot()
    assert snap.mapping["extra"] != "extra"
    assert t.fsck(deep=True) == []
    assert {(r["user_id"], r["extra"]) for r in t.read().collect()} == \
        {(i, None) for i in range(20)} | {(100, 5)}


def test_restore_blocked_past_vacuum_horizon(spark, tdir):
    """Restoring past the vacuum horizon must fail loudly — the files
    are gone; that is what the horizon means."""
    t = make_table(spark, os.path.join(tdir, "t"), n=40, n_files=2)
    for i in range(4):
        t.merge(src(spark, [(i, -i, "U")]), op_col="op")
    t.optimize(target_files=1, small_bytes=1 << 30)
    t.vacuum(retain_last=1, min_age_s=0)
    with pytest.raises(ValueError):
        t.restore(0)


def test_vacuum_dry_run(spark, tdir):
    """dry_run lists exactly what a real vacuum would delete — and
    deletes nothing, truncates nothing, so time travel still works."""
    t = make_table(spark, os.path.join(tdir, "t"), n=40, n_files=4)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op")
    t.optimize(target_files=1, small_bytes=1 << 30)
    versions_before = t._versions()
    dr = t.vacuum(retain_last=1, min_age_s=0, dry_run=True)
    assert dr["dry_run"] and dr["data_files_removed"] == 0
    assert dr["would_remove"]                    # something is sweepable
    assert t._versions() == versions_before      # log untouched
    assert t.read(version=0).count() == 40       # time travel intact
    for rel in dr["would_remove"]:
        assert os.path.exists(os.path.join(t.path, rel))
    real = t.vacuum(retain_last=1, min_age_s=0)
    assert real["data_files_removed"] == len(dr["would_remove"])
    for rel in dr["would_remove"]:
        assert not os.path.exists(os.path.join(t.path, rel))
    assert t.fsck(deep=True) == []


def test_restore_as_of_timestamp(spark, tdir):
    import time

    t = make_table(spark, os.path.join(tdir, "t"), n=30, n_files=2)
    time.sleep(0.05)
    between = time.time()
    time.sleep(0.05)
    t.merge(src(spark, [(1, -1, "U")]), op_col="op")
    t.restore(as_of=between)
    assert t.read().filter("user_id = 1").head()["value"] == 2
    with pytest.raises(ValueError):
        t.restore()                       # neither version nor as_of
    with pytest.raises(ValueError):
        t.restore(0, as_of=between)       # both


def test_restore_races_with_merges(spark, tdir):
    """RESTORE under concurrent MERGE pressure: each restore attempt
    either wins its commit slot cleanly or raises ConflictError —
    never a torn manifest.  Afterward the head replays from the log
    (snapshot == read), deep fsck is clean, and every commit number is
    contiguous (the optimistic-concurrency invariant)."""
    from concurrent.futures import ThreadPoolExecutor

    from cdc_plg_spark.lakehouse import ConflictError

    t = make_table(spark, os.path.join(tdir, "t"), n=40, n_files=2)
    for i in range(3):
        t.merge(src(spark, [(100 + i, i, "I")]), op_col="op")

    outcomes = {"restored": 0, "conflict": 0, "merged": 0}

    def merger(i):
        for j in range(4):
            while True:
                try:
                    t.merge(src(spark, [(200 + 10 * i + j, j, "I")]),
                            op_col="op")
                    outcomes["merged"] += 1
                    break
                except ConflictError:
                    continue

    def restorer():
        for _ in range(3):
            try:
                t.restore(2)
                outcomes["restored"] += 1
            except ConflictError:
                outcomes["conflict"] += 1

    with ThreadPoolExecutor(4) as ex:
        futs = [ex.submit(merger, i) for i in range(3)]
        futs.append(ex.submit(restorer))
        for f in futs:
            f.result()

    assert outcomes["merged"] == 12
    assert outcomes["restored"] + outcomes["conflict"] == 3
    # contiguous commit log — no torn or skipped version
    vs = t._versions()
    assert vs == list(range(vs[0], vs[-1] + 1))
    assert t.fsck(deep=True) == []
    t.read().count()                  # head replays and scans cleanly


def test_merge_partial_update_set(spark, tdir):
    """partial=True = UPDATE SET for sparse CDC events: absent columns
    keep their target value on matches and are NULL on inserts;
    carried columns set even to NULL (presence, not value, signals
    change); deletes and order_by still work; the default path still
    rejects a narrow source."""
    df = spark.range(0, 50).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("value"),
        F.concat(F.lit("n"), F.col("id")).alias("name"))
    t = TxLogTable.create(spark, os.path.join(tdir, "t"), df,
                          "user_id", n_files=2)
    with pytest.raises(ValueError):    # default: narrow source rejected
        t.merge(spark.createDataFrame([(1, -1)], "user_id long, value long"))

    t.merge(spark.createDataFrame(
        [(1, -1, "U"), (2, None, "U"), (100, 7, "I"), (3, 0, "D")],
        "user_id long, value long, op string"),
        op_col="op", partial=True)
    got = {r["user_id"]: (r["value"], r["name"])
           for r in t.read().collect()}
    assert got[1] == (-1, "n1")        # value set, name untouched
    assert got[2] == (None, "n2")      # carried NULL really sets NULL
    assert got[100] == (7, None)       # insert: absent column NULL
    assert 3 not in got                # delete still deletes
    assert got[4] == (8, "n4")         # untouched key untouched

    # order_by columns must ride along in a partial source
    with pytest.raises(ValueError):
        t.merge(spark.createDataFrame([(1, "x")],
                                      "user_id long, name string"),
                partial=True, order_by=("value",))
    assert t.fsck(deep=True) == []


def test_temporal_bounds_as_raw_integers(spark, tdir):
    """Raw numeric temporal bounds are in the STAT domain (epoch
    micros / epoch days): both the manifest prune AND the row-level
    residual must read them there — a bare long handed to Spark would
    cast as epoch SECONDS and silently shift the filter by 10^6."""
    t = TxLogTable.create(spark, os.path.join(tdir, "t"),
                          _temporal_df(spark), "user_id", n_files=8)
    lo_us = 1704067200000000 + 96 * 3600 * 1_000_000   # 2024-01-05
    hi_us = 1704067200000000 + 120 * 3600 * 1_000_000  # 2024-01-06
    got = t.read(where_between=("ts", lo_us, hi_us))
    expect = sorted(r["user_id"] for r in t.read().filter(
        F.col("ts").between("2024-01-05", "2024-01-06")).collect())
    assert sorted(r["user_id"] for r in got.collect()) == expect
    assert expect and len(got.inputFiles()) <= 2
    # epoch-days bounds on the date column
    d_lo, d_hi = 19727, 19732                          # 2024-01-05..10
    gd = t.read(where_between=("d", d_lo, d_hi))
    ed = sorted(r["user_id"] for r in t.read().filter(
        F.col("d").between("2024-01-05", "2024-01-10")).collect())
    assert sorted(r["user_id"] for r in gd.collect()) == ed
    # predicate DELETE with raw-integer bounds deletes the same band
    m = t.delete_where(where_between=("ts", 0, hi_us))
    kept = sorted(r["user_id"] for r in t.read().collect())
    assert kept == sorted(r["user_id"] for r in _temporal_df(spark).filter(
        ~F.coalesce(F.col("ts") <= "2024-01-06", F.lit(False))
    ).collect())


@pytest.mark.multijvm
def test_multiprocess_chaos_with_restore_and_predicate_delete(spark, tdir):
    """Process-boundary chaos soak for the fourth-session ops: 3 OS
    processes race random MERGE / predicate-DELETE (cow+dv) / RESTORE
    / OPTIMIZE / VACUUM / STAMP_HASHES (r10) against one table.
    Content is unspecified by design (restores rewind concurrent
    work); what must hold is the format's integrity: every worker
    exits clean, the commit log is contiguous, every surviving
    version replays, deep fsck finds nothing, and no surviving seal
    mismatches its bytes (a stamp racing a rewrite must never leave a
    stale hash attached to new content)."""
    import subprocess
    import sys as _sys

    path = os.path.join(tdir, "t")
    make_table(spark, path, n=50, n_files=2)
    script = os.path.join(os.path.dirname(__file__),
                          "_txlog_race_worker.py")
    env = dict(os.environ,
               PYTHONPATH=os.path.dirname(os.path.dirname(
                   os.path.abspath(__file__))))
    procs = [subprocess.Popen(
        [_sys.executable, script, path, str(w), "6", "chaos"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env,
        cwd=tdir) for w in range(3)]
    for w, p in enumerate(procs):
        out, _ = p.communicate(timeout=600)
        assert p.returncode == 0, \
            f"chaos worker {w} rc={p.returncode}\n" \
            f"{_worker_failure_report(out)}"

    t = TxLogTable(spark, path)
    versions = t._versions()
    assert versions == list(range(min(versions), max(versions) + 1))
    assert t.snapshot().version >= 3          # the race did commit work
    for v in versions:                        # every survivor replays
        t.read(version=v).count()
    assert t.fsck(deep=True) == []
    # seal coherence after the chaos: any surviving sha256 must match
    # its bytes (stale-seal-on-new-bytes would surface here); a final
    # state with no seals at all is legitimate (rewrites shed them)
    findings = t.fsck(verify_hashes=True)
    assert not [m for m in findings if "content hash" in m], findings


def test_stream_survives_schema_rewinding_restore(spark, tdir):
    """A RESTORE that rewinds a schema widening across a txlog_changes
    stream RESTART: each query start pins the table's head schema (the
    honest Spark limit — schema() is asked once per start), so the
    first run writes WIDE rows and the post-restore run re-pins NARROW
    and writes rows without `extra` into the same sink dir.  Neither
    run may crash or resurrect stale bytes; the sink dir legitimately
    holds mixed schemas, so the verification read MUST use mergeSchema
    — plain parquet schema inference samples one footer in
    part-file-listing order (UUID names → order varies run to run),
    which made this test flake when a narrow footer sorted first."""
    from cdc_plg_spark.sources.txlog_stream import TxLogChangesSource

    spark.dataSource.register(TxLogChangesSource)
    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    # v1: widening merge adds `extra`
    wide = spark.createDataFrame([(1, -1, 77, "U")],
                                 "user_id long, value long, "
                                 "extra long, op string")
    t.merge(wide, op_col="op")
    ckpt = os.path.join(tdir, "ckpt")
    out = os.path.join(tdir, "out")

    def run():
        q = (spark.readStream.format("txlog_changes")
             .option("path", t.path).load()
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return {(r["commit_version"], r["user_id"]):
                (r["change_type"], r["extra"])
                for r in (spark.read.option("mergeSchema", "true")
                          .parquet(out).collect())}

    first = run()                     # consumes v1 under the WIDE pin
    assert first[(1, 1)] == ("U", 77)
    t.restore(0)                      # v2: schema rewinds to narrow
    t.merge(src(spark, [(2, -2, "U")]))          # v3: narrow commit
    got = run()                       # restart re-pins the NARROW head
    # the restore emits the un-update of key 1 and the narrow commit's
    # rows carry no `extra` at all — the merged read surfaces both as
    # NULL, and the wide first-run rows keep their values
    assert got[(1, 1)] == ("U", 77)
    assert got[(2, 1)][1] is None
    assert got[(3, 2)] == ("U", None)


def test_dv_delete_cap_redirects_bulk_to_cow(spark, tdir):
    """The inline-DV scale contract is ENFORCED: a dv-mode delete
    whose straddler match count exceeds dv_max_keys raises (with a
    cow redirect) instead of silently growing the log and the
    read-side broadcast; the same delete in cow mode — and a capped
    dv delete under a raised limit — both succeed."""
    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=2)
    with pytest.raises(ValueError, match="dv_max_keys"):
        t.delete_where((10, 60), mode="dv", dv_max_keys=5)
    # nothing committed, nothing deleted
    assert t.read().count() == 100
    # raised cap: the same delete lands as a DV
    m = t.delete_where((10, 60), mode="dv", dv_max_keys=1000)
    assert m["files_rewritten"] == 0
    assert t.read().count() == 100 - 51
    # bulk path: cow ignores the cap entirely
    t.delete_where((0, 200), mode="cow", dv_max_keys=1)
    assert t.read().count() == 0


def _worker_failure_report(out: bytes) -> str:
    """Forensics-friendly failure text: the FIRST exception line (the
    3000-char tail used to cut off the exception class — observed in
    the r7 contention flake, where only mid-stack parquet frames
    survived) plus a generous tail."""
    txt = out.decode(errors="replace")
    first = next((ln for ln in txt.splitlines()
                  if re.search(r"(Exception|Error)\b", ln)), "")
    return f"first-error: {first}\n...\n{txt[-8000:]}"


def test_reserved_column_names_refused_at_every_edge(spark, tdir):
    """Internal temporaries must never enter a table schema: `_op` is
    accepted by Spark at create but makes every later merge fail
    AMBIGUOUS_REFERENCE, and a user `_t`/`_s` column would be SILENTLY
    OVERWRITTEN by merge's join markers (reproduced before the guard).
    All schema edges refuse: create, add_column, and additive widening
    through append/merge."""
    from pyspark.sql import functions as F

    for bad in ("_op", "_t", "change_type"):
        df = spark.range(5).select(
            F.col("id").alias("k"), F.lit("x").alias(bad))
        with pytest.raises(ValueError, match="reserved"):
            TxLogTable.create(spark, os.path.join(tdir, f"c{bad}"),
                              df, "k")
    t = TxLogTable.create(
        spark, os.path.join(tdir, "t"),
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") * 2).alias("v")), "k")
    with pytest.raises(ValueError, match="reserved"):
        t.add_column("_s", "string")
    with pytest.raises(ValueError, match="reserved"):
        t.append(spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit(1).alias("_rn")))
    with pytest.raises(ValueError, match="reserved"):
        t.merge(spark.range(0, 2).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit(1).alias("_merge")))
    # rename TARGET is a schema edge too (ADVICE r8): renaming a user
    # column TO a reserved name re-enables the silent-overwrite class
    for bad in ("_t", "_op", "commit_version"):
        with pytest.raises(ValueError, match="reserved"):
            t.rename_column("v", bad)
    # non-identifier names are LEGAL at every edge (ADVICE r9: one
    # shared rule — a name create accepts, rename can produce); only
    # backtick/control-character names refuse (they'd escape the
    # engine's `name` quoting in CHECK/generated/fsck expressions)
    with pytest.raises(ValueError, match="backtick"):
        t.rename_column("v", "bad`tick")
    t.rename_column("v", "not an identifier")
    assert [f.name for f in t.read().schema.fields] \
        == ["k", "not an identifier"]
    t.rename_column("not an identifier", "v")
    # nothing leaked into the schema; the table stays healthy
    assert [f.name for f in t.read().schema.fields] == ["k", "v"]
    assert t.fsck(deep=True) == []


def test_deep_fsck_flags_foreign_same_size_overwrite(spark, tdir):
    """Foreign-writer tripwire (VERDICT r9 task 3): adds stamp the
    file's mtime at commit time, so a SIZE-PRESERVING overwrite under
    data/ by a non-engine tool — invisible to the shallow byte-size
    check and to every stats-trusting reader — is flagged by deep
    fsck.  The overwrite here writes back the IDENTICAL bytes, so the
    footer-containment checks stay green and the finding can only
    come from the mtime stamp."""
    import time as _time

    t = make_table(spark, os.path.join(tdir, "t"), n=100, n_files=4)
    assert t.fsck(deep=True) == []
    victim = sorted(t.snapshot().files)[0]
    vpath = os.path.join(t.path, victim)
    raw = open(vpath, "rb").read()
    _time.sleep(0.02)         # ensure a distinct mtime_ns
    with open(vpath, "wb") as f:
        f.write(raw)
    assert t.fsck() == []     # same size: shallow fsck can't see it
    findings = t.fsck(deep=True)
    assert any("foreign writer" in m and victim in m
               for m in findings), findings
    # OPTIMIZE rewrites the live set -> fresh stamps, healthy again
    t.optimize(target_files=2)
    assert t.fsck(deep=True) == []


def test_column_name_surface_uniform_across_edges(spark, tdir):
    """ADVICE r9: rename_column required isidentifier() while
    create/convert accepted any non-reserved name — a name the table
    could be created with couldn't be produced by rename.  Now ONE
    shared rule at every schema edge: reserved/leading-underscore and
    backtick/control-character names refused, everything else (dash,
    space) legal everywhere."""
    t = make_table(spark, os.path.join(tdir, "t"), n=20, n_files=1)
    t.rename_column("value", "value-usd")           # was refused
    assert t.read().filter(F.col("value-usd") == 10).count() == 1
    t.add_column("unit price", "double")            # was refused
    assert "unit price" in [f.name for f in t.read().schema.fields]
    # the shared rule still refuses what it must, at EVERY edge
    with pytest.raises(ValueError, match="backtick|reserved"):
        t.rename_column("value-usd", "bad`tick")
    with pytest.raises(ValueError, match="backtick|reserved"):
        t.add_column("also`bad", "long")
    with pytest.raises(ValueError, match="reserved"):
        t.rename_column("value-usd", "_t")
    with pytest.raises(ValueError, match="backtick"):
        make_table2_name = os.path.join(tdir, "t2")
        TxLogTable.create(
            spark, make_table2_name,
            spark.range(3).select(F.col("id").alias("k"),
                                  F.col("id").alias("ba`d")),
            "k")
    assert t.fsck(deep=True) == []
