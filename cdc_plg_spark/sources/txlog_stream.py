"""Streaming SOURCE over the TxLog table format — tail the commit log.

`format("txlog_changes")` turns a TxLog table (cdc_plg_spark.lakehouse)
into an unbounded stream of row-level I/U/D change events, one batch
element per commit: the reference's product — an ordered change stream
(/root/reference/README.md:17) — served back OUT of the warehouse so a
table can be a CDC relay, not a terminus.  Together with the
foreachBatch merge sink (stream_sink_lakehouse_merge) this closes the
loop: stream → table → stream.

Scale shape:
- Offsets are commit versions (a dict `{"version": N}` in Spark's
  offset log), so checkpoint recovery is exact replay of whole commits
  — the resume-from-checkpoint-ts contract (README.md:65,:119).
- The driver does manifest work only: per new commit it replays the
  two snapshots (pure JSON, no data pass), takes their
  `lakehouse._change_plan` — the one file-level change rule, shared
  with `TxLogTable.table_changes` — and emits ONE InputPartition per
  commit carrying it.
- Executors do all data work: each partition reads its plan's old and
  new sides with pyarrow/pandas (Arrow batch reads, key-level outer
  merge, null-safe column compare) and yields the net I/U/D rows for
  that commit.  Rows rewritten unchanged cancel, so a stats-pruned
  merge commit streams only its real changes.  Only this row diff
  mirrors table_changes' Spark join; which rows enter it is the plan's.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource, DataSourceStreamReader, InputPartition,
)
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from cdc_plg_spark.lakehouse import (
    ChangePlan, ChangeSide, Snapshot, TxLogTable, _change_plan,
    _parse_partition_path, _typed_part,
)


def _versions(table: TxLogTable) -> list[int]:
    """The table's log versions; a path holding no log is an error."""
    versions = table._versions()
    if not versions:
        raise ValueError(f"not a TxLog table: {table.path}")
    return versions


def _head(table: TxLogTable) -> Snapshot:
    return table.snapshot(_versions(table)[-1])


class CommitPartition(InputPartition):
    def __init__(self, table_path: str, version: int,
                 plan: ChangePlan | None, schema_json: str, key_col: str,
                 mapping: dict[str, str], full_images: bool) -> None:
        self.table_path = table_path
        self.version = version
        # _change_plan(version - 1, version); None = the empty batch
        self.plan = plan
        self.schema_json = schema_json
        self.key_col = key_col
        # logical -> physical parquet column names (column mapping);
        # {} = identity
        self.mapping = mapping
        self.full_images = full_images


class TxLogChangesSource(DataSource):
    """format("txlog_changes"), option path=<table dir>."""

    @classmethod
    def name(cls) -> str:
        return "txlog_changes"

    def schema(self) -> StructType:
        head = _head(TxLogTable(None, self.options["path"]))
        table_schema = StructType.fromJson(json.loads(head.schema_json))
        return StructType(
            [StructField("commit_version", IntegerType(), False),
             StructField("change_type", StringType(), False),
             *table_schema.fields])

    def streamReader(self, schema) -> "TxLogChangesReader":
        # option fullImages=true: updates emit BOTH images as
        # U_pre/U_post rows (the 4-row-kind Delta-CDF shape) so a
        # downstream incremental computation can retract before-images
        #
        # option maxCommitsPerTrigger=N: admission control for
        # catch-up — cap each planned batch at N commits (default 0 =
        # unbounded, the availableNow replay the tests pin)
        return TxLogChangesReader(
            self.options["path"],
            self.options.get("fullImages", "false").lower() == "true",
            pinned_schema=schema,
            max_commits=int(self.options.get("maxCommitsPerTrigger", 0)))


class TxLogChangesReader(DataSourceStreamReader):
    def __init__(self, table_path: str, full_images: bool = False,
                 pinned_schema=None, max_commits: int = 0) -> None:
        self.table = TxLogTable(None, table_path)
        self.full_images = full_images
        # maxCommitsPerTrigger admission control: without it, a stream
        # STARTED on a table with a deep commit history plans its whole
        # backlog as ONE micro-batch — the unbounded-catch-up failure
        # shape at scale.  latestOffset() returns at most `max_commits`
        # past `_base`, the last COMMITTED offset (initialOffset /
        # commit()) — NOT the last value latestOffset returned, because
        # Spark may call latestOffset several times within one planning
        # cycle (e.g. progress reporting) and the cap must be
        # idempotent across those calls.  Restart-safe: Spark's
        # recovery calls commit() on the restored committed batch
        # (re-seeding the base) and replays an UNCOMMITTED restored
        # batch from its logged range without consulting latestOffset,
        # so the cap holds across restarts with no stall and no
        # replay hole (pinned by the bounded-catchup test).
        self.max_commits = max_commits
        self._base: int | None = None
        # schema, key and COLUMN MAPPING are pinned from one head
        # snapshot when the stream STARTS.  Commits that widen the
        # table mid-stream project down to the pinned schema (a
        # streaming DataFrame's schema is immutable — the honest Spark
        # limit; restart the stream to pick up new columns).  Physical
        # parquet names are stable across RENAME COLUMN, so files from
        # commits made BEFORE a rename translate to the pinned logical
        # names through the pinned mapping — without it, a pre-rename
        # commit's rows would surface NULL under the pinned name.
        # (Mid-stream renames still require a restart, like all
        # non-additive DDL.)  Spark passes the schema it took from
        # schema(); strip the two feed columns, keep the table fields.
        head = _head(self.table)
        self.pinned_json = head.schema_json
        if pinned_schema is not None:
            self.pinned_json = StructType(
                [f for f in pinned_schema.fields
                 if f.name not in ("commit_version", "change_type")]).json()
        self.key_col = head.key_col
        self.pinned_mapping = head.mapping or {}

    # ---- driver side: offsets + change plans ---------------------------

    def initialOffset(self) -> dict:
        # start at the table's FIRST log entry: version 0 (CREATE) is
        # the base image, so the first emitted batch is commit 1
        self._base = _versions(self.table)[0]
        return {"version": self._base}

    def latestOffset(self) -> dict:
        versions = _versions(self.table)
        head = versions[-1]
        if self.max_commits > 0:
            if self._base is None:
                # Spark polls latestOffset BEFORE initialOffset on a
                # fresh start — seed the base with what initialOffset
                # will return so the very first batch is already capped
                self._base = versions[0]
            head = min(head, self._base + self.max_commits)
        return {"version": head}

    def partitions(self, start: dict, end: dict):
        # the planned range is ground truth for the admission cap's
        # base (covers checkpoint restart, where Spark replays the
        # last uncommitted batch without calling initialOffset)
        if self._base is None or start["version"] > self._base:
            self._base = start["version"]

        def part(version: int, plan: ChangePlan | None) -> CommitPartition:
            return CommitPartition(self.table.path, version, plan,
                                   self.pinned_json, self.key_col,
                                   self.pinned_mapping, self.full_images)

        out = []
        # adjacent commits share a snapshot: replay each version ONCE
        # and roll it forward, halving driver-side manifest work on a
        # catch-up batch spanning many commits
        a = self.table.snapshot(start["version"])
        for v in range(start["version"] + 1, end["version"] + 1):
            b = self.table.snapshot(v)
            out.append(part(v, _change_plan(a, b)))
            a = b
        # Spark requires >= 1 partition per planned batch
        return out or [part(-1, None)]

    def commit(self, end: dict) -> None:
        self._base = end["version"]

    # ---- executor side: per-commit file diff ---------------------------

    def read(self, partition: CommitPartition):
        plan = partition.plan
        if plan is None:
            return
        import pandas as pd
        import pyarrow.parquet as pq

        from pyspark.sql.types import StructType as _St

        fields = _St.fromJson(json.loads(partition.schema_json)).fields
        cols = [f.name for f in fields]
        key = partition.key_col
        data_cols = [c for c in cols if c != key]

        # partitioned files: each file's OWN manifest tuple decides
        # which columns re-attach — not the head layout, because one
        # batch can span layouts (files removed by a repartition_layout
        # evolution commit carry the previous partitioning), and a
        # NON-hive converted file's path carries no k=v segments at
        # all (r9 decoupling).  Pre-r9 manifests fall back to hive
        # path parsing.  Mirrors TxLogTable._read_files.
        phys_type = {partition.mapping.get(f.name, f.name):
                     f.dataType.typeName() for f in fields}

        def load(rel_paths) -> "pd.DataFrame":
            frames = []
            for p in rel_paths:
                pdf = pq.read_table(
                    os.path.join(partition.table_path, p)).to_pandas()
                tup = plan.parts.get(p)
                if tup is None:
                    tup = {pc: _typed_part(raw, phys_type[pc])
                           for pc, raw in
                           _parse_partition_path(p).items()
                           if pc in phys_type}
                for pc, v in tup.items():
                    if pc in phys_type and pc not in pdf.columns:
                        pdf[pc] = v
                frames.append(pdf)
            if not frames:
                return pd.DataFrame(columns=cols)
            df = pd.concat(frames, ignore_index=True)
            if partition.mapping:
                # column mapping: parquet carries PHYSICAL names;
                # translate to the logical names the feed speaks
                inv = {p: l_ for l_, p in partition.mapping.items()}
                df = df.rename(columns=inv)
                df = df[[c for c in df.columns if c in cols]]
            for c in cols:            # pre-DDL files lack new columns
                if c not in df.columns:
                    df[c] = None
            df = df[cols]
            # canonicalize timestamps to UTC-aware BEFORE the diff: a
            # CONVERTed table mixes foreign annotations (INT96 / NTZ
            # read tz-NAIVE by pyarrow) with the engine's own
            # TIMESTAMP_MICROS (tz-aware) files.  Un-normalized, the
            # old/new comparison below sees naive != aware for the
            # SAME instant and emits a phantom update for every
            # unchanged row of a rewritten foreign file (reproduced);
            # concatenating them also breaks the final to_datetime.
            # The session is UTC-pinned, so naive values are UTC
            # instants and utc=True is value-preserving.
            for f in fields:
                if f.dataType.typeName() == "timestamp":
                    df[f.name] = pd.to_datetime(df[f.name], utc=True)
            return df

        def side(s: ChangeSide) -> "pd.DataFrame":
            df = load(s.files)
            if s.drop:
                df = df[~df[key].isin(s.drop)]
            if s.extra_keys:
                extra = load(s.extra_files)
                df = pd.concat([df, extra[extra[key].isin(s.extra_keys)]],
                               ignore_index=True)
            return df

        old, new = side(plan.old), side(plan.new)
        m = old.merge(new, on=key, how="outer",
                      suffixes=("_o", "_n"), indicator=True)

        # vectorized classification — no per-row Python: a commit's
        # change batch can be large, so the diff stays columnar all the
        # way and is handed to Spark as ONE Arrow batch
        import numpy as np
        import pyarrow as pa

        is_i = (m["_merge"] == "right_only").to_numpy()
        is_d = (m["_merge"] == "left_only").to_numpy()
        differs = np.zeros(len(m), dtype=bool)
        for c in data_cols:
            a, b = m[f"{c}_o"], m[f"{c}_n"]
            differs |= ~((a.isna() & b.isna())
                         | (a == b).fillna(False)).to_numpy()
        keep = is_i | is_d | differs
        mk = m.loc[keep]
        is_d, is_i = is_d[keep], is_i[keep]
        u_label = "U_post" if partition.full_images else "U"
        out = pd.DataFrame(index=mk.index)
        out["commit_version"] = np.int32(partition.version)
        out["change_type"] = np.where(is_i, "I",
                                      np.where(is_d, "D", u_label))
        out[key] = mk[key]
        for c in data_cols:             # before-image for D, after else
            out[c] = mk[f"{c}_n"].where(~is_d, mk[f"{c}_o"])
        if partition.full_images:
            # updates additionally emit their before-image as U_pre
            is_u = ~(is_d | is_i)
            mu = mk.loc[is_u]
            pre = pd.DataFrame(index=mu.index)
            pre["commit_version"] = np.int32(partition.version)
            pre["change_type"] = "U_pre"
            pre[key] = mu[key]
            for c in data_cols:
                pre[c] = mu[f"{c}_o"]
            out = pd.concat([out, pre], ignore_index=True)
        # outer-merge NaNs promote ints to float64; restore nullable
        # ints so the Arrow batch matches the declared Spark schema
        _pd_int = {"long": "Int64", "integer": "Int32",
                   "short": "Int16", "byte": "Int8"}
        for f in fields:
            tn = f.dataType.typeName()
            if tn in _pd_int:
                out[f.name] = out[f.name].astype(_pd_int[tn])
            elif tn == "timestamp":
                # Spark rejects Arrow ns timestamps; pin to µs UTC.
                # utc=True, not tz_localize: the old/new images come
                # from DIFFERENT parquet files, and a CONVERTed
                # foreign file can carry isAdjustedToUTC opposite to
                # the engine's own writes — the object column then
                # MIXES tz-aware and naive values and a plain
                # to_datetime raises ("Cannot mix tz-aware with
                # tz-naive").  The session is pinned UTC everywhere,
                # so naive values are UTC instants and utc=True
                # normalizes both kinds to the same domain.
                col = pd.to_datetime(out[f.name], utc=True)
                out[f.name] = col.astype("datetime64[us, UTC]")
        yield pa.RecordBatch.from_pandas(
            out.reset_index(drop=True), preserve_index=False)
