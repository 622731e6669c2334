"""TxLog — a from-scratch lakehouse table format on parquet + JSON log.

The reference's first-listed sink use case is a batch-write-optimized
warehouse sink (/root/reference/README.md:22): apply ordered row changes
to a downstream analytical table transactionally.  Delta/Iceberg are the
off-the-shelf answer, but neither package exists in this container
(probed every round — see SURVEY.md §2.12), so this module implements
the table-format contract itself, from first principles, the way the
public Delta protocol does it:

- **Commit log**: `<table>/_txlog/<version>.json` — JSONL of actions
  (`add` / `remove` a data file, `meta`, `txn`).  A commit is published
  by `os.link(tmp, final)`, which atomically fails if `final` exists →
  optimistic concurrency without any lock service.  Writers that lose
  the race re-read the log, re-validate, and retry.
- **Data files**: plain parquet under `<table>/data/<writeid>/part-*`,
  written by Spark executors; never mutated, only added/removed by
  commits.  Data lands BEFORE the commit that references it, so a
  crashed writer leaves only unreferenced orphans (cleaned by vacuum).
- **File statistics**: every `add` carries `(rows, bytes, min_key,
  max_key)` computed by ONE distributed job over the freshly written
  files (`groupBy(input_file_name())`).  MERGE/DELETE use them for
  file-level pruning: only files whose key range can contain a source
  key are rewritten (copy-on-write), everything else is untouched.
  That is the 100 TB story — a CDC batch touching 0.1% of keys
  rewrites 0.1% of files, not the table.
- **Checkpoints**: every `CHECKPOINT_EVERY` commits the full snapshot
  (file list + txns) is written next to the log, so replay cost is
  O(recent commits), not O(history).
- **Idempotent txns**: a commit may carry `(app, epoch)`; re-applying
  an epoch ≤ the recorded high-water mark is a no-op.  This is how the
  `foreachBatch` streaming sink achieves exactly-once on top of
  Spark's at-least-once epoch replay (README.md:119's idempotence
  stance).
- **Time travel / vacuum**: `read(version=N)` replays to N;
  `vacuum(retain_last=k)` deletes data files unreachable from the
  last k versions and truncates the log behind a new checkpoint.
- **Column mapping (RENAME / DROP COLUMN)**: `rename_column` /
  `drop_column` are pure meta commits — logical names map to stable
  physical parquet names (`Snapshot.mapping`), readers/writers
  translate at the scan/write edge, per-file column stats stay keyed
  by physical name so data skipping survives renames, and dropped
  columns' physical names are RETIRED so re-adding the logical name
  can never resurrect old bytes (purged at the next OPTIMIZE rewrite).
  The public Delta column-mapping ("name" mode) contract.
- **Partition columns (hive layout)**: `create(partition_by=[...])`
  writes data files under hive-style `col=value` directories (Spark's
  `partitionBy`), records each file's partition values in its
  add-action, and `read(where_between=...)` on a partition column
  prunes at the manifest by EXACT value — zero data or footer reads
  for skipped partitions.  The partition columns never live in the
  parquet bytes; each file's TYPED values live in its add-action
  `partition` tuple, and readers re-attach them as typed literals per
  partition group, so every caller still sees the full logical
  schema.  The MANIFEST tuple — not the path — is the authority (r9):
  native writes still lay files out hive-style (self-describing,
  external-tool friendly, cross-checked by fsck), but `convert(...,
  partition_values=fn)` adopts NON-hive layouts (value-only dirs,
  date-embedded names) whose paths carry no `k=v` segments at all.
  The change feed reads files already REMOVED from the manifest by
  carrying their tuples from the older snapshot.  Renaming a
  partition column is a meta commit like any other (tuples keep the
  stable physical name), dropping one is refused.  NULL/empty
  partition values are rejected at write time (the hive
  `__HIVE_DEFAULT_PARTITION__` ambiguity is not worth inheriting).
  `repartition_layout([...])` EVOLVES the spec — one full-rewrite
  commit into a new layout (or back to unpartitioned); history below
  keeps the old layout and stays readable because every reader uses
  a file's OWN tuple, never the head layout, so even the change feed
  across the evolution commit (old layout out, new layout in) diffs
  exactly and nets empty.
- **Per-file key bloom filters (opt-in)**: `create(key_bloom_bits=N)`
  adds an exact-key skipping tier under the min/max ranges.  Each
  write runs one column-pruned job over the key column it just wrote;
  every executor builds its own file's filter (xxhash64 double-hashed,
  Kirsch–Mitzenmacher) and writes it as a `<file>.bloom` sidecar.
  MERGE's candidate scan then probes membership on executors, so a
  source key inside a file's [min,max] but not in the file no longer
  forces a rewrite — which is exactly what OPTIMIZE ZORDER needs,
  since z-clustering widens every file's key span until range pruning
  admits everything.  Point reads (`read(key_between=(k, k))`) take
  the same probe, so a key lookup touches ~one file instead of every
  range-overlapping one.  Fail-open: a missing/foreign sidecar makes
  the file a candidate; false negatives are impossible, so merge
  results are bit-identical with blooms on or off.
- **CONVERT TO TXLOG**: `TxLogTable.convert(spark, path, key_col)`
  adopts an existing parquet directory BY REFERENCE — zero data read
  or rewritten; every file enters the manifest with footer-derived
  stats, hive-partitioned imports declare their partition schema
  (types aren't in the bytes), and the table owns its root directory
  afterwards (vacuum sweeps it like Delta's).  The 100 TB migration
  path: convert, then MERGE/OPTIMIZE/CDF as native.
- **CHECK constraints**: `create(checks={"name": "expr"})` /
  `add_check` / `drop_check`.  Enforced against the parquet a write
  just LANDED (column-pruned read-back — the merge join never runs
  twice), BEFORE the commit publishes; a violation deletes the landed
  files and raises, so the table never holds a bad row and the
  version never advances.  SQL semantics (TRUE or NULL passes);
  `add_check` validates the whole existing table first; renaming or
  dropping a constrained column is refused until its constraints are
  dropped — the public Delta CHECK-constraint contract.
- **Generated columns** (fixed at create): `create(generated={"col":
  "expr"})` declares `col` as GENERATED ALWAYS AS (expr) over other
  logical columns.  Every ingest (create/append/merge) computes the
  column when the caller omits it and validates `col <=> expr`
  against the landed bytes when the caller supplies it (same pass as
  CHECK constraints — loud abort, never silent override or silent
  trust); MERGE recomputes the after-image so a partial UPDATE that
  moves a source column moves the generated value (and its hive
  partition) with it.  When the column is also a partition column
  and the expression is a recognized MONOTONE shape (date_format
  with a big-endian pattern, year, fixed prefix, floor-div), a
  read() predicate on the SOURCE column translates into a partition
  prune — the Delta "partition pruning from generated columns"
  contract, with the residual row filter keeping results exact when
  the shape is unrecognized.  Tables with generated columns commit
  protocol [1, 2]: a v1 writer would ingest without computing or
  validating them, so it is locked out loudly while reads stay open.
- **Type widening** (`widen_column_type`): lossless widening
  (byte→short→int→long, float→double) as a pure META commit — old
  files keep their narrow physical encoding, the pinned read schema
  up-casts at scan time, manifest stats stay in the same JSON domain,
  and the canonical bloom hash domain makes even KEY widening
  sidecar-safe.  Ingests may keep shipping the narrow dtype (sources
  conform via lossless up-cast; any other mismatch refuses loudly).
  The commit raises min_reader to 2 — the table can now hold files
  whose footer type differs from the schema, which pre-widening
  readers were never tested against (the public Delta type-widening
  reader-feature discipline); time travel below the commit stays
  open to all readers.
- **Deletion vectors (merge-on-read)**: `delete_where(mode="dv")`
  appends a `dv` action listing the deleted keys per straddling file
  instead of rewriting it — no parquet written; readers anti-join the
  DV, the change feed reports DV growth as deletes, and OPTIMIZE
  materializes vectors away.  COW keeps reads scan-only; DV makes a
  wide-grazing delete O(log entry) — the reader pays until the next
  compaction.  (Keys are table-unique, so a key list is an exact DV;
  a positional bitmap is the same contract, denser.)

Driver-side state is manifest-sized only (one dict entry per live
file — the same scale class as Delta's log replay on the driver);
all data movement is Spark jobs.
"""

from __future__ import annotations

import calendar
import itertools
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field, replace as _dc_replace
from datetime import date as _date, datetime as _datetime, timezone as _tz
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cdc_plg_spark.session import ensure_session_confs

CHECKPOINT_EVERY = 10
_LOG_DIR = "_txlog"
_PAD = 20


class ConflictError(RuntimeError):
    """A concurrent commit invalidated this writer's read snapshot."""


class CheckViolation(ValueError):
    """A write produced rows violating a table CHECK constraint.  The
    commit was never published; the rejected files are orphans until
    vacuum."""


class LayoutInvariantViolation(RuntimeError):
    """A pure-layout rewrite (REPARTITION / OPTIMIZE) produced bytes
    whose content fingerprint differs from its input — a lost,
    duplicated, or partition-mis-attributed row.  The commit was never
    published (the table still reads the pre-rewrite state); the
    rejected files are orphans until vacuum.  Layout ops promise
    "addresses change, values don't" — a rewrite that cannot prove
    that must refuse to publish rather than rely on a downstream
    oracle to notice (r11 VERDICT task 3)."""


class UnsupportedProtocolError(RuntimeError):
    """The table's protocol requires a newer client (the Delta-style
    protocol-versioning contract): min_reader above READER_VERSION
    blocks even reads; min_writer above WRITER_VERSION blocks every
    mutation (incl. vacuum — an old client must never destroy files
    whose reachability rules it may not understand) while reads keep
    working.  This is how a format EVOLVES without silent corruption:
    a future feature that old clients would mishandle bumps the floor,
    and they fail loudly here instead of mis-reading or mis-writing."""


# What THIS implementation can read/write.  A table's protocol floor
# ([min_reader, min_writer], carried in meta actions and checkpoints,
# default [1, 1]) is compared against these at snapshot replay (reads)
# and in every mutator (writes).
#
# Capability history (the same ladder public Delta climbs):
#
# Writer:
#   1 — base format (appends/merge/DV/checks/column mapping/...)
#   2 — GENERATED COLUMNS: a table created with `generated={col: expr}`
#       sets min_writer=2, because a v1 writer would append/merge rows
#       WITHOUT computing or validating the generated values —
#       corrupting the col=expr invariant every derived partition
#       prune relies on.  Readers are unaffected (the values are
#       materialized in the data/paths), so min_reader stays 1.
# Reader:
#   1 — base format (pinned-schema scans, stats pruning, DV, CDF, ...)
#   2 — TYPE WIDENING: `widen_column_type` leaves old data files at
#       their narrow physical encoding under a widened logical schema
#       (Spark up-casts INT32 parquet into a LongType column at scan),
#       so a table can hold files whose footer-declared type differs
#       from the schema.  Pre-widening readers were never tested
#       against that possibility (a reader that trusts footer types
#       would mis-handle it), so the widening commit raises
#       min_reader to 2 — the same reader-feature discipline public
#       Delta applies to its type widening.
READER_VERSION = 2
WRITER_VERSION = 2

# lossless widening lattice for widen_column_type: every edge keeps
# the manifest stat domain (JSON ints / floats) and every old value
# exactly representable.  date→timestamp is deliberately ABSENT: date
# stats live in epoch DAYS and timestamp stats in epoch MICROS, so
# that widening would silently poison time-range pruning.
_WIDEN_OK = {"byte": ("short", "integer", "long"),
             "short": ("integer", "long"),
             "integer": ("long",),
             "float": ("double",)}


@dataclass
class Snapshot:
    version: int
    files: dict[str, dict] = field(default_factory=dict)  # rel path -> stats
    txns: dict[str, int] = field(default_factory=dict)    # app -> max epoch
    schema_json: str | None = None
    key_col: str | None = None
    # column mapping (Delta-style "name" mapping): logical column name
    # -> physical parquet column name.  None = identity (a table that
    # never ALTERed).  RENAME/DROP COLUMN are pure meta commits — no
    # data file is touched; readers translate at the scan edge.
    mapping: dict[str, str] | None = None
    # physical names of dropped columns: still present in old parquet
    # files, so a later ADD of the same logical name must take a fresh
    # physical name or it would resurrect the dropped data
    retired: list[str] = field(default_factory=list)
    # hive partition columns, by PHYSICAL name (stable across RENAME
    # COLUMN — the directory names never change).  None/[] = unpartitioned.
    partition_by: list[str] | None = None
    # per-file key bloom filters: bits per key (0 = off, fixed at
    # create).  When on, every data file carries a `<file>.bloom`
    # sidecar and its add-action records {"m": bits, "k": hashes};
    # MERGE candidate pruning tests exact-key membership against it,
    # which keeps COW write amplification bounded even after OPTIMIZE
    # ZORDER widens the per-file key min/max ranges.
    bloom_bits: int = 0
    # CHECK constraints: name -> SQL boolean expression over LOGICAL
    # column names, validated against the landed parquet BEFORE a
    # data-changing commit publishes (violations abort; the orphaned
    # files are vacuum fodder, never table state).
    checks: dict[str, str] = field(default_factory=dict)
    # converted table (CONVERT TO TXLOG): imported files live outside
    # data/, so vacuum sweeps the whole directory minus the log — the
    # table owns its root, like any Delta table directory.
    owns_root: bool = False
    # protocol floor [min_reader, min_writer] this snapshot requires
    # (Delta-style protocol versioning; absent in old logs = [1, 1])
    protocol: list[int] = field(default_factory=lambda: [1, 1])
    # GENERATED columns (Delta-style, fixed at create): logical column
    # name -> deterministic SQL expression over other LOGICAL columns.
    # Every ingest write computes the column when the caller omits it
    # and validates it (col <=> expr, loudly) when the caller supplies
    # it; merge recomputes it on the after-image so a partial UPDATE of
    # a source column can never strand a row under a stale partition
    # value.  When the column is also a partition column and the
    # expression is a recognized MONOTONE shape, read() translates a
    # predicate on the SOURCE column into a partition prune (the
    # Delta "partition pruning from generated columns" contract).
    generated: dict[str, str] = field(default_factory=dict)
    # column DEFAULT values (Delta-style allowColumnDefaults, added
    # via add_column): logical column name -> constant deterministic
    # SQL expression.  A WRITE-side feature only: an ingest frame that
    # OMITS the column gets the default materialized (cast to the
    # declared type); rows already on disk keep reading NULL (their
    # files predate the column — the public Delta semantic, no read-
    # path change, no reader-floor bump).  Presence-based like partial
    # merge: a supplied column keeps caller values incl. explicit NULL.
    defaults: dict[str, str] = field(default_factory=dict)

    def phys(self, logical: str) -> str:
        return (self.mapping or {}).get(logical, logical)

    def logical(self, phys: str) -> str:
        if not self.mapping:
            return phys
        for l_, p in self.mapping.items():
            if p == phys:
                return l_
        return phys

    def logical_partition_by(self) -> list[str]:
        return [self.logical(p) for p in (self.partition_by or [])]


# Snapshot metadata attribute -> its key in meta actions and checkpoints
# (defaults live on the dataclass fields).  Replay, checkpoints, RESTORE
# and CLONE all go through this one table, so no path can drop a field:
# a hand-listed rebuild once lost `checks`, letting a widening merge
# commit rows that violate a CHECK constraint.
_META_KEYS = {
    "schema_json": "schema",
    "key_col": "key_col",
    "mapping": "column_mapping",
    "retired": "retired_physical",
    "partition_by": "partition_by",
    "bloom_bits": "key_bloom_bits",
    "checks": "checks",
    "owns_root": "owns_root",
    "protocol": "protocol",
    "generated": "generated",
    "defaults": "defaults",
}


def _meta_of(snap: Snapshot) -> dict:
    """Every metadata field of `snap`, keyed as the log writes it."""
    return {k: getattr(snap, a) for a, k in _META_KEYS.items()}


def _apply_meta(snap: Snapshot, m: dict) -> None:
    """Replay a checkpoint or meta action onto `snap`: a key `m` lacks
    keeps its current value."""
    for a, k in _META_KEYS.items():
        if k in m:
            setattr(snap, a, m[k])


def _meta_action(**changes) -> dict:
    """A meta action carrying only the named Snapshot attributes: replay
    treats each meta action as a partial update, so unchanged fields
    need not ride along."""
    return {"meta": {_META_KEYS[a]: v for a, v in changes.items()}}


# The manifest entry an add action records, beyond its path: stats and
# layout (`partition`, the `bloom` sidecar, and `nonhive` — a non-hive
# import whose manifest tuple is the sole partition authority), plus
# the foreign-writer tripwires deep fsck checks: commit-time mtimes for
# the data file and its sidecar (stamped by _try_commit) and the
# OPTIONAL content-hash seals (stamp_hashes) that survive even an
# os.utime mtime restore.
_ENTRY_KEYS = ("rows", "bytes", "min_key", "max_key", "cols", "partition",
               "bloom", "mtime_ns", "bloom_mtime_ns", "sha256",
               "bloom_sha256", "nonhive")
_MTIME_KEYS = ("mtime_ns", "bloom_mtime_ns")


def _file_entry(a: dict, drop: tuple[str, ...] = ()) -> dict:
    """The manifest entry of add action (or live entry) `a`, minus the
    keys in `drop`; its deletion vector is not part of it."""
    entry = {k: a[k] for k in _ENTRY_KEYS if k in a and k not in drop}
    entry.setdefault("cols", {})
    return entry


def _readd_actions(entries, drop: tuple[str, ...] = ()) -> list[dict]:
    """Add actions re-listing `(path, entry)` pairs, then the dv actions
    their deletion vectors need: an add REPLACES the manifest entry on
    replay, so a DV that did not ride along would resurrect deleted
    rows."""
    return ([{"add": {"path": p, **_file_entry(s, drop)}}
             for p, s in entries]
            + [{"dv": {"path": p, "keys": list(s["dv"])}}
               for p, s in entries if s.get("dv")])


class ChangeSide(NamedTuple):
    """One image of a change plan: the rows of `files` whose keys are
    not in `drop`, plus the rows of `extra_files` whose keys are in
    `extra_keys`."""
    files: list[str]
    drop: list
    extra_files: list[str]
    extra_keys: list


class ChangePlan(NamedTuple):
    """Which rows enter the diff between two snapshots: `old` is the
    before-image, `new` the after-image, and `parts` holds the
    manifest partition tuple of every file either side names."""
    old: ChangeSide
    new: ChangeSide
    parts: dict[str, dict]


def _change_plan(a: Snapshot, b: Snapshot) -> ChangePlan:
    """The one file-level change rule between snapshots `a` and `b`,
    shared by the batch change feed (TxLogTable.table_changes) and the
    `txlog_changes` stream; each of those only diffs the rows.

    Old side: the files `b` removed, minus the keys their deletion
    vectors already hid at `a` (never live in the range), plus the
    rows of surviving files whose DV GREW — a dv-mode delete changes
    no file, so those keys' before-images are deletes to report.
    New side: the files `b` added, minus the keys dv-deleted at `b`,
    plus the rows of surviving files whose DV SHRANK — RESTORE
    replaying a pre-delete snapshot resurrects them as inserts.
    Removed files are absent from `b.files`, so their partition
    tuples ride along in `parts` (tuples are path-keyed and
    immutable, so `a` and `b` agree on surviving files)."""
    removed = sorted(set(a.files) - set(b.files))
    added = sorted(set(b.files) - set(a.files))
    kept = set(a.files) & set(b.files)

    def dv(s: Snapshot, p: str) -> set:
        return set(s.files[p].get("dv", ()))

    def side(base: list[str], s: Snapshot, extra: dict) -> ChangeSide:
        extra = {p: ks for p, ks in extra.items() if ks}
        return ChangeSide(base,
                          sorted(set().union(*(dv(s, p) for p in base))),
                          sorted(extra), sorted(set().union(*extra.values())))

    old = side(removed, a, {p: dv(b, p) - dv(a, p) for p in kept})
    new = side(added, b, {p: dv(a, p) - dv(b, p) for p in kept})
    pool = {**a.files, **b.files}
    named = (*removed, *added, *old.extra_files, *new.extra_files)
    return ChangePlan(old, new, {p: pool[p]["partition"] for p in named
                                 if "partition" in pool[p]})


def _checks_referencing(checks: dict[str, str], col: str) -> list[str]:
    """Constraint names whose expression mentions `col` as a word —
    conservative (a string literal containing the name also matches),
    which errs toward refusing a rename/drop that would orphan a
    constraint, never toward allowing one.  Backticks are stripped
    before matching: a check written as  `value` >= 0  references
    `value` exactly as the unquoted form does, and the lookbehind
    would otherwise skip it (rename/drop would then orphan the
    constraint and every later write would fail resolving it)."""
    import re

    pat = re.compile(rf"(?<![\w.]){re.escape(col)}(?![\w(])")
    return sorted(n for n, e in checks.items()
                  if pat.search(e.replace("`", "")))


# Function names whose presence disqualifies a generated-column
# expression: a non-deterministic generator would make the col=expr
# invariant unverifiable (recomputing it yields a different value).
# Word-matched, conservative — a false positive refuses a create, a
# false negative would corrupt, so the list errs broad.
_NONDETERMINISTIC_FNS = (
    "rand", "randn", "random", "uuid", "shuffle",
    "monotonically_increasing_id", "current_timestamp", "current_date",
    "current_timezone", "current_user", "now", "localtimestamp",
    "input_file_name", "spark_partition_id",
    # escape hatches into arbitrary (session/JVM-dependent) code —
    # reflect("java.lang.System","nanoTime") passes a word blocklist
    # of time functions while still being nondeterministic
    "reflect", "java_method",
)

# unix_timestamp()/to_unix_timestamp() are current-time ONLY when
# called with zero args; with a column argument they are deterministic
# and legitimate in a generator, so they get a call-shape check
# instead of a word-blocklist entry.
_ZERO_ARG_NOW_PAT = (r"(?i)(?<!\w)(?:unix_timestamp|to_unix_timestamp"
                     r"|current_timestamp|now|localtimestamp)\s*\(\s*\)")

# Deep CLONE fans its byte copies out as one executor job at this many
# files and above; below it a driver loop beats the job-launch cost.
# The threshold is the knob the no-driver-copy test pins (a deep clone
# of >= this many files must succeed with driver-side copyfile
# disabled, proving the bytes moved on executors).
_CLONE_DISTRIBUTE_MIN = 8


def _clone_copy_job(job: tuple[str, str, bool]) -> None:
    """Copy ONE (src, dst, has_bloom) deep-clone pair — module-level
    and self-contained so Spark ships it to executor tasks by
    reference (`sc.parallelize(pairs).foreach(_clone_copy_job)`).
    File-to-file on shared storage: no byte ever flows through the
    driver.  makedirs is per-task because on a real cluster the
    destination directory tree doesn't pre-exist on any one node's
    view until someone creates it."""
    import os as _os
    import shutil as _shutil

    src, dst, has_bloom = job
    _os.makedirs(_os.path.dirname(dst), exist_ok=True)
    _shutil.copyfile(src, dst)
    if has_bloom:
        _shutil.copyfile(src + ".bloom", dst + ".bloom")


def _sha256_file(path: str) -> tuple[str, str | None]:
    """sha256 hexdigest of ONE file's raw bytes — module-level and
    self-contained so Spark ships it to executor tasks by reference
    (`sc.parallelize(paths).map(_sha256_file)`).  Chunked read: the
    seal must never require a whole data file in one task's memory.
    Plain `open()` on purpose — see `_hash_files` for why the Hadoop
    read path is unusable here.

    A file that vanishes mid-pass (a concurrent cow-delete commits
    and a racing vacuum unlinks it between the caller's exists-check
    and this read) yields None instead of crashing the executor task:
    the vanishing implies a commit that bumps the version, so
    `stamp_hashes` retries on a fresh snapshot and `fsck` leaves the
    finding to the next run's exists-check.

    Any OTHER read failure (EACCES, EIO, NotADirectoryError, ...)
    yields a distinct `_HASH_UNREADABLE`-prefixed marker instead of
    raising — an executor-side raise would fail the whole hash job,
    and the audit must REPORT, never die (ADVICE r10).  The marker
    cannot collide with a real digest (hexdigests never start with
    '!'); `fsck(verify_hashes=True)` turns it into an
    'unreadable during hash audit' finding and `stamp_hashes` fails
    fast with the cause instead of exhausting retries."""
    import hashlib as _hashlib

    h = _hashlib.sha256()
    try:
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    except FileNotFoundError:
        return path, None
    except OSError as e:
        return path, (_HASH_UNREADABLE
                      + f"{e.__class__.__name__}: {e.strerror or e}")
    return path, h.hexdigest()


# prefix marking a file _sha256_file could open-or-read-fail on for a
# reason OTHER than vanishing; '!' keeps it disjoint from hexdigests
_HASH_UNREADABLE = "!unreadable: "


def _strip_sql_string_literals(expr: str) -> str:
    """Blank out quoted string literals before word-scanning a DEFAULT
    expression: a literal is a constant, so a blocked word INSIDE one
    (`'select one'`, `'now'`) is not a function call or a subquery and
    must not trip the guards (ADVICE r9).  Handles Spark's doubled-
    quote ('') and backslash escapes, single- and double-quoted forms;
    replaced with the empty literal so the surrounding expression
    shape survives.  Word-boundary scans stay conservative: malformed
    quoting falls through unstripped and still refuses."""
    import re as _re

    return _re.sub(r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"",
                   "''", expr)


# date_format patterns whose output order equals input order (big-endian
# calendar fields, fixed width for 4-digit years) — the only formats the
# derived partition prune trusts.  Monotonicity needs every year in the
# queried range to render at 4 digits; `_generated_bounds` guards
# [1000, 9999] at evaluation time.
_MONOTONE_DATE_FMTS = ("yyyy", "yyyy-MM", "yyyy-MM-dd", "yyyy-MM-dd HH")


def _monotone_generator(expr: str):
    """(source_col, kind) when `expr` is a recognized shape that is
    MONOTONE NON-DECREASING in its single source column, else None.

    This drives read()'s derived partition prune, where an unsound
    answer silently drops matching files — so the allowlist holds only
    shapes with a clean order argument:
    - date_format(ts, <big-endian fmt>): fixed-width big-endian text,
      order-preserving while years stay 4-digit (guarded at eval);
    - year(ts): calendar years are ordered with the timeline;
    - substring(s, 1, n) / substr: a fixed-length prefix never inverts
      binary-lexicographic string order;
    - floor(x / N), N a positive literal: scaling by a positive
      constant then flooring is non-decreasing.
    Everything else (month/day/hour alone, hash, abs, ...) returns
    None and simply forfeits the derived prune — never correctness
    (the residual row filter stays on either way)."""
    import re

    e = " ".join(expr.replace("`", "").strip().split())
    m = re.fullmatch(
        r"(?i:date_format)\(\s*(\w+)\s*,\s*'([^']+)'\s*\)", e)
    if m and m.group(2) in _MONOTONE_DATE_FMTS:
        return m.group(1), "date_format"
    m = re.fullmatch(r"(?i:year)\(\s*(\w+)\s*\)", e)
    if m:
        return m.group(1), "year"
    m = re.fullmatch(
        r"(?i:substr(?:ing)?)\(\s*(\w+)\s*,\s*1\s*,\s*\d+\s*\)", e)
    if m:
        return m.group(1), "prefix"
    m = re.fullmatch(
        r"(?i:floor)\(\s*(\w+)\s*/\s*(\d+(?:\.\d+)?)\s*\)", e)
    if m and float(m.group(2)) > 0:
        return m.group(1), "floor_div"
    return None


# Source dtypes under which each recognized generator shape's
# monotonicity argument actually holds.  The shapes above are monotone
# in the source's NATIVE ordering domain; when the predicate column's
# dtype orders differently, the derived prune is UNSOUND: g = floor(s/2)
# over a STRING s orders numerically while the residual filter and s's
# own stats order lexicographically — `s BETWEEN '1' AND '5'` matches
# '10', yet g('10')=5 is outside [g('1'),g('5')]=[0,2], so a file
# holding only s='10' would be pruned and its matching row silently
# dropped (ADVICE r7, reproduced).  A mismatch just forfeits the prune.
_GENERATOR_SRC_TYPES = {
    "floor_div": ("byte", "short", "integer", "long", "float", "double",
                  "decimal"),
    "year": ("date", "timestamp", "timestamp_ntz"),
    "date_format": ("date", "timestamp", "timestamp_ntz"),
    "prefix": ("string",),
}


def _generator_dtype_ok(kind: str, src_type_name: str) -> bool:
    """True when the generator shape's ordering domain matches the
    source column's native ordering (see _GENERATOR_SRC_TYPES)."""
    return src_type_name in _GENERATOR_SRC_TYPES.get(kind, ())


# lossless implicit-widening ladders for ingest type conformance
_INT_WIDTH = {"byte": 1, "short": 2, "integer": 3, "long": 4}
_FLOAT_WIDTH = {"float": 1, "double": 2}


def _conform_types(df: DataFrame, table_fields, ctx: str) -> DataFrame:
    """Make an ingest DataFrame's dtypes match the table schema for
    every column both sides share: a source column NARROWER on the
    integral/float ladder is up-cast (lossless); any other mismatch is
    REFUSED loudly.  Without this, a merge source carrying the key as
    BIGINT against an INT-keyed table wrote INT64 parquet under the
    table's pinned INT schema — the commit succeeded and every later
    read failed with PARQUET_COLUMN_DATA_TYPE_MISMATCH (reproduced);
    silently down-casting instead would wrap values.  Columns the
    table doesn't declare (schema-widening extras, `_op`) pass
    through untouched."""
    casts = {}
    for f_ in table_fields:
        if f_.name not in df.columns:
            continue
        have = df.schema[f_.name].dataType
        if have == f_.dataType:
            continue
        hn, wn = have.typeName(), f_.dataType.typeName()
        ok = ((hn in _INT_WIDTH and wn in _INT_WIDTH
               and _INT_WIDTH[hn] <= _INT_WIDTH[wn])
              or (hn in _FLOAT_WIDTH and wn in _FLOAT_WIDTH
                  and _FLOAT_WIDTH[hn] <= _FLOAT_WIDTH[wn]))
        if not ok:
            raise ValueError(
                f"{ctx} column {f_.name!r} has type {hn} but the "
                f"table declares {wn}: only lossless integral/float "
                f"widening is implicit — cast the source explicitly "
                f"(a silent down-cast would wrap values; a wider "
                f"write would break the table's pinned read schema)")
        casts[f_.name] = f_.dataType
    if not casts:
        return df
    return df.select(*[
        F.col(f_.name).cast(casts[f_.name]).alias(f_.name)
        if f_.name in casts else F.col(f_.name)
        for f_ in df.schema.fields])


# Column names the engine uses as internal temporaries (merge op
# marker, join-side markers, latest-per-key rank, pandas merge
# indicator) or emits in the change feed.  A user column under one of
# these names is ACCEPTED by Spark at create but breaks — or worse,
# silently corrupts — later operations: merge's withColumn("_t", 1)
# would OVERWRITE a user `_t` column on every matched row (reproduced),
# and `_op` makes every merge fail AMBIGUOUS_REFERENCE.  Refused at
# every schema edge (create/convert/add_column/additive widening).
_RESERVED_COLS = frozenset({"_op", "_t", "_s", "_rn", "_merge",
                            "commit_version", "change_type"})


def _assert_legal_columns(names, ctx: str) -> None:
    """THE column-name rule, shared by every schema edge (create,
    convert, add_column, rename_column, type widening): reserved and
    leading-underscore names are internal, and names containing a
    backtick or a control character are refused because the engine
    quotes names as `` `name` `` inside generated/CHECK/fsck
    expressions — a backtick would escape the quoting.  Everything
    else (dashes, spaces, unicode) is legal at EVERY edge, so a name
    the table could be created with can also be produced by rename
    (ADVICE r9: rename previously required isidentifier(), an
    inconsistent stricter surface)."""
    bad = sorted(n for n in names
                 if n in _RESERVED_COLS or n.startswith("_"))
    if bad:
        raise ValueError(
            f"{ctx}: column name(s) {bad} are reserved — leading-"
            f"underscore names are internal temporaries (merge "
            f"markers, rank columns) and commit_version/change_type "
            f"belong to the change feed; rename them before they "
            f"reach the table schema (a user `_t` column would be "
            f"silently overwritten by merge's join marker)")
    broken = sorted(
        n for n in names
        if not n or "`" in n or any(ord(ch) < 0x20 for ch in n))
    if broken:
        raise ValueError(
            f"{ctx}: column name(s) {broken} are empty or contain a "
            f"backtick/control character — the engine interpolates "
            f"names as `name` inside CHECK/generated/fsck "
            f"expressions, which such a name would escape")


def _validate_generated_exprs(generated: dict[str, str], df: DataFrame,
                              key_col: str) -> None:
    """Shared create()/convert() hygiene for GENERATED ALWAYS AS
    declarations: identifier names, non-key, non-empty deterministic
    expressions (word blocklist + zero-arg current-time shapes), no
    generator chaining, and resolvable against the base schema
    (`df` carries the SOURCE columns the expressions may use)."""
    import re as _re

    base_names = [f_.name for f_ in df.schema.fields]
    for gc, ge in generated.items():
        if not gc.isidentifier():
            raise ValueError(
                f"generated column name {gc!r} must be an identifier")
        if gc == key_col:
            raise ValueError(
                f"key column {key_col!r} cannot be generated: every "
                f"format invariant (stats, pruning, merge) hangs off "
                f"caller-supplied keys")
        if not isinstance(ge, str) or not ge.strip():
            raise ValueError(
                f"generated column {gc!r} needs a non-empty SQL "
                f"expression, got {ge!r}")
        bad_fn = [fn for fn in _NONDETERMINISTIC_FNS
                  if _re.search(rf"(?<!\w){fn}(?!\w)",
                                ge.replace("`", ""), _re.I)]
        if bad_fn:
            raise ValueError(
                f"generated column {gc!r} uses non-deterministic "
                f"function(s) {bad_fn}: the col=expr invariant must "
                f"be recomputable")
        if _re.search(_ZERO_ARG_NOW_PAT, ge.replace("`", "")):
            raise ValueError(
                f"generated column {gc!r} calls a zero-arg "
                f"current-time function: the col=expr invariant would "
                f"drift on every ingest and only deep fsck would "
                f"notice")
        chained = [g2 for g2 in generated
                   if _checks_referencing({gc: ge}, g2)]
        if chained:
            raise ValueError(
                f"generated column {gc!r} references generated "
                f"column(s) {chained}; generators may only use plain "
                f"columns (no chaining)")
        try:
            df.select(F.expr(ge))
        except Exception as e:
            raise ValueError(
                f"generated column {gc!r} expression {ge!r} does not "
                f"resolve against schema {base_names}: {e}") from None


def _apply_generated_ingest(df: DataFrame, generated: dict[str, str]):
    """Ingest-edge handling of generated columns: a column the caller
    OMITTED is computed from its expression; one the caller SUPPLIED
    keeps the caller's values but gains an implicit CHECK
    (`col <=> (expr)`) that the write path validates against the
    landed bytes in the same pass as user CHECK constraints — loud
    abort instead of silently overriding or silently trusting.
    Returns (df, implicit_checks)."""
    implicit: dict[str, str] = {}
    for gc, ge in generated.items():
        if gc in df.columns:
            implicit[f"_generated_{gc}"] = f"`{gc}` <=> ({ge})"
        else:
            df = df.withColumn(gc, F.expr(ge))
    return df, implicit


def _apply_defaults_ingest(df: DataFrame, defaults: dict[str, str],
                           table_fields) -> DataFrame:
    """Materialize column DEFAULTs for table columns ABSENT from an
    ingest frame (cast to the declared type so the landed parquet
    matches the pinned read schema).  Presence-based, like partial
    merge and generated columns: a supplied column keeps the caller's
    values, including explicit NULLs — column PRESENCE is the signal,
    never the value."""
    if not defaults:
        return df
    types = {f_.name: f_.dataType for f_ in table_fields}
    for c, de in defaults.items():
        if c not in df.columns and c in types:
            df = df.withColumn(c, F.expr(de).cast(types[c]))
    return df


def _bloom_key_canon(c, type_name: str):
    """The ONE canonical hash domain for bloom sidecars: integral keys
    hash as LONG, string keys as STRING — applied identically at build
    (`_attach_blooms`), probe (`_candidate_files`), and audit
    (`_fsck_bloom_completeness`).  Spark's xxhash64 is width-sensitive
    (xxhash64(CAST(5 AS INT)) != xxhash64(CAST(5 AS BIGINT))), so
    hashing each site's native dtype let a merge source carrying the
    key at a different integral width probe in the wrong domain:
    bloom FALSE NEGATIVES → files silently not rewritten → duplicate
    keys (reproduced before this canon existed).  Casting every site
    to one domain makes the sidecars dtype-agnostic — and makes a
    future integral key-type widening bloom-safe for free."""
    return (c.cast("long")
            if type_name in ("long", "integer", "short", "byte")
            else c.cast("string"))


# Version tag of the canonical bloom hash domain, recorded in every
# add-action's bloom entry at build time.  A sidecar built under a
# DIFFERENT domain (pre-canon code hashed narrow-integral keys at their
# native width) would probe false-negative under the current canon —
# merges would silently skip the true files and land duplicate keys —
# so probe and audit treat an absent/mismatched tag as NO sidecar:
# fail OPEN (file stays a candidate), and deep fsck flags it for an
# OPTIMIZE rebuild instead of mis-auditing it as incomplete
# (ADVICE r7).  Bump when the canon changes.
_BLOOM_DOMAIN = 1


def _bloom_params(n_rows: int, bits_per_key: int) -> tuple[int, int]:
    """(m bits, k hashes) for a file of `n_rows` keys.  m is padded to
    a byte multiple so the sidecar is exactly m/8 bytes; k is the
    standard optimum  k = bits_per_key * ln 2."""
    m = max(64, ((n_rows * bits_per_key + 7) // 8) * 8)
    k = max(1, round(bits_per_key * 0.6931))
    return m, k


def _bloom_positions(h1, h2, k: int, m: int):
    """Bit positions for each key, double-hashed (Kirsch–Mitzenmacher:
    pos_j = h1 + j*h2 mod m needs only two base hashes for k probes).
    h1/h2 are int64 arrays straight from Spark's xxhash64 — reinterpret
    as uint64 so negative hashes index correctly; uint64 wraparound in
    the multiply is harmless (it's still a deterministic mix).  Build
    and probe BOTH call this, so the scheme can never skew."""
    import numpy as np

    u1 = h1.view(np.uint64)[:, None]
    u2 = h2.view(np.uint64)[:, None]
    j = np.arange(k, dtype=np.uint64)[None, :]
    return ((u1 + j * u2) % np.uint64(m)).astype(np.int64)


# stat domain for temporal columns: the JSONL manifest can't carry
# datetime objects, so timestamp stats are stored as EPOCH MICROS and
# date stats as EPOCH DAYS (integers).  Soundness under truncation:
# parquet ns-unit footers surface as µs-floored datetimes; flooring
# both stats and predicate bounds to the same grid keeps containment
# pruning conservative (floor(max) < floor(lo) ⇒ max < lo, and
# floor(min) > floor(hi) ⇒ min > hi), so a matching row can never be
# skipped.  The OTHER direction — proving every row matches, used by
# delete_where's whole-file drop — is NOT floor-sound at the boundary
# (floor(max) <= floor(hi) !⇒ max <= hi for sub-µs values), so
# _classify_pred_files requires STRICT containment on temporal columns.
_TEMPORAL_STAT_TYPES = ("timestamp", "timestamp_ntz", "date")


def _stat_encode(v):
    """Footer stat value -> JSON-safe manifest value (temporal ->
    integer domain; everything else passes through)."""
    if isinstance(v, _datetime):
        # parquet logical types are UTC-anchored; naive = UTC
        if v.tzinfo is not None:
            v = v.astimezone(_tz.utc).replace(tzinfo=None)
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if isinstance(v, _date):
        return (v - _date(1970, 1, 1)).days
    return v


def _stat_bound(v, type_name: str | None):
    """Predicate bound -> the integer domain `type_name`'s stats are
    stored in.  Accepts ISO strings, datetime/date objects, or raw
    integers already in the stat domain (epoch micros / epoch days;
    floats floor to the grid — sound for int-valued stats on both
    ends); non-temporal types pass through untouched (their stats are
    stored as-is)."""
    import math

    if type_name in ("timestamp", "timestamp_ntz"):
        if isinstance(v, (int, float)):
            return math.floor(v)
        if isinstance(v, str):
            v = _datetime.fromisoformat(v)
        if isinstance(v, _date) and not isinstance(v, _datetime):
            v = _datetime(v.year, v.month, v.day)
        return _stat_encode(v)
    if type_name == "date":
        if isinstance(v, (int, float)):
            return math.floor(v)
        if isinstance(v, str):
            v = _date.fromisoformat(v)
        if isinstance(v, _datetime):
            v = v.date()
        return (v - _date(1970, 1, 1)).days
    return v


def _residual_bound(v, type_name: str | None):
    """The bound as Spark sees it in the residual/row-level filter.
    A raw numeric bound on a temporal column is in the STAT domain
    (epoch micros / days) — handing the bare long to Spark would make
    it an epoch-SECONDS cast, silently shifting the filter; wrap it in
    the explicit constructor instead.  Everything else passes through
    (Spark casts ISO strings and datetime objects natively)."""
    if isinstance(v, (int, float)):
        if type_name in ("timestamp", "timestamp_ntz"):
            return F.timestamp_micros(F.lit(int(v)))
        if type_name == "date":
            return F.date_from_unix_date(F.lit(int(v)))
    return v


def _stat_col(df: DataFrame, c: str):
    """Column expression that evaluates `c` in its stat domain (for
    the distributed stats fallback; the session is UTC-pinned, so the
    NTZ cast is exact)."""
    t = df.schema[c].dataType.typeName()
    if t in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(F.col(c).cast("timestamp"))
    if t == "date":
        return F.datediff(F.col(c), F.lit("1970-01-01"))
    return F.col(c)


def _footer_stats(path: str, cols: list[str]):
    """Per-column (min, max) + row count from parquet FOOTER metadata.

    A column is reported only when EVERY row group carries usable
    min/max statistics with a JSON-safe value type; anything else
    (all-NULL group, unreliable float ordering, non-incrementable
    truncated max — all surfaced as has_min_max=False, or a bytes
    physical type) drops the column, which downstream consumers treat
    as "never prune" — conservative, never wrong.

    Also returns per-column null counts (None when any row group lacks
    has_null_count) so the write path can REJECT null keys: every
    manifest consumer compares min_key/max_key with Python operators,
    and a None stat from an all-NULL key file would TypeError at read/
    merge time — fail at write instead."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    lo: dict = {}
    hi: dict = {}
    nulls: dict = {}
    dead: set = set()
    want = set(cols)
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            name = rg.column(c_i).path_in_schema
            if name not in want:
                continue
            st = rg.column(c_i).statistics
            if st is not None and st.has_null_count and \
                    nulls.get(name, 0) is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                nulls[name] = None
            if name in dead:
                continue
            # ns-unit TIMESTAMP columns: the engine reads these as
            # LONG nanoseconds (spark.sql.legacy.parquet.nanosAsLong —
            # Spark has no ns timestamp type), so their stats must be
            # the raw ns integers, NOT µs-floored epoch micros: a
            # µs-domain stat against ns-long row values is off by
            # 1000× and would mis-prune.  pyarrow surfaces ns stats as
            # pandas Timestamps whose .value is exact ns; a build
            # without that attribute (plain datetime = lossy) drops
            # the column to the never-prune path instead.
            _ns_unit = (st is not None and st.logical_type is not None
                        and "timeUnit=nanoseconds"
                        in str(st.logical_type))

            def _enc(v):
                if _ns_unit:
                    return getattr(v, "value", None)
                return _stat_encode(v)

            mn = _enc(st.min) if st is not None and \
                st.has_min_max else None
            mx = _enc(st.max) if st is not None and \
                st.has_min_max else None
            if (st is None or not st.has_min_max
                    or not isinstance(mn, (bool, int, float, str))
                    or not isinstance(mx, (bool, int, float, str))):
                dead.add(name)
                lo.pop(name, None)
                hi.pop(name, None)
                continue
            lo[name] = mn if name not in lo else min(lo[name], mn)
            hi[name] = mx if name not in hi else max(hi[name], mx)
    return lo, hi, md.num_rows, nulls


# column types whose footer min/max become manifest stats: scalars with
# a total order and a JSON form (nested types have nothing to prune on)
_STAT_TYPES = ("long", "integer", "short", "byte", "double", "float",
               "string", "boolean", *_TEMPORAL_STAT_TYPES)


def _stat_cols(schema: StructType, skip=()) -> list[str]:
    return [f_.name for f_ in schema.fields
            if f_.dataType.typeName() in _STAT_TYPES and f_.name not in skip]


def _footer_entry(path: str, key_col: str,
                  stat_cols: list[str]) -> tuple[dict, int | None]:
    """The `rows`/`bytes`/`min_key`/`max_key`/`cols` entry of the
    parquet file at `path`, from its footer, and the key column's null
    count (None when a footer lacks it).  `min_key`/`max_key` are
    absent when the footer has no usable key stats; what that and NULL
    keys mean is the caller's to decide."""
    lo, hi, n_rows, nulls = _footer_stats(path, stat_cols)
    entry = {"rows": n_rows, "bytes": os.path.getsize(path)}
    if key_col in lo:
        entry.update(min_key=lo[key_col], max_key=hi[key_col])
    # keyed by PHYSICAL name: stable across RENAME COLUMN, so data
    # skipping survives renames; readers translate (read() looks up
    # snap.phys(col)).  Entry shape is [min, max] or [min, max,
    # null_count] — the count (when the footer knows it) is what lets a
    # predicate DELETE drop a whole file: stats ignore NULLs, so
    # containment alone never proves every ROW matches.
    entry["cols"] = {c: ([lo[c], hi[c], nulls[c]]
                         if nulls.get(c) is not None else [lo[c], hi[c]])
                     for c in stat_cols if c != key_col and c in lo}
    return entry, nulls.get(key_col)


def _extend_mapping(snap: "Snapshot", new_fields,
                    memo: dict[str, str] | None = None) -> dict[str, str]:
    """Column-mapping entries for schema-widening new fields.  The
    physical name is the logical name unless that would collide with a
    live or RETIRED physical (re-adding a dropped column must not
    resurrect its old data) — then a uuid-suffixed fresh name.  `memo`
    keeps assignments stable across commit retries (the data files
    were already written under the first assignment)."""
    m = dict(snap.mapping or {})
    used = set(m.values()) | set(snap.retired)
    for f_ in new_fields:
        if memo is not None and f_.name in memo:
            m[f_.name] = memo[f_.name]
            continue
        phys = (f_.name if f_.name not in used
                else f"{f_.name}_{uuid.uuid4().hex[:8]}")
        if memo is not None:
            memo[f_.name] = phys
        m[f_.name] = phys
    return m


# partition-column value types the hive path encoding round-trips
# exactly (integral and string; floats/timestamps have lossy or
# locale-shaped renderings — partition on a derived string/int instead)
_PART_TYPES = ("long", "integer", "short", "byte", "string")
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _parse_partition_path(rel: str) -> dict[str, str]:
    """Raw `physical name -> string value` from a file's hive-style
    `k=v` path segments (Spark escapes both with URL %XX encoding)."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    for seg in rel.replace("\\", "/").split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[unquote(k)] = unquote(v)
    return out


def _typed_part(raw: str, type_name: str):
    return int(raw) if type_name in ("long", "integer",
                                     "short", "byte") else raw


def _fs_path(name: str) -> str:
    """Filesystem path from Spark's `input_file_name()` value, which
    is a URI: percent-encoded (a literal `%` in a hive-escaped
    partition dir comes back as `%25`, a space as `%20`) and
    scheme-prefixed.  Stripping `file:` without unquoting silently
    yields a path that matches NOTHING in the manifest."""
    from urllib.parse import unquote, urlparse

    if "://" in name or name.startswith("file:"):
        return unquote(urlparse(name).path)
    return name


def _vname(v: int) -> str:
    return f"{v:0{_PAD}d}.json"


def _ckpt_name(v: int) -> str:
    return f"{v:0{_PAD}d}.checkpoint.json"


class TxLogTable:
    """One table. Safe for concurrent writers on a shared filesystem."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.log_dir = os.path.join(self.path, _LOG_DIR)

    # ---------------------------------------------------------------- log

    def _versions(self) -> list[int]:
        # name-pattern filter matters: a concurrent writer's .tmp-* file
        # may be visible in the listing mid-publish
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(int(f[:_PAD]) for f in os.listdir(self.log_dir)
                      if f[:_PAD].isdigit() and f.endswith(".json")
                      and not f.endswith(".checkpoint.json"))

    def _checkpoints(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(int(f[:_PAD]) for f in os.listdir(self.log_dir)
                      if f[:_PAD].isdigit()
                      and f.endswith(".checkpoint.json"))

    def snapshot(self, version: int | None = None) -> Snapshot:
        # Retry on FileNotFoundError: a CONCURRENT VACUUM may unlink a
        # log/checkpoint file between our directory listing and the
        # open() (TOCTOU — observed in the 4-way vacuum race test).
        # The truncator writes its checkpoint BEFORE unlinking, so a
        # fresh listing always sees a checkpoint that covers the gap;
        # re-running the replay from fresh listings is exact.
        last: Exception | None = None
        for _ in range(5):
            try:
                return self._snapshot_once(version)
            except FileNotFoundError as e:
                last = e
                continue
        raise last

    def _snapshot_once(self, version: int | None = None) -> Snapshot:
        versions = self._versions()
        if version is None and not versions:
            return Snapshot(version=-1)
        head = versions[-1] if version is None else version
        if head not in versions:
            have = (f"have {versions[0]}..{versions[-1]}" if versions
                    else "no log")
            raise ValueError(
                f"version {head} not in log ({have}"
                f"; earlier versions may have been vacuumed)")
        snap = Snapshot(version=head)
        start = 0
        ckpts = [c for c in self._checkpoints() if c <= head]
        if ckpts:
            with open(os.path.join(self.log_dir, _ckpt_name(ckpts[-1]))) as f:
                data = json.load(f)
            snap.files = dict(data["files"])
            snap.txns = dict(data["txns"])
            _apply_meta(snap, data)
            start = ckpts[-1] + 1
        for v in versions:
            if v < start or v > head:
                continue
            with open(os.path.join(self.log_dir, _vname(v))) as f:
                for line in f:
                    action = json.loads(line)
                    if "add" in action:
                        a = action["add"]
                        snap.files[a["path"]] = _file_entry(a)
                    elif "remove" in action:
                        snap.files.pop(action["remove"]["path"], None)
                    elif "dv" in action:
                        # merge-on-read delete: the file stays, its
                        # deletion vector grows; a later remove of the
                        # file drops the DV with it
                        d_ = action["dv"]
                        ent = snap.files.get(d_["path"])
                        if ent is not None:
                            ent["dv"] = sorted(
                                set(ent.get("dv", ())) | set(d_["keys"]))
                    elif "txn" in action:
                        t = action["txn"]
                        prev = snap.txns.get(t["app"], -1)
                        snap.txns[t["app"]] = max(prev, int(t["epoch"]))
                    elif "meta" in action:
                        _apply_meta(snap, action["meta"])
        if snap.protocol[0] > READER_VERSION:
            raise UnsupportedProtocolError(
                f"table at {self.path!r} requires min_reader "
                f"{snap.protocol[0]} as of version {snap.version}; "
                f"this client reads protocol {READER_VERSION} — "
                f"time travel BELOW the upgrade commit still works")
        return snap

    def _try_commit(self, version: int, actions: list[dict]) -> bool:
        """Publish `actions` as `version`. False = lost the race."""
        import time

        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            for a in actions:
                if "commit" in a and "ts" not in a["commit"]:
                    # wall-clock commit time: powers TIMESTAMP AS OF
                    # (informational — version order, not ts order, is
                    # the serialization authority)
                    a = {"commit": {**a["commit"], "ts": time.time()}}
                elif "add" in a:
                    # stamp the data file's mtime at commit time — the
                    # foreign-writer tripwire deep fsck checks: a
                    # size-preserving overwrite under data/ by a
                    # non-engine tool leaves manifest stats lying and
                    # is otherwise invisible until a query reads the
                    # file (VERDICT r9 task 3).  Stamped centrally so
                    # every add site (write, convert, clone, restore,
                    # optimize, merge) gets it; a vanished file skips
                    # the stamp — fsck's exists-check already owns
                    # that failure.  Bloom sidecars get the same stamp
                    # (`bloom_mtime_ns`): a SAME-SIZE sidecar overwrite
                    # fails open at probe time (extra bits set → the
                    # file merely stays a merge candidate) so neither
                    # the m/8 size check nor the completeness audit
                    # can see it — only the stamp can (r10).
                    add = a["add"]
                    stamps = {}
                    if "mtime_ns" not in add:
                        try:
                            stamps["mtime_ns"] = os.stat(self._abs(
                                add["path"])).st_mtime_ns
                        except OSError:
                            pass
                    if "bloom" in add and "bloom_mtime_ns" not in add:
                        try:
                            stamps["bloom_mtime_ns"] = os.stat(
                                self._abs(add["path"])
                                + ".bloom").st_mtime_ns
                        except OSError:
                            pass
                    if stamps:
                        a = {"add": {**add, **stamps}}
                f.write(json.dumps(a, sort_keys=True) + "\n")
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(self.log_dir, _vname(version))
        try:
            os.link(tmp, final)  # atomic create-exclusive publish
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _maybe_checkpoint(self, version: int) -> None:
        # replays the log only when a checkpoint is due (1 commit in 10)
        if version <= 0 or version % CHECKPOINT_EVERY:
            return
        try:
            snap = self.snapshot(version)
        except UnsupportedProtocolError:
            return
        # a floor above this client (upgrade_protocol with
        # allow_unsupported) is left for a newer client to checkpoint:
        # this one would write only the fields it knows
        if snap.protocol[1] <= WRITER_VERSION:
            self._write_checkpoint(snap)

    def _write_checkpoint(self, snap: Snapshot) -> None:
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.ckpt")
        with open(tmp, "w") as f:
            json.dump({"files": snap.files, "txns": snap.txns,
                       **_meta_of(snap)}, f)
        os.replace(tmp, os.path.join(self.log_dir, _ckpt_name(snap.version)))

    def _head(self, op: str, txn: tuple[str, int] | None = None
              ) -> tuple[Snapshot, dict | None]:
        """The guard every write starts from: the head snapshot of a
        table this client may write.  A path with no log raises
        ValueError; a min_writer floor above this client raises
        UnsupportedProtocolError, so the table stays readable but
        rejects ALL mutations (incl. vacuum — destroying files under
        reachability rules a newer protocol may have changed is the
        worst possible failure mode).  The second item is the result a
        replayed `(app, epoch)` txn returns instead of writing, or None."""
        snap = self.snapshot()
        if snap.version < 0:
            raise ValueError(f"{op} on non-existent table")
        if snap.protocol[1] > WRITER_VERSION:
            raise UnsupportedProtocolError(
                f"table at {self.path!r} requires min_writer "
                f"{snap.protocol[1]}; this client writes protocol "
                f"{WRITER_VERSION} — reads still work")
        if txn is not None and snap.txns.get(txn[0], -1) >= txn[1]:
            return snap, {"version": snap.version, "skipped": True}
        return snap, None

    def _commit(self, op: str, build, txn: tuple[str, int] | None = None,
                attempts: int | None = 5) -> dict:
        """The one place a writer commits.  Each attempt:

        1. takes the head snapshot through `_head`: a path that is not
           a table raises ValueError, a writer floor above this client
           UnsupportedProtocolError, and a replayed `txn` returns
           {"version": head, "skipped": True} without calling `build`;
        2. calls `build(snap)`, which returns one of
           - a dict: a finished early-out result (no-op), returned as is;
           - None: retry on a fresh snapshot (a benign race seen before
             publishing);
           - `(actions, result)`: the commit to publish;
        3. appends the `{"txn": ...}` action last and publishes the
           actions at snap.version + 1 (create-exclusive).  A won race
           writes the checkpoint when one is due and returns
           {"version": snap.version + 1, **result}; a lost one starts
           the next attempt.

        ALTERs, stamp_hashes and merge take the default 5 attempts;
        append passes None and retries without bound, since appends
        never conflict on data.  delete_where, restore, optimize and
        repartition_layout pass 1: their data pass is not redone, and
        a lost race goes back to the caller.  When the attempts run
        out: ConflictError(f"{op} retries exhausted").  A `build` that
        finds its previous attempt's read set invalidated raises
        ConflictError itself."""
        for _ in itertools.count() if attempts is None else range(attempts):
            snap, skipped = self._head(op, txn)
            if skipped is not None:
                return skipped
            out = build(snap)
            if isinstance(out, dict):
                return out
            if out is None:
                continue
            actions, result = out
            if txn is not None:
                actions = [*actions,
                           {"txn": {"app": txn[0], "epoch": txn[1]}}]
            if self._try_commit(snap.version + 1, actions):
                self._maybe_checkpoint(snap.version + 1)
                return {"version": snap.version + 1, **result}
        raise ConflictError(f"{op} retries exhausted")

    def upgrade_protocol(self, min_reader: int | None = None,
                         min_writer: int | None = None,
                         allow_unsupported: bool = False) -> dict:
        """Raise the table's protocol floor (one meta-only commit).

        Monotonic by contract — a floor can never go back down
        (clients cache no protocol state, so a downgrade would let a
        previously-locked-out old client resume writing mid-history).
        Raising a floor ABOVE what this client itself supports is
        refused unless `allow_unsupported=True`, because the very next
        operation on this handle would lock itself out — that flag
        exists for staged migrations (bump first, roll clients after)
        and for tests.  RESTORE never rewinds the protocol: restore's
        meta carries no protocol key, so replay keeps the floor."""
        def build(snap: Snapshot):
            cur_r, cur_w = snap.protocol
            new_r = cur_r if min_reader is None else min_reader
            new_w = cur_w if min_writer is None else min_writer
            if new_r < cur_r or new_w < cur_w:
                raise ValueError(
                    f"protocol is monotonic: have [{cur_r}, {cur_w}], "
                    f"refusing downgrade to [{new_r}, {new_w}]")
            if not allow_unsupported and (new_r > READER_VERSION
                                          or new_w > WRITER_VERSION):
                raise ValueError(
                    f"[{new_r}, {new_w}] exceeds this client's own "
                    f"support [{READER_VERSION}, {WRITER_VERSION}] and "
                    f"would lock it out; pass allow_unsupported=True "
                    f"if that is the intent (staged migration)")
            if [new_r, new_w] == snap.protocol:
                return {"version": snap.version, "skipped": True,
                        "protocol": snap.protocol}
            actions = [{"commit": {"op": "UPGRADE_PROTOCOL",
                                   "from": snap.protocol,
                                   "to": [new_r, new_w]}},
                       _meta_action(protocol=[new_r, new_w])]
            return actions, {"skipped": False, "protocol": [new_r, new_w]}

        return self._commit("upgrade_protocol", build)

    def detail(self) -> dict:
        """DESCRIBE DETAIL: manifest-derived table facts — no data
        pass.  `num_rows` nets out deletion-vector rows (file row
        counts are physical)."""
        snap = self.snapshot()
        dv_rows = sum(len(s.get("dv", ())) for s in snap.files.values())
        return {
            "path": self.path,
            "version": snap.version,
            "key_col": snap.key_col,
            "num_files": len(snap.files),
            "size_bytes": sum(s["bytes"] for s in snap.files.values()),
            "num_rows": sum(s["rows"] for s in snap.files.values())
                        - dv_rows,
            "dv_rows_pending_compaction": dv_rows,
            "num_checkpoints": len(self._checkpoints()),
            "schema": snap.schema_json,
            "column_mapping": snap.mapping,
            "retired_physical": snap.retired,
            "partition_by": snap.logical_partition_by() or None,
            "key_bloom_bits": snap.bloom_bits or None,
            "checks": snap.checks or None,
            "converted": snap.owns_root or None,
            "protocol": {"min_reader": snap.protocol[0],
                         "min_writer": snap.protocol[1]},
            "generated": snap.generated or None,
            "defaults": snap.defaults or None,
            "num_partitions": (len({tuple(sorted(
                s.get("partition", {}).items()))
                for s in snap.files.values()})
                if snap.partition_by else None),
            # content-seal coverage (stamp_hashes): how many live
            # files a verify_hashes audit would actually check —
            # None when the table has never been sealed
            "content_sealed_files": (sum(
                1 for s in snap.files.values() if "sha256" in s)
                or None),
        }

    def version_at(self, ts: float) -> int:
        """Newest version whose commit time is <= ts — the resolution
        step of `TIMESTAMP AS OF` time travel.  Commit times come from
        the commit action (wall clock at publish; pre-upgrade commits
        fall back to the log file's mtime).  Versions are the
        serialization authority; ts is a convenience index."""
        best = None
        for h in self.history():
            t_ = h.get("ts")
            if t_ is None:
                t_ = os.path.getmtime(
                    os.path.join(self.log_dir, _vname(h["version"])))
            if t_ <= ts:
                best = h["version"]
        if best is None:
            raise ValueError(
                f"no commit at or before ts={ts} "
                f"(earliest retained version may have been vacuumed)")
        return best

    def history(self) -> list[dict]:
        out = []
        for v in self._versions():
            try:
                with open(os.path.join(self.log_dir, _vname(v))) as f:
                    lines = f.readlines()
            except FileNotFoundError:
                continue    # truncated by a concurrent vacuum mid-walk
            for line in lines:
                action = json.loads(line)
                if "commit" in action:
                    out.append({"version": v, **action["commit"]})
        return out

    # --------------------------------------------------------------- data

    def _write_data(self, df: DataFrame, key_col: str,
                    n_files: int | None = None,
                    cluster_expr=None,
                    mapping: dict[str, str] | None = None,
                    partition_cols: list[str] | None = None,
                    bloom_bits: int = 0,
                    checks: dict[str, str] | None = None) -> list[dict]:
        """Write df as parquet under data/<writeid>; return add-actions.

        The writer range-partitions on the key so files carry disjoint
        key ranges — that clustering is what makes the min/max stats
        selective for later MERGE pruning (same reason Delta users
        OPTIMIZE ZORDER before heavy MERGE workloads).  An explicit
        `cluster_expr` (e.g. a z-value) overrides the key as the
        range-partitioning dimension.

        `partition_cols` (LOGICAL names) adds hive-style `col=value`
        output layout: the shuffle ranges on (partition cols, key) so
        each output file lands in one partition dir with a narrow key
        range, `partitionBy` strips the columns from the parquet bytes
        (hive convention), and each add-action records its file's
        typed partition values.  NULL/empty partition values surface
        as hive's `__HIVE_DEFAULT_PARTITION__` directory — rejected
        here, before the commit publishes.

        `df` and the returned add-action stats always speak LOGICAL
        column names; under column mapping the rename to physical
        parquet names happens here, at the write edge, and the footer
        stats are translated back."""
        write_id = uuid.uuid4().hex
        rel_dir = os.path.join("data", write_id)
        out_dir = os.path.join(self.path, rel_dir)
        pl = list(partition_cols or [])
        part_types = {c: df.schema[c].dataType.typeName() for c in pl}
        lead = [F.col(c) for c in pl]
        if cluster_expr is not None:
            df = (df.withColumn("_cluster", cluster_expr)
                    .repartitionByRange(n_files or 8, *lead,
                                        F.col("_cluster"))
                    .sortWithinPartitions(*pl, "_cluster")
                    .drop("_cluster"))
        elif n_files and n_files > 0:
            df = df.repartitionByRange(n_files, *lead, F.col(key_col))
        else:
            df = df.repartitionByRange(*lead, F.col(key_col))
        if mapping:
            df = df.select(*[F.col(f_.name).alias(
                mapping.get(f_.name, f_.name))
                for f_ in df.schema.fields])
            key_col = mapping.get(key_col, key_col)
        phys_parts = [mapping.get(c, c) if mapping else c for c in pl]
        # INT64 micros, not legacy INT96, even under a vanilla session
        ensure_session_confs(self.spark)
        w = df.write.mode("overwrite")
        if phys_parts:
            w = w.partitionBy(*phys_parts)
        w.parquet(out_dir)
        files = sorted(
            os.path.relpath(os.path.join(d, f), out_dir)
            for d, _, fs in os.walk(out_dir) for f in fs
            if f.endswith(".parquet"))
        if not files:
            return []  # zero-row write (e.g. MERGE deleted every row)
        if checks:
            self._enforce_checks(out_dir, df.schema, mapping, checks)
        # stats come from the parquet FOOTERS the write just produced —
        # metadata-only, no second data pass over what was written (at
        # 100 TB a stats re-scan would double every write).  The key's
        # min/max PLUS per-column min/max for every JSON-representable
        # column (Delta-style data skipping: a later read with a
        # predicate on ANY such column prunes at the manifest).  Every
        # consumer is containment-based, so footer stats that parquet
        # widened by truncation stay correct; a column with no usable
        # stats is simply omitted → never pruned.  Temporal columns
        # store their stats in an integer domain (timestamps as epoch
        # micros, dates as epoch days — _stat_encode): time-range
        # predicates are THE dominant skip dimension for CDC tables at
        # scale, so excluding them would forfeit most of the pruning.
        # Footer reads happen on the driver here (ms each,
        # manifest-sized count); on a real cluster the same loop
        # distributes trivially.
        stat_cols = _stat_cols(df.schema, skip=phys_parts)
        ptype = {(mapping.get(c, c) if mapping else c): part_types[c]
                 for c in pl}
        adds = []
        for fname in files:
            rel = os.path.join(rel_dir, fname)
            part = None
            if phys_parts:
                raw = _parse_partition_path(fname)
                if (set(raw) != set(phys_parts)
                        or _HIVE_NULL in raw.values()):
                    raise ValueError(
                        f"NULL or empty value in partition columns "
                        f"{pl}: hive directories cannot represent "
                        f"them unambiguously — filter or default "
                        f"them before writing (file {rel!r})")
                part = {p: _typed_part(raw[p], ptype[p])
                        for p in phys_parts}
            ent, kn = _footer_entry(self._abs(rel), key_col, stat_cols)
            if kn is not None and kn > 0:
                raise ValueError(
                    f"NULL values in key column {key_col!r}: the "
                    f"format's merge/DV/prune contracts all compare "
                    f"keys (NULL never matches), so a NULL-keyed row "
                    f"could never be updated or deleted — filter NULL "
                    f"keys before writing")
            if "min_key" not in ent or kn is None:
                # no usable key footer stats (foreign writer / stats
                # off) OR unknown null count — one distributed scan
                # recomputes stats and re-checks key nullability
                return self._attach_blooms(
                    self._write_stats_fallback(
                        out_dir, rel_dir, key_col, stat_cols, ptype),
                    out_dir, key_col, bloom_bits)
            adds.append({"add": {
                "path": rel, **ent,
                # typed partition values, also keyed by PHYSICAL name
                # (same rename-stability contract as the stats)
                **({"partition": part} if part is not None else {}),
            }})
        return self._attach_blooms(adds, out_dir, key_col, bloom_bits)

    def _enforce_checks(self, out_dir: str, phys_schema,
                        mapping: dict[str, str] | None,
                        checks: dict[str, str]) -> None:
        """Validate CHECK constraints against the parquet a write just
        LANDED, before its commit publishes.  Reading back the landed
        bytes (column-pruned to the referenced columns by Catalyst)
        instead of re-evaluating the writing plan means the expensive
        part of a MERGE — the join — never runs twice; a violation
        deletes the landed files and raises, so the table never holds
        a bad row and exactly-once is preserved (no commit, no state).

        SQL CHECK semantics: a constraint passes when its expression
        is TRUE or NULL; only IS FALSE violates.  Expressions speak
        LOGICAL column names (the scan aliases physical names back,
        and the explicit schema makes the hive partition columns come
        back with their declared types, not inferred ones)."""
        from functools import reduce

        inv = {v: k for k, v in (mapping or {}).items()}
        scan = (self.spark.read.schema(phys_schema).parquet(out_dir)
                .select(*[F.col(f_.name).alias(inv.get(f_.name, f_.name))
                          for f_ in phys_schema.fields]))
        viol = reduce(lambda a, b: a | b,
                      [F.expr(e).eqNullSafe(F.lit(False))
                       for e in checks.values()])
        bad = (scan.filter(viol)
               .select(F.to_json(F.struct(*scan.columns)).alias("_row"),
                       *[F.expr(e).alias(f"_c_{i}")
                         for i, e in enumerate(checks.values())])
               .limit(1).collect())
        if bad:
            failed = [n for i, n in enumerate(checks)
                      if bad[0][f"_c_{i}"] is False]
            shutil.rmtree(out_dir, ignore_errors=True)
            raise CheckViolation(
                f"CHECK constraint(s) {failed} violated, e.g. by row "
                f"{bad[0]['_row']}; write aborted, nothing committed")

    def _attach_blooms(self, adds: list[dict], out_dir: str,
                       key_col: str, bloom_bits: int) -> list[dict]:
        """Build the per-file key bloom sidecars for a fresh write and
        annotate each add-action with {"m": bits, "k": hashes}.

        Cost model (the reason this is opt-in per table): ONE extra
        distributed job that reads back ONLY the key column of what was
        just written (column-pruned parquet scan — on a wide table this
        is a few percent of the write's bytes), hashes it JVM-side
        (xxhash64 twice, codegen), and sets bits in numpy per file.
        Each executor writes its own file's sidecar (`<file>.bloom`,
        m/8 bytes) via tmp+rename, so a speculative duplicate task is
        harmless — both produce identical bytes.  Nothing but the
        manifest-sized (file, m, k) summary reaches the driver.

        Payoff: `_candidate_files` can prune a MERGE's COW rewrite set
        by exact key membership instead of only [min,max] containment —
        decisive after OPTIMIZE ZORDER, which deliberately widens key
        ranges (every z-clustered file admits most keys by range, so
        range-only pruning degrades to rewrite-everything)."""
        if bloom_bits <= 0 or not adds:
            return adds
        import pandas as pd

        bb = bloom_bits

        def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np

            full = _fs_path(pdf["_f"].iloc[0])
            m, k = _bloom_params(len(pdf), bb)
            pos = _bloom_positions(pdf["_h1"].to_numpy(np.int64),
                                   pdf["_h2"].to_numpy(np.int64),
                                   k, m).ravel()
            buf = np.zeros(m // 8, dtype=np.uint8)
            np.bitwise_or.at(buf, pos >> 3,
                             (np.uint8(1) << (pos & 7).astype(np.uint8)))
            tmp = f"{full}.bloom.tmp-{uuid.uuid4().hex}"
            with open(tmp, "wb") as fh:
                fh.write(buf.tobytes())
            os.replace(tmp, full + ".bloom")
            return pd.DataFrame({"file": [full], "m": [m], "k": [k]})

        scan = self.spark.read.parquet(out_dir)
        kc = _bloom_key_canon(F.col(key_col),
                              scan.schema[key_col].dataType.typeName())
        rows = (scan
                .select(F.input_file_name().alias("_f"),
                        F.xxhash64(kc).alias("_h1"),
                        F.xxhash64(kc, F.lit(1)).alias("_h2"))
                .groupBy("_f")
                .applyInPandas(_build, "file string, m long, k long")
                .collect())   # manifest-sized: one row per new file
        meta = {os.path.relpath(_fs_path(r["file"]), self.path):
                (r["m"], r["k"]) for r in rows}
        for a in adds:
            mk = meta.get(a["add"]["path"])
            if mk is not None:
                a["add"]["bloom"] = {"m": mk[0], "k": mk[1],
                                     "domain": _BLOOM_DOMAIN}
        return adds

    def _write_stats_fallback(self, out_dir: str, rel_dir: str,
                              key_col: str, stat_cols: list[str],
                              ptype: dict[str, str] | None = None,
                              ) -> list[dict]:
        """Distributed stats scan — only taken when a footer lacks key
        statistics (foreign writer, stats disabled)."""
        scan = self.spark.read.parquet(out_dir)
        rows = (scan.groupBy(F.input_file_name().alias("f"))
                    .agg(F.count(F.lit(1)).alias("rows"),
                         F.count(key_col).alias("key_rows"),
                         F.min(key_col).alias("min_key"),
                         F.max(key_col).alias("max_key"),
                         *[x for c in stat_cols if c != key_col
                           for x in (F.min(_stat_col(scan, c))
                                     .alias(f"_mn_{c}"),
                                     F.max(_stat_col(scan, c))
                                     .alias(f"_mx_{c}"),
                                     F.count(F.col(c))
                                     .alias(f"_ct_{c}"))])
                    .collect())  # manifest-sized: one row per new file
        adds = []
        for r in rows:
            if r["key_rows"] != r["rows"]:
                # same contract as the footer path: a None min_key/
                # max_key in the manifest would TypeError every later
                # key comparison, and a NULL-keyed row can never be
                # merged or deleted — reject at write time
                raise ValueError(
                    f"NULL values in key column {key_col!r}: filter "
                    f"NULL keys before writing")
            full = _fs_path(r["f"])
            rel = os.path.relpath(full, self.path)
            part = None
            if ptype:
                raw = _parse_partition_path(
                    os.path.relpath(full, out_dir))
                if (set(raw) != set(ptype)
                        or _HIVE_NULL in raw.values()):
                    raise ValueError(
                        f"NULL or empty value in partition columns "
                        f"{sorted(ptype)} (file {rel!r})")
                part = {p: _typed_part(raw[p], t)
                        for p, t in ptype.items()}
            adds.append({"add": {
                "path": rel,
                "rows": r["rows"],
                "bytes": os.path.getsize(os.path.join(self.path, rel)),
                "min_key": r["min_key"],
                "max_key": r["max_key"],
                "cols": {c: [r[f"_mn_{c}"], r[f"_mx_{c}"],
                             r["rows"] - r[f"_ct_{c}"]]
                         for c in stat_cols
                         if c != key_col and r[f"_mn_{c}"] is not None},
                **({"partition": part} if part is not None else {}),
            }})
        return adds

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    def _empty_df(self, snap: Snapshot) -> DataFrame:
        schema = StructType.fromJson(json.loads(snap.schema_json))
        return self.spark.createDataFrame([], schema)

    def _read_files(self, snap: Snapshot, rel_paths,
                    parts: dict[str, dict] | None = None) -> DataFrame:
        """Scan data files under the snapshot's pinned schema.  The
        explicit schema (a) skips footer merging and (b) projects
        columns added by a later additive DDL as NULL for files
        written before the evolution — the mergeSchema contract
        without paying for it at read time.  Under column mapping the
        scan uses PHYSICAL parquet names and aliases back to logical
        here, so every caller sees logical names only — RENAME COLUMN
        costs one projection node, zero data movement.

        Partitioned tables: the parquet bytes lack the partition
        columns, whose TYPED values live in each file's add-action
        `partition` tuple — the MANIFEST, not the path, is the
        authority (r9: tuples decoupled from paths, which is what
        lets CONVERT adopt non-hive layouts whose paths carry no
        `k=v` segments).  Each file's OWN tuple — not the snapshot's
        head layout — decides which columns come from the manifest
        and which from the bytes, because one read may span layouts:
        the change feed reads files REMOVED by a `repartition_layout`
        evolution commit, written under the previous partitioning
        (those files' tuples arrive via `parts`, keyed by rel path,
        since they are absent from `snap.files`).  A pre-r9 add-action
        lacking the tuple falls back to parsing its hive path
        segments, so old logs read unchanged.  Files are grouped by
        partition tuple; each group's scan re-attaches its values as
        typed literals, so callers always see the full logical
        schema.  One scan node per DISTINCT partition tuple in the
        selected set; after manifest pruning that is the partitions
        the query actually touches, and a full-table scan of a
        very-high-cardinality partitioning degrades to a wide union —
        the documented trade of partitioned layout (pick partition
        columns of bounded cardinality, as on any hive/Delta/Iceberg
        table)."""
        rel_sorted = sorted(rel_paths)
        if not rel_sorted:
            return self._empty_df(snap)
        schema = StructType.fromJson(json.loads(snap.schema_json))
        from pyspark.sql.types import StructField
        phys_of = {f_.name: snap.phys(f_.name) for f_ in schema.fields}

        groups: dict[tuple, list[str]] = {}
        for p in rel_sorted:
            ent = None
            if parts is not None and p in parts:
                ent = parts[p]
            elif p in snap.files:
                ent = snap.files[p].get("partition")
            if ent is None:
                # pre-r9 log (no tuple recorded) — hive self-description
                ent = _parse_partition_path(p)
            hit = tuple(sorted((ln, ent[pn])
                               for ln, pn in phys_of.items()
                               if pn in ent))
            groups.setdefault(hit, []).append(p)

        out = None
        for hit, paths in sorted(groups.items()):
            in_path = dict(hit)     # logical name -> raw string value
            phys = StructType([StructField(phys_of[f_.name],
                                           f_.dataType, f_.nullable)
                               for f_ in schema.fields
                               if f_.name not in in_path])
            part = self.spark.read.schema(phys).parquet(
                *[self._abs(p) for p in paths])
            for f_ in schema.fields:
                if f_.name in in_path:
                    v = _typed_part(in_path[f_.name],
                                    f_.dataType.typeName())
                    part = part.withColumn(
                        phys_of[f_.name], F.lit(v).cast(f_.dataType))
            part = part.select(*[F.col(phys_of[f_.name]).alias(f_.name)
                                 for f_ in schema.fields])
            out = part if out is None else out.unionByName(part)
        return out

    def _key_df(self, snap: Snapshot, keys) -> DataFrame:
        """Tiny DataFrame of key values typed like the table key."""
        kf = [f_ for f_ in StructType.fromJson(
            json.loads(snap.schema_json)).fields
            if f_.name == snap.key_col]
        return self.spark.createDataFrame([(k,) for k in keys],
                                          StructType(kf))

    def _change_side(self, snap: Snapshot, side: ChangeSide,
                     parts: dict[str, dict]) -> DataFrame:
        """One image of a change plan, read under `snap`'s schema."""
        key = snap.key_col
        df = self._read_files(snap, side.files, parts=parts)
        if side.drop:
            df = df.join(F.broadcast(self._key_df(snap, side.drop)),
                         on=key, how="left_anti")
        if side.extra_keys:
            df = df.unionByName(
                self._read_files(snap, side.extra_files, parts=parts)
                .join(F.broadcast(self._key_df(snap, side.extra_keys)),
                      on=key, how="left_semi"))
        return df

    def _read_files_live(self, snap: Snapshot, rel_paths) -> DataFrame:
        """`_read_files` minus each file's deletion vector: the
        merge-on-read half of the format.  Keys are globally unique
        across live files, so one broadcast anti-join on the pooled DV
        keys of the selected files is exact.  DV size is bounded by
        the deleted-rows backlog (OPTIMIZE materializes DVs away), the
        same scale class as the manifest."""
        rel_paths = list(rel_paths)
        df = self._read_files(snap, rel_paths)
        dv = sorted({k for p in rel_paths
                     for k in snap.files.get(p, {}).get("dv", ())})
        if not dv:
            return df
        return df.join(F.broadcast(self._key_df(snap, dv)),
                       on=snap.key_col, how="left_anti")

    def _content_fingerprint(self, df: DataFrame) -> tuple[int, int]:
        """(row count, order-independent multiset checksum) of a
        DataFrame's full logical content, in ONE column-complete scan:
        SUM over decimal(38,0)-widened xxhash64 of every column.  The
        decimal widening matters twice — the sum is exact (no int64
        wraparound, so two different multisets can't alias through
        overflow below ~10^19 rows) and it cannot raise under an
        ANSI-mode session (the engine must verify correctly under the
        caller's session semantics, not just its own).

        NULLs are position-sensitive (ADVICE r12): xxhash64 SKIPS
        null inputs, so a row whose value transposes between two
        same-typed columns with NULL in the other — (x, NULL) vs
        (NULL, x) — would hash identically, and a rewrite corrupting
        data that way would pass verify.  Appending the row's
        null-mask bit string as one extra hashed input folds WHICH
        columns were null into the row hash (no typed sentinel
        needed, so no sentinel/value collision class)."""
        cols = [F.col(c) for c in sorted(df.columns)]
        null_mask = F.concat_ws(
            "", *[F.isnull(c).cast("int").cast("string") for c in cols])
        r = df.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.xxhash64(*cols, null_mask)
                  .cast("decimal(38,0)")).alias("_h"),
        ).collect()[0]
        return int(r["_n"]), int(r["_h"] if r["_h"] is not None else 0)

    def _verify_layout_rewrite(self, df: DataFrame, snap: Snapshot,
                               adds: list[dict], op: str) -> None:
        """Refuse-to-publish gate for pure-layout transactions: the
        rewritten files, read back through the SAME manifest-tuple
        read path every future reader uses (`_read_files` with the
        new adds' partition tuples), must fingerprint identically to
        the rewrite's input.  Catches a lost/duplicated row AND a
        partition tuple mis-attached at write time — the two ways a
        layout op could silently change values.  Cost: one extra scan
        of the old files + one of the new (~2x the rewrite's read),
        the honest price of a publish gate on an O(table) op; callers
        that cannot pay it pass verify=False.  On mismatch the landed
        files are deleted and nothing commits."""
        new_parts = {a["add"]["path"]: a["add"].get("partition") or {}
                     for a in adds}
        want = self._content_fingerprint(df)
        got = self._content_fingerprint(
            self._read_files(snap, sorted(new_parts), parts=new_parts))
        if want != got:
            roots = {os.path.join(self.path, *p.split("/")[:2])
                     for p in new_parts if p.startswith("data/")}
            for root in roots:
                shutil.rmtree(root, ignore_errors=True)
            raise LayoutInvariantViolation(
                f"{op} rewrite changed content: input (rows, checksum)"
                f" = {want}, rewrite reads back as {got}; commit "
                f"refused, landed files deleted — a layout transaction"
                f" must change bytes' addresses, never values")

    def _generated_prune_bounds(self, ge: str, src_col: str,
                                src_dtype: str, lo, hi, kind: str):
        """Evaluate a monotone generator on a predicate's two bounds:
        returns (g(lo), g(hi)) — the partition-value interval a file
        must intersect to possibly hold a matching row — or None when
        the prune must be skipped (NULL bound, evaluation failure, or
        a date_format range leaving the 4-digit-year domain where the
        text ordering argument holds).  One 2-row local job; the
        values come back in the exact type `_typed_part` stored for
        the partition values (int for year/floor, str for text
        shapes), so the manifest comparison is type-clean."""
        from pyspark.sql import Column

        def as_col(v):
            c = v if isinstance(v, Column) else F.lit(v)
            return c.cast(src_dtype)

        try:
            sel = [F.expr(ge).alias("_g")]
            if kind == "date_format":
                sel.append(F.year(F.col(src_col)).alias("_y"))
            rows = (self.spark.range(2)
                    .select(F.when(F.col("id") == 0, as_col(lo))
                             .otherwise(as_col(hi)).alias(src_col))
                    .select(*sel).collect())
        except Exception:
            return None     # un-evaluable bound: forfeit the prune
        gs = [r["_g"] for r in rows]
        if len(gs) != 2 or any(g is None for g in gs):
            return None
        if kind == "date_format":
            ys = [r["_y"] for r in rows]
            if any(y is None or not 1000 <= y <= 9999 for y in ys):
                return None   # 4-digit-year monotonicity guard
        # min/max instead of positional: robust to row order, and for
        # a monotone g it IS (g(lo), g(hi))
        return min(gs), max(gs)

    def read(self, version: int | None = None,
             key_between: tuple | None = None,
             where_between: tuple | None = None,
             as_of: float | None = None) -> DataFrame:
        """Snapshot read; `key_between=(lo, hi)` prunes files by their
        key min/max stats before Spark ever lists them — manifest-level
        partition pruning, no footer reads for skipped files.
        `as_of=<unix seconds>` is TIMESTAMP AS OF time travel
        (resolved to a version via the commit log's wall-clock times).

        `where_between=(col, lo, hi)` — or a LIST of such tuples,
        ANDed — is the same skip on NON-key columns via the per-column
        stats every add-action carries (Delta-style data skipping).  A file lacking stats for `col`
        (pre-upgrade commit, non-JSON type, all-NULL file) is
        conservatively kept; the residual filter keeps the result
        exact either way.  NULL semantics: `between` never matches
        NULL, and min/max stats ignore NULLs, so skipping a file whose
        stats exclude the range can never drop a matching row."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_at(as_of)
        snap = self.snapshot(version)
        if snap.version < 0 or snap.schema_json is None:
            raise ValueError(f"not a TxLog table: {self.path}")
        files = snap.files
        if key_between is not None:
            lo, hi = key_between
            files = {p: s for p, s in files.items()
                     if s["max_key"] >= lo and s["min_key"] <= hi}
            if lo == hi and snap.bloom_bits > 0 and files:
                # POINT lookup on a bloomed table: range stats leave
                # every overlapping file; the sidecar probe leaves
                # (almost exactly) the one file holding the key — the
                # CDC read-your-write pattern.  One tiny job (same
                # probe as MERGE pruning); ranges (lo < hi) can't use
                # blooms, which only answer membership.
                from dataclasses import replace
                hits = self._candidate_files(
                    replace(snap, files=files),
                    self._key_df(snap, [lo]), snap.key_col)
                files = {p: files[p] for p in hits}
        # one (col, lo, hi) tuple or a LIST of them (conjunction):
        # every predicate prunes independently, so the surviving set is
        # the intersection — the standard CDC read shape is exactly a
        # stacked `(partition, x, x) AND (ts, lo, hi)`
        preds = ([] if where_between is None
                 else [tuple(w) for w in where_between]
                 if isinstance(where_between, (list, set))
                 else [tuple(where_between)])
        residuals = []
        if preds:
            _schema = StructType.fromJson(json.loads(snap.schema_json))
        for col, lo, hi in preds:
            pcol = snap.phys(col)   # stats are keyed by physical name
            # temporal stats live in an integer domain (_stat_encode);
            # translate the bounds there for the manifest prune — the
            # residual Spark filter below gets the originals (numeric
            # temporal bounds re-wrapped so Spark reads them as the
            # stat domain, not epoch seconds)
            _ft = (_schema[col].dataType.typeName()
                   if col in _schema.fieldNames() else None)
            residuals.append((col, _residual_bound(lo, _ft),
                              _residual_bound(hi, _ft)))
            lo, hi = _stat_bound(lo, _ft), _stat_bound(hi, _ft)
            if pcol in (snap.partition_by or []):
                # partition column: EXACT per-file value in the
                # manifest (and self-describing in the path) — the
                # strongest prune the format has
                files = {p: s for p, s in files.items()
                         if lo <= s["partition"][pcol] <= hi}
            elif pcol == snap.phys(snap.key_col):
                # key column: its stats live in min_key/max_key, not
                # `cols` — without this, where_between on the key
                # silently skipped nothing
                files = {p: s for p, s in files.items()
                         if s["max_key"] >= lo and s["min_key"] <= hi}
            else:
                def _keep(s: dict, pcol=pcol, lo=lo, hi=hi) -> bool:
                    rng = s.get("cols", {}).get(pcol)
                    return rng is None or (rng[1] >= lo and rng[0] <= hi)
                files = {p: s for p, s in files.items() if _keep(s)}
            # DERIVED prune through generated columns (Delta's
            # "partition pruning from generated columns", extended to
            # column stats): a predicate on the SOURCE column of a
            # monotone generator also bounds the generated value —
            # src in [lo,hi] => g(src) in [g(lo),g(hi)] — so files
            # prune by EXACT partition value when the generated column
            # is in the layout, and by their per-file min/max stats
            # when it is not (e.g. after repartition_layout(None)).
            # Unrecognized generator shapes just skip (the residual
            # row filter keeps the result exact); a file with no
            # partition entry / no stats is conservatively kept.
            for gc, ge in (snap.generated or {}).items():
                pgc = snap.phys(gc)
                if pgc == pcol:
                    continue
                mono = _monotone_generator(ge)
                if (mono is None or mono[0] != col
                        or col not in _schema.fieldNames()):
                    continue
                # the shape must also be monotone in the source's
                # NATIVE ordering — floor(s/2) over a STRING s orders
                # numerically while the residual filter orders
                # lexicographically, so trusting it would prune files
                # that hold matching rows (_GENERATOR_SRC_TYPES)
                if not _generator_dtype_ok(
                        mono[1], _schema[col].dataType.typeName()):
                    continue
                rb = self._generated_prune_bounds(
                    ge, col, _schema[col].dataType.simpleString(),
                    residuals[-1][1], residuals[-1][2], mono[1])
                if rb is None:
                    continue
                part_gc = pgc in (snap.partition_by or [])

                def _gkeep(s: dict, pgc=pgc, glo=rb[0], ghi=rb[1],
                           part=part_gc):
                    try:
                        if part:
                            v = s.get("partition", {}).get(pgc)
                            return v is None or glo <= v <= ghi
                        rng = s.get("cols", {}).get(pgc)
                        return rng is None or (rng[1] >= glo
                                               and rng[0] <= ghi)
                    except TypeError:
                        return True   # never let a prune break a read
                files = {p: s for p, s in files.items() if _gkeep(s)}
        if not files:
            return self._empty_df(snap)
        df = self._read_files_live(snap, files)
        if key_between is not None:
            lo, hi = key_between
            df = df.filter(F.col(snap.key_col).between(lo, hi))
        for col, lo, hi in residuals:
            df = df.filter(F.col(col).between(lo, hi))
        return df

    # ------------------------------------------------------------ writes

    @classmethod
    def convert(cls, spark: SparkSession, path: str, key_col: str,
                partition_schema: dict[str, str] | None = None,
                generated: dict[str, str] | None = None,
                partition_values=None,
                ) -> "TxLogTable":
        """CONVERT TO TXLOG: adopt an existing parquet directory as a
        table BY REFERENCE — no data is read or rewritten, the
        migration path that matters at 100 TB (the public Delta
        `CONVERT TO DELTA` contract).  Every parquet file under `path`
        becomes an add-action whose stats come from its FOOTER
        (metadata-only, ms per file, manifest-sized driver loop); a
        file without usable key footer stats fails the convert with
        instructions, rather than entering the manifest unprunable.

        Hive-partitioned imports: pass `partition_schema`, e.g.
        ``{"dt": "string"}`` — parquet bytes don't carry the partition
        columns or their types, so the caller must declare them (the
        same requirement Delta's converter has).  Values come from the
        self-describing `k=v` path segments.

        NON-hive layouts (r9): because the manifest's per-file
        partition tuple — not the path — is what readers and the
        pruner consult, a directory whose layout encodes partition
        values any other way (value-only dirs `2024-01-05/part-0.
        parquet`, date-embedded file names, a flat dump with a
        sidecar index) adopts by passing `partition_values`, a
        callable `rel_path -> {col: value}` that produces each file's
        tuple for the declared `partition_schema` (Iceberg's
        `add_files` makes the same move; Delta's converter cannot).
        Every produced dict must cover the declared columns exactly,
        with non-None values of the declared type (int for integral,
        str for string) — validated per file BEFORE the commit, since
        a wrong tuple would make the partition prune silently drop
        matching files.  The paths are never consulted again: reads
        attach the manifest values as typed literals, and fsck skips
        the hive path/manifest cross-check for files whose paths
        carry no `k=v` segments.

        The commit marks the table `owns_root`: imported files live
        outside `data/`, so vacuum on a converted table sweeps the
        whole directory (minus the log) the way it owns any native
        table's — don't keep unrelated files in a converted table's
        directory, exactly as with Delta.

        `generated={col: expr}` formalizes ALREADY-MATERIALIZED
        derived columns as GENERATED ALWAYS AS at adoption time — the
        common migration: an upstream job laid the directory out by a
        derived column (dt=date_format(ts,...) hive dirs, a bucketing
        column), and converting it should carry that contract forward
        so every later ingest recomputes/validates the column and
        reads derive partition prunes from predicates on the source.
        Because convert is BY REFERENCE (no rewrite), the column must
        already exist in the imported files or be a declared partition
        column; the existing data is VALIDATED against col <=> expr in
        ONE column-pruned distributed scan BEFORE the commit (the same
        price add_check charges) and the convert refuses on the first
        violating row — a wrong declaration must never enter the
        manifest, because the derived prune would then silently drop
        matching files.  Like create(), a generated table commits
        writer protocol [1, 2]."""
        t = cls(spark, path)
        if t._versions():
            raise ValueError(f"table already exists: {path}")
        pschema = dict(partition_schema or {})
        for pc, pt in pschema.items():
            if pt not in _PART_TYPES:
                raise ValueError(
                    f"partition column {pc!r} declared {pt!r}; "
                    f"partition tuples round-trip only {_PART_TYPES}")
        if partition_values is not None and not pschema:
            raise ValueError(
                "partition_values requires partition_schema: the "
                "callable's output is typed by the declaration")
        rels = sorted(
            os.path.relpath(os.path.join(dp, f), t.path)
            for dp, _, fs in os.walk(t.path) for f in fs
            if f.endswith(".parquet") and _LOG_DIR not in dp)
        if not rels:
            raise ValueError(f"no parquet files under {path}")
        # schema from the first footer (file columns), partition
        # columns appended with their declared types
        file_schema = spark.read.parquet(t._abs(rels[0])).schema
        from pyspark.sql.types import (LongType, StringType,
                                       StructField)
        dup = [pc for pc in pschema
               if pc in {f_.name for f_ in file_schema.fields}]
        if dup:
            # write.partitionBy drops the column from the file bytes;
            # a hand-built layout that kept it would otherwise import
            # a duplicate-named schema and poison every later read
            raise ValueError(
                f"partition column(s) {dup} also exist inside the "
                f"parquet files: a hive layout must carry partition "
                f"values in paths ONLY — rewrite the files without "
                f"the column before converting")
        part_fields = [StructField(
            pc, StringType() if pt == "string" else LongType(), True)
            for pc, pt in pschema.items()]
        schema = StructType([*file_schema.fields, *part_fields])
        names = [f_.name for f_ in schema.fields]
        _assert_legal_columns(names, "convert")
        if key_col not in names:
            raise ValueError(f"key column {key_col!r} not in imported "
                             f"schema {names}")
        kt = schema[key_col].dataType.typeName()
        if kt not in ("long", "integer", "short", "byte", "string"):
            raise ValueError(f"key column {key_col!r} has type {kt}; "
                             f"keys must be integral or string")
        # per-file partition tuples, derived ONCE and fully validated
        # BEFORE anything publishes: the manifest copy is what readers
        # and the pruner consult from here on (paths never re-parsed),
        # so a wrong tuple entering the log would silently drop
        # matching files from every later pruned read
        file_parts: dict[str, dict] = {}
        for rel in rels:
            if partition_values is not None:
                try:
                    raw = dict(partition_values(rel))
                except Exception as e:
                    raise ValueError(
                        f"partition_values failed on {rel!r}: "
                        f"{e}") from e
            else:
                raw = _parse_partition_path(rel)
                if _HIVE_NULL in raw.values():
                    raise ValueError(
                        f"file {rel!r} has a NULL partition value — "
                        f"rejected at convert, as at write time")
            if set(raw) != set(pschema):
                raise ValueError(
                    f"file {rel!r} has partition keys {sorted(raw)}, "
                    f"declared {sorted(pschema)} — every imported "
                    f"file must match partition_schema exactly")
            tup = {}
            for pc, pt in pschema.items():
                v = raw[pc]
                if partition_values is not None:
                    ok = (isinstance(v, str) if pt == "string"
                          else isinstance(v, int)
                          and not isinstance(v, bool))
                    if not ok:
                        raise ValueError(
                            f"partition_values({rel!r})[{pc!r}] = "
                            f"{v!r} is not a {pt} — tuples must be "
                            f"typed exactly as declared")
                    if pt == "string" and v in ("", _HIVE_NULL):
                        # same invariant the hive branch and the
                        # native write path enforce: NULL/empty
                        # partition values never enter the manifest
                        # (ADVICE r9)
                        raise ValueError(
                            f"partition_values({rel!r})[{pc!r}] = "
                            f"{v!r}: NULL/empty partition values are "
                            f"rejected at convert, as at write time")
                    tup[pc] = v
                else:
                    tup[pc] = _typed_part(v, pt)
            file_parts[rel] = tup
        generated = dict(generated or {})
        if generated:
            _validate_generated_exprs(
                generated, spark.createDataFrame([], schema), key_col)
            missing_gc = [gc for gc in generated if gc not in names]
            if missing_gc:
                raise ValueError(
                    f"generated column(s) {missing_gc} are not in the "
                    f"imported schema {names}: convert is BY REFERENCE "
                    f"(no rewrite), so a generated column must already "
                    f"be materialized in the files or declared in "
                    f"partition_schema")
            # validate col <=> expr over the EXISTING data before the
            # commit — one column-pruned distributed scan per column
            # (Catalyst prunes to gc + its sources); a wrong
            # declaration must refuse here, because once in the
            # manifest the derived prune would silently drop files
            if partition_values is None:
                full_df = (spark.read.option("basePath", path)
                           .parquet(path)
                           if pschema else spark.read.parquet(path))
            else:
                # non-hive layout: hive discovery can't materialize
                # the partition columns, so attach the manifest tuples
                # as typed literals per tuple group — the exact scan
                # shape readers use, which is also the honest thing to
                # validate against
                vgroups: dict[tuple, list[str]] = {}
                for rel, tup in file_parts.items():
                    vgroups.setdefault(tuple(sorted(tup.items())),
                                       []).append(rel)
                full_df = None
                for hit, grels in sorted(vgroups.items()):
                    g = spark.read.schema(file_schema).parquet(
                        *[t._abs(r) for r in grels])
                    for pc, v in hit:
                        g = g.withColumn(
                            pc, F.lit(v).cast(schema[pc].dataType))
                    full_df = (g if full_df is None
                               else full_df.unionByName(g))
            for gc, ge in generated.items():
                decl = schema[gc].dataType.simpleString()
                bad = (full_df.filter(
                    ~F.col(gc).cast(decl).eqNullSafe(
                        F.expr(f"CAST(({ge}) AS {decl})")))
                    .limit(1).collect())
                if bad:
                    raise CheckViolation(
                        f"imported data violates generated column "
                        f"{gc!r} = ({ge}): {bad[0]} — fix the "
                        f"declaration or rewrite the offending files "
                        f"before converting")
        stat_cols = _stat_cols(file_schema)
        adds = []
        for rel in rels:
            ent, kn = _footer_entry(t._abs(rel), key_col, stat_cols)
            if "min_key" not in ent or kn is None or kn > 0:
                raise ValueError(
                    f"file {rel!r} lacks usable key footer stats or "
                    f"holds NULL keys; rewrite it (e.g. through "
                    f"spark.read -> create()) before converting")
            adds.append({"add": {
                "path": rel, **ent,
                **({"partition": file_parts[rel]} if pschema else {}),
                # layout marker: this file's path intentionally
                # carries no k=v segments, the manifest tuple is the
                # sole partition authority — fsck skips the hive
                # path cross-check for marked files but REQUIRES full
                # hive self-description for native ones, so an
                # externally-moved native file can't hide at a
                # segment-less path (ADVICE r9 / VERDICT r9 task 3)
                **({"nonhive": True}
                   if partition_values is not None and pschema
                   else {}),
            }})
        meta = {"schema": schema.json(), "key_col": key_col,
                "owns_root": True}
        if generated:
            meta["generated"] = generated
            # same writer floor as create(): a v1 writer would ingest
            # without computing/validating the generated values
            meta["protocol"] = [1, 2]
        if pschema:
            meta["partition_by"] = sorted(pschema)
        actions = [{"commit": {"op": "CONVERT",
                               "files_imported": len(adds)}},
                   {"meta": meta}, *adds]
        if not t._try_commit(0, actions):
            raise ConflictError(f"concurrent create at {path}")
        return t

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame,
               key_col: str, n_files: int | None = None,
               partition_by: list[str] | None = None,
               key_bloom_bits: int = 0,
               checks: dict[str, str] | None = None,
               generated: dict[str, str] | None = None) -> "TxLogTable":
        t = cls(spark, path)
        if t._versions():
            raise ValueError(f"table already exists: {path}")
        kt = df.schema[key_col].dataType.typeName()
        if kt not in ("long", "integer", "short", "byte", "string"):
            raise ValueError(
                f"key column {key_col!r} has type {kt}; the commit log "
                f"stores key stats as JSON, so keys must be integral "
                f"or string (wrap a timestamp key as unix micros)")
        generated = dict(generated or {})
        if generated:
            _validate_generated_exprs(generated, df, key_col)
            df, gen_implicit = _apply_generated_ingest(df, generated)
        else:
            gen_implicit = {}
        names = [f_.name for f_ in df.schema.fields]
        _assert_legal_columns(names, "create")
        for pc in partition_by or []:
            if pc not in names:
                raise ValueError(f"partition column {pc!r} not in "
                                 f"schema {names}")
            if pc == key_col:
                raise ValueError(
                    f"key column {key_col!r} cannot be a partition "
                    f"column: per-file key RANGE stats drive merge/"
                    f"delete pruning, and a partition value is a "
                    f"single point")
            pt = df.schema[pc].dataType.typeName()
            if pt not in _PART_TYPES:
                raise ValueError(
                    f"partition column {pc!r} has type {pt}; hive "
                    f"path encoding round-trips only {_PART_TYPES} — "
                    f"partition on a derived string/int column "
                    f"(e.g. date_format(ts, 'yyyy-MM-dd'))")
        if not isinstance(key_bloom_bits, int) or \
                not 0 <= key_bloom_bits <= 32:
            raise ValueError(
                f"key_bloom_bits must be an int in [0, 32] (bits per "
                f"key; 10 ≈ 1% false-positive rate), got "
                f"{key_bloom_bits!r}")
        checks = dict(checks or {})
        for cn, ce in checks.items():
            if not cn.isidentifier():
                raise ValueError(f"constraint name {cn!r} must be an "
                                 f"identifier")
            if cn.startswith("_generated_"):
                # reserved for the implicit col<=>expr validations —
                # a user check under this name would silently collide
                raise ValueError(
                    f"constraint name {cn!r} uses the reserved "
                    f"'_generated_' prefix")
            df.filter(F.expr(ce))   # parse/resolve now, fail at create
        adds = t._write_data(df, key_col, n_files,
                             partition_cols=list(partition_by or []),
                             bloom_bits=key_bloom_bits,
                             checks={**checks, **gen_implicit})
        meta = {"schema": df.schema.json(), "key_col": key_col}
        if key_bloom_bits:
            meta["key_bloom_bits"] = key_bloom_bits
        if checks:
            meta["checks"] = checks
        if generated:
            meta["generated"] = generated
            # a v1 writer would ingest without computing/validating
            # the generated values — lock it out, loudly (reads stay
            # open to everyone: the values are materialized)
            meta["protocol"] = [1, 2]
        if partition_by:
            # physical names == logical names at create (mapping is
            # identity); directories and manifest keys stay on these
            # stable physical names across any later RENAME COLUMN
            meta["partition_by"] = list(partition_by)
        actions = [{"commit": {"op": "CREATE"}}, {"meta": meta}, *adds]
        if not t._try_commit(0, actions):
            raise ConflictError(f"concurrent create at {path}")
        return t

    def append(self, df: DataFrame, n_files: int | None = None,
               txn: tuple[str, int] | None = None) -> dict:
        snap, skipped = self._head("append", txn)
        if skipped is not None:
            return skipped
        df = _conform_types(
            df, StructType.fromJson(json.loads(snap.schema_json)).fields,
            "append source")
        # DEFAULTs fill omitted columns first (a generated expression
        # may legitimately derive from a defaulted column), then
        # generated columns: compute the omitted ones BEFORE the
        # every-table-column-present contract below (an omitted
        # generated column is the expected calling convention, not a
        # missing column); supplied ones get the implicit col<=>expr
        # validation in the same landed-bytes pass as user CHECKs
        df = _apply_defaults_ingest(
            df, snap.defaults,
            StructType.fromJson(json.loads(snap.schema_json)).fields)
        df, gen_implicit = _apply_generated_ingest(df, snap.generated)
        _phys_memo: dict[str, str] = {}

        def _schema_changes(s: "Snapshot") -> dict:
            # same schema contract as merge: every table column must be
            # present (a missing one would silently read back as NULL
            # under the pinned snapshot schema); extra columns widen
            # the schema additively in this commit
            table_fields = StructType.fromJson(
                json.loads(s.schema_json)).fields
            missing = [f_.name for f_ in table_fields
                       if f_.name not in df.columns]
            if missing:
                raise ValueError(
                    f"append source missing table columns {missing}")
            new_fields = [f_ for f_ in df.schema.fields
                          if f_.name not in {tf.name for tf in table_fields}]
            if not new_fields:
                return {}
            _assert_legal_columns([f_.name for f_ in new_fields],
                                  "append schema widening")
            changes = {"schema_json": StructType(
                table_fields + new_fields).json()}
            if s.mapping is not None:
                changes["mapping"] = _extend_mapping(
                    s, new_fields, _phys_memo)
            return changes

        mapping0 = dict(snap.mapping) if snap.mapping else None
        adds = self._write_data(df, snap.key_col, n_files,
                                mapping=_schema_changes(snap).get(
                                    "mapping", mapping0),
                                partition_cols=snap.logical_partition_by(),
                                bloom_bits=snap.bloom_bits,
                                checks={**snap.checks, **gen_implicit})

        def build(s: Snapshot):
            # appends never conflict on data; a lost race takes the
            # next slot — but recomputes the schema-widening meta from
            # the fresh snapshot (_commit re-checks the txn): a
            # concurrent commit may have widened the schema with
            # different columns, and re-publishing our stale meta
            # would silently drop them
            if (dict(s.mapping) if s.mapping else None) != mapping0:
                # a concurrent RENAME/DROP changed the logical->physical
                # mapping AFTER our files were written under the old
                # one; committing them would mislabel columns
                raise ConflictError(
                    "concurrent column ALTER during append; re-run")
            changes = _schema_changes(s)
            actions = [{"commit": {"op": "APPEND"}},
                       *([_meta_action(**changes)] if changes else []),
                       *adds]
            return actions, {"files_added": len(adds), "skipped": False}

        return self._commit("append", build, txn, attempts=None)

    def rename_column(self, old: str, new: str) -> dict:
        """ALTER TABLE RENAME COLUMN — a pure META commit (the RFC's
        EmitDDLEvent schema-change flow, README.md:57,:63, beyond the
        additive case): zero data files touched at ANY table size.
        The logical name changes; the physical parquet name stays, and
        readers translate at the scan edge (column mapping).  Time
        travel below this commit still shows the old name.  Streams
        that pinned the old schema need a restart (the §3.2 contract
        for non-additive DDL)."""
        def build(snap: Snapshot):
            fields = StructType.fromJson(json.loads(snap.schema_json)).fields
            names = [f_.name for f_ in fields]
            if old not in names:
                raise ValueError(f"no column {old!r} (have {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            # the rename TARGET is a schema edge too: renaming a user
            # column TO `_t`/`_op`/`commit_version` re-enables exactly
            # the silent-overwrite class the guard exists to block
            # same shared rule as create/convert — a name the table
            # could be created with can be produced by rename too
            # (ADVICE r9; backticks/controls refused inside the rule)
            _assert_legal_columns([new], "rename_column")
            hit = _checks_referencing(snap.checks, old)
            if hit:
                raise ValueError(
                    f"column {old!r} is referenced by CHECK "
                    f"constraint(s) {hit}; drop_check them first")
            if old in snap.generated:
                raise ValueError(
                    f"cannot rename generated column {old!r}: its "
                    f"generator binding is fixed at create")
            ghit = _checks_referencing(snap.generated, old)
            if ghit:
                raise ValueError(
                    f"column {old!r} is referenced by generated "
                    f"column(s) {ghit}; their expressions are fixed "
                    f"at create")
            mapping = dict(snap.mapping or {n: n for n in names})
            mapping[new] = mapping.pop(old)
            from pyspark.sql.types import StructField
            schema = StructType([
                StructField(new if f_.name == old else f_.name,
                            f_.dataType, f_.nullable) for f_ in fields])
            changes = {"schema_json": schema.json(), "mapping": mapping}
            if snap.key_col == old:
                changes["key_col"] = new
            if old in snap.defaults:
                # DEFAULTs are keyed by logical name; a rename re-keys
                # the entry (constant exprs reference no columns, so
                # values carry)
                changes["defaults"] = {(new if k == old else k): v
                                       for k, v in snap.defaults.items()}
            actions = [
                {"commit": {"op": "ALTER", "alter": "rename",
                            "from": old, "to": new}},
                _meta_action(**changes)]
            return actions, {}

        return self._commit("rename", build)

    def widen_column_type(self, name: str, new_type: str) -> dict:
        """ALTER TABLE ALTER COLUMN TYPE — LOSSLESS WIDENING ONLY, as
        a pure META commit at ANY table size (the public Delta
        type-widening contract): old data files keep their narrow
        physical encoding, the pinned read schema up-casts at scan
        time (Spark reads INT32 parquet into a LongType column
        natively — probed), manifest stats stay in the same JSON
        domain, and the canonical bloom hash domain (integral → long
        at build AND probe) makes even KEY widening sidecar-safe.
        Subsequent ingests may keep shipping the narrow dtype —
        `_conform_types` up-casts them — or the wide one.

        The commit raises the protocol floor to [2, 2]: the table can
        now hold files whose footer-declared type differs from the
        schema, a possibility pre-widening readers were never tested
        against, so they fail loudly instead of guessing (time travel
        BELOW the widening commit still works — those snapshots are
        all-narrow).

        Refused for: non-widening edges (long→int would wrap,
        int→double would round above 2^53, date→timestamp would
        poison the temporal stat domain), partition columns (hive
        path typing is load-bearing), and generated columns (their
        type is derived from the expression, not declared)."""
        from pyspark.sql.types import StructField, _parse_datatype_string

        def build(snap: Snapshot):
            fields = StructType.fromJson(
                json.loads(snap.schema_json)).fields
            names = [f_.name for f_ in fields]
            if name not in names:
                raise ValueError(f"no column {name!r} (have {names})")
            cur = next(f_ for f_ in fields if f_.name == name)
            cur_t = cur.dataType.typeName()
            if new_type == cur_t:
                return {"version": snap.version, "skipped": True}
            if new_type not in _WIDEN_OK.get(cur_t, ()):
                raise ValueError(
                    f"cannot widen {name!r} from {cur_t} to "
                    f"{new_type!r}: only lossless edges "
                    f"{_WIDEN_OK} are supported (narrowing wraps, "
                    f"int→float rounds, temporal crossings change "
                    f"the stat domain)")
            if snap.phys(name) in (snap.partition_by or []):
                raise ValueError(
                    f"cannot widen partition column {name!r}: the "
                    f"hive directory typing is load-bearing")
            if name in snap.generated:
                raise ValueError(
                    f"cannot widen generated column {name!r}: its "
                    f"type is derived from its expression")
            ghit = _checks_referencing(snap.generated, name)
            if ghit:
                # mirror rename/drop: for a type-tracking generator
                # (g = v + 1, g pinned INT at create), widening v makes
                # every later ingest recompute g at the WIDE type —
                # _apply_generated_ingest runs after _conform_types, so
                # the computed column lands INT64 parquet under g's
                # pinned INT read schema: commit succeeds, every
                # subsequent read fails (ADVICE r7, reproduced)
                raise ValueError(
                    f"cannot widen column {name!r}: generated "
                    f"column(s) {ghit} reference it, and their "
                    f"computed type would drift from the declared "
                    f"schema (later ingests would land wide parquet "
                    f"under the pinned narrow read schema)")
            schema = StructType([
                StructField(f_.name,
                            _parse_datatype_string(new_type)
                            if f_.name == name else f_.dataType,
                            f_.nullable, f_.metadata)
                for f_ in fields])
            proto = [max(snap.protocol[0], 2), max(snap.protocol[1], 2)]
            actions = [
                {"commit": {"op": "ALTER", "alter": "widen",
                            "column": name, "from": cur_t,
                            "to": new_type}},
                _meta_action(schema_json=schema.json(), protocol=proto)]
            return actions, {"skipped": False, "from": cur_t,
                             "to": new_type}

        return self._commit("widen", build)

    def add_column(self, name: str, dtype: str,
                   default: str | None = None) -> dict:
        """ALTER TABLE ADD COLUMN [DEFAULT expr] — a pure META commit
        at any table size.  Existing files simply lack the physical
        column and keep reading NULL for it (the public Delta
        column-default semantic: defaults are a WRITE-side feature —
        no old bytes change, no reader floor rises).  With `default`,
        every subsequent APPEND that OMITS the column materializes
        the default (cast to `dtype`) into the landed files; a
        supplied column always wins, including explicit NULLs.
        Merge semantics follow public Delta: defaults apply to
        INSERT actions only — a partial merge defaults its INSERT
        rows and keeps target values on matched rows, while a FULL
        merge (whole-row replace, UPDATE SET *) REQUIRES the column
        in its source and errors loudly if it is missing (silently
        completing it would overwrite matched rows' stored values).

        `default` must be a CONSTANT deterministic expression — it
        may not reference columns (each ROW would then need its own
        value, which is a generated column's job, fixed at create)
        and may not call current-time/random functions (two ingests
        would disagree about the "same" default).  Validated by
        actually evaluating `CAST((expr) AS dtype)` once, driver-side.

        The commit raises the writer floor to 2 when a default is
        declared: a v1 writer would land NULL (via its own
        missing-column error path at best) where this table's
        contract says the default — lock it out loudly.  Re-adding a
        DROPPED column takes a fresh physical name via column
        mapping, so the old bytes can never resurrect."""
        from pyspark.sql.types import StructField, _parse_datatype_string

        # shared rule, same surface as create/convert/rename
        # (ADVICE r9; backticks/controls refused inside the rule)
        _assert_legal_columns([name], "add_column")
        try:
            dt = _parse_datatype_string(dtype)
        except Exception:
            raise ValueError(f"unparseable type {dtype!r}") from None
        if default is not None:
            if not isinstance(default, str) or not default.strip():
                raise ValueError(
                    f"default for {name!r} must be a non-empty SQL "
                    f"expression string, got {default!r}")
            import re as _re

            # string literals are constants — scan the expression with
            # them blanked so "'select'" or "'now'" as a VALUE doesn't
            # trip the function/subquery guards (ADVICE r9)
            scan = _strip_sql_string_literals(default).replace("`", "")
            bad_fn = [fn for fn in _NONDETERMINISTIC_FNS
                      if _re.search(rf"(?<!\w){fn}(?!\w)", scan, _re.I)]
            if bad_fn or _re.search(_ZERO_ARG_NOW_PAT, scan):
                raise ValueError(
                    f"default for {name!r} uses non-deterministic "
                    f"function(s) {bad_fn or ['<current-time>']}: two "
                    f"ingests would disagree about the same default")
            if _re.search(r"(?<!\w)select(?!\w)", scan, _re.I):
                # a scalar subquery "(SELECT max(x) FROM v)" resolves
                # without a column reference and so would pass the
                # CAST probe below, yet re-evaluates at every ingest —
                # two ingests could disagree about the "same" default
                # (ADVICE r8)
                raise ValueError(
                    f"default for {name!r} must be a constant "
                    f"expression, not a subquery: its value would be "
                    f"re-evaluated (non-deterministically) at every "
                    f"ingest")
            try:
                # constant-only SELECT: a column reference fails to
                # resolve here, which is exactly the contract
                self.spark.sql(
                    f"SELECT CAST(({default}) AS {dtype}) AS _d"
                ).collect()
            except Exception as e:
                raise ValueError(
                    f"default for {name!r} must be a constant "
                    f"expression castable to {dtype!r}: {e}") from None
        def build(snap: Snapshot):
            fields = StructType.fromJson(
                json.loads(snap.schema_json)).fields
            if name in [f_.name for f_ in fields]:
                raise ValueError(f"column {name!r} already exists")
            schema = StructType([*fields, StructField(name, dt, True)])
            changes = {"schema_json": schema.json()}
            if snap.mapping is not None:
                changes["mapping"] = _extend_mapping(
                    snap, [StructField(name, dt, True)])
            if default is not None:
                changes["defaults"] = {**snap.defaults, name: default}
                changes["protocol"] = [snap.protocol[0],
                                       max(snap.protocol[1], 2)]
            actions = [
                {"commit": {"op": "ALTER", "alter": "add_column",
                            "column": name, "type": dtype,
                            **({"default": default}
                               if default is not None else {})}},
                _meta_action(**changes)]
            return actions, {}

        return self._commit("add_column", build)

    def add_check(self, name: str, expr: str) -> dict:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): validates the
        WHOLE existing table first (one column-pruned scan — the same
        price Delta charges for ADD CONSTRAINT), then publishes a pure
        meta commit.  Every subsequent data-changing write enforces
        the expression against its landed files before committing."""
        if not name.isidentifier():
            raise ValueError(f"constraint name {name!r} must be an "
                             f"identifier")
        if name.startswith("_generated_"):
            raise ValueError(f"constraint name {name!r} uses the "
                             f"reserved '_generated_' prefix")
        def build(snap: Snapshot):
            if name in snap.checks:
                raise ValueError(f"constraint {name!r} already exists")
            bad = (self._read_files_live(snap, sorted(snap.files))
                   .filter(F.expr(expr).eqNullSafe(F.lit(False)))
                   .limit(1).collect())
            if bad:
                raise CheckViolation(
                    f"existing rows violate {name!r}: {bad[0]}")
            actions = [
                {"commit": {"op": "ALTER", "alter": "add_check",
                            "name": name}},
                _meta_action(checks={**snap.checks, name: expr})]
            return actions, {}

        return self._commit("add_check", build)

    def drop_check(self, name: str) -> dict:
        """ALTER TABLE DROP CONSTRAINT — pure meta commit."""
        def build(snap: Snapshot):
            if name not in snap.checks:
                raise ValueError(f"no constraint {name!r} "
                                 f"(have {sorted(snap.checks)})")
            checks = {n: e for n, e in snap.checks.items() if n != name}
            actions = [
                {"commit": {"op": "ALTER", "alter": "drop_check",
                            "name": name}},
                _meta_action(checks=checks)]
            return actions, {}

        return self._commit("drop_check", build)

    def drop_column(self, name: str) -> dict:
        """ALTER TABLE DROP COLUMN — a pure META commit: the column
        leaves the logical schema and its PHYSICAL name is retired
        (recorded so a later ADD of the same logical name takes a
        fresh physical name and cannot resurrect the dropped data).
        Old parquet files keep the bytes until the next OPTIMIZE
        rewrite purges them — exactly the public Delta column-mapping
        contract.  Dropping the key column is refused (every format
        invariant hangs off it)."""
        def build(snap: Snapshot):
            if name == snap.key_col:
                raise ValueError("cannot drop the key column")
            if snap.phys(name) in (snap.partition_by or []):
                raise ValueError(
                    f"cannot drop partition column {name!r}: the "
                    f"table's physical layout is keyed on it")
            fields = StructType.fromJson(json.loads(snap.schema_json)).fields
            names = [f_.name for f_ in fields]
            if name not in names:
                raise ValueError(f"no column {name!r} (have {names})")
            hit = _checks_referencing(snap.checks, name)
            if hit:
                raise ValueError(
                    f"column {name!r} is referenced by CHECK "
                    f"constraint(s) {hit}; drop_check them first")
            if name in snap.generated:
                raise ValueError(
                    f"cannot drop generated column {name!r}: "
                    f"generated columns are fixed at create")
            ghit = _checks_referencing(snap.generated, name)
            if ghit:
                raise ValueError(
                    f"column {name!r} is referenced by generated "
                    f"column(s) {ghit}; their expressions are fixed "
                    f"at create")
            mapping = dict(snap.mapping or {n: n for n in names})
            retired = [*snap.retired, mapping.pop(name)]
            schema = StructType([f_ for f_ in fields if f_.name != name])
            changes = {"schema_json": schema.json(), "mapping": mapping,
                       "retired": retired}
            if name in snap.defaults:
                # a dropped column's DEFAULT goes with it (re-adding
                # the name starts clean)
                changes["defaults"] = {k: v for k, v in
                                       snap.defaults.items() if k != name}
            actions = [
                {"commit": {"op": "ALTER", "alter": "drop",
                            "column": name}},
                _meta_action(**changes)]
            return actions, {}

        return self._commit("drop", build)

    def _candidate_files(self, snap: Snapshot, source: DataFrame,
                         key_col: str) -> list[str]:
        """Exact file-level pruning: a file is a rewrite candidate iff
        its [min_key, max_key] contains at least one source key.  One
        small job — source keys against the broadcast manifest.

        Files carrying a key bloom sidecar get a second, exact-key
        test: a range hit survives only if at least one source key is
        (maybe-)present in the file's bloom.  False positives cost a
        harmless extra rewrite; a false negative is impossible (bloom
        contract), so the candidate set always contains every file a
        source key truly lives in.  The probe runs ON EXECUTORS,
        grouped per file — each task reads its own m/8-byte sidecar
        and tests all keys vectorized; bloom bytes never cross to the
        driver, so the step scales with the candidate count, not the
        table."""
        if not snap.files:
            return []
        if snap.bloom_bits <= 0:
            stats_rows = [(p, s["min_key"], s["max_key"])
                          for p, s in snap.files.items()]
            stats_df = self.spark.createDataFrame(
                stats_rows, ["_file", "_min_key", "_max_key"])
            hits = (source.select(F.col(key_col).alias("_k")).distinct()
                    .join(F.broadcast(stats_df),
                          F.col("_k").between(F.col("_min_key"),
                                              F.col("_max_key")))
                    .select("_file").distinct().collect())
            return sorted(r["_file"] for r in hits)
        kt = "long" if isinstance(
            next(iter(snap.files.values()))["min_key"], int) else "string"

        def _usable_bloom(s: dict) -> dict:
            # a sidecar whose hash-domain tag is absent or mismatched
            # was built under a DIFFERENT canon — probing it here would
            # false-negative; treat as no sidecar (fail OPEN)
            b = s.get("bloom") or {}
            return b if b.get("domain") == _BLOOM_DOMAIN else {}

        stats_rows = [(p, s["min_key"], s["max_key"],
                       _usable_bloom(s).get("m"),
                       _usable_bloom(s).get("k"))
                      for p, s in snap.files.items()]
        stats_df = self.spark.createDataFrame(
            stats_rows, f"_file string, _min_key {kt}, _max_key {kt}, "
                        f"_bm long, _bk long")
        hits = (source.select(F.col(key_col).alias("_k")).distinct()
                .join(F.broadcast(stats_df),
                      F.col("_k").between(F.col("_min_key"),
                                          F.col("_max_key"))))
        plain = hits.filter(F.col("_bm").isNull()).select("_file")
        # hash in the canonical domain (kt is the TABLE key's class
        # from the manifest) — a source carrying the key at a
        # different integral width must probe the same bits the build
        # set, or present keys probe absent and their files are
        # silently skipped
        kcanon = _bloom_key_canon(F.col("_k"), kt)
        probe_in = (hits.filter(F.col("_bm").isNotNull())
                    .select("_file", "_bm", "_bk",
                            F.xxhash64(kcanon).alias("_h1"),
                            F.xxhash64(kcanon, F.lit(1)).alias("_h2")))
        table_path = self.path

        def _probe(pdf):
            import numpy as np
            import pandas as pd

            rel = pdf["_file"].iloc[0]
            empty = pd.DataFrame({"_file": pd.Series([], dtype=object)})
            keep = pd.DataFrame({"_file": [rel]})
            try:
                with open(os.path.join(table_path, rel) + ".bloom",
                          "rb") as fh:
                    buf = np.frombuffer(fh.read(), dtype=np.uint8)
            except OSError:
                return keep      # sidecar unreadable → fail OPEN
            m, k = int(pdf["_bm"].iloc[0]), int(pdf["_bk"].iloc[0])
            if buf.size != m // 8:
                return keep      # foreign/corrupt sidecar → fail OPEN
            pos = _bloom_positions(pdf["_h1"].to_numpy(np.int64),
                                   pdf["_h2"].to_numpy(np.int64), k, m)
            bits = (buf[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            return keep if bool(bits.all(axis=1).any()) else empty

        probed = probe_in.groupBy("_file").applyInPandas(
            _probe, "_file string")
        got = plain.union(probed).distinct().collect()
        return sorted(r["_file"] for r in got)

    def merge(self, source: DataFrame, op_col: str | None = None,
              txn: tuple[str, int] | None = None,
              order_by: tuple[str, ...] | None = None,
              partial: bool = False) -> dict:
        """MERGE INTO this table USING source ON key.

        Row semantics (the reference's sink apply contract,
        README.md:62,:64): source rows with `op_col` == 'D' delete the
        key; any other source row upserts it; target keys absent from
        the source pass through untouched.  Source must be compacted to
        one row per key (latest op wins) by the caller.

        `partial=True` is UPDATE SET for sparse change events (a CDC
        feed that ships only changed columns): table columns ABSENT
        from the source keep their target value on matched rows (and
        are NULL on inserts); columns the source carries are set —
        including to NULL, so "set NULL" and "unchanged" stay
        distinguishable (column presence, not value, is the signal).
        Off by default: with `partial=False` a source missing table
        columns is rejected, because silently nulling them is the
        classic full-row-replace footgun.

        `order_by` makes matched-row resolution last-writer-wins by
        that column tuple instead of source-always-wins: a source row
        (including a delete) only applies if its tuple is >= the target
        row's — so re-merging stale batches is harmless and batch
        ORDER no longer matters for upserts/updates.  Known limit
        (documented, standard for tombstone-free formats): a stale
        update arriving AFTER the delete that superseded it finds no
        target row to lose against and re-inserts.

        Copy-on-write at file granularity: only files whose stats admit
        a source key are read and rewritten; inserts that land outside
        every live file's range become new files.  Retries on
        concurrent commits; raises ConflictError if a concurrent writer
        removed one of our candidate files (caller re-runs the merge).

        Content seals: MERGE SHEDS the seals of files it rewrites and
        never re-seals — the PINNED contract is seal-at-AUDIT-cadence
        (r10 VERDICT task 6, decided r11).  Rationale: a seal needs
        the final on-disk bytes (the parquet writer exposes none), so
        re-sealing means one extra full read of every rewritten file
        on the TRANSACTIONAL hot path — up to 2x write-path I/O at
        CDC merge cadence.  The seal's threat model is an out-of-band
        foreign writer between byte-level AUDITS, not between commits:
        a merge-rewritten file sits unsealed until the next
        `stamp_hashes()` exactly like every fresh APPEND does (appends
        are never sealed at write either), and the commit-time mtime
        tripwire still covers that window under deep fsck.  OPTIMIZE
        auto-reseals because it is the scheduled maintenance pass
        where the extra hash read amortizes (and keeps sealed-ness
        sticky); MERGE is deliberately not.  `detail()`'s
        `content_sealed_files` reports the erosion honestly, and
        `fsck(verify_hashes=True)` audits exactly the still-sealed
        set.  Pinned by test_merge_sheds_seals_by_contract.
        """
        read_dvs: dict[str, list] = {}   # last attempt's candidates' DVs

        def build(snap: Snapshot):
            # after a lost race the retry is valid iff no candidate file
            # was removed AND no candidate file's deletion vector grew
            # (our rewrite read the old DV state — re-committing would
            # resurrect concurrently dv-deleted rows); plain appends
            # interleaved, so recompute against the new snapshot
            if any(p not in snap.files
                   or snap.files[p].get("dv", []) != dv
                   for p, dv in read_dvs.items()):
                raise ConflictError(
                    "concurrent commit removed or dv-deleted from a "
                    "candidate file")
            key = snap.key_col
            source_c = _conform_types(
                source,
                StructType.fromJson(json.loads(snap.schema_json)).fields,
                "merge source")
            touched = self._candidate_files(snap, source_c, key)
            s = source_c
            if op_col is None:
                s = s.withColumn("_op", F.lit("U"))
            else:
                s = s.withColumn("_op", F.col(op_col)).drop(op_col)
            # additive schema evolution: source columns the table lacks
            # widen the schema in this commit (the RFC's EmitDDLEvent
            # applied at the format layer, README.md:57,:63); files
            # written before the DDL project the new columns as NULL
            table_fields = StructType.fromJson(
                json.loads(snap.schema_json)).fields
            table_names = [f_.name for f_ in table_fields]
            new_fields = [f_ for f_ in s.schema.fields
                          if f_.name not in (*table_names, "_op")]
            schema_json = snap.schema_json
            mapping = snap.mapping
            if new_fields:
                _assert_legal_columns([f_.name for f_ in new_fields],
                                      "merge schema widening")
                widened = StructType(table_fields + new_fields)
                schema_json = widened.json()
                if mapping is not None:
                    mapping = _extend_mapping(snap, new_fields)
                # dataclasses.replace so EVERY other Snapshot field
                # (checks, owns_root, future additions) rides through —
                # a positional rebuild here once silently dropped
                # `checks`, letting a widening merge commit rows that
                # violate a CHECK constraint.
                snap = _dc_replace(snap, schema_json=schema_json,
                                   mapping=mapping)
            cols = [f_.name for f_ in
                    StructType.fromJson(json.loads(schema_json)).fields]
            # generated columns are exempt from the full-row contract:
            # the after-image recomputes them, so an omitted one can
            # never be silently nulled.  DEFAULTed columns are NOT
            # exempt: a full merge is whole-row replace (UPDATE SET *),
            # and the public Delta contract the docstrings cite applies
            # defaults to INSERT actions only — silently completing a
            # matched row with the default would overwrite its stored
            # value (ADVICE r8).  partial=True defaults INSERT rows
            # only, in the select below.
            missing = [c for c in cols if c not in s.columns
                       and c not in snap.generated]
            if missing and not partial:
                raise ValueError(
                    f"merge source must carry every table column; "
                    f"missing {missing} (a row that wins replaces the "
                    f"whole row — silently completing a DEFAULTed "
                    f"column would overwrite matched rows' stored "
                    f"values; pass partial=True for UPDATE SET "
                    f"semantics, where DEFAULTs apply to INSERT rows "
                    f"only)")
            if key not in s.columns:
                raise ValueError(f"merge source lacks key {key!r}")
            if order_by is not None and partial:
                ob_missing = [c for c in order_by if c not in s.columns]
                if ob_missing:
                    raise ValueError(
                        f"order_by columns {ob_missing} must be in a "
                        f"partial merge source (resolution needs them)")
            for gc, ge in snap.generated.items():
                # a source that SUPPLIES a generated column is
                # validated loudly up front (delete rows exempt — only
                # their key matters); an omitted one is simply
                # recomputed on the after-image below
                if gc not in s.columns:
                    continue
                deps = [c for c in table_names
                        if c != gc and _checks_referencing({gc: ge}, c)]
                dep_missing = [c for c in deps if c not in s.columns]
                if dep_missing:
                    raise ValueError(
                        f"merge source carries generated column {gc!r} "
                        f"but not its source column(s) {dep_missing}; "
                        f"drop {gc!r} (it is recomputed) or carry the "
                        f"columns it derives from")
                bad = (s.filter((F.col("_op") != "D")
                                & F.expr(f"`{gc}` <=> ({ge})")
                                .eqNullSafe(F.lit(False)))
                       .limit(1).collect())
                if bad:
                    raise CheckViolation(
                        f"merge source value for generated column "
                        f"{gc!r} contradicts its expression {ge!r}, "
                        f"e.g. {bad[0]}; omit the column to have it "
                        f"computed")
            target = self._read_files_live(snap, touched)
            t_ = target.withColumn("_t", F.lit(1)).alias("t")
            s_ = s.withColumn("_s", F.lit(1)).alias("s")
            joined = t_.join(s_, on=key, how="full_outer")
            s_wins = F.col("s._s").isNotNull()
            if order_by is not None:
                s_wins = s_wins & (
                    F.col("t._t").isNull()
                    | (F.struct(*[F.col(f"s.{c}") for c in order_by])
                       >= F.struct(*[F.col(f"t.{c}") for c in order_by])))
            ftypes = {f_.name: f_.dataType for f_ in StructType
                      .fromJson(json.loads(schema_json)).fields}

            def _absent(c):
                # column absent from a PARTIAL source: matched rows
                # keep the target value (incl. genuine NULLs); INSERT
                # rows take the declared DEFAULT when one exists —
                # the Delta INSERT-default contract — else NULL
                if c in snap.defaults:
                    return (F.when(F.col("t._t").isNotNull(),
                                   F.col(f"t.{c}"))
                            .otherwise(F.expr(snap.defaults[c])
                                       .cast(ftypes[c])))
                return F.col(f"t.{c}")

            merged = (joined
                      .filter(~(s_wins & (F.col("_op") == "D")))
                      .select(F.col(key), *[
                          (F.when(s_wins, F.col(f"s.{c}"))
                            .otherwise(F.col(f"t.{c}"))
                           if c in s.columns else _absent(c))
                          .alias(c)
                          for c in cols if c != key]))
            merged = merged.select(*cols)  # original column order
            # recompute generated columns on the AFTER-image (in-place
            # projection, same codegen stage — no extra pass): a
            # partial UPDATE that changes a source column must move
            # the row's generated value (and hive partition) with it,
            # and an unchanged row recomputes to the identical value
            # (generators are deterministic by construction)
            for gc, ge in snap.generated.items():
                merged = merged.withColumn(gc, F.expr(ge))
            n_files = max(1, len(touched))
            adds = self._write_data(
                merged, key, n_files, mapping=snap.mapping,
                partition_cols=snap.logical_partition_by(),
                bloom_bits=snap.bloom_bits, checks=snap.checks)
            widening = {}
            if new_fields:
                widening["schema_json"] = schema_json
                if snap.mapping is not None:
                    widening["mapping"] = snap.mapping
            actions = [{"commit": {"op": "MERGE",
                                   "files_pruned":
                                       len(snap.files) - len(touched),
                                   "files_rewritten": len(touched)}},
                       *([_meta_action(**widening)] if widening else []),
                       *[{"remove": {"path": p}} for p in touched],
                       *adds]
            read_dvs.clear()
            read_dvs.update((p, snap.files[p].get("dv", []))
                            for p in touched)
            return actions, {"files_scanned": len(touched),
                             "files_pruned": len(snap.files) - len(touched),
                             "files_added": len(adds), "skipped": False}

        return self._commit("merge", build, txn)

    def _classify_pred_files(self, snap: Snapshot, where_between):
        """Classify live files against ANDed range predicates.

        Returns (all_match, may_match, match_cond): files whose stats
        PROVE every row matches every predicate (needs containment +
        a zero null count for non-key columns — BETWEEN never matches
        NULL), files that may hold matching rows, and the row-level
        match condition (each BETWEEN NULL-coalesced to False, numeric
        temporal bounds read in the stat domain).  Files whose stats
        prove NO row matches appear in neither list."""
        key = snap.key_col
        preds = ([tuple(w) for w in where_between]
                 if isinstance(where_between, (list, set))
                 else [tuple(where_between)])
        _schema = StructType.fromJson(json.loads(snap.schema_json))

        def _verdict(s: dict) -> str:
            all_match = True
            for col, lo0, hi0 in preds:
                pcol = snap.phys(col)
                ft = (_schema[col].dataType.typeName()
                      if col in _schema.fieldNames() else None)
                plo, phi = _stat_bound(lo0, ft), _stat_bound(hi0, ft)
                # Temporal stats are µs-floored (epoch micros/days).
                # Flooring is sound for the no-match/pruning direction
                # only: a converted foreign file with ns-unit footers
                # can hold a row just ABOVE hi inside the same floored
                # µs (floor(max) <= floor(hi) !=> max <= hi), and
                # symmetrically just below lo.  The all-rows-match
                # proof (drop whole file with no data pass) therefore
                # requires STRICT containment on temporal columns —
                # boundary-exact files demote to the rewrite path,
                # which filters row-by-row and stays correct.
                _temporal = ft in _TEMPORAL_STAT_TYPES

                def _contained(lo_s, hi_s) -> bool:
                    if _temporal:
                        return plo < lo_s and hi_s < phi
                    return plo <= lo_s and hi_s <= phi

                if pcol in (snap.partition_by or []):
                    # hive partition value: every row reads back the
                    # exact path value, so stat-domain equality is a
                    # per-row proof even for temporal columns
                    if not plo <= s["partition"][pcol] <= phi:
                        return "keep"   # exact value: no row matches
                elif pcol == snap.phys(key):
                    if s["min_key"] > phi or s["max_key"] < plo:
                        return "keep"
                    if not _contained(s["min_key"], s["max_key"]):
                        all_match = False   # keys are never NULL
                else:
                    rng = s.get("cols", {}).get(pcol)
                    if rng is None:
                        all_match = False   # unknown: must scan
                    elif rng[0] > phi or rng[1] < plo:
                        return "keep"
                    elif not (len(rng) > 2 and rng[2] == 0
                              and _contained(rng[0], rng[1])):
                        # containment without a zero null count
                        # can't prove NULL rows absent
                        all_match = False
            return "all" if all_match else "may"

        v = {p: _verdict(s) for p, s in snap.files.items()}
        match_cond = F.lit(True)
        for col, lo0, hi0 in preds:
            ft = (_schema[col].dataType.typeName()
                  if col in _schema.fieldNames() else None)
            match_cond = match_cond & \
                F.coalesce(F.col(col).between(
                    _residual_bound(lo0, ft),
                    _residual_bound(hi0, ft)), F.lit(False))
        return ([p for p, r in v.items() if r == "all"],
                [p for p, r in v.items() if r == "may"],
                match_cond)

    def delete_where(self, key_between: tuple | None = None,
                     mode: str = "cow",
                     txn: tuple[str, int] | None = None,
                     where_between=None,
                     dv_max_keys: int = 1_000_000) -> dict:
        """DELETE WHERE key BETWEEN lo AND hi — or, with
        `where_between=(col, lo, hi)` (or a list of tuples, ANDed),
        DELETE by arbitrary range predicates: `delete_where(
        where_between=("ts", "1970-01-01", horizon))` is the CDC
        retention sweep, the delete shape a 100 TB changelog table
        runs daily.

        Files whose stats prove EVERY row matches are dropped with no
        data pass at all in either mode (for non-key predicates that
        proof needs the stats' null count — BETWEEN never matches
        NULL, so containment alone isn't enough; files written before
        null counts existed conservatively rewrite).  Files whose
        stats prove NO row matches are untouched.  Straddling files:

        - `mode="cow"` (copy-on-write): rewrite them minus matching
          rows — readers stay scan-only, the delete pays the write.
          Rows with NULL in a predicate column never match and are
          kept.
        - `mode="dv"` (merge-on-read): append each straddler's matching
          keys to its DELETION VECTOR — no parquet is written at all
          (one read-only job enumerates the keys), readers anti-join
          the DV until OPTIMIZE materializes it away.  This is the
          100 TB shape for a delete that grazes many files: COW would
          rewrite every grazed file; DV writes one log entry.  The DV
          here is a key list (keys are table-unique); a positional
          bitmap is the same contract with a denser encoding.

        `dv_max_keys` makes the DV scale contract ENFORCED instead of
        assumed: the key list lives inline in the commit log and is
        pooled on the driver at read time, so it must stay
        manifest-class — DVs are for targeted deletes between OPTIMIZE
        runs, not bulk sweeps.  A dv-mode delete whose straddler match
        count exceeds the cap raises with instructions to use
        mode="cow" (whole-file drops cost nothing either way), rather
        than silently growing the log and the driver's read-side
        broadcast until something OOMs.  The count is one extra
        column-pruned job over only the straddling files."""
        if (key_between is None) == (where_between is None):
            raise ValueError(
                "pass exactly one of key_between / where_between")

        def build(snap: Snapshot):
            key = snap.key_col
            if key_between is not None:
                lo, hi = key_between
                drop_whole = [p for p, s in snap.files.items()
                              if s["min_key"] >= lo and s["max_key"] <= hi]
                straddle = [p for p, s in snap.files.items()
                            if p not in drop_whole
                            and s["max_key"] >= lo and s["min_key"] <= hi]
                match_cond = F.col(key).between(lo, hi)
            else:
                drop_whole, straddle, match_cond = \
                    self._classify_pred_files(snap, where_between)
            actions = [{"commit": {"op": "DELETE", "mode": mode,
                                   "files_dropped": len(drop_whole),
                                   "files_rewritten":
                                       0 if mode == "dv" else len(straddle)}},
                       *[{"remove": {"path": p}} for p in drop_whole]]
            if straddle and mode == "dv":
                matched = (self._read_files_live(snap, straddle)
                           .filter(match_cond)
                           .select(F.input_file_name().alias("_f"), key))
                n_match = matched.count()      # 1 scalar, executor-side
                if n_match > dv_max_keys:
                    raise ValueError(
                        f"dv delete matches {n_match} rows across "
                        f"{len(straddle)} straddling files, over "
                        f"dv_max_keys={dv_max_keys}: inline deletion "
                        f"vectors must stay manifest-class (they ride the "
                        f"log and the read-side broadcast).  Use "
                        f"mode='cow' for bulk deletes, or raise the cap "
                        f"deliberately if this table's readers can afford "
                        f"it")
                # one read-only job: which LIVE keys per straddler match
                hit = matched.collect()  # DV-sized: cap-enforced above
                by_file: dict[str, list] = {}
                for r in hit:
                    full = _fs_path(r["_f"])
                    # manifest keys are rel paths for native files but
                    # ABSOLUTE for a shallow clone's out-of-root refs —
                    # relpath alone would produce '../src/...' and miss
                    # (found by the clone random-ops model walk, r9)
                    rel = (os.path.abspath(full) if os.path.abspath(full)
                           in snap.files
                           else os.path.relpath(full, self.path))
                    if rel not in snap.files:
                        raise RuntimeError(
                            f"dv delete resolved {rel!r} to no manifest "
                            f"entry — path round-trip bug, refusing a "
                            f"silent no-op delete")
                    by_file.setdefault(rel, []).append(r[key])
                actions += [{"dv": {"path": p, "keys": sorted(ks)}}
                            for p, ks in sorted(by_file.items())]
            elif straddle:
                # NULL predicate values never match BETWEEN, so ~coalesce
                # keeps them (match_cond is already NULL-coalesced on the
                # predicate path; the key path has no NULL keys by contract)
                kept = (self._read_files_live(snap, straddle)
                        .filter(~match_cond))
                adds = self._write_data(
                    kept, key, len(straddle), mapping=snap.mapping,
                    partition_cols=snap.logical_partition_by(),
                    bloom_bits=snap.bloom_bits)
                # deletes only remove rows; surviving rows were validated
                # by the write that created them — no re-check needed
                actions += [{"remove": {"path": p}} for p in straddle]
                actions += adds
            return actions, {"skipped": False,
                             "files_dropped": len(drop_whole),
                             "files_rewritten":
                                 0 if mode == "dv" else len(straddle)}

        return self._commit("delete", build, txn, attempts=1)

    def restore(self, version: int | None = None,
                txn: tuple[str, int] | None = None,
                as_of: float | None = None) -> dict:
        """RESTORE TABLE TO VERSION — re-point HEAD at an earlier
        snapshot's file set, schema, and layout in ONE metadata-only
        commit (the Delta RESTORE contract; the bad-deploy rollback
        every CDC pipeline eventually needs).  No data moves: the old
        files are re-referenced, with their deletion vectors replayed.
        History is preserved — the restore is itself a commit, the
        undone versions remain time-travelable, and the change feed
        across the restore commit is exactly the inverse diff.

        Fails if the target version left the log or any of its files
        were vacuumed (restoring past the vacuum horizon is
        unrecoverable by design — that's what the horizon means).
        `retired_physical` keeps every physical name either snapshot
        ever used — both retired lists plus HEAD's live names — minus
        the names the target makes live again: schema history may
        rewind, but a physical column name can never be reused without
        risking resurrecting dropped data.

        `as_of=<unix seconds>` is RESTORE TO TIMESTAMP (resolved to a
        version via the commit log's wall-clock times, like read).

        Race note (the Delta vacuum-vs-time-travel window, inherited
        deliberately): the files-exist check runs pre-commit, so a
        vacuum that computed its reachable set BEFORE this restore
        publishes can still unlink the re-referenced files.  The
        standard defense is vacuum's retention period (`min_age_s` /
        retain_last) sized beyond any restore you'd attempt; a deep
        fsck flags the damage if the window is ever hit."""
        if (version is None) == (as_of is None):
            raise ValueError("pass exactly one of version / as_of")
        if as_of is not None:
            version = self.version_at(as_of)

        def build(snap: Snapshot):
            old = self.snapshot(version)   # raises if log-truncated
            missing = [p for p, s in old.files.items()
                       if not os.path.exists(self._abs(p))
                       or (s.get("bloom")
                           and not os.path.exists(self._abs(p) + ".bloom"))]
            if missing:
                raise ValueError(
                    f"cannot restore to version {version}: {len(missing)} "
                    f"file(s) (or bloom sidecars) vacuumed, "
                    f"e.g. {missing[0]!r}")
            # layout markers and content-hash seals survive restore: the
            # bytes on disk are untouched, so the seal stays valid (mtimes
            # are NOT carried — _try_commit re-stamps from the live file)
            readds = _readd_actions(sorted(old.files.items()), _MTIME_KEYS)
            # the whole meta rewinds — defaults with the schema they belong
            # to — except: the protocol (no key, so replay keeps the
            # floor), retired physical names (a name that was ever live
            # stays reserved unless the target makes it live again; an
            # unmapped target takes the identity mapping so that later
            # column adds route around them) and root ownership (ever
            # owned stays owned)
            def mapping_of(s: Snapshot) -> dict[str, str]:
                if s.mapping is not None:
                    return s.mapping
                return {f_["name"]: f_["name"]
                        for f_ in json.loads(s.schema_json)["fields"]}

            retired = sorted({*snap.retired, *old.retired,
                              *mapping_of(snap).values()}
                             - set(mapping_of(old).values()))
            meta = _meta_of(_dc_replace(
                old, retired=retired,
                mapping=mapping_of(old) if retired else old.mapping,
                owns_root=snap.owns_root or old.owns_root))
            del meta["protocol"]
            actions = [{"commit": {"op": "RESTORE", "to_version": version,
                                   "files_removed": len(snap.files),
                                   "files_restored": len(old.files)}},
                       {"meta": meta},
                       *[{"remove": {"path": p}} for p in snap.files],
                       *readds]
            return actions, {"skipped": False,
                             "files_removed": len(snap.files),
                             "files_restored": len(old.files)}

        return self._commit("restore", build, txn, attempts=1)

    def clone(self, dest: str, version: int | None = None,
              deep: bool = False) -> "TxLogTable":
        """CREATE TABLE CLONE (the public Delta clone contract).

        SHALLOW (default): a METADATA-ONLY copy — the new table's v0
        commit re-references the source snapshot's files by ABSOLUTE
        path; zero data bytes move, so cloning a 100-TB table costs
        one manifest write.  The clone is immediately independent for
        WRITES: every mutation is copy-on-write into the clone's own
        `data/`, deletes are manifest-side (DVs/removes), and the
        clone's vacuum only sweeps its own root — it can never delete
        source bytes.  The coupling is read-side only, and it is the
        same one Delta documents: VACUUM on the SOURCE can unlink
        files a shallow clone still references (the clone's fsck
        reports them as missing).  Size vacuum retention beyond the
        life of dev clones, or take a deep clone.

        DEEP (`deep=True`): additionally byte-copies every referenced
        data file (and bloom sidecar) under the destination at its
        source-relative path.  At `_CLONE_DISTRIBUTE_MIN` files and
        above the (src, dst) pairs fan out as ONE `sc.parallelize(...)
        .foreach(copy)` job — each executor task copies its own files,
        so clone wall-time scales with cluster width instead of a
        driver-side byte pump (VERDICT r9 task 2: at the 100-TB point
        a driver loop is a days-long single-process copy); below the
        threshold a driver loop is cheaper than a job launch.  Either
        way no byte flows THROUGH the driver (copies are
        file-to-file), footer stats, DVs, and layout carry over
        unchanged, and no data is ever read through the engine.  All
        copies land before the commit publishes, so a failed copy
        aborts with the destination uncommitted.  A deep clone is
        fully independent of the source, including its vacuum.

        Both flavors pin `version` (default: head) — clone-then-
        mutate-source leaves the clone at the pinned snapshot, which
        is what makes shallow clones the cheap dev/test fixture.  The
        whole meta rides along: schema, column mapping, retired
        physical names, partition layout + per-file tuples, CHECK
        constraints, GENERATED columns, DEFAULTs, protocol floor.

        Refused: a destination that already holds anything, or a
        destination nested inside the source root (the source's
        vacuum owns that directory and would sweep the clone's log) —
        and vice versa."""
        snap = self.snapshot(version)   # raises if log-truncated
        if snap.version < 0 or snap.schema_json is None:
            raise ValueError("clone of a non-existent table")
        src_root = os.path.abspath(self.path)
        dst_root = os.path.abspath(dest)
        if os.path.commonpath([src_root, dst_root]) in (src_root,
                                                        dst_root):
            raise ValueError(
                f"clone destination {dest!r} is nested with the "
                f"source root {self.path!r}: whichever table owns the "
                f"outer directory would vacuum the inner one's files")
        if os.path.exists(dst_root) and os.listdir(dst_root):
            raise ValueError(f"clone destination not empty: {dest}")
        missing = [p for p, s in snap.files.items()
                   if not os.path.exists(self._abs(p))
                   or (s.get("bloom")
                       and not os.path.exists(self._abs(p) + ".bloom"))]
        if missing:
            raise ValueError(
                f"cannot clone version {snap.version}: {len(missing)} "
                f"file(s) (or bloom sidecars) vacuumed, "
                f"e.g. {missing[0]!r}")
        t = TxLogTable(self.spark, dst_root)
        entries = []
        copy_jobs: list[tuple[str, str, bool]] = []
        for i, (p, s) in enumerate(sorted(snap.files.items())):
            src_abs = self._abs(p)
            nonhive = bool(s.get("nonhive"))
            if deep:
                # relative rel paths replicate verbatim (keeps hive
                # self-description intact for fsck); absolute ones
                # (source was itself a shallow clone) flatten under
                # data/clone0 with an index against basename collisions
                if not os.path.isabs(p):
                    dst_abs = os.path.join(dst_root, p)
                else:
                    dst_abs = os.path.join(
                        dst_root, "data", "clone0",
                        f"{i:05d}_{os.path.basename(p)}")
                    # flattening drops any k=v dir segments the
                    # absolute path carried — the manifest tuple is
                    # now this file's sole partition authority
                    nonhive = "partition" in s
                copy_jobs.append((src_abs, dst_abs,
                                  bool(s.get("bloom"))))
                path = os.path.relpath(dst_abs, dst_root)
            else:
                path = src_abs
            entries.append((path, {**s, "nonhive": True} if nonhive
                            else s))
        if len(copy_jobs) >= _CLONE_DISTRIBUTE_MIN:
            # ONE job, each task copies its own files file-to-file on
            # shared storage; any task failure aborts before commit
            sc = self.spark.sparkContext
            (sc.parallelize(copy_jobs,
                            min(len(copy_jobs), sc.defaultParallelism))
             .foreach(_clone_copy_job))
        else:
            for job in copy_jobs:
                _clone_copy_job(job)
        # deep clones of a converted table replicate root-level rel
        # paths, so they own their root like the source did; a shallow
        # clone's root holds only log + data/
        meta = _meta_of(_dc_replace(
            snap, owns_root=snap.owns_root if deep else False))
        # content-hash seals survive BOTH clone flavors: shallow
        # references the same bytes, deep copies byte-identically, so
        # sha256(content) is unchanged either way (mtimes are re-stamped
        # fresh by _try_commit — a deep-clone copy is a new file)
        actions = [{"commit": {"op": "CLONE", "source": src_root,
                               "source_version": snap.version,
                               "deep": deep}},
                   {"meta": meta}, *_readd_actions(entries, _MTIME_KEYS)]
        if not t._try_commit(0, actions):
            raise ConflictError(f"concurrent create at {dest}")
        return t

    # ------------------------------------------------------------- reads+

    def table_changes(self, from_version: int, to_version: int,
                      full_images: bool = False) -> DataFrame:
        """Change data feed: the NET row-level I/U/D delta between two
        snapshots — the reference's own product (an ordered change
        stream, README.md:17) served back OUT of the table format.

        Cost is O(changed files), never O(table): only files that
        differ between the two manifests are read; rows rewritten
        unchanged (by compaction or a co-located merge) cancel in the
        key-level diff.  Net semantics: a key inserted then deleted
        within the range yields nothing; an update overwritten by a
        later update yields one 'U' with the final image.  'I'/'U'
        carry the after-image, 'D' the before-image.

        Which files and deletion-vector keys enter the diff is decided
        by `_change_plan`, the one rule the `txlog_changes` stream
        shares; this method only runs the row diff, in Spark.

        `full_images=True` switches to the four-row-kind CDF shape
        (the public Delta CDF contract): an update emits BOTH images
        as `U_pre` (before) and `U_post` (after) rows.  That is what
        downstream *incremental computation* needs — maintaining an
        aggregate requires retracting the before-image, not just
        adding the after-image.  Same single diff join; the update
        branch just explodes into two rows."""
        b = self.snapshot(to_version)
        key = b.key_col
        plan = _change_plan(self.snapshot(from_version), b)
        old = self._change_side(b, plan.old, plan.parts)
        new = self._change_side(b, plan.new, plan.parts)
        cols = [f.name for f in
                StructType.fromJson(json.loads(b.schema_json)).fields]
        o = old.withColumn("_o", F.lit(1)).alias("o")
        n = new.withColumn("_n", F.lit(1)).alias("n")
        j = o.join(n, on=key, how="full_outer")
        differs = F.lit(False)
        for c in cols:
            if c != key:
                differs = differs | ~F.col(f"o.{c}").eqNullSafe(
                    F.col(f"n.{c}"))
        change = (F.when(F.col("o._o").isNull(), "I")
                   .when(F.col("n._n").isNull(), "D")
                   .when(differs, "U"))
        j = (j.withColumn("_change_type", change)
              .filter(F.col("_change_type").isNotNull()))
        if not full_images:
            return j.select(F.col("_change_type").alias("change_type"),
                            F.col(key), *[
                                F.when(F.col("_change_type") == "D",
                                       F.col(f"o.{c}"))
                                 .otherwise(F.col(f"n.{c}")).alias(c)
                                for c in cols if c != key])
        # explode each diff row into its CDF image rows: I → post image,
        # D → pre image, U → both; one array+explode, still one scan
        img = F.when(
            F.col("_change_type") == "U",
            F.array(F.lit("U_pre"), F.lit("U_post"))).otherwise(
            F.array(F.col("_change_type")))
        pre = F.col("change_type").isin("D", "U_pre")
        return (j.select(F.col(key), "_change_type",
                         F.explode(img).alias("change_type"),
                         *[F.col(f"o.{c}").alias(f"_o_{c}") for c in cols
                           if c != key],
                         *[F.col(f"n.{c}").alias(f"_n_{c}") for c in cols
                           if c != key])
                 .select("change_type", F.col(key), *[
                     F.when(pre, F.col(f"_o_{c}"))
                      .otherwise(F.col(f"_n_{c}")).alias(c)
                     for c in cols if c != key]))

    def table_changes_per_commit(self, from_version: int,
                                 to_version: int) -> DataFrame:
        """The CDC-relay read: the change feed at PER-COMMIT
        granularity — one I/U/D batch per version step, tagged with
        `_commit_version`, in commit order.  This is the shape a
        downstream replica replays (the reference's ordered change
        stream, README.md:17, served back out of the table), whereas
        `table_changes` nets the whole range into one delta.  Cost is
        the sum of changed-file diffs per step; untouched files are
        never read at any step."""
        out = None
        for v in range(from_version, to_version):
            step = self.table_changes(v, v + 1).withColumn(
                "_commit_version", F.lit(v + 1))
            # allowMissingColumns: steps straddling an additive schema
            # evolution have different widths; older steps project the
            # post-DDL columns as NULL
            out = (step if out is None
                   else out.unionByName(step, allowMissingColumns=True))
        if out is None:
            raise ValueError("empty version range")
        return out

    # ------------------------------------------------------- maintenance

    def optimize(self, small_bytes: int = 32 << 20,
                 target_files: int | None = None,
                 zorder_by: tuple[str, ...] | None = None,
                 txn: tuple[str, int] | None = None,
                 reseal: bool | None = None,
                 verify: bool = False) -> dict:
        """OPTIMIZE: bin-pack small files into range-clustered big ones
        — the compaction a streaming merge sink needs, since every
        epoch's copy-on-write commit can emit small files.  Content is
        untouched (a pure layout transaction — table_changes across an
        optimize commit is empty); only files under `small_bytes` (or
        carrying a deletion vector) are rewritten, so steady-state
        re-optimization cost tracks the small-file backlog, not table
        size.

        `zorder_by=(colA, colB, ...)` rewrites ALL live files
        clustered on the Morton interleave of the N columns'
        normalized bits — OPTIMIZE ZORDER (2–7 columns; each gets
        `_Z_BITS` bits of the 64-bit z-value, so resolution per
        dimension drops as N grows — the standard z-order trade).
        Files become tight in EVERY listed dimension, so
        the per-column stats (`read(where_between=...)`) prune scans
        filtered on either column at ~sqrt cost instead of a full
        scan; the trade is that key ranges widen, so range-based MERGE
        pruning loosens until the next plain OPTIMIZE — unless the
        table was created with `key_bloom_bits`, whose exact-key
        sidecar test keeps MERGE pruning sharp under any layout.  A
        full-layout rebuild — schedule it like any lakehouse ZORDER
        job.

        `reseal` (default None = auto): a rewrite sheds the rewritten
        files' content seals by design (new bytes, new identity), so
        on a STAMPED table every compaction would otherwise erode
        `fsck(verify_hashes=True)` coverage until the next
        `stamp_hashes()`.  Auto re-seals the rewrites in the SAME
        commit iff any pre-optimize live entry carries a seal —
        sealed-ness is sticky, unsealed tables never pay the extra
        hash pass (one distributed read of the files this optimize
        just wrote, never O(table)).

        `verify=True` adds the same content-untouched publish gate
        repartition_layout enforces (fingerprint input vs read-back;
        LayoutInvariantViolation refuses the commit).  OPT-IN here,
        unlike repartition: steady-state compaction runs at ingest
        cadence where doubling the read cost is a real tax — enable
        it at audit cadence or on tables where a layout flake has
        been observed."""
        def build(snap: Snapshot):
            if zorder_by is not None:
                small = sorted(snap.files)
            else:
                small = sorted(p for p, s in snap.files.items()
                               if s["bytes"] < small_bytes or s.get("dv"))
            has_dv = any(snap.files[p].get("dv") for p in small)
            # an explicit ZORDER request always rewrites (a 1-file table
            # can still need re-clustering); the small-file early-out only
            # applies to plain bin-packing OPTIMIZE
            if not small or (len(small) < 2 and not has_dv
                             and zorder_by is None):
                return {"version": snap.version, "files_compacted": 0,
                        "skipped": True}
            total = sum(snap.files[p]["bytes"] for p in small)
            n_out = target_files or max(1, total // max(small_bytes, 1) + 1)
            df = self._read_files_live(snap, small)
            cluster = None
            if zorder_by is not None:
                from cdc_plg_spark.operators.maintenance import _Z_BITS
                zcols = list(zorder_by)
                if not 2 <= len(zcols) <= 7:
                    raise ValueError(
                        f"zorder_by takes 2-7 columns ({_Z_BITS} bits "
                        f"each in the 64-bit z-value), got {zcols}")
                hi = (1 << _Z_BITS) - 1
                # temporal z-columns cluster on their integer stat domain
                # (epoch micros/days): datetime arithmetic has no division,
                # and this keeps the layout aligned with the stats the
                # read path prunes on
                zx = {c: _stat_col(df, c) for c in zcols}
                b = df.agg(*[f_ for c in zcols
                             for f_ in (F.min(zx[c]).alias(f"_lo_{c}"),
                                        F.max(zx[c]).alias(f"_hi_{c}"))]
                           ).collect()[0]   # 1 row: normalization bounds

                def norm(c, lo, h_):
                    span = float((h_ - lo) + 1) if h_ is not None else 1.0
                    return (F.floor(hi * (zx[c] - F.lit(lo)) / F.lit(span))
                            .cast("long"))

                norms = [norm(c, b[f"_lo_{c}"], b[f"_hi_{c}"])
                         for c in zcols]
                n = len(norms)
                cluster = F.lit(0)   # Morton interleave, pure Column algebra
                for i in range(_Z_BITS):
                    for j, nx in enumerate(norms):
                        cluster = cluster + F.shiftleft(
                            F.shiftright(nx, i).bitwiseAND(F.lit(1)),
                            n * i + j)
            adds = self._write_data(df, snap.key_col, n_out, cluster,
                                    mapping=snap.mapping,
                                    partition_cols=snap.logical_partition_by(),
                                    bloom_bits=snap.bloom_bits)
            if verify and adds:
                self._verify_layout_rewrite(df, snap, adds, "OPTIMIZE")
            if (any("sha256" in s for s in snap.files.values())
                    if reseal is None else reseal) and adds:
                paths = [self._abs(a["add"]["path"]) for a in adds]
                paths += [self._abs(a["add"]["path"]) + ".bloom"
                          for a in adds if "bloom" in a["add"]]
                hashes = self._hash_files(paths)
                for a in adds:
                    full = self._abs(a["add"]["path"])
                    if hashes.get(full) is not None:
                        a["add"]["sha256"] = hashes[full]
                    side_h = hashes.get(full + ".bloom")
                    if "bloom" in a["add"] and side_h is not None:
                        a["add"]["bloom_sha256"] = side_h
            actions = [{"commit": {"op": "OPTIMIZE",
                                   "zorder_by": list(zorder_by or ()),
                                   "files_compacted": len(small),
                                   "files_out": len(adds)}},
                       *[{"remove": {"path": p}} for p in small],
                       *adds]
            return actions, {"files_compacted": len(small),
                             "files_out": len(adds), "skipped": False}

        return self._commit("optimize", build, txn, attempts=1)

    def repartition_layout(self, partition_by: list[str] | None,
                           target_files: int | None = None,
                           txn: tuple[str, int] | None = None,
                           verify: bool = True) -> dict:
        """PARTITION-SPEC EVOLUTION: rewrite the table into a new hive
        layout (or back to unpartitioned with `None`) in ONE commit —
        the operation `create`'s fixed-at-create partitioning
        otherwise forecloses.  Content is untouched (a pure layout
        transaction, like OPTIMIZE: the change feed across it nets
        empty); history below the commit keeps the OLD layout and
        stays readable, because every reader derives a file's
        partition columns from its own self-describing path, never
        from the head layout.

        Cost is a full rewrite — O(table), the honest price of moving
        hive directories (Iceberg's metadata-only spec evolution needs
        per-file partition tuples in the manifest independent of
        paths; this format keeps the hive convention instead).
        Schedule it like a ZORDER.

        `verify=True` (default) enforces the content-untouched promise
        as a publish gate: the rewrite's output is fingerprinted back
        through the manifest read path and compared to its input —
        mismatch raises LayoutInvariantViolation and nothing commits
        (~2x the rewrite's read cost, acceptable on an op already
        priced O(table); pass False to skip)."""
        def build(snap: Snapshot):
            new_pb = list(partition_by or [])
            fields = {f_.name: f_ for f_ in StructType.fromJson(
                json.loads(snap.schema_json)).fields}
            for pc in new_pb:
                if pc not in fields:
                    raise ValueError(f"partition column {pc!r} not in "
                                     f"schema {sorted(fields)}")
                if pc == snap.key_col:
                    raise ValueError(
                        f"key column {pc!r} cannot be a partition column")
                pt = fields[pc].dataType.typeName()
                if pt not in _PART_TYPES:
                    raise ValueError(
                        f"partition column {pc!r} has type {pt}; hive "
                        f"path encoding round-trips only {_PART_TYPES}")
            phys_pb = [snap.phys(c) for c in new_pb]
            if phys_pb == (snap.partition_by or []):
                return {"version": snap.version, "skipped": True}
            df = self._read_files_live(snap, sorted(snap.files))
            adds = self._write_data(
                df, snap.key_col, target_files or max(1, len(snap.files)),
                mapping=snap.mapping, partition_cols=new_pb,
                bloom_bits=snap.bloom_bits)
            if verify and adds:
                self._verify_layout_rewrite(df, snap, adds, "REPARTITION")
            actions = [{"commit": {"op": "REPARTITION",
                                   "partition_by": phys_pb}},
                       _meta_action(partition_by=phys_pb or None),
                       *[{"remove": {"path": p}} for p in snap.files],
                       *adds]
            return actions, {"files_rewritten": len(snap.files),
                             "files_out": len(adds), "skipped": False}

        return self._commit("repartition", build, txn, attempts=1)

    def vacuum(self, retain_last: int = 2,
               min_age_s: float = 3600.0,
               dry_run: bool = False) -> dict:
        """Delete data files unreachable from the newest `retain_last`
        versions, then truncate the log behind a fresh checkpoint at
        the horizon.  Pure manifest + directory work — no data pass.
        HEAD is never affected; time travel below the horizon is
        forfeited (the lakehouse VACUUM contract).

        `dry_run=True` (the Delta `VACUUM ... DRY RUN` contract)
        deletes nothing and truncates nothing: it returns the relative
        paths that a real run would remove under `would_remove`, so an
        operator can audit the blast radius before forfeiting time
        travel.

        `min_age_s` protects IN-FLIGHT writers: data lands on disk
        BEFORE the commit that references it, so a concurrent writer's
        fresh files look exactly like orphans until its commit
        publishes.  Files younger than the threshold are never
        deleted, nor are younger empty directories this run did not
        empty (the public Delta VACUUM retention-period rule —
        default there is 7 days; pass 0 only when no writer can be
        mid-commit, e.g. tests)."""
        import time

        self._head("vacuum")
        versions = self._versions()
        keep = versions[-retain_last:]
        reachable: set[str] = set()
        owns_root = False
        try:
            for v in keep:
                s = self.snapshot(v)
                owns_root = s.owns_root
                reachable.update(s.files)
                # a live file's bloom sidecar lives and dies with it
                reachable.update(p + ".bloom" for p, st in s.files.items()
                                 if st.get("bloom"))
        except ValueError:
            # a CONCURRENT vacuum truncated the log past one of our
            # keep versions — its horizon is at or above ours, so the
            # work is already done; yield instead of crashing (vacuums
            # must be safe to race, like every other op here)
            return {"data_files_removed": 0, "horizon": None,
                    "versions_retained": len(keep), "yielded": True}
        removed = 0
        victims: list[str] = []
        cutoff = time.time() - min_age_s
        data_root = os.path.join(self.path, "data")
        sweep = ([os.path.join(data_root, s)
                  for s in sorted(os.listdir(data_root))]
                 if os.path.isdir(data_root) else [])
        if owns_root:
            # converted table: imported files live at the root; the
            # table owns its whole directory (minus the log) — sweep
            # top-level files and non-data dirs too
            for s in sorted(os.listdir(self.path)):
                if s in (_LOG_DIR, "data"):
                    continue
                full = os.path.join(self.path, s)
                if os.path.isdir(full):
                    sweep.append(full)
                else:
                    try:
                        if (s not in reachable
                                and os.path.getmtime(full) <= cutoff):
                            if dry_run:
                                victims.append(s)
                            else:
                                os.unlink(full)
                                removed += 1
                    except FileNotFoundError:
                        pass
        # an empty directory goes only when this sweep emptied it or it
        # is older than the cutoff: an in-flight writer creates its task
        # directories before the files in them
        emptied: set[str] = set()
        for subdir in sweep:
            # bottom-up walk: hive-partitioned writes nest files under
            # k=v directories (arbitrary depth for multi-column
            # layouts), and emptied partition dirs must go before
            # their parent write dir can
            for d, dirnames, fnames in os.walk(subdir, topdown=False):
                for fname in fnames:
                    full = os.path.join(d, fname)
                    rel = os.path.relpath(full, self.path)
                    try:
                        if (rel not in reachable
                                and os.path.getmtime(full) <= cutoff):
                            if dry_run:
                                victims.append(rel)
                            else:
                                os.unlink(full)
                                removed += 1
                                emptied.add(d)
                    except FileNotFoundError:
                        pass    # concurrent vacuum got there first
                try:
                    if (not dry_run and not os.listdir(d)
                            and (d in emptied
                                 or os.path.getmtime(d) <= cutoff)):
                        os.rmdir(d)
                        emptied.add(os.path.dirname(d))
                except OSError:
                    pass        # raced with a writer or another vacuum
        horizon = keep[0]
        if dry_run:
            return {"data_files_removed": 0, "horizon": horizon,
                    "versions_retained": len(keep), "dry_run": True,
                    "would_remove": sorted(victims)}
        try:
            self._write_checkpoint(self.snapshot(horizon))
        except ValueError:
            return {"data_files_removed": removed, "horizon": None,
                    "versions_retained": len(keep), "yielded": True}
        for v in versions:
            if v < horizon:
                try:
                    os.unlink(os.path.join(self.log_dir, _vname(v)))
                except FileNotFoundError:
                    pass
        for c in self._checkpoints():
            if c < horizon:
                try:
                    os.unlink(os.path.join(self.log_dir, _ckpt_name(c)))
                except FileNotFoundError:
                    pass
        return {"data_files_removed": removed, "horizon": horizon,
                "versions_retained": len(keep)}

    def _hash_files(self, paths: list[str]) -> dict[str, str]:
        """sha256 of each file's raw bytes.  At `_CLONE_DISTRIBUTE_MIN`
        files and above the paths fan out as ONE
        `sc.parallelize(...).map(_sha256_file)` job — executors read
        their own files and only (path, hexdigest) pairs reach the
        driver, so seal/verify cost scales with cluster width and no
        byte flows through the driver; below the threshold a driver
        loop beats the job launch (the deep-clone discipline).

        Deliberately NOT a Spark `binaryFile` scan: that path reads
        through Hadoop's ChecksumFileSystem, whose hidden local `.crc`
        sidecars make a read of a tampered Spark-written file CRASH
        with ChecksumException instead of returning bytes — the audit
        must REPORT tamper, not die on it — and convert-imported or
        engine-written sidecar files have no `.crc` at all, so that
        tripwire is inconsistent across the very files being sealed."""
        if not paths:
            return {}
        if len(paths) >= _CLONE_DISTRIBUTE_MIN:
            sc = self.spark.sparkContext
            rows = (sc.parallelize(paths,
                                   min(len(paths),
                                       sc.defaultParallelism))
                    .map(_sha256_file)
                    .collect())   # audit-sized: one pair per file
        else:
            rows = [_sha256_file(p) for p in paths]
        return dict(rows)

    def stamp_hashes(self) -> dict:
        """Seal every live data file (and bloom sidecar) with an
        sha256 content hash — the OPTIONAL stronger fsck tier above
        the commit-time mtime stamp.  The mtime tripwire catches a
        size-preserving overwrite, but an adversarial foreign writer
        can `os.utime` the original mtime back after tampering; a
        content seal has no such restore.  One distributed
        executor-side byte pass (`_hash_files`), then ONE commit that
        re-adds each live entry with `sha256` (+ `bloom_sha256`),
        carrying partition tuples, layout markers, stats, stamps and
        re-emitting deletion vectors — the stamp commit is
        value-invisible to every reader.

        The seal is point-in-time: files written AFTER it (appends,
        OPTIMIZE rewrites) are unstamped until the next run, and
        `fsck(verify_hashes=True)` reports honestly when nothing is
        sealed.  Seals survive RESTORE and both CLONE flavors (bytes
        are untouched or copied byte-identically); they die with the
        file on rewrite, as they must.

        Cost is one full read of the live bytes — the price of a
        byte-level audit, same O as deep fsck's footer+bloom pass is
        O(files).  Run it after bulk loads or on a schedule, not per
        commit."""
        def build(snap: Snapshot):
            live = sorted(snap.files.items())
            if not live:
                return {"version": snap.version, "skipped": True,
                        "files_stamped": 0, "sidecars_stamped": 0}
            paths = [self._abs(p) for p, _ in live]
            paths += [self._abs(p) + ".bloom" for p, s in live
                      if s.get("bloom")]
            missing = [p for p in paths if not os.path.exists(p)]
            if missing:
                # same race as the mid-pass vanish below (concurrent
                # cow-delete commit + vacuum unlink between snapshot
                # and this check): re-snapshot and retry; only a file
                # still LIVE in the fresh snapshot and still missing
                # on disk is real corruption (ADVICE r10 — a transient
                # benign race must not surface as a corruption error)
                fresh = self.snapshot()
                fresh_live = {self._abs(p) for p in fresh.files}
                fresh_live |= {self._abs(p) + ".bloom"
                               for p, s in fresh.files.items()
                               if s.get("bloom")}
                still = [p for p in missing
                         if p in fresh_live and not os.path.exists(p)]
                if still:
                    raise ValueError(
                        f"cannot seal: {len(still)} live file(s) "
                        f"missing on disk, e.g. {still[0]!r} — run "
                        f"fsck")
                return None
            hashes = self._hash_files(paths)
            unreadable = sorted(
                p for p, v in hashes.items()
                if v is not None and v.startswith(_HASH_UNREADABLE))
            if unreadable:
                # not a race: the file is there but unreadable
                # (EACCES/EIO/...) — retrying cannot fix it; fail
                # fast with the executor-reported cause instead of
                # exhausting retries into a generic ConflictError
                raise ValueError(
                    f"cannot seal: {len(unreadable)} live file(s) "
                    f"unreadable during hash pass, e.g. "
                    f"{unreadable[0]!r} "
                    f"({hashes[unreadable[0]][len(_HASH_UNREADABLE):]})"
                    f" — fix permissions/IO, then re-run; "
                    f"fsck(verify_hashes=True) reports these too")
            if any(v is None for v in hashes.values()):
                # a live file vanished mid-pass: a concurrent
                # cow-delete + vacuum got it, and that delete's commit
                # bumps the version — retry on a fresh snapshot
                return None
            # mtimes carried as-is: the file is untouched, so the
            # original commit-time stamp stays the truth
            sealed = [(p, {**s, "sha256": hashes[self._abs(p)],
                           **({"bloom_sha256":
                               hashes[self._abs(p) + ".bloom"]}
                              if s.get("bloom") else {})})
                      for p, s in live]
            n_side = sum(1 for _, s in live if s.get("bloom"))
            actions = [{"commit": {"op": "STAMP_HASHES",
                                   "files": len(live),
                                   "sidecars": n_side}},
                       *_readd_actions(sealed)]
            return actions, {"skipped": False, "files_stamped": len(live),
                             "sidecars_stamped": n_side}

        return self._commit("stamp_hashes", build)

    # ------------------------------------------------------------ fsck

    def fsck(self, deep: bool = False,
             verify_hashes: bool = False) -> list[str]:
        """Table integrity check — the format's own consistency
        authority (every production table format ships one).  Pure
        manifest + directory work; `deep=True` additionally re-reads
        every live file's parquet FOOTER (metadata-only, ms per file)
        and proves the manifest stats CONTAIN the actual data — the
        invariant every pruning consumer relies on.  Returns a list of
        human-readable findings; empty = healthy.

        Checked invariants:
        - contiguous version chain (no missing commit files);
        - every live file exists on disk with the manifested byte size;
        - partitioned layout honesty: native files' paths carry every
          declared k=v segment and agree with the manifest; files
          imported by a non-hive convert (or a flattening deep clone)
          carry the `nonhive` add marker instead — a native file
          externally moved to a segment-less path is flagged, not
          silently skipped (ADVICE r9);
        - deep: per-file mtime matches the commit-time stamp — the
          foreign-writer tripwire for size-preserving overwrites
          under `data/` that every stats-trusting read would
          otherwise consume silently (VERDICT r9 task 3); bloom
          sidecars carry the same stamp (a same-size sidecar
          overwrite fails open at probe time, so only the stamp can
          see it);
        - verify_hashes: recompute sha256 over every SEALED live
          file's bytes (one distributed executor-side pass) and compare
          to the `stamp_hashes()` seal — catches the adversary the
          mtime tier cannot: tamper followed by an `os.utime` mtime
          restore.  Honest when nothing is sealed (reports that,
          never silently passes).  Composable with either depth;
        - per-file stats well-formed (min_key <= max_key, col lo <= hi)
          and DV keys inside the file's key range, |dv| <= rows;
        - column-mapping coherence: mapping keys == schema fields,
          physical names unique, retired names disjoint from live;
        - deep: footer min/max of the key and every stat column lie
          INSIDE the manifest's claimed range, and row counts match;
        - deep: every GENERATED column satisfies col <=> expr on the
          live data (one column-pruned distributed scan over the
          generated columns and their sources — the invariant the
          derived prune trusts; a violating row means some writer
          bypassed the ingest contract).
        """
        out: list[str] = []
        bloom_audit: list[tuple[str, str, int, int]] = []
        versions = self._versions()
        if not versions:
            return ["not a TxLog table (no log)"]
        if versions != list(range(versions[0], versions[-1] + 1)):
            out.append(f"version chain has holes: {versions}")
        snap = self.snapshot()
        fields = StructType.fromJson(json.loads(snap.schema_json)).fields
        names = [f_.name for f_ in fields]
        if snap.key_col not in names:
            out.append(f"key_col {snap.key_col!r} not in schema {names}")
        if snap.mapping is not None:
            if set(snap.mapping) != set(names):
                out.append(
                    f"mapping keys {sorted(snap.mapping)} != schema "
                    f"fields {sorted(names)}")
            phys = list(snap.mapping.values())
            if len(set(phys)) != len(phys):
                out.append(f"duplicate physical names: {sorted(phys)}")
            clash = set(phys) & set(snap.retired)
            if clash:
                out.append(f"live physicals also retired: {sorted(clash)}")
        pb = snap.partition_by or []
        if pb:
            live_phys = (set(snap.mapping.values()) if snap.mapping
                         else set(names))
            ghost = [p for p in pb if p not in live_phys]
            if ghost:
                out.append(f"partition columns {ghost} not among live "
                           f"physical columns")
        pr = snap.protocol
        if (not isinstance(pr, list) or len(pr) != 2
                or not all(isinstance(x, int) and x >= 1 for x in pr)):
            out.append(f"malformed protocol {pr!r} (want "
                       f"[min_reader>=1, min_writer>=1])")
        if snap.generated:
            ghost_g = [g for g in snap.generated if g not in names]
            if ghost_g:
                out.append(f"generated column(s) {ghost_g} not in "
                           f"schema {names}")
            bad_g = [g for g, e in snap.generated.items()
                     if not isinstance(e, str) or not e.strip()]
            if bad_g:
                out.append(f"generated column(s) {bad_g} have empty/"
                           f"non-string expressions")
            if (isinstance(pr, list) and len(pr) == 2
                    and isinstance(pr[1], int) and pr[1] < 2):
                out.append(
                    f"table declares generated columns "
                    f"{sorted(snap.generated)} but min_writer is "
                    f"{pr[1]} — a v1 writer could ingest without "
                    f"computing them")
        for rel, s in sorted(snap.files.items()):
            full = self._abs(rel)
            if pb:
                man = s.get("partition")
                if man is None or set(man) != set(pb):
                    out.append(f"{rel}: manifest partition values "
                               f"{man} don't cover {pb}")
                elif not s.get("nonhive"):
                    # hive paths are self-describing, so a NATIVE
                    # file's path must carry every declared partition
                    # segment AND agree with the manifest (a lying or
                    # segment-less path means some tool moved files).
                    # Files a non-hive convert/flattening clone
                    # imported carry the `nonhive` add marker instead
                    # — for those the manifest tuple is the sole
                    # authority and the path is never consulted, so
                    # the marker, not a segment-less path, is what
                    # buys the skip (ADVICE r9: the r9 version
                    # skipped on ANY segment-less path, letting a
                    # moved native file hide)
                    raw = _parse_partition_path(rel)
                    hive_keys = set(raw) & set(pb)
                    if hive_keys != set(pb):
                        out.append(
                            f"{rel}: native file path carries "
                            f"partition segments {sorted(hive_keys)} "
                            f"of declared {pb} — externally moved, "
                            f"or a non-hive import missing its "
                            f"layout marker")
                    for c in hive_keys:
                        want = str(man[c])
                        if raw.get(c) != want:
                            out.append(
                                f"{rel}: path partition {c}="
                                f"{raw.get(c)!r} != manifest {want!r}")
            if not os.path.exists(full):
                out.append(f"{rel}: manifested but missing on disk")
                continue
            if os.path.getsize(full) != s["bytes"]:
                out.append(f"{rel}: size {os.path.getsize(full)} != "
                           f"manifest {s['bytes']}")
            if s["min_key"] > s["max_key"]:
                out.append(f"{rel}: min_key > max_key")
            for c, rng in s.get("cols", {}).items():
                lo, hi = rng[0], rng[1]   # [lo, hi] or [lo, hi, nulls]
                try:
                    bad = lo is not None and hi is not None and lo > hi
                except TypeError:
                    bad = True
                if bad:
                    out.append(f"{rel}: col {c} stats lo > hi")
                if len(rng) > 2 and not 0 <= rng[2] <= s["rows"]:
                    out.append(f"{rel}: col {c} null count {rng[2]} "
                               f"outside [0, rows]")
            bl = s.get("bloom")
            if bl is not None:
                side = full + ".bloom"
                if not os.path.exists(side):
                    out.append(f"{rel}: bloom sidecar missing on disk")
                elif os.path.getsize(side) != bl["m"] // 8:
                    out.append(
                        f"{rel}: bloom sidecar {os.path.getsize(side)}B "
                        f"!= manifest m/8 = {bl['m'] // 8}B")
            dv = s.get("dv", ())
            if len(dv) > s["rows"]:
                out.append(f"{rel}: dv larger than file ({len(dv)} > "
                           f"{s['rows']})")
            if any(k < s["min_key"] or k > s["max_key"] for k in dv):
                out.append(f"{rel}: dv key outside file key range")
            if deep:
                # foreign-writer tripwire: adds stamp the file's
                # mtime at commit time (_try_commit), so a
                # SIZE-PRESERVING overwrite by a non-engine tool —
                # invisible to the shallow byte-size check and to any
                # stats-trusting reader — surfaces here before a
                # query silently reads bytes the manifest stats lie
                # about (VERDICT r9 task 3).  Pre-r10 commits carry
                # no stamp and skip the check.
                if "mtime_ns" in s:
                    disk_m = os.stat(full).st_mtime_ns
                    if disk_m != s["mtime_ns"]:
                        out.append(
                            f"{rel}: mtime {disk_m} != manifest "
                            f"{s['mtime_ns']} — file modified after "
                            f"commit by a foreign writer; manifest "
                            f"stats are untrustworthy (OPTIMIZE to "
                            f"rewrite, or re-convert)")
                if bl is not None and "bloom_mtime_ns" in s \
                        and os.path.exists(side):
                    side_m = os.stat(side).st_mtime_ns
                    if side_m != s["bloom_mtime_ns"]:
                        out.append(
                            f"{rel}: bloom sidecar mtime {side_m} != "
                            f"manifest {s['bloom_mtime_ns']} — sidecar "
                            f"modified after commit by a foreign "
                            f"writer; probes may fail open or lie "
                            f"(OPTIMIZE to rebuild)")
                pkey = snap.phys(snap.key_col)
                pcols = [pkey, *s.get("cols", {})]
                try:
                    lo_f, hi_f, n_rows, _ = _footer_stats(full, pcols)
                except Exception as ex:
                    # the audit must REPORT corruption, never die on
                    # it: a foreign writer that garbles the footer
                    # region (found by the r10 seal probe — a
                    # mid-file flip on a small file lands in the
                    # footer) would otherwise crash deep fsck instead
                    # of being named in its findings
                    out.append(
                        f"{rel}: parquet footer unreadable "
                        f"({type(ex).__name__}) — file corrupt or "
                        f"not parquet; every manifest stat for it is "
                        f"untrustworthy (restore the file or "
                        f"re-convert)")
                    continue
                if n_rows != s["rows"]:
                    out.append(f"{rel}: footer rows {n_rows} != "
                               f"manifest {s['rows']}")
                if pkey in lo_f and (lo_f[pkey] < s["min_key"]
                                     or hi_f[pkey] > s["max_key"]):
                    out.append(f"{rel}: key data outside manifest range")
                for c, rng in s.get("cols", {}).items():
                    if c in lo_f and (lo_f[c] < rng[0]
                                      or hi_f[c] > rng[1]):
                        out.append(f"{rel}: col {c} data outside "
                                   f"manifest range")
                if bl is not None and os.path.exists(side) \
                        and os.path.getsize(side) == bl["m"] // 8:
                    if bl.get("domain") == _BLOOM_DOMAIN:
                        bloom_audit.append((rel, full, bl["m"], bl["k"]))
                    else:
                        # built under a different hash canon: probes
                        # fail open (file always a merge candidate),
                        # and auditing it with the CURRENT canon would
                        # mis-report completeness — flag for rebuild
                        out.append(
                            f"{rel}: bloom sidecar hash domain "
                            f"{bl.get('domain')!r} != current "
                            f"{_BLOOM_DOMAIN} — probes fail open; "
                            f"OPTIMIZE to rebuild the sidecar")
        if deep and bloom_audit:
            out.extend(self._fsck_bloom_completeness(snap, bloom_audit))
        if deep and snap.generated and snap.files and not out:
            # generated-invariant audit: one distributed, column-pruned
            # scan (Catalyst prunes to the generated columns + their
            # sources); skipped when structural findings exist — a
            # mis-manifested table would only produce noise here
            viol = None
            for gc, ge in snap.generated.items():
                c = F.expr(f"`{gc}` <=> ({ge})").eqNullSafe(F.lit(False))
                viol = c if viol is None else (viol | c)
            n_bad = (self._read_files_live(snap, sorted(snap.files))
                     .filter(viol).count())
            if n_bad:
                out.append(
                    f"{n_bad} row(s) violate generated-column "
                    f"expression(s) {sorted(snap.generated)} — some "
                    f"writer bypassed the ingest contract")
        if verify_hashes:
            # content-seal tier: recompute sha256 over every SEALED
            # live byte (one distributed executor-side pass) and compare
            # to the stamp_hashes() seal.  Only size-consistent files
            # are hashed — a size mismatch already produced its own
            # finding above and re-flagging it here is noise.  An
            # UNSEALED table is reported, never silently passed: the
            # caller asked for a byte-level audit and must not read an
            # empty answer as one.
            sealed: list[tuple[str, str, str]] = []
            for rel, s in sorted(snap.files.items()):
                full = self._abs(rel)
                if ("sha256" in s and os.path.exists(full)
                        and os.path.getsize(full) == s["bytes"]):
                    sealed.append((rel, full, s["sha256"]))
                side = full + ".bloom"
                if (s.get("bloom") and "bloom_sha256" in s
                        and os.path.exists(side)
                        and os.path.getsize(side)
                        == s["bloom"]["m"] // 8):
                    sealed.append((f"{rel} (bloom sidecar)", side,
                                   s["bloom_sha256"]))
            if not sealed and snap.files:
                out.append(
                    "verify_hashes: no live file carries a content "
                    "seal — run stamp_hashes() first (mtime tier "
                    "still checked under deep fsck)")
            elif sealed:
                got = self._hash_files([p for _, p, _ in sealed])
                for rel, full, want in sealed:
                    g = got.get(full)
                    if g is None:
                        # vanished mid-audit (concurrent delete +
                        # vacuum) — next run's exists-check owns it
                        continue
                    if g.startswith(_HASH_UNREADABLE):
                        out.append(
                            f"{rel}: unreadable during hash audit "
                            f"({g[len(_HASH_UNREADABLE):]}) — seal "
                            f"cannot be verified; fix "
                            f"permissions/IO and re-run "
                            f"fsck(verify_hashes=True)")
                    elif g != want:
                        out.append(
                            f"{rel}: content hash {g} != sealed "
                            f"{want} — bytes differ from the "
                            f"stamp_hashes() seal; a restored mtime "
                            f"cannot hide this (foreign writer; "
                            f"OPTIMIZE to rewrite, then re-seal)")
        return out

    def _fsck_bloom_completeness(
            self, snap: Snapshot,
            audit: list[tuple[str, str, int, int]]) -> list[str]:
        """Deep-fsck bloom COMPLETENESS: every key physically in a
        bloomed file must probe present — a false negative means MERGE
        would silently skip rewriting that file and lose the update.

        ONE distributed job over all audited files, the same shape as
        the build (`_attach_blooms`): a column-pruned scan of just the
        key column, JVM xxhash64 ×2 (so the probe can never drift from
        the build), then each executor task reads ITS OWN file's
        m/8-byte sidecar and probes in numpy.  Only the per-file miss
        counts reach the driver — the audit scales with cluster width,
        never serializing key columns through the driver (the earlier
        per-file `toPandas()` loop was O(table rows) driver traffic).
        """
        pkey = snap.phys(snap.key_col)
        params = {full: (m, k) for _, full, m, k in audit}
        rel_of = {full: rel for rel, full, _, _ in audit}

        def _probe(pdf):
            import numpy as np
            import pandas as pd

            full = _fs_path(pdf["_f"].iloc[0])
            m, k = params[full]
            with open(full + ".bloom", "rb") as fh:
                buf = np.frombuffer(fh.read(), dtype=np.uint8)
            pos = _bloom_positions(pdf["_h1"].to_numpy(np.int64),
                                   pdf["_h2"].to_numpy(np.int64), k, m)
            hit = (buf[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            return pd.DataFrame({
                "file": [full],
                "misses": [int((~hit.all(axis=1)).sum())],
                "rows": [len(pdf)]})

        # explicit single-column schema, typed from the HEAD snapshot:
        # after a key type widening the audited files hold MIXED
        # physical widths, so schema inference (which samples one
        # footer) would fail on the other width — the pinned wide type
        # up-casts every file, exactly like the read path
        from pyspark.sql.types import StructField
        key_f = next(
            f_ for f_ in StructType.fromJson(
                json.loads(snap.schema_json)).fields
            if f_.name == snap.key_col)
        ascan = self.spark.read.schema(
            StructType([StructField(pkey, key_f.dataType, True)])
        ).parquet(*params)
        kc = _bloom_key_canon(F.col(pkey), key_f.dataType.typeName())
        found = (ascan
                 .select(F.input_file_name().alias("_f"),
                         F.xxhash64(kc).alias("_h1"),
                         F.xxhash64(kc, F.lit(1)).alias("_h2"))
                 .groupBy("_f")
                 .applyInPandas(_probe,
                                "file string, misses long, rows long")
                 .filter(F.col("misses") > 0)
                 .collect())   # audit-sized: one row per BAD file
        # _probe already returned decoded fs paths — re-applying
        # _fs_path would mis-decode a literal '%' (escaped hive
        # partition values), orphaning the rel_of lookup
        return [f"{rel_of[r['file']]}: bloom INCOMPLETE — "
                f"{r['misses']} of {r['rows']} keys probe absent "
                f"(stale or corrupt sidecar; merges would lose "
                f"updates)"
                for r in sorted(found, key=lambda r: r["file"])]
