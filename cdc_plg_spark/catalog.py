"""Table catalog over the parquet test fixtures.

Maps the fixture star schema (TESTDATA.md / FIXTURES.md) to DataFrames.
At 100 TB the same loader points at partitioned object-store prefixes —
the parquet scan benefits from Catalyst predicate pushdown, column
pruning, and (when the layout is partitioned by e.g. (table, date) —
SURVEY.md §4 partition-pruning row) static + dynamic partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_plg_spark.session import ensure_session_confs

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Columns stored as parquet TIMESTAMP(NANOS): Spark's reader has no ns
# timestamp type, so session.py sets nanosAsLong and we rebuild a µs
# TimestampType here (fixture values are µs-precision; see FIXTURES.md).
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _is_utc_equivalent(tz: str) -> bool:
    """True when the session zone keeps a fixed +00:00 offset, i.e. the
    NTZ→TIMESTAMP cast below is value-preserving.  Accepts every UTC
    spelling Spark does (region ids like Etc/Universal, fixed offsets
    like +00:00 / GMT+0 / Z) instead of a brittle allowlist; a region
    zone counts only if its offset is zero across the fixture date range
    (no DST excursions)."""
    import re

    s = (tz or "").strip()
    if not s:
        return False
    if s.upper() in ("Z", "UT", "UTC", "GMT"):
        return True
    m = re.fullmatch(
        r"(?:UTC|GMT|UT)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?", s,
        re.IGNORECASE)
    if m:
        return not any(int(g or 0) for g in m.groups()[1:])
    try:
        from zoneinfo import ZoneInfo
        zone = ZoneInfo(s)
    except Exception:
        return False
    from datetime import datetime, timedelta, timezone
    probes = [datetime(y, mth, 1, tzinfo=timezone.utc)
              for y in (1992, 1998, 2020, 2026) for mth in (1, 7)]
    return all(zone.utcoffset(dt) == timedelta(0) for dt in probes)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one fixture table by name from a scale-factor directory.

    The analyzed base DataFrame is memoized per (session, table, dir):
    ``spark.read.parquet`` re-lists the path and re-infers the schema
    from footers on EVERY call (~120 ms even for a single file), which
    dominated query build time when each registry query loads 2-5
    tables.  DataFrames are immutable, so reuse is safe; the cache
    lives on the session object so its lifetime tracks the session.
    In production the same role is played by a metastore/catalog table
    whose schema is known without per-query inference."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    cache: dict | None = getattr(spark, "_cdc_df_cache", None)
    if cache is None:
        cache = {}
        try:
            spark._cdc_df_cache = cache
        except AttributeError:  # exotic session proxy; degrade to uncached
            pass
    hit = cache.get((name, sf_dir))
    if hit is not None:
        return hit
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANOS_TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # `div` = integer division: ns values exceed double's 2^53
            # exact-integer range, so float division would drift by ±1µs
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # Defense for driver-owned sessions where inferTimestampNTZ couldn't be
    # flipped before this read was planned: NTZ wall-clock == UTC instant
    # ONLY under a UTC session — guard that, or the cast would silently
    # shift instants. Fixtures hold no nested timestamps (asserted in
    # tests/test_catalog.py), so top-level dtypes are sufficient.
    if any(t == "timestamp_ntz" for _, t in df.dtypes):
        tz = spark.conf.get("spark.sql.session.timeZone", "")
        if not _is_utc_equivalent(tz):
            raise RuntimeError(
                f"timestamp_ntz fixture read under non-UTC session ({tz!r});"
                " cast would shift instants")
        for c, t in df.dtypes:
            if t == "timestamp_ntz":
                df = df.withColumn(c, F.col(c).cast("timestamp"))
    cache[(name, sf_dir)] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table; also registers each as a temp view so
    the SQL surface (spark.sql) sees the same catalog as the DataFrame
    API."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _parse_spark_bytes(v: str) -> int:
    """Spark byte-conf strings: '134217728', '134217728b', '16m',
    '128MB', '1g' — suffix per JavaUtils.byteStringAsBytes."""
    s = v.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmgtp":
        mult = 1024 ** ("kmgtp".index(s[-1]) + 1)
        s = s[:-1]
    return int(float(s) * mult)


def scan_splits_estimate(spark: SparkSession, df: DataFrame) -> int:
    """Estimated input-split count of a file-scan DataFrame WITHOUT
    materializing an RDD.

    `df.rdd.getNumPartitions()` is exact but pays a full
    plan-to-RDD conversion per call (~0.1 s of driver py4j time at ANY
    scale — it dominated decode_canal_json's measured plan-build,
    VERDICT r10 task 2).  This estimate instead mirrors Spark's own
    FilePartition sizing formula over `df.inputFiles()` (a listing the
    scan relation has already cached):

        maxSplitBytes = min(maxPartitionBytes,
                            max(openCostInBytes, totalBytes/minPartNum))
        splits ≈ ceil(sum(size + openCost per file) / maxSplitBytes)

    Used by "enough parallelism?" guards (repartition-before-CPU-bound
    work): at fixture scale it returns the same handful the RDD probe
    did, and at 100 TB totalBytes/maxPartitionBytes >> cores so the
    guard never adds a shuffle.  Files whose size can't be statted
    locally (object-store URIs) make it return a huge count — i.e. the
    guard conservatively skips the extra shuffle, which is the correct
    default at the scales where non-local storage appears."""
    import math

    try:
        files = df.inputFiles()
        sizes = []
        for uri in files:
            p = uri
            if p.startswith("file:"):
                p = p[5:]
                while p.startswith("//"):
                    p = p[1:]
            elif "://" in p:
                raise OSError("non-local scheme")
            sizes.append(os.path.getsize(p))
    except (OSError, ValueError):
        return 1 << 30
    if not sizes:
        return 0
    # split-sizing confs memoized per session: they are set at session
    # build (bench/driver) and the unset-minPartitionNum probe costs a
    # py4j EXCEPTION round-trip per call — per-plan-build chatter this
    # helper exists to remove
    cached = getattr(spark, "_cdc_split_conf", None)
    if cached is None:
        conf = spark.conf
        mpb = _parse_spark_bytes(
            conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        open_cost = _parse_spark_bytes(
            conf.get("spark.sql.files.openCostInBytes", "4m"))
        try:
            # conf.get VALIDATES defaults for known confs, so an unset
            # value must be probed by exception, not a sentinel default
            min_parts = int(conf.get("spark.sql.files.minPartitionNum"))
        except Exception:
            min_parts = spark.sparkContext.defaultParallelism
        cached = (mpb, open_cost, min_parts)
        try:
            spark._cdc_split_conf = cached
        except AttributeError:
            pass
    mpb, open_cost, min_parts = cached
    total = sum(sizes)
    max_split = min(mpb, max(open_cost, total // max(min_parts, 1) or 1))
    padded = sum(s + open_cost for s in sizes)
    return max(1, math.ceil(padded / max_split))


# bump when any cached-artifact format changes: derived artifacts in
# /tmp (text round-trips, bucketed tables, compaction fragments) are
# reused across runs, and a stale layout must never satisfy a newer
# operator.  v4: fixtures regenerated with µs/NTZ timestamps (was ns).
# v5: streaming sentinels rewritten in µs TIMESTAMP (were ns BIGINT —
# stale stream_staged dirs would collapse stream event-time into 1970).
CACHE_VERSION = 5


def cache_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(kind, sf, version) scratch dir for derived
    artifacts that are expensive to rebuild per run."""
    import tempfile

    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(),
                        f"cdc_{kind}_v{CACHE_VERSION}{sf_tag}")
