"""analytics_sessionize_batch against its DuckDB oracle on gaps that sit
within a second of the 30-minute boundary.  The oracle's epoch() keeps
sub-second fractions, so a 1800.5 s gap opens a new session there and
must in Spark too (a whole-second gap would read it as 1800 s)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from cdc_plg_spark import registry
from cdc_plg_spark.testing import assert_frames_match

registry.load_all()


def _events(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    sec = 1_000_000
    # user 1: the 1800.5 s gap (new session), then exactly 1800 s (same)
    # user 2: 1799.9 s (same session), then 1800.000001 s (new)
    pinned = [(1, 0), (1, 1800 * sec + sec // 2), (1, 3600 * sec + sec // 2),
              (2, 0), (2, 1799 * sec + 900_000), (2, 3599 * sec + 900_001)]
    # seeded background: gaps drawn around the boundary, µs fractions kept
    rand = []
    for user in range(3, 23):
        gaps = rng.integers(1795 * sec, 1805 * sec, 6)
        rand += [(user, int(x)) for x in np.cumsum(gaps)]
    rows = pinned + rand
    return pd.DataFrame({
        "event_id": np.arange(len(rows), dtype="int64"),
        "ts": [t0 + np.timedelta64(us, "us") for _, us in rows],
        "user_id": np.array([u for u, _ in rows], dtype="int64"),
        "event_type": "view",
        "value": 1.0,
        "props": "{}"})


def test_sessionize_subsecond_gap_matches_oracle(spark, tmp_path):
    sf_dir = str(tmp_path)
    _events(seed=1800).to_parquet(os.path.join(sf_dir, "events.parquet"),
                                  index=False)
    q = registry.get("analytics_sessionize_batch")
    got = q.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/events.parquet')")
        want = con.execute(q.oracle).df()
    finally:
        con.close()
    assert_frames_match(got, want, name=q.name)
    sessions = {u: n for u, n in
                got.groupby("user_id")["session_id"].max().items()}
    assert sessions[1] == 2 and sessions[2] == 2
