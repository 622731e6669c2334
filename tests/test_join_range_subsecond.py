"""join_range_bucketed against its DuckDB oracle on click/view pairs
within a second of each other and of the 600 s interval edge.  The
oracle's epoch() keeps sub-second fractions, so a view at 100.3 s
matches a click at 100.8 s and a view 600.1 s before a click does not;
whole-second arithmetic would get both wrong."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from cdc_plg_spark import registry
from cdc_plg_spark.testing import assert_frames_match

registry.load_all()

SEC = 1_000_000


def _events(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    # (user, µs, type): user 1 — same-second pair, view first;
    # user 2 — exactly 600 s (match) and 600.000001 s (no match);
    # user 3 — 599.9 s (match) and 600.1 s (no match)
    pinned = [(1, 100 * SEC + 300_000, "view"),
              (1, 100 * SEC + 800_000, "click"),
              (2, 0, "view"),
              (2, 600 * SEC, "click"),
              (2, 10_000 * SEC, "view"),
              (2, 10_600 * SEC + 1, "click"),
              (3, 1000 * SEC + 500_000, "view"),
              (3, 1600 * SEC + 400_000, "click"),
              (3, 5000 * SEC + 500_000, "view"),
              (3, 5600 * SEC + 600_000, "click")]
    # seeded background: views, then clicks drawn within a second of
    # the views and of the 600 s edge, µs fractions kept
    rand = []
    for user in range(4, 24):
        views = np.sort(rng.integers(0, 3600 * SEC, 4))
        rand += [(user, int(v), "view") for v in views]
        for v in views:
            gap = int(rng.choice([0, 600 * SEC])) + int(
                rng.integers(-SEC, SEC))
            rand.append((user, int(v) + gap, "click"))
    rows = pinned + rand
    return pd.DataFrame({
        "event_id": np.arange(len(rows), dtype="int64"),
        "ts": [t0 + np.timedelta64(us, "us") for _, us, _ in rows],
        "user_id": np.array([u for u, _, _ in rows], dtype="int64"),
        "event_type": [e for _, _, e in rows],
        "value": 1.0,
        "props": "{}"})


def test_join_range_subsecond_pairs_match_oracle(spark, tmp_path):
    sf_dir = str(tmp_path)
    _events(seed=600).to_parquet(os.path.join(sf_dir, "events.parquet"),
                                 index=False)
    q = registry.get("join_range_bucketed")
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
    pairs = dict(zip(got["user_id"], got["n_pairs"]))
    assert pairs[1] == 1 and pairs[2] == 1 and pairs[3] == 1
