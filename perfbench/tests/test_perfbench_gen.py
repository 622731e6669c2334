"""Tests for the benchmark's input generators and reference model.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def test_same_seed_same_stream():
    a = gen.change_events(5, 1000, 2000)
    b = gen.change_events(5, 1000, 2000)
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(gen.base_rows(5, 100), gen.base_rows(5, 100))
    pd.testing.assert_frame_equal(gen.documents(5, 60), gen.documents(5, 60))


def test_other_seed_other_stream():
    a = gen.change_events(5, 1000, 2000)
    b = gen.change_events(6, 1000, 2000)
    assert not a["k"].equals(b["k"])


def test_star_tables_same_seed_same_inputs():
    a = gen.star_tables(3, 0.001)
    b = gen.star_tables(3, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        if name == "embeddings":
            assert np.array_equal(np.stack(a[name]["embedding"]),
                                  np.stack(b[name]["embedding"]))
            continue
        pd.testing.assert_frame_equal(a[name], b[name])
    li, od = a["lineitem"], a["orders"]
    assert li["l_orderkey"].isin(od["o_orderkey"]).all()


def test_stream_shape():
    n_base = 10_000
    ev = gen.change_events(1, n_base, 20_000)
    assert (np.diff(ev["seq"]) == 1).all()
    ins = ev[ev["op"] == "I"]
    # inserts take fresh keys at the tail, in order
    assert (np.diff(ins["k"]) == 1).all() and ins["k"].iloc[0] == n_base
    share = ev["op"].value_counts(normalize=True)
    assert 0.01 < share["D"] < 0.06 and 0.2 < share["I"] < 0.3
    # updates and deletes favour the newest keys
    upd = ev[ev["op"] != "I"]
    tail = n_base + (ev["op"] == "I").cumsum()[upd.index] - 1
    assert ((tail - upd["k"]) < 3 * n_base * 0.01).mean() > 0.9


def test_reference_model_hand_checked():
    base = pd.DataFrame({"k": [0, 1, 2], "v": [1.0, 2.0, 3.0],
                         "cat": ["a", "a", "a"], "seq": [-3, -2, -1]})
    ev = pd.DataFrame({
        "k":   [1,    3,    0,    3,    1,    2],
        "v":   [20.0, 40.0, 9.0,  41.0, 21.0, 0.0],
        "cat": ["b",  "b",  "b",  "c",  "c",  "c"],
        "seq": [1,    2,    3,    4,    5,    6],
        "op":  ["U",  "I",  "D",  "U",  "U",  "D"],
    })
    # shuffled input order must not matter: seq decides
    out = gen.apply_changes(base, ev.sample(frac=1, random_state=0))
    assert out["k"].tolist() == [1, 3]
    assert out["v"].tolist() == [21.0, 41.0]
    assert out["seq"].tolist() == [5, 4]
    assert "op" not in out.columns


def test_reference_model_delete_then_reinsert():
    base = pd.DataFrame({"k": [7], "v": [1.0], "cat": ["a"], "seq": [-1]})
    ev = pd.DataFrame({"k": [7, 7], "v": [0.0, 5.0], "cat": ["a", "b"],
                       "seq": [1, 2], "op": ["D", "U"]})
    out = gen.apply_changes(base, ev)
    assert out[["k", "v", "seq"]].values.tolist() == [[7, 5.0, 2]]


def test_compact_latest_keeps_last_per_key():
    ev = pd.DataFrame({"k": [1, 2, 1], "v": [1.0, 2.0, 3.0],
                       "seq": [1, 2, 3], "op": ["I", "I", "D"]})
    out = gen.compact_latest(ev).sort_values("k")
    assert out[["k", "seq", "op"]].values.tolist() == [[1, 3, "D"],
                                                       [2, 2, "I"]]


def test_digest_order_insensitive_and_sensitive_to_content():
    s = gen.apply_changes(gen.base_rows(2, 500),
                          gen.change_events(2, 500, 800))
    d = gen.state_digest(s)
    assert gen.state_digest(s.sample(frac=1, random_state=1)) == d
    t = s.copy()
    t.loc[t.index[0], "v"] += 0.01
    assert gen.state_digest(t) != d


@pytest.mark.parametrize("n", [1, 50])
def test_documents_invariants(n):
    d = gen.documents(9, n)
    assert len(d) == n and d["doc_id"].is_unique
    assert (d["n_chars"] == d["text"].str.len()).all()


def test_result_metrics_match_benchmark_json():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in spec["per_layer"]] == list(run.LAYERS)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
