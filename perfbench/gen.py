"""Seeded inputs and reference models for the benchmark workloads.

Everything here is a pure function of its arguments (numpy's PCG64 seeded
from the workload seed), so the same seed always yields the same inputs.
The program under test only ever sees what these functions write.

Change stream (``cdc_ingest``, ``table_serve``): rows ``(k, v, cat, seq,
ts)`` keyed by ``k``.  ``seq`` is a global event counter and ``ts`` is a
monotone function of it, so "latest op per key" is well defined and the
event-time column is correlated with the key (new keys arrive at the
tail).  Inserts take the next key at the tail; updates and deletes pick
keys skewed toward the newest ones (exponential distance from the tail),
which is what makes per-file key-range pruning decide MERGE cost.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0 = np.datetime64("2024-01-01T00:00:00", "us")
SEQ_STEP_US = 1_000_000  # one event per second of event time
CATS = np.array(["a", "b", "c", "d"])
DIGEST_P = (1 << 61) - 1

CHANGE_SCHEMA = pa.schema([
    ("k", pa.int64()), ("v", pa.float64()), ("cat", pa.string()),
    ("seq", pa.int64()), ("ts", pa.timestamp("us")), ("op", pa.string()),
])
CHANGE_DDL = "k BIGINT, v DOUBLE, cat STRING, seq BIGINT, ts TIMESTAMP, op STRING"


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent sub-streams per input kind, so resizing one input does
    # not shift the values of another
    return np.random.default_rng([seed, *stream.encode()])


def _ts(seq: np.ndarray) -> np.ndarray:
    return T0 + seq.astype("int64") * np.timedelta64(SEQ_STEP_US, "us")


def base_rows(seed: int, n: int) -> pd.DataFrame:
    """The table's initial content: keys 0..n-1, seq -n..-1 (all older
    than every change event)."""
    rng = _rng(seed, "base")
    k = np.arange(n, dtype="int64")
    seq = k - n
    return pd.DataFrame({
        "k": k,
        "v": rng.integers(0, 100_000, n) / 100.0,
        "cat": CATS[rng.integers(0, len(CATS), n)],
        "seq": seq,
        "ts": _ts(seq),
    })


def change_events(seed: int, n_base: int, n_events: int, *,
                  p_insert: float = 0.25, p_delete: float = 0.03,
                  hot_keys: float | None = None, first_seq: int = 1,
                  stream: str = "changes") -> pd.DataFrame:
    """`n_events` I/U/D events in seq order, following a table of
    `n_base` keys.  Updates and deletes land at distance
    ~Exponential(hot_keys) below the current key tail."""
    rng = _rng(seed, stream)
    hot = hot_keys if hot_keys is not None else max(1.0, n_base * 0.01)
    u = rng.random(n_events)
    op = np.where(u < p_insert, "I", np.where(u < p_insert + p_delete,
                                              "D", "U"))
    is_ins = op == "I"
    tail = n_base + np.cumsum(is_ins) - is_ins  # keys allocated before i
    back = np.floor(rng.exponential(hot, n_events)).astype("int64")
    k = np.where(is_ins, tail, np.clip(tail - 1 - back, 0, None))
    seq = np.arange(first_seq, first_seq + n_events, dtype="int64")
    return pd.DataFrame({
        "k": k.astype("int64"),
        "v": rng.integers(0, 100_000, n_events) / 100.0,
        "cat": CATS[rng.integers(0, len(CATS), n_events)],
        "seq": seq,
        "ts": _ts(seq),
        "op": op,
    })


def apply_changes(state: pd.DataFrame, events: pd.DataFrame) -> pd.DataFrame:
    """Reference model of the sink: the latest event per key wins, and a
    key whose latest event is a delete is absent.  `state` has no `op`."""
    allrows = pd.concat([state.assign(op="I"), events], ignore_index=True)
    last = allrows.sort_values("seq", kind="stable").drop_duplicates(
        "k", keep="last")
    return (last[last["op"] != "D"].drop(columns="op")
            .sort_values("k").reset_index(drop=True))


def compact_latest(events: pd.DataFrame) -> pd.DataFrame:
    """One row per key, the latest by seq (what a sink feeds MERGE)."""
    return (events.sort_values("seq", kind="stable")
            .drop_duplicates("k", keep="last").reset_index(drop=True))


def state_digest(df: pd.DataFrame) -> tuple[int, int, int, int]:
    """Order-insensitive digest (rows, sum k, sum seq, sum of a per-row
    mix mod 2^61-1).  `spark_digest` computes the same on a table."""
    k = df["k"].to_numpy(dtype="int64")
    seq = df["seq"].to_numpy(dtype="int64")
    cents = np.rint(df["v"].to_numpy() * 100).astype("int64")
    mix = (k * 1_000_003 + seq * 7_919 + cents) % DIGEST_P
    # exact sum of values < 2^61 without int64 overflow: split at bit 31
    total = (int((mix >> 31).sum()) << 31) + int((mix & ((1 << 31) - 1)).sum())
    return (len(df), int(k.sum()), int(seq.sum()), total % DIGEST_P)


def spark_digest(sdf) -> tuple[int, int, int, int]:
    from pyspark.sql import functions as F

    cents = F.round(F.col("v") * 100).cast("long")
    mix = F.pmod(F.col("k") * 1_000_003 + F.col("seq") * 7_919 + cents,
                 F.lit(DIGEST_P))
    r = sdf.agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sk"),
                F.sum("seq").alias("ss"),
                F.sum(mix.cast("decimal(38,0)")).alias("sm")).collect()[0]
    return (int(r["n"]), int(r["sk"] or 0), int(r["ss"] or 0),
            int(r["sm"] or 0) % DIGEST_P)


def write_parquet(df: pd.DataFrame, path: str,
                  schema: pa.Schema | None = None) -> None:
    """Publish one parquet file atomically (write aside, then rename), so
    a directory-watching reader never sees a partial file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(pa.Table.from_pandas(df, schema=schema,
                                        preserve_index=False), tmp)
    os.replace(tmp, path)


# ------------------------------------------------------------ star schema

WORDS = np.array(
    "spark window merge table column vector stream value data small big "
    "fast slow join hash group key part row batch scan sort query filter "
    "agg line order customer the a".split())


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def star_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """The ten analytics tables the registry queries read, with the
    fixture schemas (see FIXTURES.md), sized by `scale` (1.0 ~ 6M
    lineitems, i.e. TPC-H-style scale factor)."""
    rng = _rng(seed, "star")
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_users = max(10, int(15_000 * scale))
    n_emb = max(50, int(50_000 * scale))
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": rng.integers(-99_999, 1_000_000, n_cust) / 100.0,
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": rng.integers(-99_999, 1_000_000, n_supp) / 100.0})
    adj = rng.choice(["small", "red", "blue", "hot", "cold", "new", "old",
                      "large"], n_part)
    noun = rng.choice(["ring", "plate", "gear", "rod", "bolt", "anvil",
                       "widget", "nut"], n_part)
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part)
                               .astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": (90_000 + np.arange(n_part) % 10_000) / 100.0})
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 200_000,
                                                       n_li) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": (np.repeat(odate, lines).astype("datetime64[D]")
                       + rng.integers(1, 122, n_li)).astype("datetime64[us]"),
    })
    ev_us = rng.integers(0, 30 * 86_400 * 1_000_000, n_ev)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(ev_us).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": rng.integers(0, 56_000, n_ev) / 100.0,
        "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(seed, max(50, int(50_000 * scale)))
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(scale=0.8, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vec),
        "label": label.astype("int32")})
    return t


def documents(seed: int, n: int) -> pd.DataFrame:
    """A token corpus with natural near-duplicates: a small shared
    vocabulary (so long documents converge on the same token set and
    pile into one LSH bucket, the heavy-hitter shape), plus ~4% exact
    copies and ~4% one-token edits of earlier documents."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.04:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and kind[i] < 0.08:
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = str(rng.choice(WORDS))
            texts.append(" ".join(toks))
        else:
            toks = rng.choice(WORDS, rng.integers(10, 101))
            texts.append(" ".join(toks))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One plain parquet file per table, as catalog.load_table expects."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        tb = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            tb = tb.set_column(1, "embedding", pa.array(
                [v for v in df["embedding"]], type=pa.list_(pa.float32())))
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))


def utc_naive(ts) -> datetime:
    """A numpy/pandas timestamp as the naive datetime Spark returns."""
    return pd.Timestamp(ts).to_pydatetime()
